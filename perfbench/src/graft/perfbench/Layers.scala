package graft.perfbench

import java.nio.file.{Files, Paths}

/** The per-layer metrics a traced run reports. Every traced run prints the
  * whole list; a layer its workload does not run reads 0. */
object Layers {

  private def s(names: String*) = names.map(_ -> "s")

  val catalogue: Seq[(String, String)] =
    Seq("sources.transcripts_s" -> "s", "sources.rows" -> "rows",
      "operators.mentions_s" -> "s", "operators.mentions_rows" -> "rows",
      "operators.link_s" -> "s", "operators.link_matched" -> "rows",
      "operators.link_missed" -> "rows") ++
    graft.operators.Mentions.frames.map(f => s"operators.link_match_ratio.${f._1}" -> "ratio") ++
    Seq("operators.emit_s" -> "s", "operators.emit_triples" -> "triples",
      "operators.emit_fact_share" -> "ratio",
      "operators.sameas.edges_s" -> "s", "operators.sameas.edges" -> "edges",
      "operators.sameas.closure_s" -> "s", "operators.sameas.clusters" -> "rows",
      "operators.sameas.canonicalize_s" -> "s", "operators.sameas.canon_rows" -> "triples") ++
    RunStaged.stages.map(st => s"io.manifest.${st}_s" -> "s") ++
    Seq("io.manifest.lineage_s" -> "s", "io.manifest.bytes" -> "bytes",
      "pipeline.build_s" -> "s", "pipeline.build_jobs" -> "count",
      "pipeline.canon_cold_s" -> "s") ++
    s(Seq("nt", "ttl", "n3", "jsonld", "rdfxml", "trix", "quads").map(f => s"io.export.${f}_s"): _*) ++
    s("io.quads.bfs_s", "operators.dedup_s", "operators.ann_s", "operators.textops_s",
      "operators.corpus_other_s", "operators.families_s", "operators.works_s",
      "operators.sameas.warm_s") ++
    s(QueryWarm.queries.filter(_.startsWith("stream_")).map(q => s"streaming.${q}_s"): _*) ++
    Seq("streaming.batches" -> "count", "streaming.input_rows" -> "rows",
      "streaming.batch_p50_s" -> "s") ++
    s(QueryWarm.queries.map(q => s"q.${q}_s"): _*) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
      "spark.failed_tasks" -> "count", "spark.driver_idle_s" -> "s",
      "spark.cpu_util" -> "ratio", "spark.task_skew" -> "ratio",
      "trace.overhead" -> "ratio", "trace.coverage" -> "ratio", "bench.warmup_s" -> "s")

  /** Adds the trace's coverage, writes spans (each with the engine
    * counters of the jobs it started), jobs and metrics as JSONL to the
    * trace file, and returns the catalogue filled from `layer`. */
  def finish(ctx: Ctx, layer: Map[String, Double]): Seq[(String, Double, String)] = {
    val all = layer + ("trace.coverage" -> ctx.trace.coverage)
    if (ctx.o.trace) {
      val f = Paths.get(ctx.o.traceFile)
      val t = ctx.trace
      val id = Json.str(t.runId)
      val spans = t.all.map { sp =>
        val spark = ctx.probe.sparkStats(sp.start, sp.end).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }
        Json.obj(Seq("kind" -> Json.str("span"), "run_id" -> id, "id" -> sp.id.toString,
          "parent" -> sp.parent.toString, "name" -> Json.str(sp.name),
          "start_ms" -> Json.num(sp.start), "end_ms" -> Json.num(sp.end),
          "self_s" -> Json.num(t.selfS(sp)), "spark" -> Json.obj(spark)))
      }
      val jobs = ctx.probe.jobsIn(0, Double.MaxValue).map { j =>
        Json.obj(Seq("kind" -> Json.str("job"), "run_id" -> id, "id" -> j.id.toString,
          "span" -> Json.str(j.group), "call_site" -> Json.str(j.site),
          "start_ms" -> Json.num(j.start), "end_ms" -> Json.num(j.end),
          "ok" -> j.ok.toString))
      }
      val metrics = Json.obj(Seq("kind" -> Json.str("metrics"), "run_id" -> id) ++
        all.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      Files.createDirectories(f.toAbsolutePath.getParent)
      Files.writeString(f, (spans ++ jobs :+ metrics).mkString("", "\n", "\n"))
    }
    catalogue.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }
}
