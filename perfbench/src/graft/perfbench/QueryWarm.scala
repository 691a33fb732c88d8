package graft.perfbench

import graft.{Caches, Pipeline, SparkEntry}
import org.apache.spark.storage.StorageLevel

/** `query_warm`: a fixed pass over SparkEntry.queries against shared stages
  * persisted once (graft.Bench's warm mode); every result fully consumed. */
object QueryWarm {

  /** The timed pass, in this fixed order: an export format, the corpus
    * operators (MinHash-LSH builds eagerly), a streaming lift (it drains
    * eagerly), a family emitter and canon's cached branch. */
  val pass: Seq[String] = Seq(
    "kg_nt_lines", "doc_minhash_lsh", "doc_token_stats", "events_sessionize",
    "stream_hourly", "kg_family", "kg_triples_canon")

  /** Run only in the traced part, after the traced pass, so every layer
    * has a per-layer figure: the other export formats and the quad BFS,
    * ANN search and the works family. (The staged uber graph is left out:
    * its cold build would push a traced run past the 180 s a run may
    * take.) */
  val extension: Seq[String] = Seq(
    "kg_ttl_lines", "kg_n3_lines", "kg_jsonld_lines", "kg_rdfxml_lines", "kg_trix_lines",
    "kg_quads", "kg_quads_bfs", "ann_lsh_search", "kg_works")

  def queries: Seq[String] = pass ++ extension

  /** Result rows of each query over the seed-0 input, as the DuckDB oracle
    * computes them (tools/check.py passes each of them there; its DuckDB
    * runs out of memory on kg_quads_bfs, which is left to the pass-to-pass
    * check). */
  val seed0Rows: Map[String, Long] = Map(
    "kg_nt_lines" -> 31769L, "kg_ttl_lines" -> 8226L, "kg_n3_lines" -> 8226L,
    "kg_jsonld_lines" -> 8208L, "kg_rdfxml_lines" -> 8210L, "kg_trix_lines" -> 31771L,
    "kg_quads" -> 31769L, "doc_minhash_lsh" -> 734L, "doc_token_stats" -> 500L,
    "events_sessionize" -> 946L, "ann_lsh_search" -> 71L, "stream_hourly" -> 868L,
    "kg_family" -> 1069L, "kg_works" -> 8686L, "kg_triples_canon" -> 31075L)

  final case class Pass(wallS: Double, cpuS: Double, from: Double, to: Double,
                        results: Map[String, Digest], times: Map[String, Double],
                        buildS: Double)

  def run(ctx: Ctx): Report = {
    import ctx._
    val input = Inputs.generate(spark, o.fixture, dir("input"), o.multiplier)
    val catalog = SparkEntry.queries

    // warm-up: the shared stages persisted once, as graft.Bench does
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val w0 = Clock.ms()
    val shared = Seq("transcripts" -> Pipeline.transcripts(spark, input),
      "linked" -> Pipeline.linked(spark, input),
      "triplesWithConv" -> Pipeline.triplesWithConv(spark, input)).map { case (s, df) =>
      df.persist(StorageLevel.MEMORY_AND_DISK)
      val d = attempt(s"persist $s")(Digest.of(df))
      d.foreach(checkExpected(s"warm.$s", _))
      d
    }
    Caches.retainIds(sc.getPersistentRDDs.keySet.toSet -- before)
    val warmupS = (Clock.ms() - w0) / 1e3
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble
    val triples = shared.last.map(_.rows)
    val setupS = (Clock.ms() - o.launchedMs) / 1e3

    def onePass(qs: Seq[String]): Pass = {
      val c0 = cpuS()
      val from = Clock.ms()
      var buildS = 0.0
      val res = qs.map { n =>
        trace.span(s"q.$n") {
          val t0 = Clock.ms()
          val df = trace.span("pipeline.build")(attempt(s"$n build")(catalog(n)(spark, input)))
          buildS += (Clock.ms() - t0) / 1e3
          val d = df.flatMap(x => trace.span("bench.consume")(attempt(s"$n hash")(Digest.of(x))))
          val sec = (Clock.ms() - t0) / 1e3
          // free query-local checkpoints; the warm stages stay
          trace.span("bench.release")(Caches.release(spark))
          (n, d, sec)
        }
      }
      Pass(res.map(_._3).sum, cpuS() - c0, from, Clock.ms(),
        res.collect { case (n, Some(d), _) => n -> d }.toMap,
        res.map(r => r._1 -> r._3).toMap, buildS)
    }

    // A traced run makes its pass under tracing, as each query's first run
    // in the session like the timed pass of an untraced run, then the
    // extension; it reports per-layer metrics only. (A second, untraced
    // pass to measure the tracing overhead would not fit in the 180 s a run
    // may take; run_staged reports the overhead.)
    val (timed, layer) =
      if (!o.trace) (ctx.reps(_ => onePass(pass))(_.wallS), Map.empty[String, Double])
      else {
        val (p, x) = ctx.traced((onePass(pass), onePass(extension)))
        verify(x, triples, ctx)
        val builds = trace.named("pipeline.build").filter(b => b.start >= p.from && b.end <= p.to)
        (Seq(p), perQuery(ctx, p.times ++ x.times, p.from) ++ probe.sparkStats(p.from, p.to) ++ Map(
          "bench.warmup_s" -> warmupS,
          "pipeline.build_s" -> p.buildS,
          "pipeline.build_jobs" -> builds.map(b => probe.jobsIn(b.start, b.end).size).sum.toDouble))
      }
    timed.foreach(verify(_, triples, ctx))
    val perLayer = Layers.finish(ctx, layer)
    spark.catalog.clearCache()
    Caches.releaseAll(spark)

    val wall = Stats.median(timed.map(_.wallS))
    Report(
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("triples_per_s", triples.getOrElse(0L) / wall, "triples/s"),
        ("cpu_s", Stats.median(timed.map(_.cpuS)), "s"),
        ("stage_bytes", cachedBytes, "bytes")),
      perLayer = perLayer,
      samples = timed.size,
      extra = ("warmup_s", warmupS, "s") +:
        pass.map(n => (s"q.${n}_s", Stats.median(timed.map(_.times(n))), "s")))
  }

  /** Every query result must have the recorded rows and hash, so every
    * pass reproduces the first; no result is empty; the N-Triples export
    * has one line per triple; at seed 0 the row counts must be the
    * oracle's. */
  private def verify(p: Pass, triples: Option[Long], ctx: Ctx): Unit =
    p.results.foreach { case (n, d) =>
      ctx.check(s"$n returned no rows", d.rows > 0)
      ctx.checkExpected(s"q.$n", d)
      if (n == "kg_nt_lines") triples.foreach(t =>
        ctx.check(s"kg_nt_lines rows ${d.rows} != triples $t", d.rows == t))
      if (ctx.o.seed == 0) seed0Rows.get(n).foreach { e =>
        ctx.check(s"$n rows ${d.rows} != oracle $e", d.rows == e)
      }
    }

  /** Layer of each pass and extension query, for the per-layer sums. */
  def layerOf(q: String): String = q match {
    case "kg_quads_bfs" => "io.quads.bfs"
    case "kg_quads" => "io.export.quads"
    case q if q.endsWith("_lines") => "io.export." + q.stripPrefix("kg_").stripSuffix("_lines")
    case q if q.startsWith("stream_") => "streaming." + q
    case "doc_minhash_lsh" => "operators.dedup"
    case "ann_lsh_search" => "operators.ann"
    case "doc_token_stats" => "operators.textops"
    case "events_sessionize" => "operators.corpus_other"
    case "kg_family" => "operators.families"
    case "kg_works" => "operators.works"
    case "kg_triples_canon" => "operators.sameas.warm"
    case _ => "pipeline.query"
  }

  private def perQuery(ctx: Ctx, times: Map[String, Double], from: Double): Map[String, Double] = {
    val byLayer = times.toSeq.groupBy { case (q, _) => layerOf(q) }
      .map { case (l, qs) => s"${l}_s" -> qs.map(_._2).sum }
    // progress events arrive asynchronously: select them by query name
    // and by the traced pass's start rather than by each span's end
    val streams = times.keys.filter(_.startsWith("stream_")).toSeq
    val batches = ctx.probe.batchesIn(from, Double.MaxValue)
      .filter(b => streams.exists(q => b.query.startsWith(q)))
    byLayer ++ times.map { case (q, s) => s"q.${q}_s" -> s } ++ Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.input_rows" -> batches.map(_.rows).sum.toDouble,
      "streaming.batch_p50_s" -> Stats.median(batches.map(_.durS)))
  }
}
