package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{Pipeline, Run}
import graft.model.Ns
import graft.operators.{Emit, Link, Mentions, SameAs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** `run_staged`: one cold graft.Run.execute over the 1x input per rep,
  * writing all six stages as parquet (the production shape). */
object RunStaged {

  /** Row counts of the staged tables over the seed-0 input (the sf0.001
    * fixture), as the DuckDB oracle computes them (tools/check.py passes
    * kg_transcripts, kg_linked, kg_triples and kg_triples_canon there). */
  val seed0Rows: Map[String, Long] = Map(
    "transcripts" -> 1000L, "linked" -> 3771L,
    "triples" -> 31769L, "canon" -> 31075L)

  val stages: Seq[String] = Seq("transcripts", "linked", "triples", "canon",
    "metrics_unmapped", "metrics_stats")

  final case class Rep(wallS: Double, cpuS: Double, ok: Boolean, bytes: Long,
                       stageS: Map[String, Double], digests: Map[String, Digest]) {
    def canon: Option[Digest] = digests.get("canon")
  }

  def run(ctx: Ctx): Report = {
    import ctx._
    val input = Inputs.generate(spark, o.fixture, dir("input"), o.multiplier)
    val w0 = Clock.ms()
    val warm = once(ctx, input, "warm") // JIT, codegen, first dictionary touch
    val warmupS = (Clock.ms() - w0) / 1e3
    val setupS = (Clock.ms() - o.launchedMs) / 1e3

    val timed = ctx.reps(i => once(ctx, input, s"rep$i"))(_.wallS)
    val all = warm +: timed
    all.foreach(verify(_, ctx))

    // the traced rep, the layer walk and the cold-canon cross-check; an
    // untraced run still makes the cross-check
    val layer = if (!o.trace) coldCanon(ctx, input, all.head.canon) else ctx.traced {
      val r = trace.span("bench.rep")(once(ctx, input, "traced"))
      verify(r, ctx)
      val run = trace.named("pipeline.run_execute").last
      stages.map(s => s"io.manifest.${s}_s" -> r.stageS.getOrElse(s, 0.0)).toMap ++
        Map("io.manifest.bytes" -> r.bytes.toDouble,
          "io.manifest.lineage_s" -> lineageS(probe.jobsIn(run.start, run.end)),
          "trace.overhead" -> r.wallS / Stats.median(timed.map(_.wallS)),
          "bench.warmup_s" -> warmupS) ++
        probe.sparkStats(run.start, run.end) ++
        walk(ctx, input, all.head.canon) ++
        coldCanon(ctx, input, all.head.canon)
    }
    val perLayer = Layers.finish(ctx, layer)

    val wall = Stats.median(timed.map(_.wallS))
    val triples = all.head.digests.get("triples").map(_.rows).getOrElse(0L).toDouble
    Report(
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("triples_per_s", triples / wall, "triples/s"),
        ("cpu_s", Stats.median(timed.map(_.cpuS)), "s"),
        ("stage_bytes", Stats.median(timed.map(_.bytes.toDouble)), "bytes")),
      perLayer = perLayer,
      samples = timed.size,
      extra = Seq(("warmup_s", warmupS, "s")))
  }

  /** One cold Run.execute into a fresh directory. Timed: the call itself
    * (it builds and writes every stage). Untimed: reading back the
    * manifest and hashing every staged table. */
  private def once(ctx: Ctx, input: String, name: String): Rep = {
    import ctx._
    val out = Paths.get(dir(name))
    clean()
    val c0 = cpuS()
    val t0 = Clock.ms()
    val ok = trace.span("pipeline.run_execute") {
      attempt(s"Run.execute $name")(Run.execute(spark, input, out.toString, resume = false))
    }.isDefined
    val t1 = Clock.ms()
    val cpu = cpuS() - c0
    val manifest = if (!ok) Seq.empty else Files.readAllLines(out.resolve("manifest.jsonl"))
      .asScala.toSeq.map(parseManifest)
    // stages run back to back inside Run.execute: lay them end to end as
    // child spans of the call
    val call = trace.named("pipeline.run_execute").lastOption.map(_.id).getOrElse(0)
    var at = t0
    val stageS = manifest.map { case (s, _, ms) =>
      trace.record(s"io.manifest.$s", at, at + ms, call); at += ms; s -> ms / 1e3
    }.toMap
    val digests = if (!ok) None else attempt(s"hash stages $name") {
      stages.map(s => s -> Digest.of(spark.read.parquet(out.resolve(s).toString))).toMap
    }
    digests.foreach(ds => manifest.foreach { case (s, rows, _) =>
      check(s"$name manifest rows $rows != staged $s ${ds.get(s)}", ds.get(s).exists(_.rows == rows))
    })
    val rep = Rep((t1 - t0) / 1e3, cpu, digests.isDefined, Stats.bytes(out), stageS,
      digests.getOrElse(Map.empty))
    Stats.delete(out)
    rep
  }

  /** Time RunManifest spends on lineage. Per stage it writes the rows,
    * re-reads them, collects the lineage and writes it, in that order of
    * source lines. AQE runs the collect's jobs on its own threads, which
    * hides their call site, so the lineage time is the span from each
    * re-read job's end to the next lineage write job's start. */
  private def lineageS(jobs: Seq[Probe.JobRec]): Double = {
    def line(j: Probe.JobRec) =
      if (j.site.contains("RunManifest.scala:")) j.site.split(':').last.toInt else -1
    val lines = jobs.map(line).filter(_ >= 0).distinct.sorted
    if (lines.size < 3) return 0.0
    val (reread, write) = (lines(lines.size - 2), lines.last)
    var from = Double.NaN
    jobs.sortBy(_.id).map { j =>
      if (line(j) == reread) { from = j.end; 0.0 }
      else if (line(j) == write && !from.isNaN) { val d = j.start - from; from = Double.NaN; d / 1e3 }
      else 0.0
    }.sum
  }

  private def parseManifest(line: String): (String, Long, Double) = {
    def field(k: String) = s""""$k":"?([^,"}]+)""".r.findFirstMatchIn(line).map(_.group(1))
    (field("stage").getOrElse("?"), field("rows").map(_.toLong).getOrElse(-1L),
      field("wall_ms").map(_.toDouble).getOrElse(0.0))
  }

  /** Every staged table must have the recorded rows and hash, so every
    * rep reproduces the first; at seed 0 the counts must be the oracle's. */
  private def verify(r: Rep, ctx: Ctx): Unit = {
    if (!r.ok) return // already counted as a failed operation
    stages.foreach(s => r.digests.get(s).foreach(ctx.checkExpected(s"stage.$s", _)))
    if (ctx.o.seed == 0) seed0Rows.foreach { case (s, n) =>
      val rows = r.digests.get(s).map(_.rows)
      ctx.check(s"$s rows $rows != oracle $n", rows.contains(n))
    }
  }

  /** The cold branch of Pipeline.canonTriples must give the staged canon
    * table's rows and content. Its construction runs jobs eagerly, so the
    * build is timed apart from the consuming action. */
  private def coldCanon(ctx: Ctx, input: String, staged: Option[Digest]): Map[String, Double] = {
    import ctx._
    clean()
    trace.span("pipeline.canon_cold") {
      val t0 = Clock.ms()
      val df = trace.span("pipeline.build") {
        attempt("canonTriples build")(Pipeline.canonTriples(spark, input))
      }
      val t1 = Clock.ms()
      val d = df.flatMap(x => trace.span("bench.consume")(attempt("canonTriples hash")(Digest.of(x))))
      val t2 = Clock.ms()
      if (d.isDefined && staged.isDefined)
        check(s"cold canonTriples ${d.get} != staged canon ${staged.get}", d == staged)
      Map("pipeline.build_s" -> (t1 - t0) / 1e3,
        "pipeline.build_jobs" -> (if (trace.enabled) probe.jobsIn(t0, t1).size.toDouble else 0.0),
        "pipeline.canon_cold_s" -> (t2 - t0) / 1e3)
    }
  }

  /** The layers one at a time over the same input, each boundary
    * materialized and consumed, so each span's time is that operator's
    * own: sources -> mentions -> link -> emit -> sameas. */
  private def walk(ctx: Ctx, input: String, staged: Option[Digest]): Map[String, Double] = {
    import ctx._
    clean()
    val lvl = StorageLevel.MEMORY_AND_DISK
    def step(name: String)(df: => DataFrame): (DataFrame, Long, Double) = {
      val t0 = Clock.ms()
      val (out, rows) = trace.span(name) {
        val x = df.persist(lvl)
        (x, Digest.of(x).rows)
      }
      (out, rows, (Clock.ms() - t0) / 1e3)
    }
    val (tr, trRows, trS) = step("sources")(Pipeline.transcripts(spark, input))
    val (ms, msRows, msS) = step("operators.mentions")(Mentions.extract(tr))
    val (ln, lnRows, lnS) = step("operators.link")(Link.linkAll(spark, input, ms))
    val byKind = trace.span("bench.count") {
      ln.groupBy("kind").agg(count(lit(1)), sum(col("matched").cast("long"))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val matched = byKind.values.map(_._2).sum
    // localCheckpoint: canonicalize reads its input twice
    val t0 = Clock.ms()
    val (tp, facts) = trace.span("operators.emit") {
      val t = Emit.allTriples(spark, input, tr, ln).localCheckpoint()
      val isCtxAct = col("subj").startsWith(Ns.ctx) || col("subj").startsWith(Ns.act)
      (t, t.filter(!isCtxAct).count())
    }
    val emitS = (Clock.ms() - t0) / 1e3
    val tpRows = trace.span("bench.count")(tp.count())
    val t1 = Clock.ms()
    val (edges, nEdges) = trace.span("operators.sameas.edges") {
      val e = SameAs.edgesOf(tp).localCheckpoint(); (e, e.count())
    }
    val t2 = Clock.ms()
    val (clusters, nClusters) = trace.span("operators.sameas.closure") {
      val c = SameAs.closure(edges); (c, c.count())
    }
    val t3 = Clock.ms()
    val canon = trace.span("operators.sameas.canonicalize") {
      Digest.of(SameAs.canonicalize(tp, clusters))
    }
    val t4 = Clock.ms()
    staged.foreach(s => check(s"layer-walk canon $canon != staged canon $s", canon == s))
    clean()
    Map(
      "sources.transcripts_s" -> trS, "sources.rows" -> trRows.toDouble,
      "operators.mentions_s" -> msS, "operators.mentions_rows" -> msRows.toDouble,
      "operators.link_s" -> lnS, "operators.link_matched" -> matched.toDouble,
      "operators.link_missed" -> (lnRows - matched).toDouble,
      "operators.emit_s" -> emitS, "operators.emit_triples" -> tpRows.toDouble,
      "operators.emit_fact_share" -> facts.toDouble / math.max(tpRows, 1L),
      "operators.sameas.edges_s" -> (t2 - t1) / 1e3,
      "operators.sameas.edges" -> nEdges.toDouble,
      "operators.sameas.closure_s" -> (t3 - t2) / 1e3,
      "operators.sameas.clusters" -> nClusters.toDouble,
      "operators.sameas.canonicalize_s" -> (t4 - t3) / 1e3,
      "operators.sameas.canon_rows" -> canon.rows.toDouble
    ) ++ Mentions.frames.map(_._1).map { k =>
      val (n, m) = byKind.getOrElse(k, (0L, 0L))
      s"operators.link_match_ratio.$k" -> m.toDouble / math.max(n, 1L)
    }
  }
}
