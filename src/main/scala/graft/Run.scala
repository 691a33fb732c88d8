package graft

import graft.io.RunManifest
import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point: staged, checkpoint-resumable execution of the
  * full KG pipeline (the production shape of SURVEY.md §3.1).
  *
  *   spark-submit --class graft.Run <jar> <sfDir> <outDir> [--resume]
  *
  * Stage graph (each stage materialized + manifest-logged + per-partition
  * lineage by RunManifest; an arrow is "reads"):
  *
  *   transcripts ─▶ linked ─┬─▶ triples ─┬─▶ canon
  *                          │            └─▶ metrics_stats     ┐ overlap
  *                          └─▶ metrics_unmapped               ┘
  *
  * The main chain runs on the calling thread. metrics_unmapped starts as
  * soon as linked is staged and overlaps triples → canon; metrics_stats
  * starts as soon as triples is staged and overlaps canon. At this scale
  * each stage is a handful of short Spark jobs whose fixed cost leaves
  * cores idle, so the side stages fill them. `execute` returns or throws
  * only after every stage has finished.
  * A killed run restarted with --resume re-executes only missing stages.
  */
object Run {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val resume = args.contains("--resume")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName("graft-kg-run")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark-submit injects spark.master; standalone runs fall back to local
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(
                   sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    execute(spark, sfDir, outDir, resume)
    spark.stop()
  }

  /** Runs all stages; returns (triples rows, canon rows) for callers/tests,
    * taken from the manifest (no count job). */
  def execute(spark: SparkSession, sfDir: String, outDir: String,
              resume: Boolean): (Long, Long) = {
    val m = new RunManifest(spark, outDir, resume)
    val transcripts = m.stage("transcripts") {
      // the designed ingest layout (SURVEY §4): conv_id-bucketed — one file
      // per bucket task, so every downstream stage reads in parallel even
      // when the raw input arrives as one unsplittable row group, and
      // per-conv work is co-located
      Pipeline.transcripts(spark, sfDir)
        .repartition(spark.sparkContext.defaultParallelism, col("conv_id"))
    }.df
    val linked = m.stage("linked") {
      Link.linkAll(spark, sfDir, Mentions.extract(transcripts))
    }.df
    alongside(m.stage("metrics_unmapped") { Metrics.unmappedHistogram(linked) }) {
      val triples = m.stage("triples", partitionCols = Seq("bucket")) {
        // bucket = hash(subj) — the Iceberg bucket(subj) analog, written as a
        // DIRECTORY partition (K1: the per-entity sink) so per-entity reads
        // prune to one bucket directory instead of scanning the uber table.
        // Shuffle onto the bucket key before the write: without it every
        // upstream task writes into every bucket directory (tasks × buckets
        // files) and the commit + every downstream scan pays the fan-out;
        // with it each bucket is written wholly by one task (one file per
        // bucket, splittable on read). Bucket count is SCALE-ADAPTIVE:
        // 4× the core count (min 16) — a fixed 16 buckets hashed into 32
        // reduce partitions left ≤16 of them non-empty (guide §2.5: too few
        // distinct synthetic key values), capping the write stage at half
        // the cores; 4× gives ~(1-e^-4) ≈ 98% expected task occupancy while
        // keeping per-bucket files large at production scale.
        val buckets = math.max(16, 4 * spark.sparkContext.defaultParallelism)
        Emit.allTriples(spark, sfDir, transcripts, linked)
          .withColumn("bucket", pmod(xxhash64(col("subj")), lit(buckets)))
          .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
      }
      val t = triples.df.drop("bucket")
      val canon = alongside(m.stage("metrics_stats") { Metrics.convStats(t) }) {
        m.stage("canon") {
          // Measured and REJECTED (r6): routing ctx/act rows around the
          // canonicalize rewrite (Pipeline.canonTriples's namespace split)
          // was wall-neutral here — over a staged parquet input the rewrite's
          // broadcast join is not the cost — and the two-branch union
          // fragmented the stage output 65 → 129 partitions (worse file
          // layout for every canon consumer). The single-pass rewrite stays.
          SameAs.canonicalize(t, SameAs.closure(SameAs.edgesOf(t)))
        }
      }
      (triples.rows, canon.rows)
    }
  }

  /** Runs `side` on a new thread while `main` runs on this one and returns
    * `main`'s result once BOTH have finished; a failure of either is thrown
    * only then (a second failure rides along as suppressed), so no branch
    * outlives the call. The thread is created here, by the caller, so it
    * inherits the caller's Spark local properties as they are now (job
    * group, scheduler pool) — and, created outside any action, never a
    * `spark.sql.execution.id`. */
  private[graft] def alongside[T](side: => Any)(main: => T): T = {
    var sideErr: Option[Throwable] = None
    val t = new Thread(() =>
      try side catch { case e: Throwable => sideErr = Some(e) }, "graft-run-branch")
    t.start()
    val res = try main catch { case e: Throwable =>
      t.join(); sideErr.foreach(e.addSuppressed); throw e
    }
    t.join()
    sideErr.foreach(e => throw e)
    res
  }
}
