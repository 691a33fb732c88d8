package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Benchmark harness (JVM side). `perfbench/run.py` builds it together with
  * the program and launches it; it prints one JSON result as its last line.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --fixture <dir> --work <dir> --launched-ms <epoch ms>
  *     --trace-file <jsonl> --expected <tsv>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val cores = Runtime.getRuntime.availableProcessors
    val conf = Session.conf(cores, o.work)
    val b = SparkSession.builder().appName("graft-perfbench")
    val spark = conf.foldLeft(b) { case (x, (k, v)) => x.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("config " + Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))
    System.err.println(f"[perfbench] session up ${(Clock.ms() - o.launchedMs) / 1e3}%.1f s after launch")
    val ctx = new Ctx(spark, o, new Probe(cores),
      new Trace(spark.sparkContext, s"${o.workload}-${o.seed}"), cores)
    val report = o.workload match {
      case "run_staged" => RunStaged.run(ctx)
      case "query_warm" => QueryWarm.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.stop()
    report.print(ctx)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, fixture: String, work: String,
                      launchedMs: Double, traceFile: String, expected: String) {
  def multiplier: Int = Inputs.multiplier(seed)
}

object Opts {
  def apply(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixture"), need("work"),
      need("launched-ms").toDouble, need("trace-file"), need("expected"))
  }
}

/** One session configuration for every workload: the frozen graft.Bench
  * settings at local[nproc], with scratch space kept in the work dir. */
object Session {
  def conf(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")
}

/** Per-run state: counters for the result line and shared helpers. */
final class Ctx(val spark: SparkSession, val o: Opts, val probe: Probe,
                val trace: Trace, val cores: Int) {
  var attempted = 0
  var failed = 0
  var mismatches = 0
  val expected: Map[(Int, String), Digest] = Expected.load(o.expected)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  def dir(name: String): String = Paths.get(o.work, name).toString

  /** The traced part of a `--trace 1` run: the listeners are registered
    * here, after the untraced reps, so those reps measure what a `--trace 0`
    * run measures. */
  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    trace.during(body)
  }

  /** Run one operation; an exception counts as failed and yields None, so
    * a crash is never read as a fast timing. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what FAILED: $e")
        None
    }
  }

  def check(what: String, ok: Boolean): Unit =
    if (!ok) {
      mismatches += 1
      System.err.println(s"[perfbench] MISMATCH $what")
    }

  /** A result must have the recorded rows and hash for this run's input. */
  def checkExpected(name: String, d: Digest): Unit = {
    val e = expected.get((o.multiplier, name))
    check(s"$name $d != recorded $e", e.contains(d))
  }

  /** A cold rep starts from an empty cache and no checkpoint blocks, the
    * way graft.Bench isolates its reps. */
  def clean(): Unit = {
    spark.catalog.clearCache()
    Caches.releaseAll(spark)
  }

  /** Repeat `rep` once, and again while another rep of the median length
    * still fits in the measured seconds. */
  def reps[T](rep: Int => T)(wallOf: T => Double): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    def more = out.isEmpty ||
      out.map(wallOf).sum + Stats.median(out.map(wallOf).toSeq) <= o.seconds
    while (more) {
      out += rep(out.size)
      System.err.println(f"[perfbench] rep ${out.size} ${wallOf(out.last)}%.3f s")
    }
    out.toSeq
  }
}

/** Row count plus an order-insensitive content hash over every column
  * (sorted by name): one aggregate, so timing it consumes every column.
  * The decimal sum cannot overflow under ANSI mode, unlike a long sum. */
final case class Digest(rows: Long, hash: BigDecimal)

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match { // maps are not hashable: hash their sorted entries
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Size of a directory tree in bytes. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** What a workload measured. Every end-to-end time is the median over
  * `samples` timed reps. */
final case class Report(endToEnd: Seq[(String, Double, String)],
                        perLayer: Seq[(String, Double, String)],
                        samples: Int, extra: Seq[(String, Double, String)] = Nil) {
  def print(ctx: Ctx): Unit = {
    val shown = endToEnd ++ extra ++ Seq(
      ("failed_ratio", ctx.failed.toDouble / math.max(ctx.attempted, 1), "ratio"),
      ("mismatches", ctx.mismatches.toDouble, "count"))
    shown.foreach { case (n, v, u) =>
      println(f"metric $n%-26s ${Json.num(v)}%s $u%s  (median of $samples%d)")
    }
    val metrics = (if (ctx.o.trace) perLayer else endToEnd).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq(
      "correct" -> (ctx.mismatches == 0 && ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
