package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Caches, Pipeline, Run, SparkEntry}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The recorded rows and content hash of every result the benchmark checks,
  * for each of the inputs a seed can pick (offset multiplier 0..19):
  * `perfbench/expected.tsv`, one `multiplier  name  rows  hash` line each.
  * Names: `stage.<stage>` (Run.execute's staged tables), `warm.<stage>`
  * (query_warm's shared stages) and `q.<query>` (catalog queries). */
object Expected {
  def load(file: String): Map[(Int, String), Digest] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(m, name, rows, hash) = l.split('\t')
        (m.toInt, name) -> Digest(rows.toLong, BigDecimal(hash))
      }.toMap

  def line(m: Int, name: String, d: Digest): String =
    s"$m\t$name\t${d.rows}\t${d.hash.bigDecimal.toPlainString}"

  /** The results recorded for multiplier `m`, in the order they are computed. */
  def compute(spark: SparkSession, fixture: String, work: String, m: Int): Seq[(String, Digest)] = {
    val root = Paths.get(work, s"record-$m")
    val input = Inputs.generate(spark, fixture, root.resolve("input").toString, m)
    val out = root.resolve("run").toString
    Run.execute(spark, input, out, resume = false)
    val staged = RunStaged.stages.map(s => s"stage.$s" -> Digest.of(spark.read.parquet(s"$out/$s")))
    spark.catalog.clearCache()
    Caches.releaseAll(spark)
    val warm = Seq("transcripts" -> Pipeline.transcripts(spark, input),
      "linked" -> Pipeline.linked(spark, input),
      "triplesWithConv" -> Pipeline.triplesWithConv(spark, input))
      .map { case (s, df) => s"warm.$s" -> Digest.of(df) }
    val queries = QueryWarm.queries.map { n =>
      val d = Digest.of(SparkEntry.queries(n)(spark, input))
      Caches.releaseAll(spark)
      s"q.$n" -> d
    }
    Stats.delete(root)
    staged ++ warm ++ queries
  }
}

/** Writes `perfbench/expected.tsv` after a change that alters the program's
  * results on purpose (launched by `perfbench/record.py`):
  *
  *   graft.perfbench.Record --fixture <dir> --work <dir> --out <tsv>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().appName("graft-perfbench-record")
    val spark = Session.conf(cores, m("work")).foldLeft(b) { case (x, (k, v)) => x.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = (0 to Inputs.MaxMultiplier).flatMap { mult =>
      val t0 = Clock.ms()
      val ds = Expected.compute(spark, m("fixture"), m("work"), mult)
      System.err.println(f"[perfbench] recorded multiplier $mult in ${(Clock.ms() - t0) / 1e3}%.1f s")
      ds.map { case (n, d) => Expected.line(mult, n, d) }
    }
    spark.stop()
    val header = "# multiplier\tname\trows\thash (written by perfbench/record.py)"
    Files.write(Paths.get(m("out")), (header +: lines).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
