package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Seeded input generation. The seed picks an `event_id` offset, a multiple
  * of 10^6, for the fixture's `events` table; every other table is copied
  * unchanged. The program only ever sees the generated directory.
  *
  * SynthTranscripts maps event e to conversation e DIV 20, lpad-6: the
  * fixture's event ids are below 10^6 (0..999), so offsets up to 19 * 10^6
  * keep every conversation number below 10^6 and distinct conversations
  * never collide. Seed 0 is the fixture itself; any other
  * seed shifts it, which changes every synthesized text (modular arithmetic
  * over event_id). */
object Inputs {
  val Offset = 1000000L
  val MaxMultiplier = 19

  val tables: Seq[String] = Seq("nation", "region", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** The offset multiplier of a seed: 0 for seed 0, else 1..19. */
  def multiplier(seed: Long): Int =
    if (seed == 0) 0 else 1 + new java.util.SplittableRandom(seed).nextInt(MaxMultiplier)

  /** Writes the input of offset multiplier `m` to `out`. */
  def generate(spark: SparkSession, fixture: String, out: String, m: Int): String = {
    val t0 = Clock.ms()
    val dst = Paths.get(out)
    Files.createDirectories(dst)
    tables.foreach(t => copy(Paths.get(fixture, s"$t.parquet"), dst.resolve(s"$t.parquet")))
    val events = Paths.get(fixture, "events.parquet")
    if (m == 0) copy(events, dst.resolve("events.parquet"))
    else {
      val raw = spark.read.parquet(events.toString)
      // the fixture table is one parquet file, and the program's stream
      // sources link that file into a watched directory: write one
      // partition and move its part file into place
      val tmp = dst.resolve("events.tmp")
      raw.withColumn("event_id", col("event_id") + m * Offset)
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"expected one part file, got $part")
      Files.move(part.head, dst.resolve("events.parquet"))
      Stats.delete(tmp)
    }
    System.err.println(f"[perfbench] input generated in ${(Clock.ms() - t0) / 1e3}%.1f s")
    out
  }

  private def copy(from: Path, to: Path): Unit = {
    require(Files.isRegularFile(from), s"missing fixture table $from")
    Files.copy(from, to)
  }
}
