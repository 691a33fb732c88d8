package graft.io

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Checkpoint/resume + lineage for staged materialization (SURVEY.md §4
  * item 4; north_rule: "resumable from checkpoint with per-partition
  * lineage + metrics").
  *
  * Each stage writes:
  *  - `<out>/<stage>/` — the stage's rows (partitioned parquet; in a real
  *    deployment an Iceberg table — same layout, snapshot id ↔ manifest row)
  *  - `<out>/_lineage/<stage>/` — per-partition row counts (partition_id,
  *    rows) captured from the ACTUAL write-side partitions
  *  - one JSON line in `<out>/manifest.jsonl` — (stage, rows, partitions,
  *    wall_ms, start_ms, status) — the resume log. `rows` is the sum of the
  *    lineage rows, so no separate count job runs; `start_ms` is the
  *    stage's start as an offset from this manifest's creation (the start
  *    of the run), so stages that overlap read as overlapping intervals
  *    [start_ms, start_ms + wall_ms].
  *
  * After the write the stage is re-read with the schema of the frame just
  * written (`spark.read.schema(...)`), so the re-read infers nothing and
  * launches no job of its own.
  *
  * `resume = true` skips any stage whose manifest line says "done" and whose
  * directory exists, reading the materialized parquet instead and taking
  * its rows from that line — a restart re-executes only the missing suffix
  * of the DAG and counts nothing. The log is read once, at construction, so
  * the order of its lines does not matter.
  *
  * `stage` may be called from several threads at once (independent stages
  * of one run overlap); manifest appends are serialized.
  */
class RunManifest(spark: SparkSession, out: String, resume: Boolean) {
  import RunManifest._

  private val manifestPath = Paths.get(s"$out/manifest.jsonl")
  Files.createDirectories(Paths.get(out))
  private val runStart = System.nanoTime()

  /** Rows of every stage the resume log marks done (a later line wins). */
  private val done: Map[String, Long] =
    if (!resume || !Files.exists(manifestPath)) Map.empty
    else Files.readAllLines(manifestPath).asScala
      .filter(l => field(l, "status").contains("done"))
      .flatMap(l => field(l, "stage").zip(field(l, "rows").map(_.toLong)))
      .toMap

  private def appendLine(s: String): Unit = synchronized {
    Files.writeString(manifestPath, s + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Materialize `df` as stage `name` (or reuse it when resuming).
    * `partitionCols` adds a directory-partitioned layout (the Iceberg
    * bucket(...) analog) so per-entity reads prune. */
  def stage(name: String, partitionCols: Seq[String] = Nil)
           (df: => DataFrame): Staged = {
    val dir = s"$out/$name"
    if (resume && done.contains(name) && Files.exists(Paths.get(dir))) {
      appendLine(s"""{"stage":"$name","status":"skipped_resume","rows":${done(name)}}""")
      return Staged(spark.read.parquet(dir), done(name))
    }
    val t0 = System.nanoTime()
    val d = df
    val w = d.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dir)
    val written = spark.read.schema(d.schema).parquet(dir)
    // per-partition lineage: ONE scan of the materialized stage, attributed
    // to the FILES the write tasks committed (input_file_name) — true
    // write-side lineage, independent of how the re-read happens to split.
    // The key keeps the partition DIRECTORY (bucket=N/...) so a
    // directory-partitioned stage never aggregates unrelated part-00000
    // files from different buckets under one id.
    val lineage = written
      .groupBy(regexp_extract(input_file_name(),
        "([^/]+=[^/]+/)?part-[0-9]+[^/]*$", 0).as("partition_id"))
      .agg(count(lit(1)).as("rows"))
      .collect()
    import spark.implicits._
    lineage.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("partition_id", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_lineage/$name")
    val rows = lineage.map(_.getLong(1)).sum
    val nParts = lineage.length
    val wallMs = (System.nanoTime() - t0) / 1000000
    val startMs = (t0 - runStart) / 1000000
    appendLine(s"""{"stage":"$name","status":"done","rows":$rows,"partitions":$nParts,"wall_ms":$wallMs,"start_ms":$startMs}""")
    Staged(written, rows)
  }
}

object RunManifest {

  /** A materialized stage: its re-read frame and its row count. */
  final case class Staged(df: DataFrame, rows: Long)

  /** The value of `key` in one manifest line (flat JSON, no escapes). */
  def field(line: String, key: String): Option[String] =
    s""""$key":"?([^,"}]+)""".r.findFirstMatchIn(line).map(_.group(1))
}
