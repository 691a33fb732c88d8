package graft.streaming

import graft.operators.Mentions
import graft.sources.{SynthTranscripts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Event row shape entering the stateful sessionizer. */
final case class SessEvent(user_id: Long, event_id: Long,
                           ts_utc: java.sql.Timestamp, us: Long, cents: Long)
/** Per-user session state carried across micro-batches. `open=false` is a
  * tombstone left after a timeout emission: it preserves the session
  * counter so a user who returns later continues at sessIdx+1 instead of
  * re-issuing session ids (state size is O(distinct users) — the same
  * bound any per-user sessionizer carries). */
final case class SessAgg(sessIdx: Long, startUs: Long, endUs: Long,
                         n: Long, cents: Long, open: Boolean = true)
/** One CLOSED session (same shape as the batch sessionizer's output). */
final case class SessionRow(user_id: Long, session_id: String, n_events: Long,
                            start_ts: java.sql.Timestamp,
                            end_ts: java.sql.Timestamp, value_cents: Long)

/** Structured Streaming lift of the per-turn extraction path. The batch
  * extraction (SynthTranscripts.project → Mentions.extract) is stateless
  * per-row, so it composes directly onto readStream (SURVEY.md §2.9);
  * aggregation variants get watermark/outputMode treatment.
  *
  * The reference is strictly batch — this is the declared streaming
  * counterpart for ingest-as-it-lands deployments: same operators, same
  * results (asserted by parity tests and the stream_* oracle queries).
  */
object StreamOps {

  /** events parquet as a file-source stream (schema pinned from the
    * declared table schema — required by readStream). The file source
    * needs a DIRECTORY to watch; production streams land in one, the test
    * fixture is a single file — so it is symlinked into a scratch dir. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    eventStreamAt(spark, dir,
      java.nio.file.Files.createTempDirectory("graft-stream").toString)

  /** eventStream watching a CALLER-OWNED scratch directory — a stable
    * watch path is what lets a Structured Streaming checkpoint resume
    * exactly-once across restarts (the file-source log keys committed
    * files by path; a fresh temp dir per run would re-ingest them). */
  def eventStreamAt(spark: SparkSession, dir: String,
                    scratch: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = Tables.schemas("events")
    Files.createDirectories(Paths.get(scratch))
    val link = Paths.get(scratch).resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(s"$dir/events.parquet"))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(scratch)
      // spread each micro-batch across the cores BEFORE the per-row work:
      // a single-row-group file reads as ONE task, which runs the whole
      // regex-extraction + link stage single-threaded (measured 19 s vs
      // ~2 s spread at sf0.1). The shuffled rows are the NARROW raw events
      // (~50 B/row) — noise next to the downstream per-row work — and the
      // keyed/stateful consumers reshuffle by key anyway.
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Streaming mention extraction (stateless map — no watermark needed). */
  def mentionStream(spark: SparkSession, dir: String): DataFrame =
    Mentions.extract(SynthTranscripts.project(eventStream(spark, dir)))
      .select("conv_id", "turn_idx", "kind", "midx", "surface")

  /** Streaming extraction + LINKING (stream-static join): the batch
    * broadcast-link stage composes directly onto the mention stream —
    * per-row key normalization, ONE broadcast hash join against the static
    * unified dictionary, the mint/fallback projection — all stateless, so
    * the query runs in Append mode with no watermark. This is the
    * ingest-as-it-lands deployment through the link stage; triple emission
    * with ordinals stays batch (ordinal windows are not time-based and
    * cannot stream — SURVEY §2.9). Same oracle as kg_linked. */
  def linkedStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Link.linkAll(spark, dir,
      Mentions.extract(SynthTranscripts.project(eventStream(spark, dir))))
      .drop("text", "ts")

  /** documents parquet as a file-source stream (same scratch-symlink shape
    * as eventStream). */
  def documentStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = Tables.schemas("documents")
    val scratch = Files.createTempDirectory("graft-stream")
    Files.createSymbolicLink(
      scratch.resolve("documents.parquet"), Paths.get(s"$dir/documents.parquet"))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(scratch.toString)
      .repartition(spark.sparkContext.defaultParallelism) // see eventStream
  }

  /** Streaming exact-dedup keeper table — ingestion-time dedup for a
    * training-data pipeline: the streaming-agg state store IS the
    * content-hash dedup index (one state row per distinct md5(text),
    * carrying the keeper id and group size across micro-batches; state is
    * O(distinct contents), the same bound any dedup index carries).
    * Complete mode emits the keeper table; a doc is a duplicate iff its id
    * differs from its hash's keep_id — exactly `operators.Dedup.exact`'s
    * decision, checked against the same corpus arithmetic by the
    * stream_dedup oracle. The corpus augmentation (Dedup.corpus's 3-way
    * self-union) is replayed per-row as one explode so the stream is
    * scanned once instead of three times. */
  def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = documentStream(spark, dir).select(
      col("doc_id").cast("long").as("doc_id"), col("text"))
    val v1 = struct(col("doc_id").as("doc_id"), col("text").as("text"))
    val v2 = struct((col("doc_id") + 100000L).as("doc_id"),
      array_join(slice(split(col("text"), " "), 4, 1000000), " ").as("text"))
    val v3 = when(col("doc_id") < 50,
      struct((col("doc_id") + 200000L).as("doc_id"), col("text").as("text")))
    docs.select(explode(array_compact(array(v1, v2, v3))).as("r"))
      .groupBy(md5(col("r.text")).as("text_hash"))
      .agg(min("r.doc_id").as("keep_id"), count(lit(1)).as("group_n"))
  }

  /** Streaming tumbling-window aggregation (1h windows on ts, per type),
    * the streaming twin of operators.Sessions.hourlyAgg. */
  def hourlyStream(spark: SparkSession, dir: String): DataFrame =
    SynthTranscriptsFree.hourly(eventStream(spark, dir))

  private val GapUs = 30L * 60 * 1000000
  private def mkTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp((us / 1000000) * 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** The flatMapGroupsWithState kernel: custom cross-batch session state
    * per user (§2.9/2.10 of the builder mandate). Batch events arrive
    * unordered within the group → sorted by (us, event_id) — the same total
    * order the batch sessionizer's lag window uses. Gap rule mirrors
    * operators.Sessions: a new session when us - prev_us > 30 min
    * (strictly). Sessions closed by an observed gap emit immediately
    * (Append mode); each user's LAST session closes via EVENT-TIME TIMEOUT
    * once the watermark passes end + 30 min — so the streaming query emits
    * exactly the sessions the batch twin would consider closed at
    * watermark time (the stream_sessions oracle states that predicate).
    * Session indexes stay monotone across timeouts: the timeout leaves a
    * closed tombstone holding the counter, so a user who returns in a
    * later batch gets sessIdx+1, never a duplicated session id. */
  private def sessionizeGroup(user: Long, it: Iterator[SessEvent],
                              state: GroupState[SessAgg]): Iterator[SessionRow] = {
    def rowOf(s: SessAgg) = SessionRow(user, s"${user}_${s.sessIdx}", s.n,
      mkTs(s.startUs), mkTs(s.endUs), s.cents)
    if (!it.hasNext) {
      if (state.hasTimedOut && state.exists && state.get.open) {
        val s = state.get
        // keep a CLOSED tombstone (no new timeout): the session counter
        // survives, so a user returning in a later batch continues at
        // sessIdx+1 instead of duplicating session ids
        state.update(s.copy(open = false))
        Iterator(rowOf(s))
      } else Iterator.empty
    } else {
      val sorted = it.toArray.sortBy(e => (e.us, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
      var st = state.getOption
      sorted.foreach { e =>
        st match {
          case Some(s) if s.open && e.us - s.endUs <= GapUs =>
            st = Some(s.copy(endUs = e.us, n = s.n + 1, cents = s.cents + e.cents))
          case Some(s) =>
            if (s.open) out += rowOf(s) // closed by an observed gap
            st = Some(SessAgg(s.sessIdx + 1, e.us, e.us, 1, e.cents))
          case None =>
            st = Some(SessAgg(1, e.us, e.us, 1, e.cents))
        }
      }
      state.update(st.get)
      // ms domain (watermark precision): fires when watermark_ms exceeds it.
      // Clamped to watermark+1: a group whose newest event is already older
      // than watermark-minus-gap (late data) would otherwise ask for a
      // timeout in the past, which setTimeoutTimestamp rejects and the
      // exception kills the query — clamping makes it fire on the next
      // micro-batch instead, which is exactly when the session IS closed.
      state.setTimeoutTimestamp(math.max(
        st.get.endUs / 1000 + 30L * 60 * 1000,
        state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
  }

  /** Streaming gap sessionization via flatMapGroupsWithState (event-time
    * timeout) — emits closed sessions only; see sessionizeGroup. */
  def sessionStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    eventStream(spark, dir)
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .withWatermark("ts_utc", "0 seconds")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts_utc"), // the watermark attribute must survive the select
        unix_micros(col("ts_utc")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionizeGroup)
      .toDF()
  }

  /** The ingest-as-it-lands RUNNER: extraction + broadcast linking as a
    * streaming job landing to parquet with a Structured Streaming
    * checkpoint — the production streaming shape of the staged Run
    * (SURVEY §2.9). Drained with AvailableNow here (the sandbox has no
    * unbounded source); a deployment replaces only the trigger.
    * Exactly-once per input file: the checkpoint's file-source log means
    * a restart over an unchanged input directory commits ZERO new rows
    * (RunAndStreamSpec asserts this), and a restart after new files land
    * processes only those. Returns the total landed row count. */
  def executeStreaming(spark: SparkSession, dir: String,
                       outDir: String): Long = {
    val events = eventStreamAt(spark, dir, s"$outDir/_in")
    val linked = graft.operators.Link.linkAll(spark, dir,
      Mentions.extract(SynthTranscripts.project(events)))
      .drop("ts") // event-time column not part of the linked stage schema
    val q = linked.writeStream.format("parquet")
      .option("path", s"$outDir/linked")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(linked.schema).parquet(s"$outDir/linked").count()
  }

  /** Drain a stream fully into a memory sink and return the batch result.
    * Used by parity tests and the stream_* verification queries. */
  def runToBatch(spark: SparkSession, stream: DataFrame, name: String,
                 mode: String): DataFrame = {
    val q = stream.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}

/** Aggregations shared between batch and streaming shapes. */
private object SynthTranscriptsFree {
  def hourly(events: DataFrame): DataFrame =
    events
      // watermark requires TIMESTAMP (session-UTC); parquet yields NTZ —
      // cast is value-preserving under the fixed UTC session zone, and the
      // window boundary is cast back so batch/stream schemas agree.
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .withWatermark("ts_utc", "0 seconds")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5)).cast("long").as("value_cents"))
      // window.start is TIMESTAMP — matches batch date_trunc, which
      // implicitly promotes the NTZ input to session-UTC TIMESTAMP too.
      .select(col("window.start").as("hour"),
        col("event_type"), col("n"), col("value_cents"))
}
