package graft

import graft.model.Ns
import graft.operators._
import graft.sources.SynthTranscripts
import org.apache.spark.{storage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end stage wiring (SURVEY.md §3.1 Spark trace):
  * transcripts → mentions → broadcast-linked → triple emit → sameAs closure
  * → canonical triple table. Each stage is exposed as a DataFrame factory so
  * SparkEntry.queries can surface any intermediate for the correctness gate.
  */
object Pipeline {

  def transcripts(s: SparkSession, d: String): DataFrame =
    SynthTranscripts(s, d)

  def mentions(s: SparkSession, d: String): DataFrame =
    Mentions.extract(transcripts(s, d))

  def linked(s: SparkSession, d: String): DataFrame =
    Link.linkAll(s, d, mentions(s, d))

  def triples(s: SparkSession, d: String): DataFrame =
    triplesWithConv(s, d).drop("conv")

  /** The triple table + precomputed `conv` column (for Quads/convStats —
    * drops the per-row subject regex those consumers otherwise pay). One
    * transcripts frame feeds both the skeleton and the mention path. */
  def triplesWithConv(s: SparkSession, d: String): DataFrame = {
    val tr = transcripts(s, d)
    Emit.allTriplesConv(s, d, tr, Link.linkAll(s, d, Mentions.extract(tr)))
  }

  def sameAsClusters(s: SparkSession, d: String): DataFrame =
    SameAs.closure(SameAs.edgesOf(triples(s, d)))

  /** The sameAs-canonical triple table. It builds transcripts → linked →
    * emission ONCE and picks one of two plans over those frames by whether
    * the emission frame is already materialized. Both branches emit the
    * identical row multiset: the cold branch is the Verify-gated plan, the
    * cached branch is set-equality-tested against it (OperatorSpecs).
    *
    * The probe has a side effect: building the emission frame persists
    * `linked` (Emit.persistedLinked) when it is not cached yet, so a cold
    * call leaves `linked` registered in the session's cache until the
    * caller clears it (`spark.catalog.clearCache()`); the cold branch reads
    * it three times (facts, context, activity).
    *
    * COLD (nothing cached — the scaling protocol's compute path, a
    * standalone canon query): materialize ONLY the fact triples (they feed
    * the edge extraction + both rewrite branches — canonicalize's
    * read-twice input contract); the snippet-heavy context/activity
    * triples stream through exactly once, untouched by the rewrite
    * (ctx/act subjects/objects are canon-inert by namespace), and a bare
    * count over them prunes the string building entirely. Measured
    * (local[2] × scale-19 compute-only, interleaved A/B): 55.7-57.7 s vs
    * 248-355 s for a full-table checkpoint — the 58.7M-row copy
    * materializes every string column and spills.
    *
    * CACHED (the emission frame is materialized — the warm harness, any
    * staged context): checkpoint the full table once (a cheap cache read)
    * and split it by subject namespace; fact emission is NOT re-run per
    * call. Measured (full warm suite): 2.3-2.8 s vs 5.9-6.9 s for the
    * fact-only shape, whose per-call fact re-emission (three shuffles +
    * checkpoint) pays full price under the pass's cache pressure. In the
    * staged Run the triples parquet plays the checkpoint's role outright.
    */
  def canonTriples(s: SparkSession, d: String): DataFrame = {
    val tr = transcripts(s, d)
    val l = Emit.persistedLinked(Link.linkAll(s, d, Mentions.extract(tr)))
    val staged = Emit.allTriplesConv(s, d, tr, l)
    if (staged.storageLevel != storage.StorageLevel.NONE) {
      val all = staged.drop("conv").localCheckpoint()
      val isCtxAct =
        col("subj").startsWith(Ns.ctx) || col("subj").startsWith(Ns.act)
      val facts = all.filter(!isCtxAct)
      val canon = SameAs.closure(SameAs.edgesOf(facts))
      SameAs.canonicalize(facts, canon)
        .unionAll(all.filter(isCtxAct)) // ctx/act rows — canon-inert bypass
    } else {
      val facts = Emit.factTriples(s, d, tr, l).localCheckpoint()
      val canon = SameAs.closure(SameAs.edgesOf(facts))
      SameAs.canonicalize(facts, canon)
        .unionAll(Emit.contextTriples(l))
        .unionAll(Emit.activityTriples(l)) // date/cert objects — canon-inert
    }
  }

  /** Context ordinals (W1/A5) surfaced directly for verification — the
    * SAME frame emission uses (Emit.ctxFrame), so the verified ordinals and
    * the minted context URIs can never drift apart. */
  def ordinals(s: SparkSession, d: String): DataFrame =
    Emit.ctxFrame(linked(s, d))
      .select("conv_id", "turn_idx", "kind", "midx", "ordinal", "ctx_uri")

  /** W2 "closest heading": each turn gets the text of the nearest
    * role=system turn at-or-before it, falling back to the nearest after
    * (`Utils/context.py:61-92`). Pure window functions, co-partitioned with
    * the conv bucketing — one shuffle on conv_id.
    */
  def headings(s: SparkSession, d: String): DataFrame = {
    val tr = transcripts(s, d)
    val h = when(col("role") === "system", col("text"))
    val before = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tr.select(col("conv_id"), col("turn_idx"),
      coalesce(
        last(h, ignoreNulls = true).over(before),
        first(h, ignoreNulls = true).over(after),
        lit("")).as("heading"))
  }

  /** A7 "first mentioned" person per conversation
    * (`Biography/biography.py:139-144`: mother/father = first mentioned).
    * Order key is document order (turn_idx, midx) packed into one BIGINT
    * with a 10^6 radix — collision-free for any realistic mention count
    * per turn and overflow-free for any turn index. */
  def firstPerson(s: SparkSession, d: String): DataFrame =
    linked(s, d).filter(col("kind") === "person")
      .groupBy("conv_id")
      .agg(min_by(col("obj_value"),
        col("turn_idx").cast("long") * 1000000L + col("midx"))
        .as("first_person"))
}
