package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Per-operator specs: closure shapes, dedup decisions, kernel parity,
  * and the BASELINE per-row invariant (SURVEY.md §5 items 2-3). */
class SameAsSpec extends SparkSpec {
  import spark.implicits._

  test("closure handles chains (length ≥ 3) and star merges") {
    val edges = Seq(
      ("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), // chain e-d-c-b-a
      ("x", "y"), ("y", "z"),                         // chain x-y-z
      ("q", "q2")                                     // pair
    ).toDF("a", "b")
    val canon = SameAs.closure(edges).as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c", "d", "e").forall(canon(_) == "a"))
    assert(Seq("x", "y", "z").forall(canon(_) == "x"))
    assert(canon("q2") == "q")
  }

  test("closure ≡ driver-side union-find on 500 random edges (seeded)") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = Seq.fill(500)((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
      .filter { case (a, b) => a != b }
    // reference implementation: classic union-find with min-label canon
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    val got = SameAs.closure(edges.toDF("a", "b"))
      .as[(String, String)].collect().toMap
    // every node present in an edge maps to its component's min label
    assert(got.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet)
    got.foreach { case (k, v) => assert(v == find(k), s"canon($k)") }
  }

  test("two-cluster merge via a bridging edge") {
    val before = SameAs.closure(Seq(("a", "b"), ("m", "n")).toDF("a", "b"))
      .as[(String, String)].collect().toMap
    assert(before("n") == "m" && before("b") == "a")
    val after = SameAs.closure(Seq(("a", "b"), ("m", "n"), ("b", "n")).toDF("a", "b"))
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "m", "n").forall(after(_) == "a"))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps min doc_id per identical text") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "different text here"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("shingle jaccard integer decision: ≥0.8 via 5*inter >= 4*uni") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs) // 3-grams: doc1 {abc,bcd,cde}, doc2 {abc,bcd,cdx}
    val cand = Seq((1L, 2L)).toDF("a", "b")
    val v = Dedup.jaccardVerify(cand, sh)
      .as[(Long, Long, Long, Long, Boolean)].collect().head
    assert(v == ((1L, 2L, 2L, 4L, false))) // j = 0.5 < 0.8
  }

  test("LSH finds exact copies (all bands agree) and drops unrelated docs") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val cand = Dedup.lshCandidates(Dedup.bands(Dedup.minhash(Dedup.shingles(docs))))
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L)))
  }

  test("corpus keeps the source doc_id type (no widening)") {
    val docs = sources.Tables.documents(spark, sfDir)
    assert(Dedup.corpus(docs).schema("doc_id").dataType == docs.schema("doc_id").dataType)
  }

  test("simhash: identical word sets → identical hash; disjoint sets differ") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta alpha"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val h = Dedup.simhash(docs).as[(Long, String)].collect().toMap
    assert(h(1L) == h(2L)) // set semantics: order/multiplicity irrelevant
    assert(h(1L) != h(3L))
    // 64-bit fingerprint: 16 lowercase hex chars
    assert(h.values.forall(_.matches("[0-9a-f]{16}")))
  }
}

class MultimodalSpec extends SparkSpec {
  test("mapPartitions kernel ≡ relational twin on real documents") {
    val docs = sources.Tables.documents(spark, sfDir)
    val kernel = Multimodal.featurizeKernel(spark, docs).collect().toSet
    val rel = Multimodal.featurizeRelational(docs).collect().toSet
    assert(kernel == rel)
    assert(kernel.nonEmpty)
  }

  test("frame-sample byte kernel ≡ relational twin (ASCII corpus)") {
    val docs = sources.Tables.documents(spark, sfDir)
    val kernel = Multimodal.frameSampleKernel(spark, docs).collect().toSet
    val rel = Multimodal.frameSampleRelational(docs).collect().toSet
    assert(kernel == rel)
  }

  test("resize stub preserves aspect and bounds the long side") {
    val f = Multimodal.MediaFeatures(1L, 1000, 500, 320, 3, "x")
    val r = Multimodal.resizeStub(f, 100)
    assert(r.width == 100 && r.height == 64)
    assert(Multimodal.resizeStub(r, 100) == r) // idempotent under bound
  }
}

/** BASELINE.json per-row invariant: per-turn text equality under stable
  * (conv_id, turn_idx) ordering — robust to physical partitioning. */
class TextInvariantSpec extends SparkSpec {
  import spark.implicits._

  test("per-turn text round-trips byte-identically under repartitioning") {
    val tr = Pipeline.transcripts(spark, sfDir)
    val a = tr.orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val b = tr.repartition(13).orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    assert(a.sameElements(b))
    assert(a.map(r => (r._1, r._2)).distinct.length == a.length, "(conv, turn) must be unique")
  }

  test("ordinals are stable under repartitioning (never partition-order dependent)") {
    val l = Pipeline.linked(spark, sfDir)
    val base = Pipeline.ordinals(spark, sfDir)
      .select("conv_id", "kind", "turn_idx", "midx", "ordinal")
      .as[(String, String, Int, Int, Int)].collect().toSet
    val emitting = l.repartition(17)
      .filter(!col("kind").isin("place", "place_left") || col("matched"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"), col("kind"))
      .orderBy(col("turn_idx"), col("midx"))
    val re = emitting.select(col("conv_id"), col("kind"), col("turn_idx"),
      col("midx"), row_number().over(w).as("ordinal"))
      .as[(String, String, Int, Int, Int)].collect().toSet
    assert(base == re)
  }

  test("triple emission is idempotent (set semantics, bio_extraction.py:78)") {
    val t = Pipeline.triples(spark, sfDir)
    assert(t.count() == t.distinct().count())
    assert(t.unionAll(t).distinct().count() == t.count())
  }

  test("canonTriples cached-dispatch branch equals the cold branch") {
    // canonTriples picks its plan by whether the emission stage frame is
    // already materialized (r6 batch 8): the COLD fact-only-checkpoint
    // branch is the Verify/oracle-gated plan; this pins the CACHED
    // namespace-split branch to the same row multiset.
    spark.catalog.clearCache()
    val cold = Pipeline.canonTriples(spark, sfDir)
      .as[graft.model.Triple].collect().toSet
    Caches.release(spark)
    val staged = Pipeline.triplesWithConv(spark, sfDir)
    staged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    staged.count()
    try {
      assert(staged.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE) // dispatch precondition
      val warm = Pipeline.canonTriples(spark, sfDir)
        .as[graft.model.Triple].collect().toSet
      assert(warm == cold)
    } finally {
      staged.unpersist()
      Caches.release(spark)
    }
  }

  test("triple set is invariant under input permutation (full pipeline)") {
    import graft.operators.{Emit, Link, Mentions}
    val tr = Pipeline.transcripts(spark, sfDir)
    val want = Pipeline.triples(spark, sfDir).as[graft.model.Triple]
      .collect().toSet
    // same rows, adversarial partitioning/order
    val shuffled = tr.repartition(7).sortWithinPartitions(col("text"))
    val got = Emit.allTriples(spark, sfDir, shuffled,
      Link.linkAll(spark, sfDir, Mentions.extract(shuffled)))
      .as[graft.model.Triple].collect().toSet
    assert(got == want)
  }
}
