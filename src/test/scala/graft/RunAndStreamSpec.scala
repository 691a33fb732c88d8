package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resume + streaming-parity specs (SURVEY.md §5 items 4-5). */
class RunSpec extends SparkSpec {

  test("staged run is checkpoint-resumable with per-partition lineage") {
    val out = Files.createTempDirectory("graftrun").toString
    val (t1, c1) = Run.execute(spark, sfDir, out, resume = false)
    assert(t1 > 0 && c1 > 0 && c1 <= t1)
    val manifest1 = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala
    assert(manifest1.count(_.contains("\"status\":\"done\"")) == 6)
    // lineage rows exist and sum to the stage row count
    val lin = spark.read.parquet(s"$out/_lineage/triples")
    val linSum = lin.agg(org.apache.spark.sql.functions.sum("rows"))
      .collect()(0).getLong(0)
    assert(linSum == t1)

    // simulate a crash after stage 2: drop everything after "linked"
    Seq("triples", "canon", "metrics_unmapped", "metrics_stats").foreach { s =>
      val p = Paths.get(s"$out/$s")
      if (Files.exists(p)) {
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val kept = manifest1.filter(l =>
      l.contains("\"stage\":\"transcripts\"") || l.contains("\"stage\":\"linked\""))
    Files.write(Paths.get(s"$out/manifest.jsonl"), kept.asJava)

    val (t2, c2) = Run.execute(spark, sfDir, out, resume = true)
    assert(t2 == t1 && c2 == c1, "resumed run must reproduce identical counts")
    val manifest2 = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala
    assert(manifest2.count(_.contains("skipped_resume")) == 2,
      "transcripts+linked must be skipped on resume")
  }

  private val stages = Seq("transcripts", "linked", "triples", "canon",
    "metrics_unmapped", "metrics_stats")

  /** One fresh run shared by the tests below: (out dir, returned counts). */
  private lazy val fresh = {
    val out = Files.createTempDirectory("graftrun").toString
    (out, Run.execute(spark, sfDir, out, resume = false))
  }

  private def manifest(out: String) =
    Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala.toSeq

  /** stage -> (rows, partitions, start_ms, end ms) of the done lines. */
  private def doneLines(out: String) = manifest(out)
    .filter(_.contains("\"status\":\"done\"")).map { l =>
      def f(k: String) = io.RunManifest.field(l, k).get
      (f("stage"), (f("rows").toLong, f("partitions").toInt,
        f("start_ms").toLong, f("start_ms").toLong + f("wall_ms").toLong))
    }

  test("lineage and counts equal a recount of every staged table") {
    import org.apache.spark.sql.functions._
    val (out, (t, c)) = fresh
    val done = doneLines(out)
    assert(done.map(_._1).sorted == stages.sorted, "exactly one done line per stage")
    val byStage = done.toMap
    // the run leaves `linked` cached (Emit.persistedLinked); a scan served
    // from that cache has no input file, so recount from the files
    spark.catalog.clearCache()
    assert(t == byStage("triples")._1 && c == byStage("canon")._1)
    stages.foreach { s =>
      val staged = spark.read.parquet(s"$out/$s")
      // the reference lineage: a fresh input_file_name group-by of the
      // staged files, as RunManifest computed it before its re-read took
      // the written schema
      val want = staged
        .groupBy(regexp_extract(input_file_name(),
          "([^/]+=[^/]+/)?part-[0-9]+[^/]*$", 0).as("partition_id"))
        .agg(count(lit(1)).as("rows"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = spark.read.parquet(s"$out/_lineage/$s")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want, s"lineage of $s")
      val (rows, parts, _, _) = byStage(s)
      assert(rows == staged.count() && rows == want.toSeq.map(_._2).sum, s"rows of $s")
      assert(parts == want.size, s"partitions of $s")
    }
    // every stage starts only after the stages it reads have ended
    def after(s: String, inputs: String*) =
      inputs.foreach(i => assert(byStage(s)._3 >= byStage(i)._4, s"$s starts before $i ends"))
    after("linked", "transcripts")
    after("triples", "linked")
    after("metrics_unmapped", "linked")
    after("canon", "triples")
    after("metrics_stats", "triples")
  }

  test("resume takes rows from done lines logged in any order") {
    val (out, (t1, c1)) = fresh
    val lines = manifest(out)
    def line(s: String) = lines.find(_.contains(s"\"stage\":\"$s\"")).get
    Seq("canon", "metrics_stats").foreach { s =>
      Files.walk(Paths.get(s"$out/$s")).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    // metrics_unmapped logged before triples, linked last
    val kept = Seq("metrics_unmapped", "triples", "transcripts", "linked").map(line)
    Files.write(Paths.get(s"$out/manifest.jsonl"), kept.asJava)
    val (t2, c2) = Run.execute(spark, sfDir, out, resume = true)
    assert(t2 == t1 && c2 == c1, "resumed run must reproduce identical counts")
    val after = manifest(out)
    assert(after.count(_.contains("skipped_resume")) == 4)
    assert(doneLines(out).map(_._1).sorted ==
      (kept.map(io.RunManifest.field(_, "stage").get) ++ Seq("canon", "metrics_stats")).sorted)
    assert(spark.read.parquet(s"$out/canon").count() == c1)
  }

  test("alongside: a failing branch surfaces only after its sibling finished") {
    val sideDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e1 = intercept[IllegalStateException] {
      Run.alongside { Thread.sleep(300); sideDone.set(true) } {
        throw new IllegalStateException("main failed")
      }
    }
    assert(e1.getMessage == "main failed" && sideDone.get)

    var mainDone = false
    val e2 = intercept[IllegalStateException] {
      Run.alongside(throw new IllegalStateException("side failed")) {
        Thread.sleep(300); mainDone = true
      }
    }
    assert(e2.getMessage == "side failed" && mainDone)

    // both fail: main's failure is thrown, the side's rides along
    val e3 = intercept[IllegalStateException] {
      Run.alongside(throw new IllegalArgumentException("side")) {
        throw new IllegalStateException("main")
      }
    }
    assert(e3.getSuppressed.map(_.getMessage).toSeq == Seq("side"))

    // the side thread inherits the caller's job group
    val sc = spark.sparkContext
    sc.setJobGroup("run-branch-test", "alongside", interruptOnCancel = false)
    try {
      var group: String = null
      assert(Run.alongside { group = sc.getLocalProperty("spark.jobGroup.id") } (1) == 1)
      assert(group == "run-branch-test")
    } finally sc.clearJobGroup()
  }

  test("a failed stage writes no done line; its sibling still completes") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graftrun-fail").toString
    val m = new io.RunManifest(spark, out, resume = false)
    val e = intercept[Exception] {
      Run.alongside(m.stage("bad")(spark.range(4).select(raise_error(lit("boom"))))) {
        Thread.sleep(200) // the bad branch fails while this one still runs
        m.stage("good")(spark.range(10).toDF())
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")), e.toString)
    val done = doneLines(out)
    assert(done.map(_._1) == Seq("good") && done.head._2._1 == 10L)
  }
}

class StreamParitySpec extends SparkSpec {

  test("streaming mention extraction ≡ batch (same operators on readStream)") {
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.mentionStream(spark, sfDir), "sp_mentions", "append")
      .collect().toSet
    val want = Pipeline.mentions(spark, sfDir)
      .select("conv_id", "turn_idx", "kind", "midx", "surface").collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming windowed agg ≡ batch hourlyAgg") {
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.hourlyStream(spark, sfDir), "sp_hourly", "complete")
      .collect().toSet
    val want = operators.Sessions.hourlyAgg(sources.Tables.events(spark, sfDir))
      .collect().toSet
    assert(got == want)
  }

  test("streaming runner lands linked parquet; restart is exactly-once") {
    val out = java.nio.file.Files.createTempDirectory("graft-stream-run").toString
    val n1 = streaming.StreamOps.executeStreaming(spark, sfDir, out)
    val want = Pipeline.linked(spark, sfDir).drop("ts")
    assert(n1 == want.count())
    // landed rows equal the batch linked stage, column for column
    val got = spark.read.parquet(s"$out/linked")
      .select(want.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSet
    assert(got == want.collect().toSet)
    // restart over the unchanged input: the checkpoint's file-source log
    // must commit zero new rows (exactly-once per file)
    val n2 = streaming.StreamOps.executeStreaming(spark, sfDir, out)
    assert(n2 == n1, s"restart added ${n2 - n1} duplicate rows")
  }

  test("streaming broadcast-link ≡ batch linked frame") {
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.linkedStream(spark, sfDir), "sp_linked", "append")
      .collect().toSet
    val want = Pipeline.linked(spark, sfDir).drop("text", "ts")
      .collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming exact-dedup keeper table ≡ batch Dedup group table") {
    import org.apache.spark.sql.functions._
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.dedupStream(spark, sfDir), "sp_dedup", "complete")
      .collect().toSet
    val want = operators.Dedup.corpus(sources.Tables.documents(spark, sfDir))
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id").cast("long")).as("keep_id"),
        count(lit(1)).as("group_n"))
      .collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // the duplicate structure is visible: exact copies (doc_id+200000)
    // share their base doc's hash, so some groups have n >= 2
    assert(got.exists(_.getLong(2) >= 2))
  }
}
