package graft.tools

import graft.{Caches, Pipeline, Run, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation main (guide §1) — SEPARATE from the
  * frozen graft.Bench harness. Modes (args(0)):
  *
  *   plans <outDir> [q1,q2,...]   write .explain("formatted") per query
  *   time  [q1,q2,...]            warm-stage timing with a noop sink
  *                                (guide §1.4) instead of count()
  *   e2e                          one Run.execute with its manifest echoed
  *                                and a stage timeline (start_ms..end,
  *                                overlapping stages side by side)
  *
  * Env contract matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT_BYTES", "8m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.isEmpty) "time" else args(0)
    val only = args.drop(if (mode == "plans") 2 else 1).headOption
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }

    def warmShared(): Unit = {
      val shared = Seq(
        Pipeline.transcripts(spark, sfDir),
        Pipeline.linked(spark, sfDir),
        Pipeline.triplesWithConv(spark, sfDir))
      shared.foreach { df =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      val sc = spark.sparkContext
      Caches.retainIds(sc.getPersistentRDDs.keySet.toSet)
      if (queries.exists(_._1.startsWith("kg_uber")))
        SparkEntry.uberStaged(spark, sfDir)
      Caches.retainIds(sc.getPersistentRDDs.keySet.toSet)
    }

    mode match {
      case "plans" =>
        val outDir = args(1)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        warmShared()
        queries.foreach { case (name, fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
            Caches.release(spark)
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
          }
        }
      case "time" =>
        warmShared()
        val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
        queries.foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          val secs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            Caches.release(spark)
            s
          }.sorted
          println(f"[noop] $name%-22s ${secs(secs.size / 2)}%8.3f  " +
            f"(${secs.map(s => f"$s%.2f").mkString("/")}%s)")
          spark.sparkContext.setJobDescription(null)
        }
      case "e2e" =>
        val outDir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
        val t0 = System.nanoTime()
        val (t, c) = Run.execute(spark, sfDir, outDir, resume = false)
        println(f"[e2e] total ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"triples=$t canon=$c")
        import scala.jdk.CollectionConverters._
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$outDir/manifest.jsonl")).asScala.toSeq
        lines.foreach(println)
        val spans = lines.map { l =>
          def f(k: String) = graft.io.RunManifest.field(l, k).getOrElse("0")
          val start = f("start_ms").toLong
          (f("stage"), start, start + f("wall_ms").toLong)
        }
        val width = 60.0 / math.max(1L, spans.map(_._3).max)
        spans.sortBy(_._2).foreach { case (s, a, b) =>
          val bar = " " * (a * width).toInt + "#" * math.max(1, ((b - a) * width).toInt)
          println(f"[e2e] $s%-17s $a%6d..$b%6d ms |$bar")
        }
    }
    spark.stop()
  }
}
