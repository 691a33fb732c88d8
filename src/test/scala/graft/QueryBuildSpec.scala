package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Building a catalog query over the warm shared stages must be cheap
  * driver work: no source read infers a schema, and an export builds with
  * no Spark job at all. */
class QueryBuildSpec extends SparkSpec {

  /** Call sites of the jobs `body` launches on this thread. Listener events
    * arrive asynchronously but in order, so a marker job run after `body`
    * flushes every job event `body` posted. */
  private def jobSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "query-build-spec"
    val marker = "query-build-spec-marker"
    val sites = new ConcurrentLinkedQueue[String]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          // a job's call site is the name of its result stage
          case Some(`group`) => sites.add(e.stageInfos.maxBy(_.stageId).name)
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job event never arrived")
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  test("building queries over the warm stages reads no footer; exports run no job") {
    spark.catalog.clearCache()
    // the three shared stages, persisted as the warm query pass does
    val shared = Seq(Pipeline.transcripts(spark, sfDir), Pipeline.linked(spark, sfDir),
      Pipeline.triplesWithConv(spark, sfDir))
    shared.foreach { df => df.persist(StorageLevel.MEMORY_AND_DISK); df.count() }
    try {
      val nt = jobSites(SparkEntry.queries("kg_nt_lines")(spark, sfDir))
      assert(nt.isEmpty, s"kg_nt_lines build launched jobs: $nt")
      val canon = jobSites(SparkEntry.queries("kg_triples_canon")(spark, sfDir))
      assert(canon.nonEmpty, "the cached canon branch checkpoints while building")
      assert(!canon.exists(_.startsWith("parquet at")),
        s"kg_triples_canon build read a parquet footer: $canon")
    } finally {
      spark.catalog.clearCache()
      Caches.release(spark)
    }
  }
}
