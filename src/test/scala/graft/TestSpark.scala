package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stages of the jobs `body` runs. A marker job submitted after `body`
    * flushes the asynchronous listener bus: its start event is delivered
    * after every event `body` posted. Only stages of jobs whose start this
    * call saw count: an earlier call's marker stage can complete on the bus
    * after this call's listener is added. */
  def stagesOf[T](body: => T): (T, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val marker = "test-spark-flush"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (flushed.getCount > 0 && ours.contains(e.stageInfo.stageId)) {
          seen.add(e.stageInfo); ()
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
        else e.stageIds.foreach(id => ours.add(id))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
