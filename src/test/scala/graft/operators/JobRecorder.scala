package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** Records job starts (by description) and completed stages while a body
  * runs. [[sync]] runs a marker job and waits until the listener bus
  * delivers it; the bus is ordered, so every earlier event is in by then. */
class JobRecorder(spark: SparkSession) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[String]()
  val stages = new ConcurrentLinkedQueue[StageInfo]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse(""))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)
  def sync(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription("marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
    assert(jobs.contains("marker"), "listener bus never delivered the marker job")
  }
  def during[T](body: => T): (T, JobRecorder) = {
    spark.sparkContext.addSparkListener(this)
    try { val t = body; sync(); (t, this) }
    finally spark.sparkContext.removeSparkListener(this)
  }
}
