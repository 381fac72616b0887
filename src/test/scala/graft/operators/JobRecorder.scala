package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** Records job starts (by description) and completed stages while a body
  * runs. [[sync]] runs a marker job and waits until the listener bus
  * delivers its end; the bus is ordered, and a job's stages complete
  * before it ends, so every earlier event and the marker's own stage are
  * in by then. */
class JobRecorder(spark: SparkSession) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[String]()
  val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val markerIds = ConcurrentHashMap.newKeySet[Int]()
  private val markerEnded = new CountDownLatch(1)
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val description = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (description == "marker") markerIds.add(e.jobId)
    jobs.add(description)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerIds.contains(e.jobId)) markerEnded.countDown()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)
  def sync(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription("marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    assert(markerEnded.await(30, TimeUnit.SECONDS), "listener bus never delivered the marker job")
  }
  def during[T](body: => T): (T, JobRecorder) = {
    spark.sparkContext.addSparkListener(this)
    try { val t = body; sync(); (t, this) }
    finally spark.sparkContext.removeSparkListener(this)
  }
}
