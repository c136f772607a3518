package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block of code starts. Each job is reported by
  * its stages' names, which carry the call site ("parquet at
  * ManifestStore.scala:…"), so an audit can tell metadata reads from real
  * work.
  */
object JobAudit {

  /** Run `body`; return its value and the jobs started while it ran. The
    * listener bus delivers events asynchronously but in order, so after
    * `body` one marker job runs in a job group of its own: once its start
    * event arrives, every earlier job's has too. The marker is not
    * reported.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job_audit_marker_${java.util.UUID.randomUUID()}"
    val markerSeen = new AtomicBoolean(false)
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .contains(group)) markerSeen.set(true)
        else jobs.add(e.stageInfos.map(_.name).mkString("; "))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(group, "job audit marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!markerSeen.get && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen.get, "listener marker job never arrived")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
