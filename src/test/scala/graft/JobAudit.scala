package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
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
    val (out, jobs, _) = audit(spark)(body)
    (out, jobs.map(_.mkString("; ")))
  }

  /** [[jobsDuring]] with each job as the list of its stages' names (one
    * per stage the job planned), plus the number of stages completed
    * meanwhile that ran a stateful streaming operator: a stage whose RDDs
    * include a `StateStoreRDD` and whose tasks reported a state-store
    * metric. A stage that only reads the operator's output from a
    * persisted frame lists the `StateStoreRDD` among its ancestors but
    * runs no state store, so it is not counted.
    */
  def stateStagesDuring[T](spark: SparkSession)(body: => T): (T, Seq[Seq[String]], Int) = {
    val (out, jobs, stages) = audit(spark)(body)
    (out, jobs, stages.count { s =>
      s.rddInfos.exists(_.name == "StateStoreRDD") &&
        s.accumulables.values.exists(_.name.contains("number of state store instances"))
    })
  }

  private def audit[T](spark: SparkSession)(body: => T)
      : (T, Seq[Seq[String]], Seq[org.apache.spark.scheduler.StageInfo]) = {
    val sc = spark.sparkContext
    val group = s"job_audit_marker_${java.util.UUID.randomUUID()}"
    val markerSeen = new AtomicBoolean(false)
    val jobs = new ConcurrentLinkedQueue[Seq[String]]
    val stages = new ConcurrentLinkedQueue[org.apache.spark.scheduler.StageInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .contains(group)) markerSeen.set(true)
        else jobs.add(e.stageInfos.map(_.name))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!markerSeen.get) stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(group, "job audit marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!markerSeen.get && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen.get, "listener marker job never arrived")
      (out, jobs.asScala.toSeq, stages.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
