package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed operation of the closed loop. `round` is -1 for the untimed
  * warm-up. */
final case class OpRecord(
    id: Int, op: String, round: Int, startMs: Long, endMs: Long,
    wallMs: Double, ok: Boolean)

/** One Spark job as the listener saw it, tied to the operation whose
  * thread submitted it. */
final class JobRecord(val jobId: Int, val opId: Int, val startMs: Long,
    val stageIds: Seq[Int], val executionId: Option[Long]) {
  @volatile var endMs: Long = -1L
}

/** A completed stage: task count, shuffle bytes written and the long-form
  * call site (the submitting thread's stack). */
final case class StageRecord(stageId: Int, tasks: Int, shuffleBytes: Long,
    callSite: String)

/**
 * Times operations from outside the program and, in traced mode, records
 * every Spark job through a listener. Operations run one at a time (one
 * client), so each job belongs to the operation whose thread set the
 * `perfbench.op` local property when the job was submitted.
 */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  private val OpKey = "perfbench.op"
  private val DrainMarker = -2

  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** Per-operation sub-timings and counters, name -> (op id, value). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
  /** Values taken once, at a fixed point of the operation sequence. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  val problems = mutable.ArrayBuffer.empty[String]
  var round: Int = -1
  private var nextId = 0

  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stages = new ConcurrentHashMap[Int, StageRecord]()
  /** Long-form call site of each SQL execution. Jobs that adaptive query
    * execution submits from its own threads carry no program frame in
    * their stage call sites, but they carry their execution's id. */
  private val executions = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, new JobRecord(e.jobId, prop(OpKey).map(_.toInt).getOrElse(-1),
        e.time, e.stageIds, prop("spark.sql.execution.id").map(_.toLong)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val shuffle = Option(si.taskMetrics)
        .map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
      stages.merge(si.stageId, StageRecord(si.stageId, si.numTasks, shuffle, si.details),
        (a, b) => b.copy(tasks = a.tasks + b.tasks,
          shuffleBytes = a.shuffleBytes + b.shuffleBytes))
    }
  }
  if (trace) spark.sparkContext.addSparkListener(listener)

  /** Id of the operation started last. */
  def lastId: Int = nextId - 1

  /** Time `body` as one operation named `name`, right after a control job
    * (see [[Control]]). A throw marks it failed and yields None; the loop
    * goes on. */
  def op[T](name: String)(body: => T): Option[T] = {
    val id = nextId
    nextId += 1
    sample("control_ms", Control.run(spark))
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, id.toString)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Some(body)
      catch {
        case e: Exception =>
          problems += s"$name #$id threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    sc.setLocalProperty(OpKey, null)
    ops += OpRecord(id, name, round, s0, s1, (t1 - t0) / 1e6, result.isDefined)
    val after = deferred.toList
    deferred.clear()
    after.foreach(_())
    result
  }

  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  /** Run `f` once the current operation's clock has stopped (traced-mode
    * measurements that must not land in the operation's time). */
  def afterOp(f: => Unit): Unit = deferred += (() => f)

  /** A control after the last operation, so it too is judged against the
    * controls on both sides of it. */
  def closingControl(): Unit = samples("control_ms") += ((nextId, Control.run(spark)))

  /** Rename the last operation (an append learns it hit the checkpoint
    * cadence only from the version it returns). */
  def relabel(name: String): Unit =
    ops(ops.length - 1) = ops.last.copy(op = name)

  /** Mark the last operation failed when its output disagrees with the
    * model. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && ops.nonEmpty) {
      val last = ops.last
      if (last.ok) ops(ops.length - 1) = last.copy(ok = false)
      problems += s"${last.op} #${last.id} (round ${last.round}): $what"
    }

  def sample(name: String, value: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((lastId, value))

  def value(name: String, v: Double): Unit = values(name) = v

  /** Milliseconds taken by `body`, for sub-steps inside an operation. */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    sample(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  /** Wait until the listener bus has delivered every event so far: the bus
    * keeps order, so once a marker job's end arrives all earlier jobs and
    * stages have been seen. */
  def drain(timeoutMs: Long = 30000L): Unit = if (trace) {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, DrainMarker.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobs.values.asScala.exists(j => j.opId == DrainMarker && j.endMs >= 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def jobRecords: Seq[JobRecord] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def stageRecord(id: Int): Option[StageRecord] = Option(stages.get(id))
  def executionCallSite(id: Long): Option[String] = Option(executions.get(id))
}

/**
 * A fixed Spark job that runs no graft code: an RDD shuffle of 100,000
 * generated numbers. Its time, taken right before each operation, says how
 * fast the host is at that moment; on a shared host that speed swings by
 * half within seconds, so operations are also reported relative to it.
 */
object Control {
  val Rows = 100000
  /** Runs at the end of the warm-up, so the control is as warm as the
    * operations it is compared with. */
  val WarmRuns = 10

  def run(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.parallelize(0 until Rows, sc.defaultParallelism)
      .map(i => (i & 63, i.toLong * 0x9E3779B97F4A7C15L))
      .reduceByKey(_ ^ _, sc.defaultParallelism)
      .count()
    (System.nanoTime() - t0) / 1e6
  }
}
