package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.Graft
import graft.log.{FileNames, GraftLog}

/** Measurements taken from outside the program: the file system, the
  * public log API and the executed physical plan. */
object Tables {
  private object Plans extends AdaptiveSparkPlanHelper

  /** Regular files and their bytes under `dir`, recursively. */
  def dirStats(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
      (files.size.toLong, files.map(p => Files.size(p)).sum)
    } finally s.close()
  }

  def deleteRecursively(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** All bytes stored under the table directory divided by the bytes of the
    * table's live rows written once as plain Parquet (data files only). */
  def storedPerLiveByte(spark: SparkSession, table: String, scratch: String): Double = {
    val stored = dirStats(table)._2
    deleteRecursively(scratch)
    Graft.read(spark, table).write.parquet(scratch)
    val live = Files.list(Paths.get(scratch)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum
    deleteRecursively(scratch)
    stored.toDouble / live
  }

  /** Files and bytes in the log directory; commits past the newest
    * checkpoint (the tail a cold open folds). */
  def logStats(table: String): (Long, Long, Long) = {
    val logDir = new File(table, "_graft_log")
    val names = Option(logDir.list()).map(_.toSeq).getOrElse(Nil)
    val deltas = names.flatMap(FileNames.deltaVersion)
    val cp = names.flatMap(FileNames.checkpointVersion).maxOption.getOrElse(-1L)
    val (files, bytes) = dirStats(logDir.getPath)
    (files, bytes, deltas.count(_ > cp).toLong)
  }

  /** Scan-side metrics of an executed query, summed over its file scans:
    * (files read, bytes read, listing ms). */
  def scanMetrics(plan: SparkPlan): (Long, Long, Long) = {
    val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
      scans.map(m(_, "metadataTime")).sum)
  }

  /** A read op: warm `update()`, then plan, then run. In traced mode the
    * plan and scan metrics are recorded as samples of the current op. */
  def read[T](rec: Recorder, table: String, df: => DataFrame)(run: DataFrame => T): T = {
    val spark = SparkSession.active
    rec.timed("log.refresh_ms")(GraftLog.forTable(spark, table).update())
    val frame = df
    rec.timed("scan.plan_ms")(frame.queryExecution.executedPlan)
    val out = run(frame)
    if (rec.trace) rec.afterOp(recordScan(rec, table, frame))
    out
  }

  /** Cold open: drop every cached log, then open and count. */
  def coldOpen(rec: Recorder, table: String): Long = {
    val spark = SparkSession.active
    GraftLog.clearCache()
    rec.timed("log.cold_snapshot_ms")(GraftLog.forTable(spark, table).update())
    val frame = Graft.read(spark, table)
    rec.timed("scan.plan_ms")(frame.queryExecution.executedPlan)
    val n = frame.count()
    if (rec.trace) rec.afterOp(recordScan(rec, table, frame))
    n
  }

  private def recordScan(rec: Recorder, table: String, frame: DataFrame): Unit = {
    val (files, bytes, listing) = scanMetrics(frame.queryExecution.executedPlan)
    rec.sample("scan.files_read", files.toDouble)
    rec.sample("scan.bytes_read", bytes.toDouble)
    rec.sample("scan.listing_ms", listing.toDouble)
    rec.sample("scan.files_total",
      GraftLog.forTable(SparkSession.active, table).snapshot.numFiles.toDouble)
  }

  /** Files added and removed and bytes added by the commits of `table`
    * after version `from`. */
  def commitStats(table: String, from: Long): (Long, Long, Long) = {
    val log = GraftLog.forTable(SparkSession.active, table)
    val to = log.update().version
    val actions = ((from + 1) to to).flatMap(v => log.readCommit(v))
    val adds = actions.collect { case a: graft.log.AddFile => a }
    val removes = actions.collect { case r: graft.log.RemoveFile => r }
    (adds.size.toLong, removes.size.toLong, adds.map(_.size).sum)
  }

  def version(table: String): Long =
    GraftLog.forTable(SparkSession.active, table).update().version

  def path(dir: String, name: String): String = new File(dir, name).getPath
}
