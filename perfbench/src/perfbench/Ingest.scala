package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Graft, GraftTable}

/**
 * ingest_commits: the streaming-sink shape with late corrections. A
 * date-partitioned events table gets small appends (a few hundred rows
 * each), each followed by a recent-window aggregate on the latest version.
 * A round is one checkpoint cycle: one MERGE of a correction batch keyed on
 * event id (updates skewed towards the newest events, some deletes and late
 * inserts) with point lookups after it, nine appends (the ninth lands on
 * the checkpoint cadence) and cold opens.
 */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import Ingest._

  private var table: String = _
  private var scratch: String = _
  private var rng: SplittableRandom = _
  private var day = 0
  private var appends = 0
  private var nextId = 0L
  /** The model: every live row by event id. */
  private val rows = mutable.LinkedHashMap.empty[Long, Event]
  private var lastTouched: IndexedSeq[Long] = IndexedSeq.empty

  def build(dir: String, small: Boolean): Unit = {
    table = Tables.path(dir, "events")
    scratch = Tables.path(dir, "plain")
    rng = new SplittableRandom(seed)
    rows.clear()
    nextId = 0L
    appends = 0
    val days = if (small) 2 else HistoryDays
    val history = (0 until days).flatMap(d =>
      Seq.fill(if (small) 50 else HistoryRowsPerDay)(event(d)))
    Graft.write(frame(history), table, partitionBy = Seq("event_date"))
    history.foreach(e => rows(e.id) = e)
    day = days
  }

  /** A whole checkpoint cycle, so the cold open after it reads a checkpoint
    * as the measured ones do, and every round starts on the cadence. */
  def warmup(): Unit = {
    merge()
    lookup(lastTouched.head)
    for (_ <- 1 until Checkpoint) append()
    freshRead()
    coldOpen()
  }

  def round(): Long = {
    var written = merge()
    for (i <- 0 until LookupsPerMerge)
      lookup(if (i < LookupsPerMerge - 1) lastTouched(rng.nextInt(lastTouched.size))
        else 1L + rng.nextInt(nextId.toInt))
    for (_ <- 1 until Checkpoint) {
      written += append()
      freshRead()
    }
    for (_ <- 0 until ColdOpensPerRound) coldOpen()
    written
  }

  private def append(): Long = {
    if (appends % AppendsPerDay == 0 && appends > 0) day += 1
    appends += 1
    val n = 200 + rng.nextInt(200)
    val batch = Seq.fill(n)(event(if (rng.nextInt(10) < 8) day else day - 1))
    val df = frame(batch)
    val res = rec.op("append")(Graft.write(df, table, partitionBy = Seq("event_date")))
    res.foreach { v =>
      batch.foreach(e => rows(e.id) = e)
      if (v % Checkpoint == 0) rec.relabel("checkpoint_append")
      if (rec.trace) writeStats(v - 1, n)
    }
    if (res.isDefined) n.toLong else 0L
  }

  /** One correction batch through one MERGE; returns the rows merged. */
  private def merge(): Long = {
    val newest = nextId
    val chosen = mutable.LinkedHashSet.empty[Long]
    // Corrections fall on live events among the newest MergeWindow, skewed
    // towards the newest.
    while (chosen.size < MergeRows - LateInserts) {
      val u = rng.nextDouble()
      val id = newest - (MergeWindow * u * u).toLong
      if (rows.contains(id)) chosen += id
    }
    val deletes = chosen.filter(_ => rng.nextInt(100) < 5).toSet
    val after = mutable.LinkedHashMap.empty[Long, Event]
    val src = mutable.ArrayBuffer.empty[Row]
    chosen.foreach { id =>
      val old = rows(id)
      if (deletes(id)) {
        src += row("D", old)
        after(id) = null
      } else {
        val upd = old.copy(kind = Kinds(rng.nextInt(Kinds.length)), amount = 1L + rng.nextInt(10000))
        src += row("U", upd)
        after(id) = upd
      }
    }
    for (_ <- 0 until LateInserts) {
      val late = event(day - 1)
      src += row("I", late)
      after(late.id) = late
    }
    val source = spark.createDataFrame(src.asJava, SourceSchema)
    val before = if (rec.trace) Tables.version(table) else -1L
    val res = rec.op("merge") {
      GraftTable.forPath(spark, table)
        .merge(source, expr("t.event_date = s.event_date AND t.event_id = s.event_id"))
        .whenMatched(expr("s.op = 'D'")).delete()
        .whenMatched().updateExpr(Map("kind" -> "s.kind", "amount" -> "s.amount"))
        .whenNotMatched(expr("s.op = 'I'")).insertExpr(
          Schema.fieldNames.map(c => c -> s"s.$c").toMap)
        .execute()
    }
    res.foreach { m =>
      val changed = Seq("numTargetRowsUpdated", "numTargetRowsInserted", "numTargetRowsDeleted")
        .map(k => m.getOrElse(k, "0").toLong)
      val want = Seq(chosen.size - deletes.size, LateInserts, deletes.size).map(_.toLong)
      rec.check(changed == want,
        s"MERGE reported (updated, inserted, deleted) = $changed, want $want")
      after.foreach { case (id, e) => if (e == null) rows.remove(id) else rows(id) = e }
      if (rec.trace) writeStats(before, changed.sum)
    }
    lastTouched = after.keys.toIndexedSeq
    if (res.isDefined) src.size.toLong else 0L
  }

  private def writeStats(from: Long, changedRows: Long): Unit = {
    val (added, removed, bytes) = Tables.commitStats(table, from)
    rec.sample("write.files_added", added.toDouble)
    rec.sample("write.files_removed", removed.toDouble)
    rec.sample("write.bytes_per_changed_row", bytes.toDouble / changedRows)
  }

  private def lookup(id: Long): Unit = {
    val got = rec.op("lookup") {
      Tables.read(rec, table, Graft.read(spark, table).where(col("event_id") === id)) { df =>
        df.select(Columns.map(col): _*).collect().map(eventOf).toSeq
      }
    }
    got.foreach { g =>
      val want = rows.get(id).toSeq
      rec.check(g == want, s"lookup $id: got $g, want $want")
    }
  }

  private def freshRead(): Unit = {
    val from = day - RecentDays + 1
    val got = rec.op("fresh_read") {
      Tables.read(rec, table,
        Graft.read(spark, table).where(col("event_date") >= lit(dateOf(from)))
          .groupBy("kind").agg(count(lit(1)).as("n"), sum("amount").as("s"))) { df =>
        df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      }
    }
    got.foreach { g =>
      val want = rows.values.filter(_.day >= from).groupBy(_.kind)
        .map { case (k, es) => k -> ((es.size.toLong, es.map(_.amount).sum)) }
      rec.check(g == want, s"recent window from day $from: got $g, want $want")
    }
  }

  private def coldOpen(): Unit = {
    rec.op("cold_open")(Tables.coldOpen(rec, table)).foreach { n =>
      rec.check(n == rows.size, s"cold open counted $n rows, want ${rows.size}")
      if (rec.trace) rec.sample("log.tail_commits_at_open", Tables.logStats(table)._3.toDouble)
    }
  }

  def fixedPoint(): Unit = {
    rec.value("stored_bytes_per_live_byte", Tables.storedPerLiveByte(spark, table, scratch))
    val (files, bytes, _) = Tables.logStats(table)
    rec.value("log.dir_files", files.toDouble)
    rec.value("log.dir_bytes", bytes.toDouble)
  }

  def finish(): Unit = {
    val df = Graft.read(spark, table)
    val agg = df.agg(count(lit(1)), sum("amount")).head()
    val (n, total) = (agg.getLong(0), agg.getLong(1))
    val want = rows.values.map(_.amount).sum
    if (n != rows.size || total != want)
      rec.problems += s"final table has $n rows summing to $total, " +
        s"want ${rows.size} summing to $want"
    val got = df.select(Columns.map(col): _*).collect().map(eventOf)
    if (got.length != rows.size || rowHash(got) != rowHash(rows.values))
      rec.problems += "final table rows differ from the model's rows"
  }

  private def event(d: Int): Event = {
    nextId += 1
    // Users are skewed: half the events come from the first 100 users.
    val user = if (rng.nextBoolean()) rng.nextInt(100) else rng.nextInt(100000)
    Event(nextId, d, user, Kinds(rng.nextInt(Kinds.length)), 1L + rng.nextInt(10000))
  }

  private def frame(es: Seq[Event]): DataFrame =
    spark.createDataFrame(es.map(e =>
      Row(dateOf(e.day), e.id, e.user, e.kind, e.amount)).asJava, Schema)

  private def row(op: String, e: Event): Row =
    Row(op, dateOf(e.day), e.id, e.user, e.kind, e.amount)
}

object Ingest {
  final case class Event(id: Long, day: Int, user: Int, kind: String, amount: Long)

  val Checkpoint = 10          // graft's default checkpoint interval
  val HistoryDays = 30
  val HistoryRowsPerDay = 600
  val AppendsPerDay = 4
  val RecentDays = 3
  val MergeRows = 200
  val LateInserts = 10
  /** Events among the newest that corrections fall on. */
  val MergeWindow = 3000
  val LookupsPerMerge = 4
  val ColdOpensPerRound = 8
  val Kinds = Array("view", "click", "cart", "buy")
  private val Epoch = LocalDate.of(2024, 1, 1)

  val Schema: StructType = StructType(Seq(
    StructField("event_date", DateType),
    StructField("event_id", LongType),
    StructField("user_id", IntegerType),
    StructField("kind", StringType),
    StructField("amount", LongType)))
  val SourceSchema: StructType = StructType(StructField("op", StringType) +: Schema.fields)

  /** Columns read back, in the order `eventOf` takes them. */
  val Columns: Seq[String] = Seq("event_id", "user_id", "kind", "amount", "event_date")

  def dateOf(day: Int): LocalDate = Epoch.plusDays(day.toLong)

  def eventOf(r: Row): Event = Event(r.getLong(0),
    (r.getDate(4).toLocalDate.toEpochDay - Epoch.toEpochDay).toInt,
    r.getInt(1), r.getString(2), r.getLong(3))

  /** Order-independent hash of a row multiset. */
  def rowHash(es: Iterable[Event]): Long =
    es.foldLeft(0L)((h, e) => h + e.hashCode.toLong * 0x9E3779B97F4A7C15L)
}
