package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft
import graft.ml.{Clustering, Dedup}

/**
 * corpus_dedup: a corpus with planted near-duplicate families goes through
 * MinHash-LSH pairs, connected components, keep-best and a graft write of
 * the survivors; then new batches are deduplicated against a persisted
 * index (`dedupAgainstIndex(updateIndex = true)`) and their novel documents
 * appended to the survivors, each followed by reads of the survivors.
 * Each round ends with cold opens of the survivors table.
 */
final class Corpus(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import Corpus._

  private var corpusTable: String = _
  /** A small corpus of the same shape; the warm-up pass runs on it. */
  private var warmCorpusTable: String = _
  private var indexPath: String = _
  private var survivorsTable: String = _
  private var scratch: String = _
  private var dir: String = _
  private var rng: SplittableRandom = _
  private val docs = mutable.ArrayBuffer.empty[Doc]
  /** Ids the survivors table must hold. */
  private val survivors = mutable.HashSet.empty[Long]
  private var nextId = 0L

  def build(dir: String, small: Boolean): Unit = {
    this.dir = dir
    corpusTable = Tables.path(dir, "corpus")
    warmCorpusTable = Tables.path(dir, "warm_corpus")
    indexPath = Tables.path(dir, "index")
    survivorsTable = Tables.path(dir, "survivors")
    scratch = Tables.path(dir, "plain")
    rng = new SplittableRandom(seed)
    docs.clear()
    survivors.clear()
    nextId = 0L
    if (!small) Graft.write(frame(corpus(WarmFamilies, WarmSingletons)), warmCorpusTable)
    docs.clear()
    docs ++= (if (small) corpus(WarmFamilies, WarmSingletons) else corpus(Families, Singletons))
    Graft.write(frame(docs.toSeq), corpusTable)
    Dedup.buildMinHashIndex(Graft.read(spark, corpusTable), col("id"), col("text"),
      indexPath, numHashes = Hashes, bands = IndexBands, shingleSize = IndexShingle)
  }

  /** Small inputs: the warm-up compiles the same plans at a fraction of
    * the cost. */
  def warmup(): Unit = {
    rec.op("dedup_pass")(dedup(warmCorpusTable, Tables.path(dir, "warm_survivors")))
    indexBatch(WarmBatchDocs)
    freshRead()
    coldOpen()
  }

  def round(): Long = {
    var n = pass()
    for (_ <- 0 until BatchesPerRound) {
      n += indexBatch(BatchDocs)
      for (_ <- 0 until ReadsPerBatch) freshRead()
    }
    for (_ <- 0 until ColdOpensPerRound) coldOpen()
    n
  }

  /** The full pipeline over the corpus; returns the documents processed.
    * `keepBest` runs connected components over the pairs itself; the
    * traced run splits that time out by call site. */
  private def pass(): Long = {
    val res = rec.op("dedup_pass")(dedup(corpusTable, survivorsTable))
    res.foreach(checkPass)
    if (res.isDefined) docs.size.toLong else 0L
  }

  private def dedup(corpusAt: String, survivorsAt: String): Array[(Long, Long, Boolean)] = {
    val corpus = Graft.read(spark, corpusAt)
    val pairs = rec.timed("ml.pairs_ms")(
      Dedup.minHashPairs(corpus, col("id"), col("text")).select("idA", "idB")
        .localCheckpoint(true))
    val best = rec.timed("ml.keep_best_ms")(
      Clustering.keepBest(corpus, col("id"), col("quality"), pairs).localCheckpoint(true))
    rec.timed("pass.write_ms")(Graft.write(
      corpus.join(best.where(col("keep")).select("id"), "id"), survivorsAt,
      mode = "overwrite"))
    if (rec.trace) rec.afterOp(rec.sample("ml.verified_pairs", pairs.count().toDouble))
    best.select("id", "component", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
  }

  /** Every family is one component and collapses to one survivor, the best
    * by quality (ties to the lowest id); no component spans two families;
    * every singleton is its own component and survives. */
  private def checkPass(best: Array[(Long, Long, Boolean)]): Unit = {
    val component = best.map(b => b._1 -> b._2).toMap
    val byFamily = docs.groupBy(d => if (d.family >= 0) d.family.toLong else -d.id)
    val split = byFamily.count { case (_, ms) => ms.map(m => component.get(m.id)).distinct.size != 1 }
    val merged = docs.groupBy(d => component.get(d.id))
      .count { case (_, ms) => ms.map(m => if (m.family >= 0) m.family.toLong else -m.id)
        .distinct.size > 1 }
    rec.check(split == 0 && merged == 0 && component.size == docs.size,
      s"components: $split families split, $merged components span families, " +
        s"${component.size} of ${docs.size} documents assigned")
    val want = byFamily.values.map(ms => ms.maxBy(m => (m.quality, -m.id)).id).toSet
    val got = best.collect { case (id, _, true) => id }.toSet
    rec.check(got == want, s"keep-best kept ${got.size}, want ${want.size}")
    survivors.clear()
    survivors ++= want
  }

  /** One new batch against the index (which it joins), then its novel
    * documents appended to the survivors: two operations. */
  private def indexBatch(size: Int): Long = {
    val batch = (0 until size).map { i =>
      if (i % 2 == 0) doc(edit(docs(rng.nextInt(docs.size)).text.split(' ')), -2)
      else doc(words(DocWords), -1)
    }
    val index = Seq(s"$indexPath/sigs", s"$indexPath/buckets")
    val before = if (rec.trace) index.map(Tables.version) else Nil
    val res = rec.op("index_batch") {
      Dedup.dedupAgainstIndex(frame(batch), col("id"), col("text"), indexPath,
        numHashes = Hashes, bands = IndexBands, shingleSize = IndexShingle,
        updateIndex = true).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    res.foreach { verdicts =>
      val wrong = batch.count(d => !verdicts.get(d.id).contains(d.family == -2))
      rec.check(wrong == 0 && verdicts.size == batch.size,
        s"index batch: $wrong of ${batch.size} verdicts differ from the planted truth")
      if (rec.trace) writeStats(index.zip(before), batch.size)
    }
    // The planted truth decides what is novel, so a wrong verdict above
    // cannot also corrupt the survivors.
    val novel = batch.filter(_.family == -1)
    val v0 = if (rec.trace) Tables.version(survivorsTable) else -1L
    val appended = rec.op("survivor_append")(Graft.write(frame(novel), survivorsTable))
    appended.foreach { _ =>
      survivors ++= novel.map(_.id)
      if (rec.trace) writeStats(Seq(survivorsTable -> v0), novel.size)
    }
    if (res.isDefined) batch.size.toLong else 0L
  }

  private def writeStats(commits: Seq[(String, Long)], rows: Long): Unit = {
    val stats = commits.map { case (t, v) => Tables.commitStats(t, v) }
    rec.sample("write.files_added", stats.map(_._1).sum.toDouble)
    rec.sample("write.files_removed", stats.map(_._2).sum.toDouble)
    rec.sample("write.bytes_per_changed_row", stats.map(_._3).sum.toDouble / rows)
  }

  private def freshRead(): Unit = {
    val got = rec.op("fresh_read") {
      Tables.read(rec, survivorsTable,
        Graft.read(spark, survivorsTable).agg(count(lit(1)), sum("id"))) { df =>
        val r = df.head()
        (r.getLong(0), r.getLong(1))
      }
    }
    got.foreach { g =>
      val want = (survivors.size.toLong, survivors.sum)
      rec.check(g == want, s"survivors (count, id sum) = $g, want $want")
    }
  }

  private def coldOpen(): Unit =
    rec.op("cold_open")(Tables.coldOpen(rec, survivorsTable)).foreach { n =>
      rec.check(n == survivors.size, s"cold open counted $n survivors, want ${survivors.size}")
      if (rec.trace)
        rec.sample("log.tail_commits_at_open", Tables.logStats(survivorsTable)._3.toDouble)
    }

  def fixedPoint(): Unit = {
    rec.value("stored_bytes_per_live_byte",
      Tables.storedPerLiveByte(spark, survivorsTable, scratch))
    val (files, bytes, _) = Tables.logStats(survivorsTable)
    rec.value("log.dir_files", files.toDouble)
    rec.value("log.dir_bytes", bytes.toDouble)
    if (rec.trace) {
      // Threshold 0 keeps every LSH candidate: the yield of verification.
      val corpus = Graft.read(spark, corpusTable)
      val candidates = Dedup.minHashPairs(corpus, col("id"), col("text"), threshold = 0.0).count()
      val verified = Dedup.minHashPairs(corpus, col("id"), col("text")).count()
      rec.value("ml.candidate_pairs", candidates.toDouble)
      rec.value("ml.verified_per_candidate", verified.toDouble / candidates)
    }
  }

  def finish(): Unit = {
    val ids = Graft.read(spark, survivorsTable).select("id").collect().map(_.getLong(0))
    if (ids.length != survivors.size || ids.toSet != survivors.toSet)
      rec.problems += s"final survivors: ${ids.length} ids, want ${survivors.size}"
  }

  /** Planted families of near-duplicates (one-word edits of a common base)
    * followed by singletons. */
  private def corpus(families: Int, singletons: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    for (f <- 0 until families) {
      val base = words(DocWords)
      for (_ <- 0 until FamilySize) out += doc(edit(base), f)
    }
    for (_ <- 0 until singletons) out += doc(words(DocWords), -1)
    out.toSeq
  }

  private def words(n: Int): Array[String] =
    Array.fill(n)("w" + rng.nextInt(Vocabulary))

  /** A near-duplicate: one word replaced. */
  private def edit(ws: Array[String]): Array[String] = {
    val out = ws.clone()
    out(rng.nextInt(out.length)) = "w" + rng.nextInt(Vocabulary)
    out
  }

  private def doc(ws: Array[String], family: Int): Doc = {
    nextId += 1
    Doc(nextId, ws.mkString(" "), rng.nextInt(1000), family)
  }

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(ds.map(d => Row(d.id, d.text, d.quality)).asJava, Schema)
}

object Corpus {
  /** `family` is the planted family, -1 for a singleton and -2 for a batch
    * document edited from a corpus document. */
  final case class Doc(id: Long, text: String, quality: Int, family: Int)

  val Families = 300
  val FamilySize = 4
  val Singletons = 1800
  val DocWords = 80
  val Vocabulary = 20000
  val WarmFamilies = 20
  val WarmSingletons = 120
  val BatchDocs = 100
  val WarmBatchDocs = 10
  val BatchesPerRound = 3
  val ReadsPerBatch = 2
  val ColdOpensPerRound = 6
  val Hashes = 64
  /** Four rows per band: a one-word edit of an 80-word document (4-shingle
    * Jaccard at least 0.9) misses all 16 bands with probability below 1e-7. */
  val IndexBands = 16
  val IndexShingle = 4

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("quality", IntegerType)))
}
