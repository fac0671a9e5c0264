package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/**
 * Runs one workload in this JVM and writes what it measured, unreduced, as
 * JSON: set-up times, every operation, every Spark job (traced mode) and
 * the per-operation samples. `perfbench/run.py` builds this, starts it and
 * turns the raw record into metrics.
 *
 * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --cores K
 * --work DIR --out FILE --spawn-ms EPOCH_MS
 */
object Main {
  val Builds = 3
  /** Stack frames kept per stage call site: enough to reach graft's frames
    * below the Spark action. */
  val CallSiteFrames = 24

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val spawnMs = opt("spawn-ms").toLong

    val spark = SparkSession.builder()
      .master(s"local[${opt("cores")}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtension")
      .config("spark.sql.catalog.spark_catalog", "graft.catalog.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - spawnMs) / 1000.0

    val rec = new Recorder(spark, trace)
    val workload: Workload = workloadName match {
      case "ingest_commits" => new Ingest(spark, rec, seed)
      case "corpus_dedup" => new Corpus(spark, rec, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // A small build first takes the write path's first-use costs, so the
    // timed builds differ only by noise; it counts towards set-up.
    def build(dir: String, small: Boolean): Double = {
      val t0 = System.nanoTime()
      workload.build(dir, small)
      (System.nanoTime() - t0) / 1e9
    }
    val warmBuildS = build(s"$work/warm", small = true)
    Tables.deleteRecursively(s"$work/warm")
    val buildS = (0 until Builds).map { i =>
      val s = build(s"$work/build$i", small = false)
      if (i < Builds - 1) Tables.deleteRecursively(s"$work/build$i")
      s
    }

    val w0 = System.nanoTime()
    workload.warmup()
    for (_ <- 0 until Control.WarmRuns) Control.run(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val t0 = System.nanoTime()
    var pauseNs = 0L
    var rows = 0L
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0 - pauseNs) / 1e9 < seconds) {
      rounds += 1
      rec.round = rounds
      rows += workload.round()
      if (rounds == 1) {
        // Not part of the measured work.
        val p0 = System.nanoTime()
        workload.fixedPoint()
        pauseNs = System.nanoTime() - p0
      }
    }
    val wallS = (System.nanoTime() - t0 - pauseNs) / 1e9
    rec.closingControl()

    val before = rec.problems.size
    workload.finish()
    val finalProblems = rec.problems.drop(before).toSeq
    rec.drain()

    val out = new PrintWriter(new File(opt("out")), StandardCharsets.UTF_8)
    try out.print(Json.render(report(rec, workloadName, seed, trace, sessionS, warmBuildS, buildS,
      warmupS, wallS, rows, rounds, finalProblems)))
    finally out.close()
    spark.stop()
  }

  private def report(rec: Recorder, workload: String, seed: Long, trace: Boolean,
      sessionS: Double, warmBuildS: Double, buildS: Seq[Double], warmupS: Double, wallS: Double,
      rows: Long, rounds: Int, finalProblems: Seq[String]): Map[String, Any] = {
    val jobs = rec.jobRecords.filter(_.opId >= 0).map { j =>
      val st = j.stageIds.flatMap(rec.stageRecord)
      Map("job" -> j.jobId, "op" -> j.opId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> st.map(_.tasks).sum, "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "call_sites" -> (st.map(_.callSite) ++ j.executionId.flatMap(rec.executionCallSite))
          .map(_.linesIterator.take(CallSiteFrames).mkString("\n")))
    }
    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "warm_build_s" -> warmBuildS, "build_s" -> buildS, "warmup_s" -> warmupS,
      "wall_s" -> wallS, "rows" -> rows, "rounds" -> rounds,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "op" -> o.op, "round" -> o.round,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "wall_ms" -> o.wallMs, "ok" -> o.ok)),
      "jobs" -> jobs,
      "samples" -> rec.samples.map { case (k, vs) =>
        k -> vs.map { case (id, v) => Seq(id, v) } },
      "values" -> rec.values,
      "problems" -> rec.problems,
      "final_problems" -> finalProblems)
  }
}

/** Just enough JSON for the raw record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
