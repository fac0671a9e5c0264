package perfbench

/** One benchmark workload: a table built from the seed, a warm-up that
  * runs each operation type once untimed, and identical rounds of timed
  * operations that check every result against a model kept apart from
  * graft. */
trait Workload {
  /** Build the workload's tables under `dir` from the seed alone, resetting
    * the model. Called once `small` (warming the write path up) and then
    * several times to time set-up; the last build is the one the rounds run
    * on. */
  def build(dir: String, small: Boolean): Unit

  /** Each operation type once; not timed. */
  def warmup(): Unit

  /** One round of operations; returns the rows written or documents
    * processed. */
  def round(): Long

  /** Measurements of table state taken once, after the first round, so
    * they do not depend on how many rounds a run manages. */
  def fixedPoint(): Unit

  /** Check the final table against the model; record problems. */
  def finish(): Unit
}
