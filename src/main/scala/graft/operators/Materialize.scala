package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * How an operator materializes a frame it reads more than once or across
 * the rounds of a driver-side loop: a local checkpoint, never a cache.
 *
 *  - A checkpoint truncates the logical plan as well as the execution
 *    lineage. A cache truncates execution only, so the analyzed plan of an
 *    iterative loop (data-fill contagion, connected components, kNN ring
 *    rounds) keeps growing by a join chain per round and Catalyst analysis
 *    goes superlinear after a few rounds.
 *  - A cache is a CacheManager entry that lives as long as the session. An
 *    operator that returns a lazy frame reading its cache can never release
 *    it. A checkpoint's blocks belong to its RDD and are freed once the frame
 *    is unreachable, so no operator releases one by hand (`Dataset.unpersist`
 *    drops CacheManager entries only; on a checkpoint it frees nothing).
 *
 * `eager` runs one job now; otherwise the first action that reads the frame
 * materializes it. Under adaptive execution, creating even a lazy checkpoint
 * runs the frame's upstream shuffle stages.
 *
 * The checkpoint RDD's call site names the calling operator (`Class.method`),
 * not a source line, so plan text does not change when lines above a call
 * move.
 */
object Materialize {

  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.setCallSite(s"localCheckpoint at $caller")
    try df.localCheckpoint(eager) finally sc.clearCallSite()
  }

  /** `Class.method` of the first stack frame outside this object; a local
   * def reports its own name, a closure the method that defines it. */
  private def caller: String = {
    val self = getClass.getName
    val frame = Thread.currentThread.getStackTrace
      .dropWhile(!_.getClassName.startsWith(self))
      .find(!_.getClassName.startsWith(self)).get
    val cls = frame.getClassName.split('.').last.takeWhile(_ != '$')
    val method = frame.getMethodName.split('$')
      .find(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit)).get
    s"$cls.$method"
  }
}
