package graft.util

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}

object Sessions {

  /** Runs `f` on a clone of `s` with `confs` set on the clone only. The
    * caller's session is never written, so there is nothing to restore and
    * no window in which other threads on `s` (the pipeline's branch
    * threads, a concurrent query) plan under borrowed confs. The clone
    * inherits every runtime conf and session listener of `s` and shares
    * its SparkContext and cache; frames `f` builds belong to the clone
    * (rebind a result with [[GraftExpressionBridge.rebind]] to plan it
    * under the caller's confs).
    */
  def scoped[T](s: SparkSession, confs: (String, String)*)(f: SparkSession => T): T = {
    val c = GraftExpressionBridge.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    f(c)
  }
}
