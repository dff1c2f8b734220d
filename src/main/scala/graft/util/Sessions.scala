package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{PlanBridge, SessionBridge}

/** The one way to run work under a Spark conf override. Requests share
  * ONE session across handler threads, and a set/restore pair on it is
  * not atomic: overlapping pairs leak the override to every concurrent
  * and later query. So no code path writes that session's conf; overrides
  * go on a clone (the isolation Spark gives each streaming query), which
  * copies the parent's runtime conf, temp views, UDFs, extra
  * optimizations/strategies and execution listeners. Each call takes a
  * FRESH clone: a memoized one goes stale when its parent's conf changes. */
object Sessions {
  /** A clone of `spark` with `confs` set on the clone only. */
  def child(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val s = SessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `f` applied to `df` rebound to a [[child]] of its session. */
  def scoped[T](df: DataFrame, confs: (String, String)*)(f: DataFrame => T): T =
    f(PlanBridge.ofRows(child(df.sparkSession, confs: _*), df.queryExecution.analyzed))
}
