package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** `SparkSession.cloneSession()` and the session catalog's raw temp
  * views are private[sql] (or only on the classic session); this
  * package-located shim re-exposes what graft's segment runner needs:
  * running SQL in a session of its own that still sees the caller's
  * SQL conf, UDFs and temp views. */
object SessionBridge {

  /** Run `body` in a clone of `spark` (same SparkContext and shared
    * state; a copy of the SQL conf, functions and temp views), with the
    * clone active on this thread. Temp views that `body` creates or
    * replaces are copied back into `spark` afterwards, except those
    * named in `own`: those stay in the clone and never shadow or drop a
    * view of the caller's. */
  def inClone[T](spark: SparkSession, own: Set[String])(
      body: SparkSession => T): T = {
    val parent = spark.asInstanceOf[classic.SparkSession]
    val clone = parent.cloneSession()
    val catalog = clone.sessionState.catalog
    def views = catalog.getTempViewNames()
      .flatMap(n => catalog.getRawTempView(n).map(n -> _)).toMap
    val before = views
    val skip = own.map(_.toLowerCase)
    try clone.withActive(body(clone))
    finally views.foreach { case (n, v) =>
      if (!skip(n.toLowerCase) && !before.get(n).exists(_ eq v))
        parent.sessionState.catalog.createTempView(n, v,
          overrideIfExists = true)
    }
  }
}
