package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}

/** A session on a running SparkContext with none of the engine's
  * extensions, for specs that check how engine code fails in one.
  * The constructor is `private[sql]`; the session shares the context
  * but has its own shared state and confs. */
object BareSession {
  def apply(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
