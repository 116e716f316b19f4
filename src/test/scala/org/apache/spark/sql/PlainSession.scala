package org.apache.spark.sql

import org.apache.spark.SparkContext

/** A session on an existing context with no extensions at all — the
  * `private[sql]` constructor, so no builder re-reads the context's conf
  * (and warns that it may not take effect). */
object PlainSession {
  def on(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
