package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.internal.{SessionState, SharedState}

/** A session with EMPTY session extensions on an existing session's
  * SparkContext and shared state: the shape of a session built without
  * graft.core.GraftSession, as a caller of SparkEntry.queries may
  * build it. Scala keeps classic.SparkSession's 6-argument
  * constructor private, so it is looked up reflectively. */
object PlainSession {
  def on(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getDeclaredConstructor(classOf[SparkContext],
        classOf[Option[SharedState]], classOf[Option[SessionState]],
        classOf[SparkSessionExtensions], classOf[Map[String, String]],
        classOf[Map[String, String]])
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
  }
}
