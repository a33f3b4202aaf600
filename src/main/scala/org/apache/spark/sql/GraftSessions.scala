package org.apache.spark.sql

/** The session internals `graft.GraftSession.withConf` and
  * `graft.streaming.StreamRun` need that Spark keeps package-private:
  * cloning a session with its listeners, re-homing a frame on another
  * session, listing temp views, and waiting for the listener bus.
  */
object GraftSessions {

  private def classicOf(s: SparkSession): classic.SparkSession =
    s.asInstanceOf[classic.SparkSession]

  /** A child of `s` carrying a copy of its runtime SQL conf, temp
    * views, functions and `QueryExecutionListener`s. `newSession()`
    * would drop the runtime conf and the listeners. */
  def cloneOf(s: SparkSession): SparkSession = classicOf(s).cloneSession()

  /** `df`'s analyzed plan as a frame of `s`: planned and executed
    * under `s`'s conf and reported to `s`'s listeners. */
  def rehome(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(classicOf(s),
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)

  def tempViewNames(s: SparkSession): Seq[String] =
    classicOf(s).sessionState.catalog.getTempViewNames()

  /** Block until every listener has seen every event posted so far. */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
