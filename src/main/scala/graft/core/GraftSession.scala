package graft.core

import org.apache.spark.sql.SparkSession

/** The only session builder in the library: Bench, Verify, Explain,
  * Profile, the devtools and every spec build their session here, so
  * the settings every graft deployment needs cannot drift apart.
  * Callers chain `.config(...)` only for a setting that really differs
  * (a warehouse dir, a pinned broadcast threshold, AQE off).
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` registers
  *    the TopK strategy and the window-top-k rewrite at session build,
  *    so every query plans the same way from the session's first query
  *    onward (and SQL-only users get the rewrite too);
  *  - nanos-parquet read flag for the events table;
  *  - UTC session timezone (the cross-engine determinism contract);
  *  - shuffle partitions default from the core count (cluster
  *    deployments override with a higher count + AQE coalescing).
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session sized to the machine (tests / single-node runs). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).config("spark.ui.enabled", "false").getOrCreate()
}
