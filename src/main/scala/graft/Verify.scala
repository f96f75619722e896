package graft
import java.nio.file.{Files, Paths}
import graft.core.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run on
  * a small thread pool — Spark's scheduler interleaves the jobs, cutting
  * wall time ~3x vs sequential; each query still fails independently. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict to the named queries (dev loop)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the names this run ATTEMPTED: check.py fails a requested query
    // whose output dir is absent (the query crashed or silently wrote
    // nothing) but skips unrequested ones (dev subset runs) — without
    // this, a full run could no longer distinguish "not requested"
    // from "should have been written and wasn't"
    val requested = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    Files.writeString(Paths.get(s"$outDir/requested.json"),
      s"""{"full": ${only.isEmpty}, "names": ${requested.map(q).mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
