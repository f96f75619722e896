package graft.devtools

import java.nio.file.{Files, Paths}
import graft.core.GraftSession

/** Dev probe: write `.explain("formatted")` for named catalog queries
  * into per-query files — the before/after plan evidence trail of an
  * optimization round (plans/<tag>/<query>_<suffix>.txt).
  *
  * Usage: ExplainDump <sfDir> <outDir> <suffix> <query> [query...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ExplainDump <sfDir> <outDir> <suffix> <query>...")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    names.foreach(n => require(graft.SparkEntry.queries.contains(n),
      s"unknown catalog query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      val nEx = "Exchange".r.findAllIn(txt).length
      println(s"[explain] $n -> $outDir/${n}_$suffix.txt (${txt.length} chars, ~$nEx Exchange refs)")
    }
    spark.stop()
  }
}
