package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.devtools.{GenFarms, WeeklyScale}

/** The seed-independent inputs the program itself must generate, once
  * per checkout under the inputs directory: a GenFarms fleet of 2,000
  * farms (perfbench/gen.py cuts each seed's fleet and the warm-up fleet
  * from it), and the oracle SQL the output checks replay, which the
  * program builds (weekly: q82 for the SUB rows and q78 for the
  * summary, over the base fleet's files; curation: q91). */
final class Gen(spark: SparkSession, root: Path) {
  Files.createDirectories(root)

  private def cached(name: String)(build: String => Unit): Unit = {
    val dir = root.resolve(name)
    if (!Files.exists(dir.resolve("_READY"))) {
      build(dir.toString)
      Files.createDirectories(dir)
      Files.write(dir.resolve("_READY"), Array.emptyByteArray)
    }
  }

  private def writeJson(dir: String, kv: Seq[(String, String)]): Unit =
    Files.write(java.nio.file.Paths.get(dir, "oracle_sql.json"),
      Json(scala.collection.immutable.ListMap(kv: _*)).getBytes("UTF-8"))

  def bases(): Unit = {
    cached("farms-base") { dir =>
      GenFarms.write(spark, 2000, dir)
      writeJson(dir, WeeklyScale.queries(spark, dir).collect {
        case (n, _, sql) if n == "week_sub" || n == "week_summary" => n -> sql
      })
    }
    cached("curation-sql") { dir =>
      Files.createDirectories(java.nio.file.Paths.get(dir))
      writeJson(dir, Seq("funnel" -> graft.SparkEntry.oracleSql("q91_curation_funnel")))
    }
  }
}
