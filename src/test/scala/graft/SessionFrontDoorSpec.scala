package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps GraftSession the single session front door: no other file
  * builds a session by hand, and main code never adds optimizer rules
  * to a live session (the window rewrite is registered at build time
  * through GraftExtensions only). */
class SessionFrontDoorSpec extends AnyFunSuite {
  // built from two parts so this file does not match its own patterns
  private val handBuilt = "SparkSession" + ".builder("
  private val liveRules = "experimental" + ".extraOptimizations"

  private def offenders(root: String, needle: String): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter(p => Files.readString(p).contains(needle)).map(_.toString).sorted
    finally files.close()
  }

  test("sessions are built only in core/GraftSession.scala") {
    val found = Seq("src/main/scala", "src/test/scala").flatMap(offenders(_, handBuilt))
    assert(found == Seq("src/main/scala/graft/core/GraftSession.scala"), found)
  }

  test("main code never adds optimizer rules to a live session") {
    val found = offenders("src/main/scala", liveRules)
    assert(found.isEmpty, found)
  }
}
