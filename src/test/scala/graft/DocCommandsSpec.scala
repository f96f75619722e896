package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the run instructions runnable: every graft main that README.md
  * or the verify skill notes tell a reader to run is an object with a
  * `main(Array[String])` on the test classpath. A deleted or renamed
  * main fails here until its doc line goes too. */
class DocCommandsSpec extends AnyFunSuite {
  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val mainName = """\bgraft\.(devtools\.[A-Z]\w*|Bench|Verify|Explain)\b""".r

  private def named: Seq[(String, String)] = docs.map(Paths.get(_))
    .filter(Files.exists(_))
    .flatMap { p =>
      mainName.findAllIn(Files.readString(p)).map(n => (p.toString, n)).toSeq
    }.distinct

  private def hasMain(name: String): Boolean =
    try {
      val m = Class.forName(name, false, getClass.getClassLoader).getMethod("main", classOf[Array[String]])
      Modifier.isStatic(m.getModifiers)
    } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }

  test("every graft main the docs name has a main(Array[String])") {
    assert(Files.exists(Paths.get("README.md")), s"README.md not found from ${Paths.get("").toAbsolutePath}")
    val found = named
    assert(found.exists(_._2 == "graft.Verify"), found)
    val missing = found.filterNot { case (_, n) => hasMain(n) }
    assert(missing.isEmpty, s"docs name mains that do not exist: $missing")
  }
}
