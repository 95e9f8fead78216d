package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Guards against command drift: every `runMain <class>` that README.md
  * and the verify skill tell a reader to run names a class with a static
  * `main(Array[String])` on the classpath, so a deleted or renamed tool
  * cannot stay documented. */
class DocCommandsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain\s+([\w.$]+)""".r

  test("every documented runMain class has a main") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    assert(Files.exists(root.resolve("README.md")), s"no README.md under $root")
    val named = docs.map(root.resolve).filter(Files.exists(_)).flatMap { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      RunMain.findAllMatchIn(text).map(m => root.relativize(p).toString -> m.group(1))
    }.distinct
    assert(named.nonEmpty, "no runMain command found — the guard would prove nothing")
    val missing = named.filterNot { case (_, cls) =>
      try {
        val m = Class.forName(cls).getMethod("main", classOf[Array[String]])
        java.lang.reflect.Modifier.isStatic(m.getModifiers)
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(missing.isEmpty,
      s"documented runMain classes without a main: ${missing.map { case (f, c) => s"$c ($f)" }.mkString(", ")}")
  }
}
