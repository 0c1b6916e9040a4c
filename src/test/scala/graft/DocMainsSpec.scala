package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The live docs' run commands name mains that exist. A deleted main
  * otherwise lingers in README as a command that fails on first use.
  * History ledgers (BASELINE_SELF, SWEEP, OPTIMIZATION_r*, COVERAGE's
  * round notes) record past commands on purpose and are not checked. */
class DocMainsSpec extends AnyFunSuite {

  private val liveDocs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain graft\.([A-Za-z0-9_.]+)""".r

  test("every `runMain graft.<Name>` in README and the verify skill names an existing main") {
    val named = liveDocs.flatMap { doc =>
      RunMain.findAllMatchIn(Files.readString(Paths.get(doc))).map(m => doc -> m.group(1))
    }
    assert(named.nonEmpty, s"no runMain command found in $liveDocs")
    val missing = named.filterNot { case (_, name) =>
      try {
        Class.forName(s"graft.$name$$", false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        true
      } catch {
        case _: ClassNotFoundException | _: NoSuchMethodException => false
      }
    }
    assert(missing.isEmpty, s"docs name mains that do not exist: $missing")
  }
}
