package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The live docs' run commands name mains that exist, and scaladoc
  * links name declarations that exist. A deleted main otherwise lingers
  * in README as a command that fails on first use; a deleted method
  * lingers as a link to nothing.
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

  private val Link = """\[\[([^\]]+)\]\]""".r

  test("every scaladoc [[link]] in src/main names a declaration in src/main") {
    import scala.jdk.CollectionConverters._
    val sources = {
      val w = Files.walk(Paths.get("src/main"))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val texts = sources.map(p => p -> Files.readString(p))
    val declared = texts.flatMap { case (_, t) =>
      """\b(?:def|val|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
        .findAllMatchIn(t).map(_.group(1))
    }.toSet
    // a link is a dotted path; leading package segments of a graft path
    // are packages, not declarations, and a fully qualified path outside
    // graft (org.apache..., java...) points at a library
    val dead = for {
      (path, text) <- texts
      m <- Link.findAllMatchIn(text)
      segs = m.group(1).split('.').toList
      if segs.length == 1 || segs.head == "graft" || segs.head.head.isUpper
      names = if (segs.head == "graft") segs.tail.dropWhile(_.head.isLower) else segs
      missing = names.filterNot(declared)
      if missing.nonEmpty
    } yield s"$path: [[${m.group(1)}]] (${missing.mkString(", ")})"
    assert(dead.isEmpty, s"scaladoc links to names nothing declares: ${dead.mkString("; ")}")
  }
}
