package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `main` under src/main is a documented entry point: README's layout
  * block lists it, and every `runMain graft.X` in README names a real one.
  * One-off profiler mains go to a scratch copy or git history, not the tree.
  */
class EntryPointsSpec extends AnyFunSuite {

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Object names that declare a `def main(`: the nearest `object` before it. */
  private lazy val mains: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = read(p)
        "def main\\(".r.findAllMatchIn(text).map { m =>
          "object\\s+(\\w+)".r.findAllMatchIn(text.take(m.start)).toSeq.last.group(1)
        }
      }.toSet
    finally files.close()
  }

  private lazy val readme = read(Paths.get("README.md"))

  test("every main under src/main is listed in README's layout block") {
    val layout = readme.split("## Layout", 2)(1).split("```")(1)
    assert(mains.nonEmpty)
    val unlisted = mains.filterNot(m => layout.contains(s"$m.scala"))
    assert(unlisted.isEmpty, s"mains missing from README's layout block: ${unlisted.toSeq.sorted}")
  }

  test("every runMain command in README names an existing main") {
    val named = "runMain graft\\.(\\w+)".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(named.nonEmpty)
    val missing = named -- mains
    assert(missing.isEmpty, s"README runs mains that do not exist: ${missing.toSeq.sorted}")
  }
}
