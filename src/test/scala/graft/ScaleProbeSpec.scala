package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's section selection, checked without a Spark session: the
  * sections are positional arguments, so a mistyped name must be refused
  * up front instead of silently running the full multi-hour probe.
  */
class ScaleProbeSpec extends AnyFunSuite {

  test("an unknown section name is refused, and the message lists every valid section") {
    val e = intercept[IllegalArgumentException] {
      ScaleProbe.selectSections(Seq("r19", "r99"))
    }
    assert(e.getMessage.contains("r99"), e.getMessage)
    ScaleProbe.Sections.foreach(s => assert(e.getMessage.contains(s), s"$s missing: ${e.getMessage}"))
  }

  test("no section arguments select every section") {
    assert(ScaleProbe.selectSections(Seq.empty) == ScaleProbe.Sections.toSet)
    assert(ScaleProbe.Sections.distinct == ScaleProbe.Sections)
  }

  test("two section names select exactly those two") {
    assert(ScaleProbe.selectSections(Seq("simhash", "r15c")) == Set("simhash", "r15c"))
  }
}
