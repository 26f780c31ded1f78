package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale runner's registry, checked without starting Spark. */
class ScaleSpec extends AnyFunSuite {
  private val names = Scale.sections.map(_.name)

  test("section names are unique") {
    assert(names.nonEmpty && names.distinct == names,
      names.diff(names.distinct).mkString(", "))
  }

  test("every committed plans/scale evidence file names a registered section") {
    val files = Option(new java.io.File("plans/scale").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty, "no evidence under plans/scale")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    files.foreach { f =>
      val section = mapper.readTree(f).path("section").asText()
      assert(names.contains(section), s"${f.getName} names unregistered section '$section'")
      assert(f.getName == s"$section.json", s"${f.getName} holds section '$section'")
    }
  }

  test("an unknown name fails with the registered names; no name selects all") {
    val e = intercept[IllegalArgumentException](Scale.select(Seq("raincell_scale", "nope")))
    assert(e.getMessage.contains("nope"))
    names.foreach(n => assert(e.getMessage.contains(n), n))
    assert(Scale.select(Seq("timdep_parse_scale", "raincell_scale")).map(_.name) ==
      Seq("raincell_scale", "timdep_parse_scale"))
    assert(Scale.select(Nil).map(_.name) == names)
  }
}
