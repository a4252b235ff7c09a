package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** F13 NOC extraction — pure-function tests (pandas semantics are the spec
  * per SURVEY.md §2.13.8).
  */
class NocExtractSpec extends AnyFunSuite {
  private val countries = Seq(
    "germany", "france", "united kingdom", "russian federation", "united states",
    "south korea", "north korea", "korea").map(_.toLowerCase).sortBy(-_.length)

  test("single country passes through") {
    assert(NocExtract.extract("France", countries) == "france")
  }

  test("legacy names map to modern (west germany → germany)") {
    assert(NocExtract.extract("West Germany", countries) == "germany")
    assert(NocExtract.extract("Soviet Union", countries) == "russian federation")
  }

  test("multi-country separator normalization + sorted join") {
    assert(NocExtract.extract("France / Germany", countries) == "france,germany")
    assert(NocExtract.extract("Germany and France", countries) == "france,germany")
  }

  test("longest-first whole-word scan: 'south korea' not double-counted as 'korea'") {
    assert(NocExtract.extract("South Korea", countries) == "south korea")
  }

  test("no-match passthrough is cleaned lowercase original") {
    assert(NocExtract.extract("Atlantis", countries) == "atlantis")
  }

  test("null → empty string") {
    assert(NocExtract.extract(null, countries) == "")
  }

  test("duplicate mentions collapse to a set") {
    assert(NocExtract.extract("France, France", countries) == "france")
  }

  /** Every input the cases above use. */
  private val caseInputs = Seq("France", "West Germany", "Soviet Union", "France / Germany",
    "Germany and France", "South Korea", "Atlantis", null, "France, France")

  /** 250 names (the size of the ISO list): two-word names that share
    * their words, so substring and whole-word matches both occur.
    */
  private val vocabulary250 = {
    val roots = Seq("guinea", "korea", "samoa", "sudan", "georgia", "congo", "ireland",
      "macedonia", "yemen", "timor", "africa", "america", "island", "islands", "republic",
      "land", "stan", "ria", "nia", "tonga", "chad", "mali", "niger", "oman", "peru")
    val prefixes = Seq("", "north ", "south ", "east ", "west ", "new ", "upper ", "lower ",
      "central ", "greater ")
    (for (p <- prefixes; r <- roots) yield p + r).sortBy(-_.length)
  }

  test("the compiled vocabulary equals the per-row extract, also after serialization") {
    def roundTrip(c: NocExtract.Compiled): NocExtract.Compiled = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(c)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[NocExtract.Compiled]
    }
    assert(vocabulary250.size == 250 && vocabulary250.distinct.size == 250)
    val vocabInputs = vocabulary250.indices.map { i =>
      val (a, b) = (vocabulary250(i), vocabulary250((i * 7 + 3) % 250))
      Seq(a, s"$a / $b", s"${a.toUpperCase} and $b", s"$b, $a; $a", s"${a}s", s"the $a team")(i % 6)
    }
    for ((vocab, inputs) <- Seq(countries -> caseInputs,
                                vocabulary250 -> (caseInputs ++ vocabInputs))) {
      val compiled = new NocExtract.Compiled(vocab)
      val shipped = roundTrip(compiled)
      inputs.foreach { in =>
        val expected = NocExtract.extract(in, vocab)
        assert(compiled(in) == expected, String.valueOf(in))
        assert(shipped(in) == expected, String.valueOf(in))
      }
    }
  }
}
