package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.textfn.Text

class TextSpec extends AnyFunSuite {

  test("tokenize lowercases and splits on non-alphanumerics") {
    assert(Text.tokenize("Hello, World! x2") == Vector("hello", "world", "x2"))
    assert(Text.tokenize("") == Vector())
    assert(Text.tokenize("---") == Vector())
  }

  test("ngrams produces all n in [minN, maxN], space-joined") {
    val t = Vector("a", "b", "c")
    assert(Text.ngrams(t, 1, 2) == Vector("a", "b", "c", "a b", "b c"))
    assert(Text.shingles(t, 3) == Vector("a b c"))
    assert(Text.shingles(t, 4) == Vector())
  }

  test("sentence splitting on terminal punctuation") {
    assert(Text.sentences("Hello world. Next sentence! Third?") ==
      Vector("Hello world.", "Next sentence!", "Third?"))
  }

  test("abbreviations do not split sentences") {
    // two-char capitalised fragment (Ph.D -> "D."), e.g.-style sequence
    assert(Text.sentences("He holds a Ph.D. in physics.").length == 1)
    assert(Text.sentences("Use e.g. a hammer.").length == 1)
    assert(Text.sentences("Acme Inc. was founded.").length == 1)
    // single lowercase letter
    assert(Text.sentences("Costs 5 u. more or less.").length == 1)
  }

  test("newline runs always delimit") {
    assert(Text.sentences("First line\nSecond line") ==
      Vector("First line", "Second line"))
  }

  test("sentence spans are ordered, disjoint, in bounds (seeded fuzz)") {
    val rnd = new scala.util.Random(42)
    val pieces = Array("word", "Two words", ". ", "! ", "? ", "\n", "\n\n",
      "Mr. X", "e.g.", "U.S.", "*", "  ")
    for (_ <- 1 to 500) {
      val text = Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.length)))
        .mkString
      val spans = Text.sentenceSpans(text)
      spans.foreach { case (a, b) =>
        assert(a >= 0 && a < b && b <= text.length, s"bad span in «$text»")
      }
      assert(spans == spans.sortBy(_._1))
      spans.sliding(2).foreach {
        case Vector((_, b1), (a2, _)) => assert(b1 <= a2)
        case _ =>
      }
    }
  }

  test("polyHash matches the documented fold") {
    assert(Text.polyHash("") == 0L)
    assert(Text.polyHash("a") == 97L)
    assert(Text.polyHash("ab") == 97L * 131 + 98)
    // stays within [0, mod) on arbitrary input
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val s = rnd.nextString(rnd.nextInt(50))
      val h = Text.polyHash(s)
      assert(h >= 0 && h < Text.FpMod)
    }
  }

  test("Text.tokenize equals the Spark SQL tokenizer Hashing.tokens") {
    val spark = SharedSpark.session
    import spark.implicits._
    // uppercase, digits, punctuation, Latin-1 (É, ß), dotted İ, the
    // Kelvin sign (lowercases to ASCII k), astral characters, ""
    val texts = Seq(
      "Hello, World! x2 3.14 foo_bar-BAZ",
      "\u00c9COLE Stra\u00dfe 42\u00df \u00e9t\u00e9 \u0130stanbul",
      "\u212aelvin 273\u212a and \ud835\udc00lpha \ud83d\ude00 emoji9",
      "")
    val got = texts.toDF("text")
      .select(org.apache.spark.sql.functions.expr(graft.ops.Hashing.tokensSql))
      .as[Seq[String]].collect().toSeq
    assert(got == texts.map(Text.tokenize))
  }
}
