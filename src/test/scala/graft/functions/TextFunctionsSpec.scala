package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("r")).head().getAs[T]("r")

  private def oneSeq(c: org.apache.spark.sql.Column, text: String): List[String] =
    Seq(text).toDF("text").select(c.as("r")).head()
      .getAs[scala.collection.Seq[String]]("r").toList

  test("wordShingles produces k-grams in order, distinct") {
    assert(oneSeq(wordShingles(col("text"), 3), "a b c d e") == List("a b c", "b c d", "c d e"))
    assert(oneSeq(wordShingles(col("text"), 3), "a b") == Nil)
    // repeated shingles collapse
    assert(oneSeq(wordShingles(col("text"), 2), "x y x y x") == List("x y", "y x"))
  }

  test("token counts: whitespace vs BPE-ish regex") {
    assert(one[Long](tokenCountWs(col("text")), "hello world foo") == 3L)
    // "don't stop!" → [don]['][t][stop][!] for the regex tokenizer
    assert(one[Long](tokenCountRegex(col("text")), "don't stop!") == 5L)
    assert(one[Long](tokenCountRegex(col("text")), "abc123 x") == 3L)
  }

  test("quality signals") {
    assert(one[Double](punctRatio(col("text")), "ab..") == 0.5)
    val sw = one[Double](stopwordRatio(col("text"), Seq("the", "a")), "the cat a dog runs")
    assert(math.abs(sw - 0.4) < 1e-9)
    assert(one[Double](avgWordLen(col("text")), "ab abcd") == 3.0)
  }

  test("prefixFingerprint is stable and case-insensitive") {
    val a = one[String](prefixFingerprint(col("text"), 4), "The Quick Brown Fox jumps")
    val b = one[String](prefixFingerprint(col("text"), 4), "the quick brown fox DIFFERENT TAIL")
    assert(a == b)
    assert(a.matches("[0-9a-f]{32}"))
  }

  test("langId identifies real multilingual prose") {
    val cases = Seq(
      "the cat sat on the mat and it was happy" -> "en",
      "der hund ist nicht mit der katze auf dem sofa" -> "de",
      "le chat est dans la maison et il dort pour une heure" -> "fr",
      "el perro es una mascota y los gatos son como reyes" -> "es",
      "我是一个人他不是这个人" -> "zh",
      "xyzzy plugh qwerty" -> "und",
    )
    cases.foreach { case (text, want) =>
      assert(one[String](langId(col("text")), text) == want, s"for: $text")
    }
  }
}
