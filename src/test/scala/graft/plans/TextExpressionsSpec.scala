package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** WordShingles must be bit-identical to the HOF form it replaced —
  * `transform(sequence(1, greatest(size(t)-(w-1), 1)),
  *            i => array_join(slice(t, i, w), " "))`
  * — which stays here as the executable spec. */
class TextExpressionsSpec extends SparkSpec {

  private def hofShingles(toks: org.apache.spark.sql.Column, w: Int) =
    transform(
      sequence(lit(1), greatest(size(toks) - (w - 1), lit(1))),
      i => array_join(slice(toks, i, lit(w)), " "))

  test("matches the HOF form on mixed lengths, widths 1..4") {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon", "one two three", "solo", "",
      "a b", "x y z w v u t s r q", "dup dup dup dup")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    (1 to 4).foreach { w =>
      val toks = split(trim(col("text")), " ")
      val got = df.select(col("id"), TextExpressions.wordShingles(toks, w).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val want = df.select(col("id"), hofShingles(toks, w).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got == want, s"w=$w")
    }
  }

  test("null token array yields null; empty array yields one empty shingle") {
    import spark.implicits._
    val df = Seq((1L, Some("a b c")), (2L, None)).toDF("id", "text")
    val toks = when(col("text").isNotNull, split(col("text"), " "))
    val got = df.select(col("id"), TextExpressions.wordShingles(toks, 3).as("sh"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(got(1L).contains(Seq("a b c")))
    assert(got(2L).isEmpty)
    val empty = spark.sql("SELECT array()").select(
      TextExpressions.wordShingles(col("array()").cast("array<string>"), 3))
      .collect().head.getSeq[String](0)
    assert(empty == Seq(""))
  }

  test("non-string array input is an analysis error, not silent garbage") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2, 3))).toDF("id", "nums")
    val e = intercept[AnalysisException] {
      df.select(TextExpressions.wordShingles(col("nums"), 2)).collect()
    }
    assert(e.getMessage.contains("array<string>") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("SQL registration: word_shingles usable from spark.sql") {
    TextExpressions.register(spark)
    val rows = spark.sql(
      "SELECT word_shingles(split('a b c d', ' '), 2) AS sh")
      .collect().head.getSeq[String](0)
    assert(rows == Seq("a b", "b c", "c d"))
  }

  test("stays inside whole-stage codegen (no HOF fallback in the plan)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("id", "text")
    val plan = df.select(explode(
        TextExpressions.wordShingles(split(col("text"), " "), 3)))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen span
    val shingleLine = plan.linesIterator.find(_.contains("word_shingles")).get
    assert(shingleLine.trim.startsWith("*("),
      s"word_shingles operator must sit inside a codegen span:\n$plan")
    assert(!plan.contains("transform("), s"HOF must be gone:\n$plan")
  }
}

/** JaroWinkler must match the DuckDB/RapidFuzz reference values the oracle
  * computes with — the boundary cases below were probed against DuckDB's
  * `jaro_winkler_similarity` directly (empty→0, window floor 0, prefix
  * capped at 4, boost only past jaro 0.7). */
class JaroWinklerSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinkler(
      org.apache.spark.sql.catalyst.expressions.Literal(a),
      org.apache.spark.sql.catalyst.expressions.Literal(b))
      .eval(null).asInstanceOf[Double]

  test("matches the DuckDB-probed reference values") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "b", 0.0),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("DwAyNE", "DuANE", 0.8400000000000001),
      ("kitten", "sitting", 0.746031746031746),
      ("hello world", "hello wrold", 0.9818181818181818),
      // boost threshold: common prefix but jaro <= 0.7 → NO boost
      ("ABCXXXXX", "ABYYYYY", 0.5119047619047619),
      ("aaaaaaaaaa", "aabbbbbbbb", 0.4666666666666666),
      // window floor: adjacent transposition out of reach at len 2
      ("ab", "ba", 0.0),
      ("abcd", "badc", 0.8333333333333334),
      // prefix cap at 4 even with a 7-char shared prefix
      ("prefixes", "prefixed", 0.95))
    cases.foreach { case (a, b, want) =>
      val got = jw(a, b)
      assert(math.abs(got - want) < 1e-12, s"jw($a, $b) = $got, want $want")
    }
  }

  test("symmetric, bounded, and codegen path agrees with interpreted") {
    import spark.implicits._
    val pairs = Seq(("alpha beta", "alpha beat"), ("scan table", "table scan"),
      ("x", "xylophone"), ("same", "same"))
    val df = pairs.toDF("a", "b")
    val viaPlan = df.select(
      TextExpressions.jaroWinkler(col("a"), col("b")).as("ab"),
      TextExpressions.jaroWinkler(col("b"), col("a")).as("ba"))
      .collect()
    viaPlan.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "must be symmetric")
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
    }
    pairs.zip(viaPlan).foreach { case ((a, b), r) =>
      assert(math.abs(r.getDouble(0) - jw(a, b)) == 0.0,
        s"codegen and interpreted disagree on ($a, $b)")
    }
  }

  test("rejects non-string arguments at analysis time") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("n", "s")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(TextExpressions.jaroWinkler(col("n"), col("s"))).collect()
    }
  }
}

/** JvmLower must agree with the built-in `lower` on the text it sees. */
class JvmLowerSpec extends SparkSpec {

  test("equals lower on ASCII and on a non-ASCII sample; null stays null") {
    import spark.implicits._
    val texts = Seq("Hello World", "  MiXeD case 42 ", "", "ALL-CAPS_AND.PUNCT!",
      "Ärger Über ÖL", "STRASSE Straße", "ΑΘΗΝΑ σοφία", "ПРИВЕТ Мир", "ÇAĞ", "ǅemal", "Ⅻ Ｆｕｌｌ")
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(2) // a non-local plan, so the codegen'd projection runs
    val got = df.select(col("id"), TextExpressions.jvmLower(col("text")))
      .as[(Long, Option[String])].collect().toMap
    val want = df.select(col("id"), lower(col("text")))
      .as[(Long, Option[String])].collect().toMap
    assert(got == want)
    assert(got(texts.length.toLong).isEmpty)
  }
}
