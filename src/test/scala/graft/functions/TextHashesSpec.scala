package graft.functions

import org.apache.spark.sql.functions._

class TextHashesSpec extends graft.SparkSpec {
  // NOTE: uses the shared TestSpark session — a private builder with its
  // own configs would silently rewrite the shared session's runtime conf
  // via getOrCreate (it bit the AQE skew spec once).

  test("bigram_hashes: distinct count matches the composable string form") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val df = Seq(
      "the quick brown fox the quick brown fox",
      "a b a b a b",
      "single",
      "").toDF("text")
    val got = df.selectExpr("size(bigram_hashes(split(text, ' '))) AS n")
      .as[Int].collect().toSeq
    // the composable reference form only works for >= 2 tokens
    // (sequence(1, 0) counts DOWN), so compare those rows and check the
    // degenerate rows directly
    val want = df.filter(size(split(col("text"), " ")) >= 2).selectExpr(
      """size(array_distinct(transform(sequence(1, size(split(text, ' ')) - 1),
        |  j -> concat(element_at(split(text, ' '), j), ' ',
        |              element_at(split(text, ' '), j + 1))))) AS n""".stripMargin)
      .as[Int].collect().toSeq
    assert(got.take(2) == want.take(2))
    assert(got(2) == 0 && got(3) == 0)
  }

  test("bigram_hashes: shared bigrams hash equal across documents") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val h = Seq("x y tail", "head x y").toDF("text")
      .selectExpr("bigram_hashes(split(text, ' ')) AS g")
      .as[Seq[Long]].collect()
    assert(h(0).intersect(h(1)).size == 1) // the "x y" bigram
  }

  test("ngram_hashes: empty array emits no windows under both short-doc contracts") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    // ngram_hashes is a session-wide SQL function: a caller can hand it
    // an empty array or a filtered-empty array (r11 ADVICE — truncShort=true
    // used to read th(0) of a zero-length array). A bare array() is
    // array<void> and fails the array<string> input check at analysis,
    // so the probe is typed.
    val got = s.sql(
      """SELECT size(ngram_hashes(cast(array() as array<string>), 3, true)) AS t,
        |       size(ngram_hashes(cast(array() as array<string>), 3, false)) AS f,
        |       size(ngram_hashes(array('a'), 3, true)) AS one""".stripMargin)
      .as[(Int, Int, Int)].collect().head
    assert(got == ((0, 0, 1)), got)
  }

  test("packed_pairs: emits all k(k-1)/2 ordered pairs, min id high") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val out = Seq(Seq(5L, 2L, 9L)).toDF("ids")
      .selectExpr("packed_pairs(ids) AS p").as[Seq[Long]].collect().head
    assert(out.size == 3)
    val pairs = out.map(p => ((p >> 32), p & 0xFFFFFFFFL)).toSet
    assert(pairs == Set((2L, 5L), (2L, 9L), (5L, 9L)))
  }

  test("packed_pairs: rejects ids beyond 31 bits") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val e = intercept[Throwable] {
      Seq(Seq(1L, Long.MaxValue)).toDF("ids")
        .selectExpr("packed_pairs(ids)").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("31-bit")))
  }

  test("simhash16_long: byte-identical to the composable md5 hex-digit formula") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a b", "single", "", "répété unicode tokens répété").toDF("text")
    val got = df.selectExpr("simhash16_long(split(text, ' ')) AS h")
      .as[Long].collect().toSeq
    // the reference formula: per-token md5 hex, bit b from hex digit
    // (b div 4) of the hash, majority vote per bit — exactly the qd08
    // oracle SQL and the pre-kernel composable form
    val want = df.selectExpr(
      """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) ->
        |  acc + IF(aggregate(transform(split(text, ' '), t -> md5(t)), 0, (bal, h) ->
        |      bal + IF(shiftright(instr('0123456789abcdef',
        |          substring(h, CAST(b / 4 AS INT) + 1, 1)) - 1,
        |        CAST(b % 4 AS INT)) % 2 = 1, 1, -1)) >= 0,
        |    shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)), CAST(0 AS BIGINT))) AS h"""
        .stripMargin)
      .as[Long].collect().toSeq
    assert(got == want)
    assert(got.forall(h => h >= 0 && h < (1L << 16)))
  }

  test("nfc_normalize: composed and decomposed forms converge; ASCII fast path is identity") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val composed = "caf\u00e9" //   e-acute as one code point
    val decomposed = "cafe\u0301" // e + combining acute
    val df = Seq(composed, decomposed, "plain ascii", "").toDF("text")
    val out = df.selectExpr("nfc_normalize(text) AS n").as[String].collect().toSeq
    assert(out(0) == composed)
    assert(out(1) == composed) // decomposed input composes to U+00E9
    assert(out(2) == "plain ascii" && out(3) == "")
    // normalizeText: same convergence end-to-end plus case/space folding
    val norm = Seq(("  CAFÉ   x\t", 1), ("café x", 2)).toDF("text", "i")
      .select(graft.operators.Text.normalizeText(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(norm == Seq("café x", "café x"))
  }

  test("nfc_normalize participates in whole-stage codegen") {
    val s = spark
    TextHashes.register(s)
    import s.implicits._
    val df = spark.range(10)
      .selectExpr("nfc_normalize(CAST(id AS STRING)) AS n")
    assert(df.collect().map(_.getString(0)).toSeq == (0 until 10).map(_.toString))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }
}
