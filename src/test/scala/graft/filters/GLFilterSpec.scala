package graft.filters

import graft.SparkSpec
import graft.model.{ClassSpec, Coord, TileFeature}
import graft.operators.Labels
import org.apache.spark.sql.functions._
import scala.util.Random

class GLFilterSpec extends SparkSpec {
  import GLFilter._

  private def ev(json: String, props: Map[String, String],
                 geomType: String = "Polygon", id: Option[Long] = None): Boolean =
    GLFilter.eval(GLFilter.parseJson(json), props, geomType, id)

  // --- truth table for degenerate forms, filter.py:36-40 ---
  test("degenerate forms") {
    assert(ev("[]", Map()))                 // empty -> True
    assert(!ev("""["any"]""", Map()))       // bare any -> False
    assert(ev("""["all"]""", Map()))        // bare all -> True
    assert(ev("""["none"]""", Map()))       // bare none -> True (len==1 short-circuit)
    assert(ev("""["frobnicate", 1, 2]""", Map("x" -> "1"))) // unknown op -> True
  }

  test("comparison ops over string-typed props") {
    val p = Map("building" -> "yes", "height" -> "12", "width" -> "3.5")
    assert(ev("""["==", "building", "yes"]""", p))
    assert(!ev("""["==", "building", "no"]""", p))
    assert(ev("""["==", "height", 12]""", p))
    assert(ev("""["!=", "height", 13]""", p))
    assert(!ev("""["!=", "height", 12]""", p))
    assert(ev("""[">", "height", 10]""", p))
    assert(ev("""["<=", "width", 3.5]""", p))
    assert(!ev("""["<", "width", 3.5]""", p))
    // missing key: == -> false, != -> true (None == / != v), ordered -> false
    assert(!ev("""["==", "nope", 1]""", p))
    assert(ev("""["!=", "nope", 1]""", p))
    assert(!ev("""[">", "nope", 1]""", p))
  }

  test("logical and membership ops") {
    val p = Map("highway" -> "primary", "surface" -> "asphalt", "width" -> "14")
    assert(ev("""["all", [">", "width", 10], ["!in", "surface", "dirt", "grass"]]""", p))
    assert(ev("""["any", ["==", "highway", "motorway"], ["==", "highway", "primary"]]""", p))
    assert(!ev("""["none", ["has", "highway"]]""", p))
    assert(ev("""["in", "highway", "primary", "secondary"]""", p))
    assert(!ev("""["!in", "highway", "primary", "secondary"]""", p))
    assert(!ev("""["in", "nope", "a"]""", p))   // missing -> false
    assert(ev("""["!in", "nope", "a"]""", p))   // missing -> true
    assert(ev("""["has", "highway"]""", p))
    assert(ev("""["!has", "nope"]""", p))
  }

  test("$type and $id pseudo-properties") {
    val p = Map("a" -> "1")
    assert(ev("""["==", "$type", "Polygon"]""", p, geomType = "Polygon"))
    assert(!ev("""["==", "$type", "Point"]""", p, geomType = "Polygon"))
    assert(ev("""["has", "$id"]""", p, id = Some(7L)))
    assert(!ev("""["has", "$id"]""", p, id = None))
    assert(ev("""["==", "$id", 7]""", p, id = Some(7L)))
  }

  test("numeric property values read as try_cast reads them") {
    import spark.implicits._
    val values = Seq("nan", "NaN", "-nan", "inf", "+inf", "-inf", "INF", "Infinity", "-Infinity",
      " 12 ", "\t7\n", "1e3", "1d", "2.5f", "0x1p3", "-0", "0", "12abc", "abc", "")
    val df = values.map(v => Map("w" -> v)).toDF("props")
      .select($"props", lit("Point").as("geomType"), lit(null).cast("bigint").as("id")).cache()
    for (json <- Seq("""[">", "w", 5]""", """["<", "w", 5]""", """[">=", "w", 1000]""",
        """["<=", "w", 0]""", """[">=", "w", 0]""", """["==", "w", 12]""", """["!=", "w", 8]""",
        """["in", "w", 1000, 7]""")) {
      val ast = GLFilter.parseJson(json)
      val got = df.filter(FilterCompiler.compile(ast)).collect().map(_.getMap[String, String](0)("w")).toSet
      val expected = values.filter(v => GLFilter.eval(ast, Map("w" -> v), "Point", None)).toSet
      assert(got == expected, s"filter $json: spark-only ${got diff expected}, evaluator-only ${expected diff got}")
    }
    df.unpersist()
  }

  test("string property values order as Spark orders them, by UTF-8 bytes") {
    import spark.implicits._
    // U+FFFF sorts after U+1F600 in UTF-16 units but before it in UTF-8
    val values = Seq("\uFFFF", "\uD83D\uDE00", "a", "\u00E9", "")
    val df = values.map(v => Map("w" -> v)).toDF("props")
      .select($"props", lit("Point").as("geomType"), lit(null).cast("bigint").as("id")).cache()
    for (json <- Seq("[\"<\", \"w\", \"\uD83D\uDE00\"]", "[\">=\", \"w\", \"\uFFFF\"]", """[">", "w", "b"]""")) {
      val ast = GLFilter.parseJson(json)
      val got = df.filter(FilterCompiler.compile(ast)).collect().map(_.getMap[String, String](0)("w")).toSet
      val expected = values.filter(v => GLFilter.eval(ast, Map("w" -> v), "Point", None)).toSet
      assert(got == expected, s"filter $json: spark-only ${got diff expected}, evaluator-only ${expected diff got}")
    }
    df.unpersist()
  }

  // --- randomized parity: in-memory evaluator vs Catalyst compilation ---

  private val keys = Vector("building", "highway", "width", "surface", "name")
  // the last seven are numbers only to Spark's `try_cast` special-literal
  // and whitespace rules, which the evaluator must share
  private val vals = Vector("yes", "primary", "10", "3.5", "dirt", "asphalt", "true",
    "nan", "inf", "-inf", "NaN", "Infinity", " 12 ", "1e3")

  private def randLit(r: Random): String = r.nextInt(4) match {
    case 0 => "\"" + vals(r.nextInt(vals.size)) + "\""
    case 1 => r.nextInt(20).toString
    case 2 => (r.nextDouble() * 20).toString
    case _ => r.nextBoolean().toString
  }

  private def randProp(r: Random): String =
    if (r.nextInt(10) == 0) { if (r.nextBoolean()) "$type" else "$id" }
    else keys(r.nextInt(keys.size))

  private def randFilter(r: Random, depth: Int): String = {
    val leafOps = Vector("==", "!=", "<", ">", "<=", ">=")
    if (depth == 0 || r.nextInt(3) > 0) r.nextInt(4) match {
      case 0 => s"""["${leafOps(r.nextInt(6))}", "${randProp(r)}", ${randLit(r)}]"""
      case 1 =>
        val n = 1 + r.nextInt(3)
        val vs = Seq.fill(n)(randLit(r)).mkString(", ")
        s"""["${if (r.nextBoolean()) "in" else "!in"}", "${randProp(r)}", $vs]"""
      case 2 => s"""["${if (r.nextBoolean()) "has" else "!has"}", "${randProp(r)}"]"""
      case _ => s"""["==", "${randProp(r)}", ${randLit(r)}]"""
    } else {
      val op = Vector("any", "all", "none")(r.nextInt(3))
      val n = r.nextInt(3) // 0 => degenerate form
      val subs = Seq.fill(n)(randFilter(r, depth - 1))
      (s""""$op"""" +: subs).mkString("[", ", ", "]")
    }
  }

  /** 200 random features and 60 random filter trees, one seeded draw. */
  private lazy val (features, trees) = {
    val r = new Random(42)
    val fs = (0 until 200).map { i =>
      val props = keys.filter(_ => r.nextBoolean())
        .map(k => k -> vals(r.nextInt(vals.size))).toMap
      val geomType = Vector("Point", "LineString", "Polygon")(r.nextInt(3))
      val id: java.lang.Long = if (r.nextBoolean()) java.lang.Long.valueOf(i.toLong % 10) else null
      (i, props, geomType, id)
    }
    (fs, Seq.fill(60)(randFilter(r, 3)))
  }

  /** The features each tree matches, by the in-memory evaluator. */
  private def evaluated(ast: GLFilter): Set[Int] = features.collect {
    case (i, props, gt, id) if GLFilter.eval(ast, props, gt, Option(id).map(_.longValue)) => i
  }.toSet

  test("random filter trees: evaluator and Catalyst Column agree") {
    import spark.implicits._
    val df = features.toDF("fid", "props", "geomType", "id").cache()
    trees.foreach { json =>
      val ast = GLFilter.parseJson(json)
      val expected = evaluated(ast)
      val got = df.filter(FilterCompiler.compile(ast))
        .select("fid").collect().map(_.getInt(0)).toSet
      assert(got == expected, s"filter $json: spark=${got.size} mem=${expected.size} diff=${(got diff expected) ++ (expected diff got)}")
    }
    df.unpersist()
  }

  test("random filter trees: the tile label kernel's classification slots agree with the evaluator") {
    // one tile per feature and one class per tree: slot t+1 of a tile's
    // label says whether tree t matched its feature
    val classes = trees.zipWithIndex.map { case (json, t) => ClassSpec(s"t$t", GLFilter.parseJson(json)) }
    val labels = features.map { case (i, props, gt, id) =>
      i -> Labels.classificationForTile(
        Seq(TileFeature(0, gt, multi = false, Seq(Seq(Coord(1, 1))), props, Option(id).map(_.longValue))), classes)
    }.toMap
    classes.zipWithIndex.foreach { case (c, t) =>
      val got = labels.collect { case (i, l) if l(t + 1) == 1 => i }.toSet
      val expected = evaluated(c.filter)
      assert(got == expected, s"filter ${trees(t)}: kernel=${got.size} mem=${expected.size} diff=${(got diff expected) ++ (expected diff got)}")
    }
    labels.foreach { case (i, l) => assert(l.head == (if (l.tail.contains(1)) 0 else 1), s"feature $i: $l") }
  }
}
