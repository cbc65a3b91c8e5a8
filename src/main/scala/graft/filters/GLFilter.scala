package graft.filters

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Mapbox-GL filter DSL — abstract syntax tree.
  *
  * The reference compiles the same nested-list DSL to a Python source string
  * and `eval`s it per feature (`/root/reference/label_maker_dask/filter.py:26-31`).
  * We parse it once into a typed AST and compile it once to a Catalyst
  * `Column` (see [[FilterCompiler]]) — no eval, no injection surface, and the
  * predicate participates in codegen / pushdown.
  *
  * Ops (filter.py:41-56): `== != < > <= >=  any all none  in !in  has !has`,
  * pseudo-properties `$type` / `$id` (filter.py:60-66).
  */
sealed trait GLFilter

object GLFilter {
  /** Literal scalar in a filter (string / double / long / boolean). */
  sealed trait Lit { def raw: Any }
  final case class SLit(v: String) extends Lit { def raw = v }
  final case class DLit(v: Double) extends Lit { def raw = v }
  final case class LLit(v: Long) extends Lit { def raw = v }
  final case class BLit(v: Boolean) extends Lit { def raw = v }

  /** degenerate empty filter -> True (filter.py:36-37) */
  case object True extends GLFilter
  /** bare ["any"] -> False (filter.py:38-40) */
  case object False extends GLFilter
  final case class Cmp(op: String, prop: String, value: Lit) extends GLFilter
  final case class AnyOf(subs: Seq[GLFilter]) extends GLFilter
  final case class AllOf(subs: Seq[GLFilter]) extends GLFilter
  final case class NoneOf(subs: Seq[GLFilter]) extends GLFilter
  final case class In(prop: String, values: Seq[Lit], negate: Boolean) extends GLFilter
  final case class Has(prop: String, negate: Boolean) extends GLFilter

  private val mapper = new ObjectMapper()

  /** Parse the JSON form of a GL filter, e.g. `["all", [">", "width", 10]]`. */
  def parseJson(json: String): GLFilter = fromNode(mapper.readTree(json))

  private def litOf(n: JsonNode): Lit =
    if (n.isTextual) SLit(n.asText())
    else if (n.isBoolean) BLit(n.asBoolean())
    else if (n.isIntegralNumber) LLit(n.asLong())
    else DLit(n.asDouble())

  /** Mirrors `_compile` (filter.py:34-57) including its degenerate-form
    * truth table and the unknown-op -> True fallthrough. */
  def fromNode(node: JsonNode): GLFilter = {
    if (node == null || node.isNull || !node.isArray || node.size == 0) return True
    val op = node.get(0).asText()
    if (node.size == 1) return if (op == "any") False else True
    op match {
      case "==" | "!=" | "<" | ">" | "<=" | ">=" =>
        Cmp(op, node.get(1).asText(), litOf(node.get(2)))
      case "any" => AnyOf((1 until node.size).map(i => fromNode(node.get(i))))
      case "all" => AllOf((1 until node.size).map(i => fromNode(node.get(i))))
      case "none" => NoneOf((1 until node.size).map(i => fromNode(node.get(i))))
      case "in" => In(node.get(1).asText(), (2 until node.size).map(i => litOf(node.get(i))), negate = false)
      case "!in" => In(node.get(1).asText(), (2 until node.size).map(i => litOf(node.get(i))), negate = true)
      case "has" => Has(node.get(1).asText(), negate = false)
      case "!has" => Has(node.get(1).asText(), negate = true)
      case _ => True
    }
  }

  /** In-memory evaluator over the engine's relational feature form (props
    * stringified to Map[String,String], geometry type, optional id) — the
    * predicate of every per-tile label function the job applies
    * (`Labels.classificationForTile`, `Labels.objectDetectionForTile`,
    * `Segmentation.labelForTile`). The compiler in [[FilterCompiler]] and this
    * evaluator implement the same semantics by construction; tests assert
    * they agree on random trees.
    *
    * Semantics (matching the reference's *de facto* Python behavior,
    * filter.py:69-98, except where noted in SURVEY §7 R4):
    *  - `==` with missing key -> false (`None == v`); `!=` missing -> true.
    *  - ordered comparisons: numeric when the literal is numeric and the
    *    property value parses as a number; string-ordered for string
    *    literals; missing/unparseable -> false (Python3 would raise; GL spec
    *    says false — we adopt false).
    *  - `in` missing -> false; `!in` missing -> true.
    *  - numeric literals compare numerically against the stringified
    *    property ("12" == 12 holds here; Python's typed dict would say
    *    false — divergence from stringification, documented).
    */
  def eval(f: GLFilter, props: Map[String, String], geomType: String, id: Option[Long]): Boolean = {
    def prop(k: String): Option[String] = k match {
      case "$type" => Option(geomType)
      case "$id" => id.map(_.toString)
      case _ => props.get(k)
    }
    def litStr(l: Lit): String = l match {
      case SLit(v) => v
      case BLit(v) => if (v) "true" else "false"
      case LLit(v) => v.toString
      case DLit(v) => v.toString
    }
    def eq(a: String, l: Lit): Boolean = l match {
      case SLit(v) => a == v
      case BLit(_) => a == litStr(l)
      case LLit(v) => toDouble(a).contains(v.toDouble)
      case DLit(v) => toDouble(a).contains(v)
    }
    def ordered(a: String, l: Lit, o: String): Boolean = {
      def holds(c: Int): Boolean = o match {
        case "<" => c < 0
        case ">" => c > 0
        case "<=" => c <= 0
        case ">=" => c >= 0
      }
      l match {
        // Spark orders strings by their UTF-8 bytes, not by UTF-16 units
        case SLit(v) => holds(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(v)))
        case BLit(_) => false
        case LLit(v) => toDouble(a).exists(d => holds(compareDoubles(d, v.toDouble)))
        case DLit(v) => toDouble(a).exists(d => holds(compareDoubles(d, v)))
      }
    }
    f match {
      case True => true
      case False => false
      case AnyOf(s) => s.exists(eval(_, props, geomType, id))
      case AllOf(s) => s.forall(eval(_, props, geomType, id))
      case NoneOf(s) => !s.exists(eval(_, props, geomType, id))
      case Has(k, neg) =>
        val present = if (k == "$id") id.isDefined else prop(k).isDefined
        present != neg
      case In(k, vs, neg) =>
        val hit = prop(k).exists(a => vs.exists(v => eq(a, v)))
        hit != neg
      case Cmp(op, k, v) =>
        val pv = prop(k)
        op match {
          case "==" => pv.exists(eq(_, v))
          case "!=" => !pv.exists(eq(_, v))
          case o => pv.exists(ordered(_, v, o))
        }
    }
  }

  /** A property value as `try_cast(v AS double)` reads it: Java's number
    * syntax around optional whitespace (`toDoubleOption` accepts what
    * `parseDouble` does, without throwing), else Spark's case-insensitive
    * `inf`/`infinity`/`nan` literals (`Cast.processFloatingPointSpecialLiterals`). */
  private def toDouble(s: String): Option[Double] =
    s.toDoubleOption.orElse(s.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "inf" | "+inf" | "infinity" | "+infinity" => Some(Double.PositiveInfinity)
      case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
      case "nan" => Some(Double.NaN)
      case _ => None
    })

  /** Spark SQL's double order: NaN above everything and equal to itself,
    * -0.0 equal to 0.0 (`SQLOrderingUtil.compareDoubles`). */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)
}
