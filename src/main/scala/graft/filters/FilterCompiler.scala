package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a [[GLFilter]] AST to a Catalyst `Column` predicate.
  *
  * This replaces the reference's per-feature string-`eval` compiler
  * (`/root/reference/label_maker_dask/filter.py:26-31`, re-run per
  * feature x class, `label.py:18,28,40`) with a single plan-time
  * compilation to built-in Spark expressions — codegen'd, pushdown-eligible,
  * and with no string-eval injection surface (filter.py:96-98 interpolates
  * raw user values into evaluated source).
  *
  * Expected feature columns (the engine's relational feature form, SURVEY
  * §1.1): `props: map<string,string>`, `geomType: string`,
  * `id: bigint` (nullable).
  */
object FilterCompiler {
  import GLFilter._

  final case class FeatureCols(props: Column, geomType: Column, id: Column)
  def defaultCols: FeatureCols = FeatureCols(col("props"), col("geomType"), col("id"))

  def compile(f: GLFilter): Column = compile(f, defaultCols)

  def compile(f: GLFilter, c: FeatureCols): Column = f match {
    case True => lit(true)
    case False => lit(false)
    case AnyOf(s) => s.map(compile(_, c)).reduceOption(_ || _).getOrElse(lit(false))
    case AllOf(s) => s.map(compile(_, c)).reduceOption(_ && _).getOrElse(lit(true))
    case NoneOf(s) => !s.map(compile(_, c)).reduceOption(_ || _).getOrElse(lit(false))
    case Has(k, neg) =>
      val present = k match {
        case "$id" => c.id.isNotNull
        case "$type" => c.geomType.isNotNull
        case _ => map_contains_key(c.props, lit(k))
      }
      if (neg) !present else present
    case In(k, vs, neg) =>
      val p = propRef(k, c)
      val hit = coalesce(
        vs.map(v => eqCol(p, v)).reduceOption(_ || _).getOrElse(lit(false)),
        lit(false))
      if (neg) !hit else hit
    case Cmp(op, k, v) =>
      val p = propRef(k, c)
      op match {
        case "==" => coalesce(eqCol(p, v), lit(false))
        case "!=" => !coalesce(eqCol(p, v), lit(false)) // missing key -> true (None != v)
        case o => coalesce(orderedCol(p, v, o), lit(false))
      }
  }

  /** filter.py:60-66 `$type` -> geometry.type, `$id` -> feature id. */
  private def propRef(k: String, c: FeatureCols): Column = k match {
    case "$type" => c.geomType
    case "$id" => c.id.cast("string")
    case _ => element_at(c.props, k)
  }

  /** Null (not false) when the property is missing/unparseable, so callers
    * can choose missing->false (==) vs missing->true (!=). */
  private def eqCol(p: Column, l: Lit): Column = l match {
    case SLit(v) => p === lit(v)
    case BLit(v) => p === lit(if (v) "true" else "false")
    case LLit(v) => p.try_cast("double") === lit(v.toDouble)
    case DLit(v) => p.try_cast("double") === lit(v)
  }

  private def orderedCol(p: Column, l: Lit, op: String): Column = {
    def mk(x: Column, y: Column): Column = op match {
      case "<" => x < y
      case ">" => x > y
      case "<=" => x <= y
      case ">=" => x >= y
    }
    l match {
      case SLit(v) => mk(p, lit(v))
      case BLit(_) => lit(false)
      case LLit(v) => mk(p.try_cast("double"), lit(v.toDouble))
      case DLit(v) => mk(p.try_cast("double"), lit(v))
    }
  }
}
