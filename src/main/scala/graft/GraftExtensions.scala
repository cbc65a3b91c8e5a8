package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions: installs the engine's native functions session-wide
  * (survives `spark.sql(...)` from any thread, unlike temp registration).
  *
  * Usage: `.withExtensions(new GraftExtensions)` on a session builder, or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Kept deliberately small: the engine's operators compose Spark built-ins
  * (builder-contract preference (a)); the native expressions are the
  * codegen'd `dot_long`, `bigram_hashes` and `packed_pairs` kernels
  * (preference (b)). No planner strategies or optimizer rules are
  * injected because no operator needed one.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[graft.functions.DotProductLong].getName, "dot_long"),
      (exprs: Seq[Expression]) =>
        graft.functions.DotProductLong(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("bigram_hashes"),
      new ExpressionInfo(classOf[graft.functions.BigramHashes].getName, "bigram_hashes"),
      (exprs: Seq[Expression]) => graft.functions.BigramHashes(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("packed_pairs"),
      new ExpressionInfo(classOf[graft.functions.PackedPairs].getName, "packed_pairs"),
      (exprs: Seq[Expression]) => graft.functions.PackedPairs(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash16_long"),
      new ExpressionInfo(classOf[graft.functions.Simhash16].getName, "simhash16_long"),
      (exprs: Seq[Expression]) => graft.functions.Simhash16(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => graft.functions.NfcNormalize(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[graft.functions.ZInterleave].getName, "z_interleave"),
      (exprs: Seq[Expression]) =>
        graft.functions.ZInterleave(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "pq_encode"),
      (exprs: Seq[Expression]) =>
        graft.functions.PqEncode(exprs(0), exprs(1), exprs(2))))
  }
}
