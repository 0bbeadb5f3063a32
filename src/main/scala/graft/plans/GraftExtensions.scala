package graft.plans

import graft.functions.{DotProduct, FeatherDecode, FeatherEncode, Hash60, Lz4FrameCompress, Lz4FrameDecompress, PackDoublesLe, UnpackDoublesLe}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite the engine-portable *builtin* formulation of
  * the library's 60-bit hash into the native codegen expression
  * (SURVEY.md §2.10 tier (c): a `Rule[LogicalPlan]` wired through
  * `SparkSessionExtensions` — users who wrote the portable SQL shape get
  * the native hot loop automatically).
  *
  * One pattern, value-identical by construction incl. NULL propagation
  * (pinned by PipelineSpec equivalence tests + the DuckDB oracle):
  *  - `conv(substring(md5(c), 1, 15), 16, 10)::long`  → `Hash60(c)`
  *    (graft.functions.PortableHash.hash60Builtin — the shape the oracle
  *    SQL mirrors; every sub-expression null-propagates per row, exactly
  *    like the UnaryExpression's nullSafeEval)
  *
  * Deliberately NOT rewritten: the HOF dot-product fold
  * (`aggregate(zip_with(a,b,(x,y)->..*..), 0.0, (acc,x)->acc+x)`).
  * It is NOT value-identical to [[DotProduct]] on edge inputs — zip_with
  * pads mismatched lengths with NULL and the fold then returns NULL,
  * while DotProduct loops to min(length) and returns a number; NULL
  * elements likewise NULL the fold — so a global rewrite would silently
  * change user query results. The native expression stays an explicit
  * opt-in (`dot_product(...)` / `Similarity.dot`).
  */
object NativeHashRewrite extends Rule[LogicalPlan] {

  private def isLit(e: Expression, v: Any): Boolean = e match {
    case Literal(x, _) => x == v
    case _             => false
  }

  /** `conv(substring(md5(c),1,15),16,10)` (string) — the cast to long on
    * top is matched by the caller.
    */
  private def isHashChain(e: Expression): Option[Expression] = e match {
    case Conv(Substring(Md5(c), p, l), f, t, _)
        if isLit(p, 1) && isLit(l, 15) && isLit(f, 16) && isLit(t, 10) =>
      Some(c)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c @ Cast(inner, LongType, _, _) =>
        isHashChain(inner).map(Hash60(_): Expression).getOrElse(c)
    }
}

/** Session wiring: [[graft.GraftSession]], or `withExtensions(new
  * GraftExtensions)` on any session builder (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`)
  * registers the native functions for SQL (`hash60`, `dot_product`) and
  * installs [[NativeHashRewrite]] in the optimizer.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "hash60"),
      (exprs: Seq[Expression]) => Hash60(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    // wire-parity codecs (SURVEY §2.10): SQL-first users read/write the
    // reference's exact blob bytes without touching the Scala API
    ext.injectFunction((
      FunctionIdentifier("lz4_frame_compress"),
      new ExpressionInfo(classOf[Lz4FrameCompress].getName, "lz4_frame_compress"),
      (exprs: Seq[Expression]) => Lz4FrameCompress(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("lz4_frame_decompress"),
      new ExpressionInfo(classOf[Lz4FrameDecompress].getName, "lz4_frame_decompress"),
      (exprs: Seq[Expression]) => Lz4FrameDecompress(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("pack_doubles_le"),
      new ExpressionInfo(classOf[PackDoublesLe].getName, "pack_doubles_le"),
      (exprs: Seq[Expression]) => PackDoublesLe(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("unpack_doubles_le"),
      new ExpressionInfo(classOf[UnpackDoublesLe].getName, "unpack_doubles_le"),
      (exprs: Seq[Expression]) => UnpackDoublesLe(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("feather_encode"),
      new ExpressionInfo(classOf[FeatherEncode].getName, "feather_encode"),
      (exprs: Seq[Expression]) => FeatherEncode(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("feather_decode"),
      new ExpressionInfo(classOf[FeatherDecode].getName, "feather_decode"),
      (exprs: Seq[Expression]) => FeatherDecode(exprs.head)))
    ext.injectOptimizerRule(_ => NativeHashRewrite)
  }
}
