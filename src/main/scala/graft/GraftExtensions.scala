package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for SQL use, so `spark.sql("SELECT cosine_similarity(a, b)
  * ...")` and `lww_max_by(...)` work next to the Column API. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Builders receive whatever arg list the parser produced — guard arity
    * (and literal-ness where required) with a real error message instead of
    * an IndexOutOfBounds/ClassCast from deep inside analysis. */
  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${args.length}")

  private def intLit(name: String, e: Expression, what: String): Int = {
    // constant folding has not run at function-build time, so accept any
    // foldable integral expression (a bare literal, CAST(64 AS BIGINT), …)
    // and evaluate it now
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val ok = e.foldable && (e.dataType match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    })
    val v = if (ok) e.eval() else null
    v match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case _ => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal (e.g. 64), got ${e.sql}")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two double arrays"),
      (args: Seq[Expression]) => { arity("cosine_similarity", args, 2)
        CosineSimilarity(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => { arity("dot_product", args, 2)
        DotProduct(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("jaccard_sim"),
      info("jaccard_sim", "jaccard_sim(a, b) - set jaccard of two string arrays"),
      (args: Seq[Expression]) => { arity("jaccard_sim", args, 2)
        JaccardSim(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64",
        "simhash64(tokens) - SQL-reproducible 62-bit arithmetic simhash of a token array"),
      (args: Seq[Expression]) => { arity("simhash64", args, 1)
        SimHash64(args(0)) }))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(shingles, k) - SQL-reproducible k-entry arithmetic-hash minhash signature"),
      (args: Seq[Expression]) => { arity("minhash_sig", args, 2)
        MinHashSig(args(0), intLit("minhash_sig", args(1), "k")) }))
    // ranking args arrive as whatever integral type the user typed; the
    // aggregates' buffers store exact (Long/Int) — cast here (SimplifyCasts
    // erases the no-op ones after resolution, so resolved-LONG inputs keep
    // the primitive fast path)
    // ranking args are passed UNCAST: the aggregates accept any integral
    // type (widened internally) and REJECT non-integral ones at analysis —
    // a blanket Cast(_, LongType) would accept a DOUBLE score and silently
    // truncate every rank in [0,1) to 0
    ext.injectFunction((FunctionIdentifier("lww_max_by"),
      info("lww_max_by", "lww_max_by(row, lsn, pri) - last-writer-wins winner row"),
      (args: Seq[Expression]) => { arity("lww_max_by", args, 3)
        LwwMaxBy(args(0), args(1), args(2)).toAggregateExpression() }))
    ext.injectFunction((FunctionIdentifier("top_k_by"),
      info("top_k_by",
        "top_k_by(row, ord, tie, k) - array of the group's top-k rows by (ord DESC, tie ASC)"),
      (args: Seq[Expression]) => { arity("top_k_by", args, 4)
        TopKBy(args(0), args(1), args(2),
          intLit("top_k_by", args(3), "k")).toAggregateExpression() }))
    ext.injectFunction((FunctionIdentifier("theta_sketch_agg"),
      info("theta_sketch_agg",
        "theta_sketch_agg(str[, lgK]) - theta sketch of the group's distinct strings"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"theta_sketch_agg expects 1 or 2 argument(s), got ${args.length}")
        val lgK = if (args.length == 2) intLit("theta_sketch_agg", args(1), "lgK")
          else graft.functions.ThetaHelpers.DefaultLgK
        ThetaSketchAgg(args(0), lgK).toAggregateExpression() }))
    ext.injectFunction((FunctionIdentifier("theta_estimate"),
      info("theta_estimate", "theta_estimate(sketch) - distinct estimate of a theta sketch"),
      (args: Seq[Expression]) => { arity("theta_estimate", args, 1)
        ThetaEstimate(args(0)) }))
    ext.injectFunction((FunctionIdentifier("theta_union_estimate"),
      info("theta_union_estimate", "theta_union_estimate(a, b) - |A ∪ B| estimate"),
      (args: Seq[Expression]) => { arity("theta_union_estimate", args, 2)
        ThetaUnionEstimate(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("theta_intersect_estimate"),
      info("theta_intersect_estimate", "theta_intersect_estimate(a, b) - |A ∩ B| estimate"),
      (args: Seq[Expression]) => { arity("theta_intersect_estimate", args, 2)
        ThetaIntersectEstimate(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("theta_anotb_estimate"),
      info("theta_anotb_estimate", "theta_anotb_estimate(a, b) - |A \\ B| estimate"),
      (args: Seq[Expression]) => { arity("theta_anotb_estimate", args, 2)
        ThetaAnotBEstimate(args(0), args(1)) }))
  }
}
