package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Single-pass cosine similarity over two double arrays, with whole-stage
  * codegen. The `functions.aggregate`/`zip_with` composition is a
  * HigherOrderFunction — CodegenFallback, interpreted per element with a
  * lambda-variable box per multiplication — which made the all-pairs
  * similarity queries the benchmark's hot spot. This expression compiles to
  * a tight fused loop (one pass accumulates dot, |a|² and |b|²).
  *
  * Evaluation order matches the composed form exactly
  * (sequential index-order adds; cos = dot / (sqrt(na) * sqrt(nb))), so
  * results stay bit-identical to the DuckDB oracle comparisons.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {
  // inputs must already be array<double> (call sites cast); typed misuse
  // fails at analysis via checkInputDataTypes (AbstractDataType is
  // private[sql] in Spark 4, so no ExpectsInputTypes)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  // length-mismatched vectors (mixed embedding models in one table) yield
  // NULL, matching the composed zip_with/aggregate form (which null-pads) —
  // a truncated similarity over the common prefix would be silently wrong
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    VectorChecks.doubleArrays(prettyName, left.dataType, right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Shared analysis-time check: both inputs ARRAY<DOUBLE>. */
private[functions] object VectorChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def doubleArrays(name: String, dts: DataType*): TypeCheckResult =
    dts.find {
      case ArrayType(DoubleType, _) => false
      case _ => true
    } match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$name: inputs must be ARRAY<DOUBLE>, got $bad")
      case None => TypeCheckResult.TypeCheckSuccess
    }
}

/** Codegen'd dot product (the SQL `dot_product`). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullable: Boolean = true // length mismatch -> NULL
  override def checkInputDataTypes() =
    VectorChecks.doubleArrays(prettyName, left.dataType, right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Codegen'd Euclidean distance (k-means assignment kernel). Sequential
  * index-order accumulation of squared differences, then one sqrt — the
  * same evaluation order as DuckDB's `list_distance`, so rounded distances
  * agree across engines (the k-means oracle compares cluster assignments,
  * which are argmins over these values). */
case class L2Distance(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_distance"
  override def nullable: Boolean = true // length mismatch -> NULL
  override def checkInputDataTypes() =
    VectorChecks.doubleArrays(prettyName, left.dataType, right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0; var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = java.lang.Math.sqrt($s);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Quantized sign-random-projection (SRP) LSH — the SQL-reproducible
  * hyperplane bucket pipeline of q30 (the embedding twin of the
  * arithmetic-hash MinHash):
  *  - components are quantized exactly in both engines:
  *    f[d] = floor(v[d] · 10^6) as BIGINT (floor, not round — round's
  *    half-case tie-break differs between JVM and SQL engines);
  *  - plane `p`'s weight on dimension d is a ±1 Rademacher value derived
  *    from the shared arithmetic affine stream (a constant both the
  *    native kernel and the generated SQL inline);
  *  - bit_p = [ Σ_d w(p,d)·f[d] ≥ 0 ] — pure integer arithmetic, so the
  *    bucket ids are bit-identical across engines. Rademacher projections
  *    are standard SRP: a plane separates two vectors at angle θ with
  *    probability ≈ θ/π, as a real-valued random hyperplane does.
  */
object SrpArith {
  import TextSimHelpers.{ArithP, arithA, arithB}
  val Quant = 1000000L
  val MaxDim = 4096
  def weight(plane: Int, dim1: Int): Int = { // dim1 is 1-based (SQL v[d])
    val idx = plane.toLong * MaxDim + dim1
    val u = (arithA(1) * idx + arithB(1)) % ArithP
    if (2L * u < ArithP) 1 else -1
  }
  private val rowCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]
  def weightRow(plane: Int): Array[Int] =
    rowCache.computeIfAbsent(plane, p => Array.tabulate(MaxDim)(d => weight(p, d + 1)))
}

object QuantLshHelpers {
  /** All `tables` bucket ids of one vector in a single pass. `dim` is the
    * dimensionality the caller's generated ORACLE hard-codes its weight
    * terms for — a vector of any other length would bucket differently in
    * the two engines, so it fails loud here instead (review finding). */
  def buckets(v: ArrayData, tables: Int, planes: Int, dim: Int): ArrayData = {
    val n = v.numElements()
    require(n == dim,
      s"quant_lsh_buckets: vector has $n dims, oracle weights generated for $dim")
    require(n <= SrpArith.MaxDim, s"quant_lsh_buckets: dim $n > ${SrpArith.MaxDim}")
    val f = new Array[Long](n)
    var d = 0
    while (d < n) {
      f(d) = math.floor(v.getDouble(d) * SrpArith.Quant).toLong
      d += 1
    }
    val out = new Array[Long](tables)
    var tb = 0
    while (tb < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val w = SrpArith.weightRow(tb * planes + p)
        var s = 0L
        var i = 0
        while (i < n) { s += w(i) * f(i); i += 1 }
        if (s >= 0L) bucket |= (1L << p)
        p += 1
      }
      out(tb) = bucket
      tb += 1
    }
    new GenericArrayData(out)
  }
}

case class QuantLshBuckets(child: Expression, tables: Int, planes: Int, dim: Int)
  extends UnaryExpression {
  require(tables > 0 && planes > 0 && planes < 62 && dim > 0,
    s"quant_lsh_buckets: bad (tables=$tables, planes=$planes, dim=$dim)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quant_lsh_buckets"
  override def checkInputDataTypes() =
    VectorChecks.doubleArrays(prettyName, child.dataType)
  override def nullSafeEval(a: Any): Any =
    QuantLshHelpers.buckets(a.asInstanceOf[ArrayData], tables, planes, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.QuantLshHelpers.buckets($a, $tables, $planes, $dim)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object VectorExprs {
  def cosineSim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  def l2Distance(a: Column, b: Column): Column =
    ColumnShim.column(L2Distance(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  def quantLshBuckets(v: Column, tables: Int, planes: Int, dim: Int): Column =
    ColumnShim.column(QuantLshBuckets(ColumnShim.expression(v), tables, planes, dim))
}
