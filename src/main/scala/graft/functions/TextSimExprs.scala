package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-similarity kernels. The composed-Column forms
  * (array_intersect/array_union per pair; 64 × filter+size per simhash;
  * k × transform per minhash signature) rebuild hash sets / intermediate
  * arrays per evaluation and dominate the benchmark. Each expression here
  * is a single pass calling a static helper, and `defineCodeGen` emits a
  * plain static call so whole-stage codegen keeps the surrounding pipeline
  * fused. Every hash is the engine-neutral modular arithmetic described
  * below, so each kernel has a bit-identical DuckDB SQL form.
  */
object TextSimHelpers {
  /** Jaccard over two string arrays that are already sets (distinct):
    * |A∩B| / (|A| + |B| - |A∩B|). One set build + one probe pass.
    * J(∅,∅) = 0.0: two blank documents share no evidence of similarity,
    * and the SQL oracles' 0/0 is NaN/NULL — which a `jac >= t` threshold
    * drops, exactly as 0.0 is dropped here (t > 0 always). Returning 1.0
    * would instead report every pair of blank docs as an exact near-dup
    * on the Spark side only. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(b.getUTF8String(i))) inter += 1; i += 1 }
    inter.toDouble / (na + nb - inter).toDouble
  }

  // ---- the engine-neutral hash family -----------------------------------
  //
  // xxhash64 is not expressible in ANSI SQL, so every hash here is plain
  // modular arithmetic both engines compute bit-identically (the same
  // trick as q44/q60/q65's arithmetic sampling hash and q29's generated
  // classifier SQL):
  //
  //   H(s)      = fold over codepoints, acc0 = 7, acc = (acc*31 + cp) mod P
  //   h_j(s)    = (a_j * H(s) + b_j) mod P          (k fixed affine streams)
  //   sig[j]    = min over shingles of h_j(s)
  //   bandKey_i = sig[2i] * P + sig[2i+1]           (r = 2, exact encoding)
  //
  // with P = 2^31 - 1 (prime; products stay under 2^62, so 64-bit modular
  // arithmetic is exact in both engines). DuckDB reproduces H via
  // `list_reduce(list_prepend(7, codepoints), (a,c) -> (a*31+c) % P)` —
  // see DedupOps.minhashLshOracleSql, which generates that SQL with the
  // same a_j/b_j constants inlined. Affine streams over a common base hash
  // are the standard universal-hash MinHash construction.

  val ArithP = 2147483647L // 2^31 - 1
  def arithA(j: Int): Long = 1L + (j.toLong * 1103515245L + 12345L) % (ArithP - 1L)
  def arithB(j: Int): Long = (j.toLong * 69069L + 42L) % ArithP

  /** Engine-neutral string hash: codepoint fold with seed 7 (the seed makes
    * the empty string well-defined without an empty-list reduce in SQL). */
  def arithHash(s: UTF8String): Long = {
    // Decode code points straight off the UTF-8 bytes (r6): the previous
    // `s.toString` allocated + copied every token/shingle before hashing —
    // one garbage String per hashed string in every hash kernel
    // (q27/q28/q40/q79). For VALID UTF-8 the byte decode yields exactly
    // the code points `toString.codePointAt` walks (a 4-byte sequence
    // becomes one supplementary code point either way); ANY malformed
    // sequence (overlong, surrogate range, truncated, bare continuation)
    // falls back to the legacy String path wholesale, so behavior is
    // byte-identical on every possible input (DedupSpec pins a
    // differential test incl. malformed bytes; the r6 gate also ran an
    // old-vs-new sweep over every sf0.1 token and shingle).
    val b = s.getBytes
    val n = b.length
    var acc = 7L
    var i = 0
    while (i < n) {
      val b0 = b(i) & 0xFF
      var cp = -1
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xE0) == 0xC0) {
        if (i + 1 < n && (b(i + 1) & 0xC0) == 0x80) {
          cp = ((b0 & 0x1F) << 6) | (b(i + 1) & 0x3F); len = 2
          if (cp < 0x80) cp = -1 // overlong
        }
      } else if ((b0 & 0xF0) == 0xE0) {
        if (i + 2 < n && (b(i + 1) & 0xC0) == 0x80 && (b(i + 2) & 0xC0) == 0x80) {
          cp = ((b0 & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F); len = 3
          if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) cp = -1 // overlong/surrogate
        }
      } else if ((b0 & 0xF8) == 0xF0) {
        if (i + 3 < n && (b(i + 1) & 0xC0) == 0x80 && (b(i + 2) & 0xC0) == 0x80 &&
            (b(i + 3) & 0xC0) == 0x80) {
          cp = ((b0 & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
            ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F); len = 4
          if (cp < 0x10000 || cp > 0x10FFFF) cp = -1 // overlong/out of range
        }
      }
      if (cp < 0) return arithHashViaString(s)
      acc = (acc * 31L + cp) % ArithP
      i += len
    }
    acc
  }

  /** The pre-r6 String-roundtrip fold — kept as the malformed-input
    * fallback (Java's UTF-8 decoder substitutes U+FFFD in ways the byte
    * walk does not reproduce) and as the differential-test reference. */
  private[graft] def arithHashViaString(s: UTF8String): Long = {
    val str = s.toString
    var acc = 7L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % ArithP
      i += Character.charCount(cp)
    }
    acc
  }

  private val arithCoefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]
  private def arithCoefs(k: Int): (Array[Long], Array[Long]) =
    arithCoefCache.computeIfAbsent(k,
      kk => (Array.tabulate(kk)(arithA), Array.tabulate(kk)(arithB)))

  /** MinHash signature: k affine streams in one pass over the shingle set.
    * Null elements are skipped (a tokenizer emitting nulls must not crash
    * the task). An empty (or all-null) input yields the degenerate
    * all-MaxValue signature, which collides in every LSH band; the
    * engine's shingle producer never emits an empty array (a short doc
    * gets one whole-doc shingle), so a caller feeding raw arrays must
    * pre-filter empties. */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val (as, bs) = arithCoefs(k)
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        val base = arithHash(s)
        var j = 0
        while (j < k) {
          val hj = (as(j) * base + bs(j)) % ArithP
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 62-bit SimHash: per-bit majority vote over the DISTINCT tokens, where
    * token t's vote on bit b is the parity of the b-th affine stream (a_b·H(t)+c_b mod P) over the engine-neutral base
    * hash H — every piece plain modular arithmetic, so a DuckDB oracle
    * reproduces the fingerprint bit-identically (62 bits, not 64: bit 63
    * would need 1<<63, which overflows SQL BIGINT range checks, and 62
    * uniform bits lose nothing — the chunk-key pigeonhole and hamming
    * bound are unchanged with the two top bits constant 0). Distinctness
    * is by token STRING (the SQL `list_distinct`); null elements are
    * skipped. */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val counts = new Array[Int](62)
    val (as, bs) = arithCoefs(62) // constants — never re-derive per token
    var total = 0
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null && seen.add(s)) {
        total += 1
        val h = arithHash(s)
        var b = 0
        while (b < 62) {
          if (((as(b) * h + bs(b)) % ArithP & 1L) == 1L) counts(b) += 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 62) {
      if (counts(b) * 2 > total) out |= (1L << b)
      b += 1
    }
    out
  }

  /** LSH band keys: the exact positional encoding `sig[2i]·P + sig[2i+1]`
    * — collision-free over signature values in [0, P) and reproducible as
    * plain SQL arithmetic. Rows per band are fixed at r = 2:
    * P^3 would overflow 64-bit (r=2 is the engine's standard setting; wider
    * rows would need a modular fold, trading SQL-exactness away). */
  def bandKeys(sig: ArrayData, b: Int): ArrayData = {
    require(sig.numElements() >= b * 2, s"lsh_band_keys: signature has " +
      s"${sig.numElements()} entries, bands x 2 rows needs ${b * 2}")
    val out = new Array[Long](b)
    var band = 0
    while (band < b) {
      out(band) = sig.getLong(band * 2) * ArithP + sig.getLong(band * 2 + 1)
      band += 1
    }
    new GenericArrayData(out)
  }
}

/** Analysis-time input validation shared by the SQL-registered scalar
  * expressions — without it a type misuse (e.g. `jaccard_sim(1, 2)`)
  * passes analysis and dies mid-stage as a ClassCastException, unlike the
  * aggregates in this package which all validate up front. */
private[functions] object TextSimChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def stringArray(name: String, dts: DataType*): TypeCheckResult =
    dts.find {
      case ArrayType(StringType, _) => false
      case _ => true
    } match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$name: inputs must be ARRAY<STRING>, got $bad")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  def longArray(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case bad => TypeCheckResult.TypeCheckFailure(
      s"$name: input must be ARRAY<BIGINT>, got $bad")
  }
}

case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"
  override def checkInputDataTypes() =
    TextSimChecks.stringArray(prettyName, left.dataType, right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any =
    TextSimHelpers.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextSimHelpers.jaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes() =
    TextSimChecks.stringArray(prettyName, child.dataType)
  override def nullSafeEval(a: Any): Any =
    TextSimHelpers.simhash64(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextSimHelpers.simhash64($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"minhash_sig: k must be positive, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes() =
    TextSimChecks.stringArray(prettyName, child.dataType)
  override def nullSafeEval(a: Any): Any =
    TextSimHelpers.minhash(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextSimHelpers.minhash($a, $k)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LshBandKeys(child: Expression, b: Int) extends UnaryExpression {
  require(b > 0, s"lsh_band_keys: b must be positive, got $b")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"
  override def checkInputDataTypes() =
    TextSimChecks.longArray(prettyName, child.dataType)
  override def nullSafeEval(a: Any): Any =
    TextSimHelpers.bandKeys(a.asInstanceOf[ArrayData], b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextSimHelpers.bandKeys($a, $b)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TextSimExprs {
  def jaccardSim(a: Column, b: Column): Column =
    ColumnShim.column(JaccardSim(ColumnShim.expression(a), ColumnShim.expression(b)))
  def simhash64(tokens: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(tokens)))
  def minhashSig(shingles: Column, k: Int): Column =
    ColumnShim.column(MinHashSig(ColumnShim.expression(shingles), k))
  def lshBandKeys(sig: Column, b: Int): Column =
    ColumnShim.column(LshBandKeys(ColumnShim.expression(sig), b))
}
