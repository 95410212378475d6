package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen distance kernels (SURVEY §4.5): the reference's hot loop
  * is a SIMD L2 kernel inside FAISS
  * (`/root/reference/dynamic_script_faiss.py:60` calls into C++); the
  * higher-order-function formulation (`aggregate(zip_with(...))`) is
  * correct but materializes a transient array per row-pair. These
  * expressions generate a primitive fused loop over the two `ArrayData`
  * buffers — no allocation, no boxing, stays inside whole-stage codegen.
  *
  * Semantics are bit-identical to the HOF versions: elements promoted to
  * double, sequential left-to-right accumulation.
  */
abstract class FloatVecFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def elemGetter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case ArrayType(IntegerType, _) => "getInt"
    case ArrayType(LongType, _) => "getLong"
    case other => throw new IllegalArgumentException(s"unsupported vector type $other")
  }

  /** Java source for one accumulation step given element vars x, y. */
  protected def stepJava(acc: String, x: String, y: String): String
  /** Interpreted accumulation step. */
  protected def step(acc: Double, x: Double, y: Double): Double

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    def mk(dt: DataType, d: ArrayData): Int => Double = dt match {
      case ArrayType(FloatType, _) => i => d.getFloat(i).toDouble
      case ArrayType(IntegerType, _) => i => d.getInt(i).toDouble
      case ArrayType(LongType, _) => i => d.getLong(i).toDouble
      case _ => i => d.getDouble(i)
    }
    val getA = mk(left.dataType, a)
    val getB = mk(right.dataType, b)
    val n = FloatVecFold.checkDims(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc = step(acc, getA(i), getB(i)); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gA = elemGetter(left.dataType)
    val gB = elemGetter(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = graft.functions.FloatVecFold.checkDims($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$gA($i);
         |  double $y = (double) $b.$gB($i);
         |  ${stepJava(s"${ev.value}Acc", x, y)}
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })
  }
}

object FloatVecFold {
  /** Equal-length guard shared by interpreted + generated code paths: a
    * silent min-length fold would return a plausible-but-wrong distance on
    * mismatched vectors (l2sq([1,2,3],[1,2]) = 0.0), which then poisons
    * every downstream top-k / bucket decision. Fail loudly instead. */
  def checkDims(na: Int, nb: Int): Int = {
    if (na != nb) throw new IllegalArgumentException(
      s"vector dimension mismatch: left has $na elements, right has $nb")
    na
  }
}

/** Σ (a_i − b_i)² — squared L2 distance. */
case class L2SquaredDistance(left: Expression, right: Expression) extends FloatVecFold {
  override def prettyName: String = "l2sq_native"
  override protected def stepJava(acc: String, x: String, y: String): String =
    s"double d = $x - $y; $acc += d * d;"
  override protected def step(acc: Double, x: Double, y: Double): Double = {
    val d = x - y; acc + d * d
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SquaredDistance =
    copy(left = l, right = r)
}

/** Cosine similarity in one fused pass: dot, ‖a‖², ‖b‖² accumulate in a
  * single loop, then dot / (√a·√b) — same arithmetic as the composed
  * dot/(norm·norm) formulation (bit-identical), one array traversal
  * instead of three. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "cosine_native"

  private def getter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalArgumentException(s"unsupported vector type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val isFloatA = getter(left.dataType) == "getFloat"
    val isFloatB = getter(right.dataType) == "getFloat"
    val n = FloatVecFold.checkDims(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloatA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloatB) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gA = getter(left.dataType)
    val gB = getter(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = graft.functions.FloatVecFold.checkDims($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$gA($i);
         |  double $y = (double) $b.$gB($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** ADC (asymmetric distance computation) table lookup for product
  * quantization over an int64 distance table (entry `j*ksub + code` for
  * subspace j): returns Σ_j table[j*ksub + codes[j]], the PQ-approximate
  * squared L2 distance used by [[graft.index.PqFlat]] and
  * [[graft.index.IvfPq]]. Every entry and the sum are exact int64, so
  * the compressed-domain ordering replays bit-for-bit in a SQL engine
  * while keeping the fused no-allocation lookup loop of the FAISS IVFADC
  * scan (/root/reference/multi_tenant_script.py:94-103). */
case class PqAdcDistanceLong(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "pq_adc_dist_long"

  override def nullSafeEval(t: Any, c: Any): Any = {
    val table = t.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val m = PqAdcDistanceLong.checkShape(table.numElements(), codes.numElements(), ksub)
    var acc = 0L
    var j = 0
    while (j < m) { acc += table.getLong(j * ksub + codes.getInt(j)); j += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      s"""
         |int $m = graft.functions.PqAdcDistanceLong.checkShape($t.numElements(), $c.numElements(), $ksub);
         |long ${ev.value}Acc = 0L;
         |for (int $j = 0; $j < $m; $j++) {
         |  ${ev.value}Acc += $t.getLong($j * $ksub + $c.getInt($j));
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDistanceLong =
    copy(left = l, right = r)
}

object PqAdcDistanceLong {
  /** Shape guard shared by interpreted + generated paths: a distance
    * table from a model with different m/ksub than the codes would index
    * the wrong entries and return a plausible-but-wrong distance —
    * exactly the silent-truncation class of bug. Fail loudly instead. */
  def checkShape(tableLen: Int, m: Int, ksub: Int): Int = {
    if (tableLen != m * ksub) throw new IllegalArgumentException(
      s"ADC shape mismatch: table has $tableLen entries, codes need $m*$ksub")
    m
  }
}

/** |A ∩ B| for two SORTED distinct int64 arrays — the two-pointer merge
  * count. Replaces per-pair `array_intersect` (which builds a hash set
  * per invocation) in the blocked-Jaccard hot loop: O(n+m) long
  * comparisons, zero allocation, codegen'd. Callers sort once per ROW
  * (array_sort on the doc's shingle hashes), then every pair the block
  * join emits reuses the sorted form. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int ${ev.value}N = 0;
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.value}N++; $i++; $j++; }
         |  else if ($xv < $yv) $i++; else $j++;
         |}
         |${ev.value} = ${ev.value}N;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Σ a_i · b_i — dot product. */
case class DotProduct(left: Expression, right: Expression) extends FloatVecFold {
  override def prettyName: String = "dot_native"
  override protected def stepJava(acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"
  override protected def step(acc: Double, x: Double, y: Double): Double = acc + x * y
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** The full ADC distance table in one fused loop: for an int64 vector
  * `rv` (the quantized query, or its residual against a probed coarse
  * centroid) and the PQ codebooks shipped as a flat literal
  * (`cb[(sub·ksub + code)·dsub + j]`), emits the `m·ksub`-entry table
  * whose entry `sub·ksub + code` is `Σ_j (rv[sub·dsub+j] − cb[…+j])²` —
  * exact int64, identical to the relational explode ⋈ codebooks → pivot
  * formulation the DuckDB oracle replays. One primitive triple loop per
  * row, no per-entry allocation, stays inside whole-stage codegen: table
  * construction is a map over the query stream (no shuffle), which is
  * what a 10k-query batch on a 1000-executor cluster needs — the
  * codebooks are model parameters (m·ksub·dsub ints), broadcast by
  * value like FAISS replicates them per node. */
case class AdcTableLong(child: Expression, cb: Array[Long],
    m: Int, ksub: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "adc_table_long"

  override def nullSafeEval(v: Any): Any = {
    val rv = v.asInstanceOf[ArrayData]
    AdcTableLong.checkDim(rv.numElements(), m, dsub)
    val out = new Array[Long](m * ksub)
    var sub = 0
    while (sub < m) {
      var code = 0
      while (code < ksub) {
        val cbBase = (sub * ksub + code) * dsub
        var acc = 0L
        var j = 0
        while (j < dsub) {
          val d = rv.getLong(sub * dsub + j) - cb(cbBase + j)
          acc += d * d
          j += 1
        }
        out(sub * ksub + code) = acc
        code += 1
      }
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("adcCb", cb, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub"); val code = ctx.freshName("code")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val base = ctx.freshName("base")
      s"""
         |graft.functions.AdcTableLong.checkDim($v.numElements(), $m, $dsub);
         |long[] $out = new long[${m * ksub}];
         |for (int $sub = 0; $sub < $m; $sub++) {
         |  for (int $code = 0; $code < $ksub; $code++) {
         |    int $base = ($sub * $ksub + $code) * $dsub;
         |    long $acc = 0L;
         |    for (int $j = 0; $j < $dsub; $j++) {
         |      long $d = $v.getLong($sub * $dsub + $j) - $cbRef[$base + $j];
         |      $acc += $d * $d;
         |    }
         |    $out[$sub * $ksub + $code] = $acc;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): AdcTableLong =
    copy(child = c)
}

object AdcTableLong {
  /** Dim guard (shared interpreted/generated): a vector whose length is
    * not m·dsub would silently index the wrong subvectors. */
  def checkDim(vecLen: Int, m: Int, dsub: Int): Unit =
    if (vecLen != m * dsub) throw new IllegalArgumentException(
      s"ADC table dim mismatch: vector has $vecLen elements, model expects ${m}·$dsub")
}

/** Banded MinHash in one pass: from a row's shingle-hash array, compute
  * all `numHashes` seeded min-hashes simultaneously (one sweep over the
  * array, inner loop over seeds) and fold them into `numBands` band
  * hashes — `(acc·31 + min_i) mod M` over each band's rows. Replaces
  * numHashes interpreted HOF passes (transform + array_min per seed)
  * plus numBands fold chains with a single codegen loop; identical
  * integer arithmetic to the declarative formulation (and to
  * `Dedup.minHashSigScala`/`bandHashesScala`, the streaming replicas).
  * Empty input → null (the declarative form folds a null min into a
  * null band hash; either way the band bucket join drops the row). */
case class MinHashBands(child: Expression,
    coeffA: Array[Long], coeffB: Array[Long], numBands: Int, mod: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def numHashes: Int = coeffA.length
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(v: Any): Any = {
    val ph = v.asInstanceOf[ArrayData]
    val n = ph.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = ph.getLong(i)
      var s = 0
      while (s < numHashes) {
        val x = (h * coeffA(s) + coeffB(s)) % mod
        if (x < mins(s)) mins(s) = x
        s += 1
      }
      i += 1
    }
    val r = numHashes / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = 0L
      var j = b * r
      while (j < (b + 1) * r) { acc = (acc * 31 + mins(j)) % mod; j += 1 }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhCoeffA", coeffA, "long[]")
    val bRef = ctx.addReferenceObj("mhCoeffB", coeffB, "long[]")
    val r = numHashes / numBands
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val h = ctx.freshName("h"); val x = ctx.freshName("x")
      val out = ctx.freshName("out"); val b = ctx.freshName("b")
      val acc = ctx.freshName("acc"); val j = ctx.freshName("j")
      s"""
         |int $n = $v.numElements();
         |if ($n == 0) { ${ev.isNull} = true; } else {
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $v.getLong($i);
         |    for (int $s = 0; $s < $numHashes; $s++) {
         |      long $x = ($h * $aRef[$s] + $bRef[$s]) % ${mod}L;
         |      if ($x < $mins[$s]) $mins[$s] = $x;
         |    }
         |  }
         |  long[] $out = new long[$numBands];
         |  for (int $b = 0; $b < $numBands; $b++) {
         |    long $acc = 0L;
         |    for (int $j = $b * $r; $j < ($b + 1) * $r; $j++) {
         |      $acc = ($acc * 31 + $mins[$j]) % ${mod}L;
         |    }
         |    $out[$b] = $acc;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MinHashBands =
    copy(child = c)
}

/** Hash every word n-gram shingle of a token array by STREAMING the
  * token codepoints (with the joining space) through three polynomial
  * accumulators — never materializing the shingle strings the
  * `transform(sequence…, array_join(slice…))` formulation builds and
  * immediately re-hashes. Returns `struct<ph, ih>`:
  *
  *   - `ph[i]` = PolyHash(shingle_i, 257, 1e9+7) — the portable MinHash
  *     signature domain (identical values to hashing the joined string;
  *     duplicates retained — a min over the multiset equals the min
  *     over the distinct set, so signatures are unchanged),
  *   - `ih[i]` = the mixed 60-bit pair hash ([[graft.text.TextFunctions
  *     .tokenHashes]]'s construction lifted to shingles) — the
  *     verify-stage intersect domain (distinct-by-hash ≡
  *     distinct-by-string absent a 60-bit collision, the same caveat
  *     class as the previous xxhash64-of-string form).
  *
  * Shingle rule matches `shinglesOfTokens`: m = max(len−n+1, 1)
  * shingles, shingle_i = tokens[i..min(i+n,len)) joined by ' '. */
case class ShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = StructType(Seq(
    StructField("ph", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("ih", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($v, $n);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

object ShingleHashes {
  private val ModP = 1000000007L
  private val Two30 = 1073741824L
  private val Two32 = 4294967296L

  /** Shared by interpreted eval and codegen. */
  def compute(toks: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val len = toks.numElements()
    val strs = new Array[String](len)
    var i = 0
    while (i < len) {
      strs(i) = toks.getUTF8String(i).toString
      i += 1
    }
    val m = math.max(len - (n - 1), 1)
    val ph = new Array[Long](m)
    val ih = new Array[Long](m)
    var s = 0
    while (s < m) {
      var h1 = 0L // base 257 mod 1e9+7  (MinHash domain)
      var h2 = 0L // base 313 mod 2^30   (mix-hi half)
      var h3 = 0L // base 257 mod 2^30   (mix-lo half)
      val end = math.min(s + n, len)
      var j = s
      while (j < end) {
        if (j > s) { // the joining space, codepoint 32
          h1 = (h1 * 257 + 32) % ModP
          h2 = (h2 * 313 + 32) % Two30
          h3 = (h3 * 257 + 32) % Two30
        }
        val t = strs(j)
        var k = 0
        val tl = t.length
        while (k < tl) {
          val cp = t.codePointAt(k)
          h1 = (h1 * 257 + cp) % ModP
          h2 = (h2 * 313 + cp) % Two30
          h3 = (h3 * 257 + cp) % Two30
          k += Character.charCount(cp)
        }
        j += 1
      }
      ph(s) = h1
      ih(s) = (h2 * graft.text.TextFunctions.SimHashMixHi % Two32 >> 2) * Two30 +
        (h3 * graft.text.TextFunctions.SimHashMixLo % Two32 >> 2)
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(ph),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(ih)))
  }
}

/** Late-interaction MaxSim kernel: `Σ_{q ∈ left} max_{d ∈ right} ⟨q, d⟩`
  * over two bags of int64 token vectors (`array<array<long>>`), the
  * ColBERT scoring rule, fused into one loop nest per (query, doc) row.
  * The naive dataflow materializes |Q tokens|·|doc tokens| rows through
  * a two-level aggregate; this kernel keeps the whole interaction inside
  * whole-stage codegen — same flops, none of the row traffic. Exact
  * int64 (inputs are bounded re-mixed hashes), so results replay in SQL.
  * An empty doc bag scores 0 for every query token. */
case class MaxSimScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "maxsim_score"

  override def nullSafeEval(q: Any, d: Any): Any =
    MaxSimScore.compute(q.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, d) =>
      s"${ev.value} = graft.functions.MaxSimScore.compute($q, $d);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxSimScore =
    copy(left = l, right = r)
}

object MaxSimScore {
  /** Shared by interpreted eval and codegen. */
  def compute(q: ArrayData, d: ArrayData): Long = {
    val nq = q.numElements()
    val nd = d.numElements()
    var total = 0L
    var i = 0
    while (i < nq) {
      val qa = q.getArray(i)
      val dims = qa.numElements()
      var best = Long.MinValue
      var j = 0
      while (j < nd) {
        val da = d.getArray(j)
        FloatVecFold.checkDims(dims, da.numElements())
        var s = 0L
        var k = 0
        while (k < dims) { s += qa.getLong(k) * da.getLong(k); k += 1 }
        if (s > best) best = s
        j += 1
      }
      total += (if (best == Long.MinValue) 0L else best)
      i += 1
    }
    total
  }
}

/** Char n-grams of a string as `array<string>` — the codegen
  * replacement for the higher-order-function formulation
  * `transform(sequence(1, length(t) - n + 1), i -> substring(t, i, n))`,
  * whose lambda evaluates INTERPRETED (~1 µs/element — it was the
  * measured cost center of lang_id_ngram). This is one fused byte scan:
  * code-point start offsets are found once, each gram is a byte-range
  * slice — identical values to SQL substring windows (code-point
  * semantics), so the DuckDB oracle replay is unchanged.
  * `distinct = true` additionally dedupes in first-occurrence order
  * (array_distinct's rule). Strings shorter than n yield an empty
  * array (the explicit guard SQL needs `length(t) >= n` for). */
case class CharNgrams(child: Expression, n: Int, distinct: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"ngram size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(v: Any): Any =
    CharNgrams.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.CharNgrams.compute($v, $n, $distinct);")

  override protected def withNewChildInternal(c: Expression): CharNgrams =
    copy(child = c)
}

object CharNgrams {
  /** Shared by interpreted eval and codegen. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int,
      distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // code-point start offsets (UTF-8 continuation bytes are 10xxxxxx);
    // starts(nc) = len is the end sentinel
    val starts = new Array[Int](len + 1)
    var nc = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(nc) = i; nc += 1 }
      i += 1
    }
    starts(nc) = len
    val m = nc - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    def gram(j: Int): org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, starts(j), starts(j + n)))
    if (!distinct) {
      val out = new Array[Any](m)
      var j = 0
      while (j < m) { out(j) = gram(j); j += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      var j = 0
      while (j < m) { seen.add(gram(j)); j += 1 }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

/** Unicode NFC normalization of a string column — the first step of the
  * text-cleaning pass every web-scale corpus pipeline runs before
  * fingerprinting or tokenizing (the ftfy/"fix-text" stage of
  * CCNet/Dolma-class pipelines): canonically-equivalent byte sequences
  * (`e` + COMBINING ACUTE vs the precomposed `é`) must map to ONE form or
  * exact dedup, shingling, and token counts silently fracture across
  * sources. Spark has no built-in NFC function, so this is a native
  * codegen expression rather than a UDF: the common case (pure-ASCII
  * text, which is NFC by construction) is detected with one byte scan and
  * returns the input UTF8String untouched — no String decode, no
  * allocation — and only rows that actually carry non-ASCII pay the ICU
  * normalization. DuckDB's `nfc_normalize` replays it exactly (both
  * implement Unicode canonical composition).
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.NfcNormalize.compute($v);")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object NfcNormalize {
  /** Shared by interpreted eval and codegen. The ASCII scan reads bytes
    * in place via getByte — getBytes would copy the whole buffer for
    * UnsafeRow-backed strings and defeat the fast path's point. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) {
        // non-ASCII present: decode once; skip re-encoding when already NFC
        val str = s.toString
        return if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
        else org.apache.spark.unsafe.types.UTF8String.fromString(
          java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s // pure ASCII is NFC by construction
  }
}
