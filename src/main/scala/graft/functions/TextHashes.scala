package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native implementations of the deterministic text-hash pipeline used by
  * the dedup family (graft.ops.DedupQueries).
  *
  * The SQL-composable forms (transform + 24-term polynomial per element,
  * nested vote folds) are evaluated per-element through the interpreted
  * HigherOrderFunction path — on a 5000-doc corpus that is tens of
  * millions of lambda dispatches and dominates the dedup queries' runtime.
  * These expressions compute the IDENTICAL integer arithmetic (sum of
  * ascii(char_i) * 31^(i-1) over the first `width` chars space-padded /
  * truncated, mod 1e9+7) in tight JVM loops, so results remain
  * bit-for-bit equal to the DuckDB oracle's lambda pipeline.
  *
  * Every expression here implements `doGenCode` as a call into the static
  * kernels of [[TextHashKernels]] (Scala objects expose JVM static
  * forwarders), so the doc-processing stages stay inside whole-stage
  * codegen instead of falling back to interpreted eval per row.
  */
object TextHash {
  val M: Long = graft.oracle.Dialect.M

  private val pow31: Array[Long] = {
    val a = new Array[Long](64)
    a(0) = 1L
    for (i <- 1 until 64) a(i) = a(i - 1) * 31 % M
    a
  }

  /** Polynomial hash of the first `width` characters, space-padded /
    * truncated — exactly rpad(s, width, ' ') → Σ ascii(char_i)·31^(i-1)
    * mod M. Iterates by Unicode CODE POINT (not UTF-16 unit) because the
    * SQL forms it must match bit-for-bit — ascii(substr(...)) in both
    * Spark and DuckDB — index and value characters by code point. */
  def polyHash(s: String, width: Int): Long = {
    var h = 0L
    var i = 0  // code-point position in the padded string
    var ci = 0 // UTF-16 index into s
    while (i < width) {
      val cp =
        if (ci < s.length) {
          // ASCII fast path: a char < 0x80 IS its code point and cannot
          // start a surrogate pair, so codePointAt is skipped on the
          // overwhelmingly common case. Non-ASCII falls through to full
          // code-point decoding — parity with ascii(substr(...)) intact.
          val c0 = s.charAt(ci)
          if (c0 < 0x80) { ci += 1; c0.toInt }
          else { val c = s.codePointAt(ci); ci += Character.charCount(c); c }
        } else 32
      h += cp.toLong * pow31(i)
      i += 1
    }
    h % M
  }

  /** Hash of the space-joined word 3-gram starting at token index i
    * (clamped), without materializing the joined string. Code-point
    * iteration for the same oracle-parity reason as [[polyHash]]. */
  def shingleHash(toks: Array[String], start: Int, width: Int): Long = {
    var h = 0L
    var pos = 0
    var t = start
    val end = math.min(start + 3, toks.length)
    while (t < end && pos < width) {
      if (t > start && pos < width) { h += 32L * pow31(pos); pos += 1 }
      val s = toks(t)
      var ci = 0
      while (ci < s.length && pos < width) {
        // same ASCII fast path as polyHash
        val c0 = s.charAt(ci)
        val cp =
          if (c0 < 0x80) { ci += 1; c0.toInt }
          else { val c = s.codePointAt(ci); ci += Character.charCount(c); c }
        h += cp.toLong * pow31(pos)
        pos += 1
      }
      t += 1
    }
    while (pos < width) { h += 32L * pow31(pos); pos += 1 }
    h % M
  }
}

/** Static kernels shared by interpreted eval and generated code. Scala
  * compiles these to static forwarder methods, so generated Java can call
  * `graft.functions.TextHashKernels.simhash(arr, 48)` directly — one
  * monomorphic call per row, loop bodies JIT-compiled once. */
object TextHashKernels {

  /** array<string> → array<bigint> of per-element polyHashes. */
  def tokenPolyHashes(arr: ArrayData, width: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = TextHash.polyHash(arr.getUTF8String(i).toString, width)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array<string> tokens → DISTINCT hashed word-3-gram shingles. */
  def shingleHashSet(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    val nSh = math.max(n - 2, 1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    var s = 0
    while (s < nSh) { seen += TextHash.shingleHash(toks, s, 24); s += 1 }
    new GenericArrayData(seen.toArray)
  }

  /** array<bigint> token hashes → SimHash signature with `bits` bits. */
  def simhash(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](bits)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < bits) {
        if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** size(array_intersect(a, b)) for BIGINT arrays, no materialization. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[Long](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) { set.add(small.getLong(i)); i += 1 }
    var n = 0
    i = 0
    while (i < large.numElements()) {
      if (set.contains(large.getLong(i))) n += 1
      i += 1
    }
    n
  }

  /** Σ wa[i] over i where ha[i] ∈ hb — the IDF-weighted intersection
    * weight of two distinct-shingle sets, with weights carried alongside
    * the left set (weights are a global function of the shingle, so either
    * side's copy is the same number). BIGINT sum → order-independent. */
  def weightedIntersect(ha: ArrayData, wa: ArrayData, hb: ArrayData): Long = {
    val set = new java.util.HashSet[Long](hb.numElements() * 2)
    var i = 0
    while (i < hb.numElements()) { set.add(hb.getLong(i)); i += 1 }
    var s = 0L
    i = 0
    while (i < ha.numElements()) {
      if (set.contains(ha.getLong(i))) s += wa.getLong(i)
      i += 1
    }
    s
  }

  private val stopwords = java.util.Set.of("the", "a", "of", "and")

  /** One-pass (n_tokens, n_distinct, total_chars, stop_hits) over tokens. */
  def textStats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[String](n * 2)
    var chars = 0L
    var stops = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i).toString
      seen.add(t)
      // length() in both Spark and DuckDB counts code points, not UTF-16
      // units — match that so parity holds beyond the BMP
      chars += t.codePointCount(0, t.length)
      if (stopwords.contains(t)) stops += 1
      i += 1
    }
    InternalRow(n.toLong, seen.size.toLong, chars, stops)
  }

  private def ivfCoef(idx: Long): Double =
    ((1103515245L * idx + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5

  /** Random-hyperplane LSH bucket of a 64-dim float embedding: bit p set
    * iff the projection onto LCG-generated hyperplane p is positive.
    * Strict left-to-right double summation per plane — identical to the
    * SQL fold form in SimilarityQueries.lshBucket, hence to the oracle. */
  def lshBucket(arr: ArrayData, nPlanes: Int): Long = {
    var b = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0.0
      var d = 0
      while (d < 64) {
        s += ivfCoef(p.toLong * 64 + d) * arr.getFloat(d).toDouble
        d += 1
      }
      if (s > 0) b |= 1L << p
      p += 1
    }
    b
  }

  /** One-pass token accounting over the raw text: struct(n_ws_tokens,
    * n_re_tokens, n_bpe_units). Semantics match the HOF forms exactly —
    * ws tokens are maximal runs of non-space (split on ' ', empties
    * filtered), re tokens are maximal [a-z0-9] runs (split on
    * '[^a-z0-9]+'), bpe units are Σ (run_codepoints + 3) div 4 — without
    * materializing either token array. */
  def tokenCounts(str: String): InternalRow = {
    var nWs = 0L
    var nRe = 0L
    var nBpe = 0L
    var inWs = false
    var reLen = 0L
    var ci = 0
    while (ci < str.length) {
      // same ASCII fast path as polyHash; separators are all ASCII so a
      // non-ASCII code point is simply "not a separator" for both splits
      val c0 = str.charAt(ci)
      val cp =
        if (c0 < 0x80) { ci += 1; c0.toInt }
        else { val c = str.codePointAt(ci); ci += Character.charCount(c); c }
      if (cp == ' ') inWs = false
      else { if (!inWs) nWs += 1; inWs = true }
      if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')) {
        if (reLen == 0) nRe += 1
        reLen += 1
      } else if (reLen > 0) { nBpe += (reLen + 3) / 4; reLen = 0 }
    }
    if (reLen > 0) nBpe += (reLen + 3) / 4
    InternalRow(nWs, nRe, nBpe)
  }

  /** 1-based IVF coarse cell: argmin squared-L2 to LCG centroids. */
  private def ivfDistArr(arr: ArrayData, nCells: Int): Array[Double] = {
    val dists = new Array[Double](nCells)
    var j = 0
    while (j < nCells) {
      var dist = 0.0
      var dd = 1
      while (dd <= 64) {
        val c = ivfCoef((7000L + j) * 64 + (dd - 1))
        val x = arr.getFloat(dd - 1).toDouble
        dist += (x - c) * (x - c)
        dd += 1
      }
      dists(j) = dist
      j += 1
    }
    dists
  }

  /** first-position strict-min scan, optionally skipping one index —
    * identical tie-break to the SQL form's array_position(_, array_min). */
  private def argmin(dists: Array[Double], skip: Int): Int = {
    var best = -1
    var bestDist = Double.MaxValue
    var j = 0
    while (j < dists.length) {
      if (j != skip && dists(j) < bestDist) { bestDist = dists(j); best = j }
      j += 1
    }
    best
  }

  def ivfCell(arr: ArrayData, nCells: Int): Int =
    argmin(ivfDistArr(arr, nCells), -1) + 1

  /** second-nearest cell: argmin with the nearest cell masked — the
    * nprobe=2 companion of [[ivfCell]]. */
  def ivfCell2(arr: ArrayData, nCells: Int): Int = {
    val dists = ivfDistArr(arr, nCells)
    argmin(dists, argmin(dists, -1)) + 1
  }

  /** Squared L2 distances to the `s` SUPER-centroids of the two-level
    * coarse quantizer (LCG rows 9000+i). */
  private def superDistArr(arr: ArrayData, s: Int): Array[Double] = {
    val dists = new Array[Double](s)
    var i = 0
    while (i < s) {
      var dist = 0.0
      var dd = 1
      while (dd <= 64) {
        val c = ivfCoef((9000L + i) * 64 + (dd - 1))
        val x = arr.getFloat(dd - 1).toDouble
        dist += (x - c) * (x - c)
        dd += 1
      }
      dists(i) = dist
      i += 1
    }
    dists
  }

  /** Squared L2 distances to super `si`'s `m` CHILD centroids: child
    * (si, j) sits at the midpoint of the super centroid and an
    * independent LCG point (rows 20000+si·m+j) — children cluster near
    * their parent, which is what makes parent-routing a good proxy for
    * the flat argmin. */
  private def childDistArr(arr: ArrayData, si: Int, m: Int): Array[Double] = {
    val dists = new Array[Double](m)
    var j = 0
    while (j < m) {
      var dist = 0.0
      var dd = 1
      while (dd <= 64) {
        val c = 0.5 * (ivfCoef((9000L + si) * 64 + (dd - 1)) +
          ivfCoef((20000L + si.toLong * m + j) * 64 + (dd - 1)))
        val x = arr.getFloat(dd - 1).toDouble
        dist += (x - c) * (x - c)
        dd += 1
      }
      dists(j) = dist
      j += 1
    }
    dists
  }

  /** TWO-LEVEL coarse-quantizer cell (1-based global id si·m + j + 1):
    * argmin over s supers, then argmin over that super's m children —
    * O((s+m)·d) per row instead of the flat quantizer's O(s·m·d),
    * which is what lets the cell count grow ∝ corpus (constant
    * occupancy) without assignment itself going superlinear. */
  def ivfCellH(arr: ArrayData, s: Int, m: Int): Int = {
    val si = argmin(superDistArr(arr, s), -1)
    si * m + argmin(childDistArr(arr, si, m), -1) + 1
  }

  /** nprobe=2 companion: best child of the SECOND-nearest super — the
    * cross-super-boundary probe, aimed exactly at the neighbors the
    * two-level routing can lose to a parent flip. */
  def ivfCellH2(arr: ArrayData, s: Int, m: Int): Int = {
    val sd = superDistArr(arr, s)
    val si2 = argmin(sd, argmin(sd, -1))
    si2 * m + argmin(childDistArr(arr, si2, m), -1) + 1
  }
}

/** array<string> → array<bigint>: polyHash of each element. */
case class TokenPolyHashes(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.tokenPolyHashes(input.asInstanceOf[ArrayData], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.tokenPolyHashes($c, $width)")
  override protected def withNewChildInternal(c: Expression): TokenPolyHashes =
    copy(child = c)
}

/** array<string> tokens → DISTINCT hashed word-3-gram shingles
  * (array<bigint>); equals array_distinct(transform(shingles3(toks),
  * s -> polyHash(s, 24))) — set-equal, which is all downstream consumers
  * (intersections, sizes, minhash mins) depend on. */
case class ShingleHashSet3(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash_set"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.shingleHashSet(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.shingleHashSet($c)")
  override protected def withNewChildInternal(c: Expression): ShingleHashSet3 =
    copy(child = c)
}

/** array<bigint> token hashes → SimHash signature with `bits` bits:
  * bit i set iff Σ_h (±1 by bit i of h) > 0. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.simhash(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.simhash($c, $bits)")
  override protected def withNewChildInternal(c: Expression): SimHashExpr =
    copy(child = c)
}

object TextHashFunctions {
  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** Idempotent registration of the text-hash family's SQL names
    * (the Column constructors are in [[graft.functions]]). */
  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    r.createOrReplaceTempFunction("graft_token_hashes",
      exprs => TokenPolyHashes(exprs(0), litInt(exprs(1))), "scala_udf")
    r.createOrReplaceTempFunction("graft_shingle_hash_set",
      exprs => ShingleHashSet3(exprs(0)), "scala_udf")
    r.createOrReplaceTempFunction("graft_simhash",
      exprs => SimHashExpr(exprs(0), litInt(exprs(1))), "scala_udf")
    r.createOrReplaceTempFunction("graft_intersect_size",
      exprs => IntersectSizeExpr(exprs(0), exprs(1)), "scala_udf")
    r.createOrReplaceTempFunction("graft_weighted_intersect",
      exprs => WeightedIntersectExpr(exprs(0), exprs(1), exprs(2)), "scala_udf")
    r.createOrReplaceTempFunction("graft_text_stats",
      exprs => TextStatsExpr(exprs(0)), "scala_udf")
    r.createOrReplaceTempFunction("graft_ivf_cell",
      exprs => IvfCellExpr(exprs(0), litInt(exprs(1))), "scala_udf")
    r.createOrReplaceTempFunction("graft_ivf_cell2",
      exprs => IvfCell2Expr(exprs(0), litInt(exprs(1))), "scala_udf")
    r.createOrReplaceTempFunction("graft_ivf_cell_h",
      exprs => IvfCellHExpr(exprs(0), litInt(exprs(1)), litInt(exprs(2))),
      "scala_udf")
    r.createOrReplaceTempFunction("graft_ivf_cell_h2",
      exprs => IvfCellH2Expr(exprs(0), litInt(exprs(1)), litInt(exprs(2))),
      "scala_udf")
    r.createOrReplaceTempFunction("graft_lsh_bucket",
      exprs => LshBucketExpr(exprs(0), litInt(exprs(1))), "scala_udf")
    r.createOrReplaceTempFunction("graft_token_counts",
      exprs => TokenCountsExpr(exprs(0)), "scala_udf")
    r.createOrReplaceTempFunction("graft_hilbert",
      exprs => HilbertExpr(exprs(0), exprs(1), litInt(exprs(2))), "scala_udf")
  }
}

/** size(array_intersect(a, b)) for BIGINT arrays without materializing
  * the intersection array — the pair-verification hot path of the dedup
  * family runs millions of these per stage. Inputs are already distinct
  * per document, so the count equals the distinct-intersection size. */
case class IntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashKernels.intersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextHashKernels.intersectSize($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IntersectSizeExpr = copy(left = l, right = r)
}

/** IDF-weighted intersection weight Σ_{s ∈ A∩B} w(s) for distinct BIGINT
  * shingle sets, weights aligned index-wise with the left set (both arrays
  * split from one collect_list(struct(s, w)), so alignment is structural).
  * Replaces a shingle-level (doc_id, s) equi-join + re-aggregation in the
  * weighted-dedup verifier with one expression call per candidate pair —
  * the same array-rejoin shape the unweighted MinHash verifier uses. */
case class WeightedIntersectExpr(ha: Expression, wa: Expression, hb: Expression)
    extends TernaryExpression {
  override def first: Expression = ha
  override def second: Expression = wa
  override def third: Expression = hb
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_weighted_intersect"
  override protected def nullSafeEval(a: Any, w: Any, b: Any): Any =
    TextHashKernels.weightedIntersect(a.asInstanceOf[ArrayData],
      w.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w, b) =>
      s"graft.functions.TextHashKernels.weightedIntersect($a, $w, $b)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WeightedIntersectExpr =
    copy(ha = f, wa = s, hb = t)
}

/** One-pass token statistics: struct(n_tokens, n_distinct, total_chars,
  * stop_hits) over an array<string> token column. Replaces four separate
  * interpreted HOF folds that each re-derived the token array; the
  * integer outputs are identical, and downstream ratios divide the same
  * integers in the same order as the DuckDB oracle. */
case class TextStatsExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
  override def prettyName: String = "graft_text_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.textStats(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.textStats($c)")
  override protected def withNewChildInternal(c: Expression): TextStatsExpr =
    copy(child = c)
}

/** IVF coarse-quantizer cell for a 64-dim float embedding: argmin of
  * squared L2 distance to `nCells` deterministic LCG-generated centroids
  * (same formula as the SQL-composable form in SimilarityQueries — exact
  * integer LCG, one exact division, strict left-to-right double sums —
  * so cell ids are bit-identical to the DuckDB oracle's). First-minimum
  * tie-break matches list_position(dists, list_min(dists)). Returns the
  * 1-based cell index. */
/** Hyperplane-sign LSH bucket (bit p = sign of projection onto LCG plane
  * p) for a 64-dim float embedding. Replaces a ~6×64-term interpreted HOF
  * fold per row with one tight codegen'd loop; double summation order is
  * strictly left-to-right per plane, so bucket ids are bit-identical to
  * the SQL fold and the DuckDB oracle. `nPlanes` is the scale knob:
  * buckets = 2^nPlanes. */
case class LshBucketExpr(child: Expression, nPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.lshBucket(input.asInstanceOf[ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.lshBucket($c, $nPlanes)")
  override protected def withNewChildInternal(c: Expression): LshBucketExpr =
    copy(child = c)
}

/** One-pass token accounting over raw text: struct(n_ws_tokens,
  * n_re_tokens, n_bpe_units) with HOF-identical semantics (see
  * [[TextHashKernels.tokenCounts]]) and zero array materialization —
  * the corpus-accounting scan is pure map-side arithmetic. */
case class TokenCountsExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_ws_tokens", LongType, nullable = false),
    StructField("n_re_tokens", LongType, nullable = false),
    StructField("n_bpe_units", LongType, nullable = false)))
  override def prettyName: String = "graft_token_counts"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.tokenCounts(input.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.tokenCounts($c.toString())")
  override protected def withNewChildInternal(c: Expression): TokenCountsExpr =
    copy(child = c)
}

case class IvfCellExpr(child: Expression, nCells: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_cell"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.ivfCell(input.asInstanceOf[ArrayData], nCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.ivfCell($c, $nCells)")
  override protected def withNewChildInternal(c: Expression): IvfCellExpr =
    copy(child = c)
}

/** Second-nearest IVF cell (nprobe=2 probe target). */
case class IvfCell2Expr(child: Expression, nCells: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_cell2"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.ivfCell2(input.asInstanceOf[ArrayData], nCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.ivfCell2($c, $nCells)")
  override protected def withNewChildInternal(c: Expression): IvfCell2Expr =
    copy(child = c)
}

/** Two-level coarse-quantizer cell (s supers × m children). */
case class IvfCellHExpr(child: Expression, s: Int, m: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_cell_h"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.ivfCellH(input.asInstanceOf[ArrayData], s, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.ivfCellH($c, $s, $m)")
  override protected def withNewChildInternal(c: Expression): IvfCellHExpr =
    copy(child = c)
}

/** Two-level probe2 cell: best child of the second-nearest super. */
case class IvfCellH2Expr(child: Expression, s: Int, m: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_cell_h2"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.ivfCellH2(input.asInstanceOf[ArrayData], s, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.ivfCellH2($c, $s, $m)")
  override protected def withNewChildInternal(c: Expression): IvfCellH2Expr =
    copy(child = c)
}
