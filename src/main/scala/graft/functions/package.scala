package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{coalesce, col, lit, sqrt}
import org.apache.spark.sql.internal.SQLConf

/** Column constructors for the graft kernels — the query-building
  * surface of the expression family. Each returns the same Catalyst
  * expression the SQL name resolves to (`graft_vec_dot` → [[VecDot]],
  * …), so plans and codegen match the SQL surface exactly, but no
  * session function registry is involved: a builder calls the kernel
  * as a Column, and a kernel that carries a broadcast (a codebook, a
  * bloom filter, an interval table) takes the handle as an argument,
  * the way a Tez processor receives its BROADCAST input on its edge
  * rather than by name from a global table (SURVEY.md §0, §2b, §7).
  *
  * The `graft_*` SQL names stay available through
  * [[GraftFunctions.register]] / [[TextHashFunctions.register]] (and
  * `spark.sql.extensions=graft.GraftExtensions`) for SQL users. */
package object functions {

  /** Codebook of the two-level trained quantizer: (super ids, super
    * seeds, per-super child ids, per-super child seeds) —
    * [[Codebook.group]]'s output. */
  type TwoLevelBook = (Array[Long], Array[Array[Long]],
    Array[Array[Long]], Array[Array[Array[Long]]])

  /** A flat seed list: (ids, quantized seeds). */
  type SeedBook = (Array[Long], Array[Array[Long]])

  private def e(c: Column) = expression(c)

  // ---- fixed kernels (the SQL surface's graft_* functions) -----------

  def vecDot(a: Column, b: Column): Column = column(VecDot(e(a), e(b)))

  /** `graft_vec_dot(v, v) AS n2` — a vector's squared norm, computed
    * once per row so pair cosines never recompute it. */
  def norm2(v: String): Column = vecDot(col(v), col(v)).as("n2")

  /** `(graft_vec_dot(a, b) / sqrt(an2 * bn2)) AS cosine` over named
    * vector and squared-norm columns. */
  def cosine(a: String, b: String, an2: String, bn2: String): Column =
    (vecDot(col(a), col(b)) / sqrt(col(an2) * col(bn2))).as("cosine")

  // the quantized-vector kernels ([[VecKernels]]); ANSI errors follow
  // the session conf at Column build, as Spark's arithmetic does
  private def ansi = SQLConf.get.ansiEnabled
  def quantize(v: Column, scale: Long): Column = column(QuantizeExpr(e(v), scale))
  def dist2(a: Column, b: Column): Column = column(Dist2Expr(e(a), e(b), ansi))
  def sub(a: Column, b: Column): Column = column(VecSubExpr(e(a), e(b), ansi))
  def sq8(v: Column, mn: Column, mx: Column): Column =
    column(Sq8Expr(e(v), e(mn), e(mx), ansi))
  def tokens(text: Column): Column = column(TokensExpr(e(text)))

  def lcp(a: Column, b: Column): Column = column(Lcp(e(a), e(b)))
  def tokenHashes(tokens: Column, width: Int): Column =
    column(TokenPolyHashes(e(tokens), width))
  def shingleHashSet(tokens: Column): Column = column(ShingleHashSet3(e(tokens)))
  def simhash(hashes: Column, bits: Int): Column = column(SimHashExpr(e(hashes), bits))
  def intersectSize(a: Column, b: Column): Column =
    column(IntersectSizeExpr(e(a), e(b)))
  def weightedIntersect(ha: Column, wa: Column, hb: Column): Column =
    column(WeightedIntersectExpr(e(ha), e(wa), e(hb)))
  def textStats(text: Column): Column = column(TextStatsExpr(e(text)))
  def tokenCounts(text: Column): Column = column(TokenCountsExpr(e(text)))
  def ivfCell(v: Column, nCells: Int): Column = column(IvfCellExpr(e(v), nCells))
  def ivfCell2(v: Column, nCells: Int): Column = column(IvfCell2Expr(e(v), nCells))
  def ivfCellH(v: Column, s: Int, m: Int): Column = column(IvfCellHExpr(e(v), s, m))
  def ivfCellH2(v: Column, s: Int, m: Int): Column = column(IvfCellH2Expr(e(v), s, m))
  def lshBucket(v: Column, nPlanes: Int): Column = column(LshBucketExpr(e(v), nPlanes))
  def hilbert(x: Column, y: Column, bits: Int): Column =
    column(HilbertExpr(e(x), e(y), bits))

  /** `graft_bloom_agg(h, estimatedNumItems, numBits)`: the build side
    * of a spark-sketch bloom filter over xxhash64 values. */
  def bloomAgg(h: Column, estimatedNumItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(e(h), Literal(estimatedNumItems),
      Literal(numBits)).toAggregateExpression())

  /** `coalesce(key, -1L)`: a kernel-valued join key marked
    * non-nullable (the kernels never return null here), so the join's
    * null-key elimination cannot plant an `isnotnull(kernel(..))`
    * filter that evaluates the O(√c·d) routing a second time per row
    * (seen in the r09 plan audit of the two-level dist build). */
  def joinKey(key: Column): Column = coalesce(key, lit(-1L))

  // ---- broadcast-carrying kernels -------------------------------------

  def bloomProbe(bloom: Broadcast[Array[Byte]], h: Column): Column =
    column(BloomMightContainBroadcast(bloom, e(h)))
  def intervalSlot(ranges: Broadcast[(Array[Long], Array[Long])],
      k: Column): Column = column(IntervalSlotBroadcast(ranges, e(k)))
  def trainedCell(book: Broadcast[TwoLevelBook], qv: Column): Column =
    column(TwoLevelArgminBroadcast(book, e(qv)))
  def trainedCell2(book: Broadcast[TwoLevelBook], qv: Column): Column =
    column(TwoLevelArgmin2Broadcast(book, e(qv)))
  def trainedCellH2(book: Broadcast[TwoLevelBook], qv: Column): Column =
    column(TwoLevelArgminH2Broadcast(book, e(qv)))
  def trainedProbes(book: Broadcast[TwoLevelBook], nSupers: Int,
      maxProbes: Int, epsNum: Long, epsDen: Long, qv: Column,
      interleave: Boolean): Column =
    column(TwoLevelProbesBroadcast(book, nSupers, maxProbes, epsNum,
      epsDen, e(qv), interleave))
  def superArgmin(supers: Broadcast[SeedBook], qv: Column): Column =
    column(SuperArgminBroadcast(supers, e(qv)))
  def superArgmin2(supers: Broadcast[SeedBook], qv: Column): Column =
    column(SuperArgmin2Broadcast(supers, e(qv)))
  def superTopK(k: Int, supers: Broadcast[SeedBook], qv: Column): Column =
    column(SuperTopKBroadcast(k, supers, e(qv)))
  def lshCell(book: Broadcast[Map[Long, TwoLevelBook]], bucket: Column,
      v: Column): Column = column(BucketedArgminBroadcast(book, e(bucket), e(v)))
  def lshSuper(supers: Broadcast[Map[Long, SeedBook]], bucket: Column,
      v: Column): Column = column(BucketSuperArgminBroadcast(supers, e(bucket), e(v)))

  // ---- block scans (a row's vector against its joined seed block) ----

  def blockArgmin(qv: Column, block: Column): Column =
    column(ChildBlockArgmin(e(qv), e(block)))
  def blockArgmin2(qv: Column, block: Column): Column =
    column(ChildBlockArgmin2(e(qv), e(block)))
  def blockTopKD(k: Int, qv: Column, block: Column): Column =
    column(ChildBlockTopKD(k, e(qv), e(block)))
}
