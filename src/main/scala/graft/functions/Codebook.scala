package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The two-level codebook's one scan and its driver-side construction
  * — the ONE place the load-bearing tie law lives. Every argmin/top-K
  * kernel (the TwoLevel*, Super*, ChildBlock* and Bucket* families)
  * scans through here, and every driver-side book (trainedCells' IVF
  * seeds, lshRefined's per-bucket books, pq256Est's per-subspace books,
  * semClusters' per-Lloyd-round centroid books) is built here. A
  * tie-law tweak applied to one copy but not another would diverge an
  * engine from its DuckDB twin only on collision-bearing corpora — the
  * hardest divergence to debug (ArgminKernelProps keeps its own naive
  * mirror on purpose, as the independent reference the kernels are
  * property-tested against).
  *
  * The law: distances are EXACT integer squared-L2 over 1e-6-quantized
  * vectors; seeds are fed sorted ascending by id, and every scan keeps
  * the FIRST minimum (strict `<`), so ties go to the smallest id — the
  * total order `(d2, id)` every oracle `ROW_NUMBER() OVER (ORDER BY
  * dist2, id)` evaluates. Each scan has two forms: over driver-side
  * seed arrays (a broadcast book) and over a joined
  * `array<struct<id bigint, vec array<bigint>>>` block read in place
  * (no per-row copy). Scans return POSITIONS; the caller maps them to
  * ids.
  */
object Codebook {

  // ---- the scan --------------------------------------------------------

  /** Squared L2 of `x` against seed `c`, exact whenever it is below
    * `bound`; once the partial sum reaches `bound` the scan stops and
    * returns it (a value ≥ bound — a candidate that cannot win). */
  def d2(x: Array[Long], c: Array[Long], bound: Long): Long = {
    var d = 0L; var j = 0
    while (j < x.length && d < bound) {
      val t = x(j) - c(j); d += t * t; j += 1
    }
    d
  }

  /** [[d2]] against a block entry's vector, read in place. */
  def d2(x: Array[Long], c: ArrayData, bound: Long): Long = {
    var d = 0L; var j = 0
    while (j < x.length && d < bound) {
      val t = x(j) - c.getLong(j); d += t * t; j += 1
    }
    d
  }

  /** Position of the first (d2, position)-minimum of `vecs`, skipping
    * position `excl` (pass -1 to skip none); -1 when nothing is left. */
  def argmin(x: Array[Long], vecs: Array[Array[Long]], excl: Int): Int = {
    var best = -1; var bestD = Long.MaxValue; var i = 0
    while (i < vecs.length) {
      if (i != excl) {
        val d = d2(x, vecs(i), bestD)
        if (d < bestD) { bestD = d; best = i }
      }
      i += 1
    }
    best
  }

  /** [[argmin]] over a joined block. */
  def argmin(x: Array[Long], block: ArrayData, excl: Int): Int = {
    var best = -1; var bestD = Long.MaxValue; var i = 0
    val n = block.numElements()
    while (i < n) {
      if (i != excl) {
        val d = d2(x, vec(block, i), bestD)
        if (d < bestD) { bestD = d; best = i }
      }
      i += 1
    }
    best
  }

  /** The `min(k, n)` nearest seeds in (d2, position) order: their
    * positions and EXACT distances (the early exit only abandons seeds
    * that cannot enter the top-K). Empty for k ≤ 0. */
  final class TopK(val pos: Array[Int], val dist: Array[Long]) {
    def size: Int = pos.length
  }

  def topK(x: Array[Long], vecs: Array[Array[Long]], k: Int): TopK = {
    val acc = new TopKAcc(math.min(k, vecs.length))
    var i = 0
    while (i < vecs.length) { acc.offer(i, d2(x, vecs(i), acc.bound)); i += 1 }
    acc.result
  }

  /** [[topK]] over a joined block. */
  def topK(x: Array[Long], block: ArrayData, k: Int): TopK = {
    val n = block.numElements()
    val acc = new TopKAcc(math.min(k, n))
    var i = 0
    while (i < n) { acc.offer(i, d2(x, vec(block, i), acc.bound)); i += 1 }
    acc.result
  }

  /** Stable insertion into a sorted prefix: an equal distance lands
    * after the seeds already kept, so earlier positions win ties. */
  private final class TopKAcc(m: Int) {
    private val dists = Array.fill(math.max(m, 0))(Long.MaxValue)
    private val ps = new Array[Int](math.max(m, 0))
    private var filled = 0
    def bound: Long = if (m <= 0) Long.MinValue else dists(m - 1)
    def offer(i: Int, d: Long): Unit = if (d < bound) {
      var p = filled
      while (p > 0 && dists(p - 1) > d) p -= 1
      var q = math.min(filled, m - 1)
      while (q > p) { dists(q) = dists(q - 1); ps(q) = ps(q - 1); q -= 1 }
      dists(p) = d; ps(p) = i
      if (filled < m) filled += 1
    }
    def result: TopK = new TopK(java.util.Arrays.copyOf(ps, filled),
      java.util.Arrays.copyOf(dists, filled))
  }

  /** Block entry `i`'s id. */
  def id(block: ArrayData, i: Int): Long = block.getStruct(i, 2).getLong(0)

  private def vec(block: ArrayData, i: Int): ArrayData =
    block.getStruct(i, 2).getArray(1)

  // ---- construction ----------------------------------------------------

  /** Rank stride of the supers over k children: the smallest z with
    * z² ≥ k, capped at 256 — every z-th child (by id rank) is a super,
    * so a book of k children has ⌈k/z⌉ ≈ √k supers. */
  def superStride(k: Long): Int =
    (1 to 256).find(z => z.toLong * z >= k).getOrElse(256)

  /** (superIds, superVecs, childIdsBySuper, childVecsBySuper) — the
    * broadcast tuple the TwoLevelArgmin* kernel family consumes: each
    * child grouped to its nearest super by the scan above, each
    * super's block ascending by child id. Both seed lists come sorted
    * ascending by id. */
  def group(children: SeedBook, supers: SeedBook): TwoLevelBook = {
    val (cIds, cVecs) = children
    val kids = Array.fill(supers._1.length)(
      scala.collection.mutable.ArrayBuilder.make[Int])
    cVecs.indices.foreach(c => kids(argmin(cVecs(c), supers._2, -1)) += c)
    val members = kids.map(_.result())
    (supers._1, supers._2,
      members.map(_.map(c => cIds(c))), members.map(_.map(c => cVecs(c))))
  }

  /** The rank book: every [[superStride]]-th child (by id rank) is a
    * super, then [[group]] — trainedCells' filtered mode, lshRefined's
    * per-bucket books, pq256Est's per-subspace books and semClusters'
    * centroid books. */
  def rankBook(children: SeedBook): TwoLevelBook = {
    val (ids, vecs) = children
    val sb = superStride(ids.length)
    val at = ids.indices.filter(_ % sb == 0).toArray
    group(children, (at.map(j => ids(j)), at.map(j => vecs(j))))
  }
}
