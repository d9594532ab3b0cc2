package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Two-level TRAINED-codebook cell assignment (the data-seeded IVF of
  * ops.SimilarityQueries.trainedCells): given a 1e-6-quantized vector
  * (array<bigint>) and a broadcast codebook of (superIds, superVecs,
  * childIdsBySuper, childVecsBySuper), return the vec_id of the nearest
  * CHILD seed within the nearest SUPER seed. Both levels are
  * [[Codebook.argmin]] — the shared (d2, id) tie law the DuckDB
  * oracle's `ROW_NUMBER()` chain evaluates, so cell ids are
  * bit-identical across engines.
  *
  * Cost: O((√c + children-of-super)·d) per row in tight long loops with
  * a running-best early exit, inside whole-stage codegen; the codebook
  * (bounded by the builder's driver-seed budget,
  * ops.SimilarityQueries.MaxDriverSeeds; past it the distributed build
  * takes over) moves once per executor as a broadcast —
  * the same device as [[IntervalSlotBroadcast]] and
  * [[SuperArgminBroadcast]]. Reference analog: broadcast edges
  * feeding per-task lookup state
  * (`tez-runtime-library/src/main/java/org/apache/tez/runtime/library/conf/UnorderedKVEdgeConfig.java`).
  */
case class TwoLevelArgminBroadcast(
    codebook: Broadcast[TwoLevelBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_trained_cell"

  @transient private lazy val superVecs = codebook.value._2
  @transient private lazy val childIds = codebook.value._3
  @transient private lazy val childVecs = codebook.value._4

  /** Executor-side probe; also the codegen entry point. */
  def cellOf(v: ArrayData): Long = {
    val x = v.toLongArray()
    val si = Codebook.argmin(x, superVecs, -1)
    // a probed super always has children: every super seed is its own
    // nearest child (ss is a multiple of sc), and exact-integer ties
    // route rows to the smallest duplicate id on both engines
    childIds(si)(Codebook.argmin(x, childVecs(si), -1))
  }

  override def nullSafeEval(v: Any): Any = cellOf(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftTrainedCell", this,
      classOf[TwoLevelArgminBroadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.cellOf($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelArgminBroadcast =
    copy(child = newChild)
}

/** nprobe=2 companion of [[TwoLevelArgminBroadcast]]: the best child of
  * the SECOND-nearest super seed — under two-level routing, the recall
  * that parent-flips lose sits exactly across the super boundary, so
  * that is where the second probe goes (the trained-codebook twin of
  * `graft_ivf_cell_h2`), the oracle's `ROW_NUMBER() ... WHERE rn = 2`:
  * [[Codebook.argmin]] with the nearest super excluded. Normally
  * returns a cell id from a DIFFERENT super's child block than the
  * home cell; in the two degenerate cases it returns
  * the HOME cell instead — a single-super codebook, and a
  * second-nearest super with an EMPTY child block (two super seeds
  * with identical quantized vectors tie every child to the smaller id,
  * leaving the larger-id super childless — in-distribution on a dedup
  * corpus). Both fallbacks mirror the oracle twin's
  * `LEFT JOIN … COALESCE(cell2, cell)`; callers that fan probes out
  * must therefore drop `cell2 = cell` rows to keep pairs disjoint
  * (the declared probe2 query filters that branch). */
case class TwoLevelArgmin2Broadcast(
    codebook: Broadcast[TwoLevelBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_trained_cell2"

  @transient private lazy val superVecs = codebook.value._2
  @transient private lazy val childIds = codebook.value._3
  @transient private lazy val childVecs = codebook.value._4

  /** Executor-side probe; also the codegen entry point. Falls back to
    * the home cell on a single-super codebook AND on an empty
    * second-super child block (duplicate super vectors) — both are the
    * oracle's LEFT JOIN + COALESCE twin. The home-block scan runs ONLY
    * on those fallback paths: the common case pays one super scan plus
    * one si2-block scan, exactly the pre-guard cost. */
  def cellOf(v: ArrayData): Long = {
    val x = v.toLongArray()
    val si = Codebook.argmin(x, superVecs, -1)
    def home: Long = childIds(si)(Codebook.argmin(x, childVecs(si), -1))
    if (superVecs.length < 2) home
    else {
      val si2 = Codebook.argmin(x, superVecs, si)
      if (childVecs(si2).isEmpty) home
      else childIds(si2)(Codebook.argmin(x, childVecs(si2), -1))
    }
  }

  override def nullSafeEval(v: Any): Any = cellOf(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftTrainedCell2", this,
      classOf[TwoLevelArgmin2Broadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.cellOf($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelArgmin2Broadcast =
    copy(child = newChild)
}

/** Third probe of the trained-codebook family: the SECOND-best child
  * WITHIN the home super — the intra-super boundary, complementing
  * [[TwoLevelArgmin2Broadcast]]'s cross-super boundary (a near-dup
  * pair lost by single-probe blocking sits across one of exactly those
  * two seams): the home ranking's `rn = 2`, [[Codebook.argmin]] with
  * the home child excluded. Falls back to the HOME cell when the home
  * super has a single child — the oracle's LEFT JOIN + COALESCE twin —
  * so probe fan-out must drop `cell3 = cell` rows exactly like cell2's. */
case class TwoLevelArgminH2Broadcast(
    codebook: Broadcast[TwoLevelBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_trained_cell_h2"

  @transient private lazy val superVecs = codebook.value._2
  @transient private lazy val childIds = codebook.value._3
  @transient private lazy val childVecs = codebook.value._4

  /** Executor-side probe; also the codegen entry point. */
  def cellOf(v: ArrayData): Long = {
    val x = v.toLongArray()
    val si = Codebook.argmin(x, superVecs, -1)
    val kids = childVecs(si)
    // every builder keeps supers a SUBSET of children, so the home
    // super always has ≥1 child (a super seed is its own nearest
    // child; duplicate-vector ties route to the smaller id on both
    // engines, and so does the row's home-super choice) — fail loudly
    // if a future builder breaks that invariant instead of throwing
    // AIOOBE off Codebook.argmin's -1 sentinel
    require(kids.nonEmpty,
      "TwoLevelArgminH2Broadcast: empty home child block — the " +
        "codebook violates the supers-subset-of-children invariant")
    val ci = Codebook.argmin(x, kids, -1)
    if (kids.length < 2) childIds(si)(ci) // single child: home fallback
    else childIds(si)(Codebook.argmin(x, kids, ci))
  }

  override def nullSafeEval(v: Any): Any = cellOf(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftTrainedCellH2", this,
      classOf[TwoLevelArgminH2Broadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.cellOf($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelArgminH2Broadcast =
    copy(child = newChild)
}

/** ADAPTIVE multi-probe over the trained codebook — the
  * target-retention knob of the near-dup blocking family
  * (ops.SimilarityQueries.trainedAdaptiveCells): instead of a FIXED
  * probe set per row (home / cell2 / cell3), each row probes every
  * child cell of its `nSupers` nearest supers whose seed lies within
  * an integer margin of the nearest NON-HOME child distance hd2
  * (d2·epsDen ≤ hd2·epsNum — "within √(num/den)× of the nearest
  * alternative"; hd2 not hd, because a seed row's home distance is
  * ZERO and a ratio margin off zero strips every probe from exactly
  * the rows sitting on seed points), capped at `maxProbes` cells
  * total. Interior rows
  * (nothing inside the margin) spend ONE probe; boundary rows — where
  * near-dup pairs are actually lost — spend up to the cap, so the
  * retention-per-candidate-mass frontier dominates fixed probe counts
  * (measured in AnnClusteredStress on the clustered corpus).
  *
  * Returns the probe cells as array<bigint>: the home cell first,
  * then qualifying cells ordered by (d2, cid) — [[Codebook]]'s total
  * order, so the DuckDB twin is a windowed ranking
  * with the identical integer margin predicate. Cells are distinct by
  * construction (a child belongs to exactly one super; home is
  * excluded from the qualifying scan). Cost: O(nSupers·√c·d)/row with
  * the margin bound as an early exit — the probe3 cost class. */
case class TwoLevelProbesBroadcast(
    codebook: Broadcast[TwoLevelBook],
    nSupers: Int, maxProbes: Int, epsNum: Long, epsDen: Long,
    child: Expression, interleave: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_trained_probes"

  @transient private lazy val superVecs = codebook.value._2
  @transient private lazy val childIds = codebook.value._3
  @transient private lazy val childVecs = codebook.value._4

  /** Executor-side probe; also the codegen entry point. */
  def probesOf(v: ArrayData): ArrayData = {
    val x = v.toLongArray()
    // the nSupers nearest supers in (d2, sid) order
    val sel = Codebook.topK(x, superVecs, nSupers).pos
    val nS = sel.length
    // home = best child of the nearest super
    val homeKids = childVecs(sel(0))
    require(homeKids.nonEmpty,
      "TwoLevelProbesBroadcast: empty home child block — the codebook " +
        "violates the supers-subset-of-children invariant")
    val hi = Codebook.argmin(x, homeKids, -1)
    val home = childIds(sel(0))(hi)
    // full distance scan of the pooled non-home children: the margin
    // base is hd2 — the NEAREST NON-HOME child distance — not hd (a
    // seed row's hd is ZERO, and a ratio margin off zero would strip
    // every probe from exactly the rows that sit on seed points; the
    // r10 tune caught this as 1600 probe-less rows at 100×, one per
    // child seed). With base hd2 every row keeps ≥2 probes and the
    // margin qualifies cells within √(num/den)× of the nearest
    // alternative, which is the boundary geometry the knob is for.
    val perSuper = Array.fill(nS)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
    var hd2 = Long.MaxValue
    var k = 0
    while (k < nS) {
      val kids = childVecs(sel(k))
      val ids = childIds(sel(k))
      var j = 0
      while (j < kids.length) {
        if (ids(j) != home) {
          val d = Codebook.d2(x, kids(j), Long.MaxValue)
          perSuper(k) += ((d, ids(j)))
          if (d < hd2) hd2 = d
        }
        j += 1
      }
      k += 1
    }
    // qualify iff d2*epsDen <= hd2*epsNum — evaluated as d2 <= bound
    // with bound = floor(hd2*num/den) (equivalent for integers) and an
    // overflow guard so a huge num sentinel means "no margin"
    if (hd2 != Long.MaxValue) {
      val bound =
        if (epsNum != 0 && hd2 > Long.MaxValue / epsNum) Long.MaxValue
        else hd2 * epsNum / epsDen
      k = 0
      while (k < nS) {
        perSuper(k) = perSuper(k).filter(_._1 <= bound)
        k += 1
      }
    }
    val extra =
      if (!interleave)
        // DISTANCE order: globally by (d2, cid) — classic multi-probe
        perSuper.flatten.sorted.take(maxProbes - 1).map(_._2).toSeq
      else {
        // INTERLEAVED order: (rank-within-super, super-rank) — one
        // probe per super before any super's second probe, maximizing
        // the diversity that two-sided pair coverage feeds on (the
        // probe3 fixed set {home, s1c2, s2c1} is this order's prefix)
        val ranked = perSuper.map(_.sorted)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var js = 0
        var have = true
        while (have) {
          have = false
          var sk = 0
          while (sk < nS) {
            if (ranked(sk).length > js) { buf += ranked(sk)(js)._2; have = true }
            sk += 1
          }
          js += 1
        }
        buf.take(maxProbes - 1).toSeq
      }
    new GenericArrayData((home +: extra).toArray)
  }

  override def nullSafeEval(v: Any): Any = probesOf(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftTrainedProbes", this,
      classOf[TwoLevelProbesBroadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.probesOf($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelProbesBroadcast =
    copy(child = newChild)
}
