package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType}

/** SUPER-level routing for the DISTRIBUTED trained codebook
  * (ops.SimilarityQueries.trainedCells' dist route): given a 1e-6-quantized
  * vector, return the vec_id of the nearest SUPER seed —
  * [[Codebook.argmin]], the same scan as [[TwoLevelArgminBroadcast]]'s
  * outer level.
  *
  * This kernel is the piece of the codebook that IS allowed to transit
  * the driver: only the ⌈√c⌉ super seeds ride the broadcast (O(√c·d)
  * driver/executor state), while the c child seeds stay a DataFrame —
  * the answer to the trained-codebook growth ceiling (seeds ∝ N/125
  * meant a ~40 GB driver collect at 10¹⁰ rows on the one-broadcast
  * path). Reference analog: broadcast edges feeding per-task lookup
  * state (`tez-runtime-library/src/main/java/org/apache/tez/runtime/library/conf/UnorderedKVEdgeConfig.java`).
  */
case class SuperArgminBroadcast(
    supers: Broadcast[SeedBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_super_argmin"

  @transient private lazy val sids = supers.value._1
  @transient private lazy val vecs = supers.value._2

  /** Executor-side probe; also the codegen entry point. */
  def argmin(v: ArrayData): Long =
    sids(Codebook.argmin(v.toLongArray(), vecs, -1))

  override def nullSafeEval(v: Any): Any = argmin(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSuperArgmin", this,
      classOf[SuperArgminBroadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.argmin($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): SuperArgminBroadcast =
    copy(child = newChild)
}

/** SECOND-nearest super routing — the distributed twin of
  * [[TwoLevelArgmin2Broadcast]]'s outer level: [[Codebook.argmin]]
  * with the nearest super excluded. On a single-super codebook it returns
  * the HOME super id, so the downstream block join + argmin lands on the
  * home cell — exactly the broadcast kernel's degenerate fallback (and
  * the oracle's `LEFT JOIN … COALESCE(cell2, cell)`); the other fallback
  * (second super with an EMPTY child block) falls out of the join itself:
  * a childless super has no blocks row, the LEFT join misses, and the
  * caller's COALESCE lands on the home cell. */
case class SuperArgmin2Broadcast(
    supers: Broadcast[SeedBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_super_argmin2"

  @transient private lazy val sids = supers.value._1
  @transient private lazy val vecs = supers.value._2

  /** Executor-side probe; also the codegen entry point. */
  def argmin2(v: ArrayData): Long = {
    val x = v.toLongArray()
    val si = Codebook.argmin(x, vecs, -1)
    if (vecs.length < 2) sids(si) else sids(Codebook.argmin(x, vecs, si))
  }

  override def nullSafeEval(v: Any): Any = argmin2(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSuperArgmin2", this,
      classOf[SuperArgmin2Broadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.argmin2($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): SuperArgmin2Broadcast =
    copy(child = newChild)
}

/** CHILD-level routing against a JOINED block — the second half of the
  * distributed trained codebook: `argmin(qv, block)` over
  * `block: array<struct<cid bigint, cv array<bigint>>>` (sorted
  * ascending by cid — `sort_array` on the struct sorts by the leading
  * field) returns the cid of the nearest child seed by
  * [[Codebook.argmin]]'s block form. The block
  * arrives through a SHUFFLE join keyed on the super id, so each task
  * holds only its partition's child blocks and the full codebook never
  * materializes in any single JVM — the shape that survives c ∝ N.
  * Distances read the struct's array in place (no per-child copy). */
case class ChildBlockArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_block_argmin"

  /** Executor-side probe; also the codegen entry point. Returns -1 on
    * an empty block (unreachable through the dist route's inner join
    * — a group only exists when a child seed routed to it). */
  def argmin(qv: ArrayData, block: ArrayData): Long = {
    val ci = Codebook.argmin(qv.toLongArray(), block, -1)
    if (ci < 0) -1L else Codebook.id(block, ci)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    argmin(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBlockArgmin", this,
      classOf[ChildBlockArgmin].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.argmin($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ChildBlockArgmin =
    copy(left = newLeft, right = newRight)
}

/** TOP-K nearest SUPER ids from the broadcast super array, ordered by
  * (d2, sid) — the beam generalization of [[SuperArgminBroadcast]] /
  * [[SuperArgmin2Broadcast]] for the adaptive multi-probe family's
  * DISTRIBUTED route: a row's nSupers nearest supers in one scan,
  * exploded into the SHUFFLE_HASH join against the child blocks.
  * [[Codebook.topK]], the same selection as the block-side
  * [[ChildBlockTopKD]]. Returns fewer than K entries when the codebook
  * has fewer supers, none for K ≤ 0. */
case class SuperTopKBroadcast(k: Int,
    supers: Broadcast[SeedBook],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_super_topk"

  @transient private lazy val sids = supers.value._1
  @transient private lazy val vecs = supers.value._2

  /** Executor-side probe; also the codegen entry point. */
  def topk(qv: ArrayData): ArrayData =
    new GenericArrayData(
      Codebook.topK(qv.toLongArray(), vecs, k).pos.map(i => sids(i)))

  override def nullSafeEval(v: Any): Any = topk(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSuperTopK", this,
      classOf[SuperTopKBroadcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.topk($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): SuperTopKBroadcast =
    copy(child = newChild)
}

/** TOP-K nearest (d2, id) PAIRS within a joined block — the
  * distance-carrying block top-K, for reductions
  * that must COMPARE candidates across blocks downstream (the
  * adaptive prober's home / margin-base / interleave law needs the
  * distances, not just the ids): [[Codebook.topK]]'s block form, whose
  * kept entries carry EXACT distances. Empty for K ≤ 0. */
case class ChildBlockTopKD(k: Int, left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_block_topkd"

  /** Executor-side probe; also the codegen entry point. */
  def topkd(qv: ArrayData, block: ArrayData): ArrayData = {
    val top = Codebook.topK(qv.toLongArray(), block, k)
    new GenericArrayData(Array.tabulate[Any](top.size)(i => new GenericInternalRow(
      Array[Any](top.dist(i), Codebook.id(block, top.pos(i))))))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    topkd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBlockTopKD", this,
      classOf[ChildBlockTopKD].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.topkd($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ChildBlockTopKD =
    copy(left = newLeft, right = newRight)
}

/** SECOND-best child within a joined block — the distributed twin of
  * [[TwoLevelArgminH2Broadcast]]'s inner level: the home ranking's
  * `rn = 2`, [[Codebook.argmin]]'s block form with the best child
  * excluded. On a single-child block it
  * returns the best child itself — i.e. the home cell — the broadcast
  * kernel's fallback and the oracle's `COALESCE(cell3, cell)`; probe
  * fan-outs drop `cell3 = cell` rows exactly as before. Returns -1 on
  * an empty block (unreachable through the home-side inner join). */
case class ChildBlockArgmin2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_block_argmin2"

  /** Executor-side probe; also the codegen entry point. */
  def argmin2(qv: ArrayData, block: ArrayData): Long = {
    val x = qv.toLongArray()
    val n = block.numElements()
    if (n == 0) -1L
    else if (n < 2) Codebook.id(block, 0) // single child: home
    else {
      val ci = Codebook.argmin(x, block, -1)
      Codebook.id(block, Codebook.argmin(x, block, ci))
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    argmin2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBlockArgmin2", this,
      classOf[ChildBlockArgmin2].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.argmin2($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ChildBlockArgmin2 =
    copy(left = newLeft, right = newRight)
}
