package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Per-BUCKET two-level trained-codebook cell assignment — the
  * density-adaptive LSH refinement of ops.SimilarityQueries.lshRefined.
  *
  * Given an LSH bucket id and a 1e-6-quantized vector (array<bigint>),
  * look the bucket up in a broadcast map of per-bucket codebooks
  * (superIds, superVecs, childIdsBySuper, childVecsBySuper — seed
  * vectors strided from the bucket's OWN members, so seed density
  * tracks data density exactly like the global trained IVF). Buckets
  * absent from the map (occupancy within the cap — nothing to split)
  * return -1: the whole cold bucket keeps a single refined cell.
  *
  * Both levels are [[Codebook.argmin]] — the shared (d2, id) tie law
  * the DuckDB oracle's `ROW_NUMBER()` chain evaluates, so cell ids are
  * bit-identical across engines.
  *
  * Cost: O((√k + children-of-super)·d) per row inside whole-stage
  * codegen, k = the bucket's seed count; the codebook moves once per
  * executor as a broadcast — the same device as
  * [[TwoLevelArgminBroadcast]]. Reference analog: broadcast edges
  * feeding per-task lookup state
  * (`tez-runtime-library/src/main/java/org/apache/tez/runtime/library/conf/UnorderedKVEdgeConfig.java`).
  */
case class BucketedArgminBroadcast(
    codebook: Broadcast[Map[Long, TwoLevelBook]],
    left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_cell"

  @transient private lazy val books = codebook.value

  /** Executor-side probe; also the codegen entry point. */
  def cellOf(bucket: Long, v: ArrayData): Long = books.get(bucket) match {
    case None => -1L
    case Some((_, superVecs, childIds, childVecs)) =>
      val x = v.toLongArray()
      val si = Codebook.argmin(x, superVecs, -1)
      // a probed super always has children: every super seed is its own
      // nearest child (supers are a subset of the child seeds), and
      // exact-integer ties route to the smallest duplicate id
      childIds(si)(Codebook.argmin(x, childVecs(si), -1))
  }

  override def nullSafeEval(b: Any, v: Any): Any =
    cellOf(b.asInstanceOf[Long], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLshCell", this,
      classOf[BucketedArgminBroadcast].getName)
    nullSafeCodeGen(ctx, ev, (b, v) => s"${ev.value} = $ref.cellOf($b, $v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketedArgminBroadcast =
    copy(left = newLeft, right = newRight)
}

/** Per-BUCKET nearest SUPER seed — the map-side half of lshRefined's
  * DISTRIBUTED route (ops.SimilarityQueries.lshRefinedDistFrom). Where
  * [[BucketedArgminBroadcast]] holds every child seed of every hot
  * bucket on the driver (state ∝ hot-mass/cap — the growing-with-corpus
  * collect the r10 review flagged), this kernel broadcasts ONLY the
  * per-bucket SUPER seeds (Σ_b ⌈√k_b⌉ rows); the child seeds stay
  * DataFrame blocks keyed by (bucket, super) and meet the routed rows
  * in a SHUFFLE_HASH join, where [[ChildBlockArgmin]] finishes the
  * second level — the same split [[SuperArgminBroadcast]] +
  * child-blocks gives the trained-IVF builder past its driver budget.
  *
  * The scan is [[Codebook.argmin]], as in [[BucketedArgminBroadcast]].
  * Buckets absent from the map (cold — occupancy within the cap)
  * return -1.
  */
case class BucketSuperArgminBroadcast(
    supers: Broadcast[Map[Long, SeedBook]],
    left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_super"

  @transient private lazy val books = supers.value

  /** Executor-side probe; also the codegen entry point. */
  def superOf(bucket: Long, v: ArrayData): Long = books.get(bucket) match {
    case None => -1L
    case Some((sids, vecs)) =>
      val si = Codebook.argmin(v.toLongArray(), vecs, -1)
      if (si < 0) -1L else sids(si)
  }

  override def nullSafeEval(b: Any, v: Any): Any =
    superOf(b.asInstanceOf[Long], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLshSuper", this,
      classOf[BucketSuperArgminBroadcast].getName)
    nullSafeCodeGen(ctx, ev, (b, v) => s"${ev.value} = $ref.superOf($b, $v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketSuperArgminBroadcast =
    copy(left = newLeft, right = newRight)
}
