package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{BucketSuperArgminBroadcast, BucketedArgminBroadcast,
  ChildBlockArgmin, ChildBlockArgmin2, ChildBlockTopKD, SuperArgmin2Broadcast,
  SuperArgminBroadcast, SuperTopKBroadcast, TwoLevelArgmin2Broadcast,
  TwoLevelArgminBroadcast, TwoLevelArgminH2Broadcast, TwoLevelProbesBroadcast}

/** ScalaCheck properties for the broadcast-codebook argmin kernels,
  * against a naive reference argmin — the tie totality the DuckDB
  * oracle only exercises on fixture data distributions. The contract
  * all three kernels share: exact integer squared-L2; both levels tie
  * to the SMALLEST seed id (seed arrays sorted ascending,
  * first-minimum scan); probe2 excludes the nearest super then applies
  * the same rule; a bucket absent from a bucketed codebook yields -1.
  * Coordinates are drawn from a tiny range so duplicate seed VECTORS
  * (exact ties at every distance) are common — the case where a sloppy
  * `<=` or hash-ordered iteration would silently diverge from the
  * oracle's `ORDER BY dist2, sid`.
  */
object ArgminKernelProps extends Properties("ArgminKernels") {

  private val Dim = 8

  private def d2(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** Naive reference: smallest (dist, id) over (ids, vecs). */
  private def refArgmin(x: Array[Long], ids: Array[Long],
      vecs: Array[Array[Long]]): Long =
    ids.zip(vecs).minBy { case (id, v) => (d2(x, v), id) }._1

  private val coord = Gen.choose(-3L, 3L)
  private val vec: Gen[Array[Long]] = Gen.listOfN(Dim, coord).map(_.toArray)

  /** A two-level codebook from a sorted pool of (id, vec) seeds: every
    * sb-th seed is a super, children grouped by nearest super — the
    * exact construction trainedCells and lshRefined share. */
  private def build(seeds: List[(Long, Array[Long])])
      : (Array[Long], Array[Array[Long]], Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val children = seeds.sortBy(_._1).toArray
    val sb = (1 to 256).find(z => z * z >= children.length).getOrElse(256)
    val supers = children.zipWithIndex.collect {
      case (c, j) if j % sb == 0 => c
    }
    val bySuper = children.groupBy { case (_, cv) =>
      supers.minBy { case (sid, sv) => (d2(cv, sv), sid) }._1
    }
    val empty = Array.empty[(Long, Array[Long])]
    val kids = supers.map(sp => bySuper.getOrElse(sp._1, empty).sortBy(_._1))
    (supers.map(_._1), supers.map(_._2),
      kids.map(_.map(_._1)), kids.map(_.map(_._2)))
  }

  private val seedsGen: Gen[List[(Long, Array[Long])]] = for {
    n <- Gen.choose(1, 12)
    ids <- Gen.listOfN(n, Gen.choose(0L, 40L)).map(_.distinct)
    vs <- Gen.listOfN(ids.length, vec)
  } yield ids.zip(vs)

  property("two-level routing = two-level reference with smallest-id ties") =
    forAll(seedsGen, vec) { (seeds, x) =>
      val (sIds, sVecs, cIds, cVecs) = build(seeds)
      val bc = SparkTestSession.spark.sparkContext
        .broadcast((sIds, sVecs, cIds, cVecs))
      val kernel = TwoLevelArgminBroadcast(bc, null)
      val got = kernel.cellOf(ArrayData.toArrayData(x))
      val si = sIds.indices.minBy(i => (d2(x, sVecs(i)), sIds(i)))
      val want = refArgmin(x, cIds(si), cVecs(si))
      bc.destroy()
      got == want
    }

  /** Reference probe2 WITH the kernel's fallback law: home cell on a
    * single-super codebook and on an empty second-super child block
    * (duplicate super vectors) — the oracle's COALESCE(cell2, cell). */
  private def refProbe2(x: Array[Long], sIds: Array[Long],
      sVecs: Array[Array[Long]], cIds: Array[Array[Long]],
      cVecs: Array[Array[Array[Long]]]): Long = {
    val si = sIds.indices.minBy(i => (d2(x, sVecs(i)), sIds(i)))
    val home = refArgmin(x, cIds(si), cVecs(si))
    if (sIds.length < 2) home
    else {
      val si2 = sIds.indices.filter(_ != si)
        .minBy(i => (d2(x, sVecs(i)), sIds(i)))
      if (cIds(si2).isEmpty) home
      else refArgmin(x, cIds(si2), cVecs(si2))
    }
  }

  property("probe2: second-nearest super, smallest-id ties, home fallback") =
    forAll(seedsGen, vec) { (seeds, x) =>
      val (sIds, sVecs, cIds, cVecs) = build(seeds)
      val bc = SparkTestSession.spark.sparkContext
        .broadcast((sIds, sVecs, cIds, cVecs))
      val k2 = TwoLevelArgmin2Broadcast(bc, null)
      val got2 = k2.cellOf(ArrayData.toArrayData(x))
      val want = refProbe2(x, sIds, sVecs, cIds, cVecs)
      // when no fallback fired, probe blocks must be disjoint from home
      val si = sIds.indices.minBy(i => (d2(x, sVecs(i)), sIds(i)))
      val disjoint = sIds.length < 2 || {
        val si2 = sIds.indices.filter(_ != si)
          .minBy(i => (d2(x, sVecs(i)), sIds(i)))
        cIds(si2).isEmpty ||
          cIds(si).toSet.intersect(cIds(si2).toSet).isEmpty
      }
      bc.destroy()
      got2 == want && disjoint
    }

  /** Seeds where the rank-sb child (the SECOND super) carries the exact
    * vector of the rank-0 child (the first super): tie-breaking routes
    * every child to the smaller super id, so the second super's block is
    * EMPTY — the duplicate-embedding shape a dedup corpus serves up.
    * The random generator makes vector collisions astronomically rare;
    * this one forces them (the r08 advisor's crash case: the kernel
    * indexed childIds(si2)(-1) here before the fallback landed). */
  private val dupSuperGen: Gen[List[(Long, Array[Long])]] =
    seedsGen.suchThat(_.size >= 2).map { seeds =>
      val sorted = seeds.sortBy(_._1)
      val sb = (1 to 256).find(z => z * z >= sorted.length).getOrElse(256)
      if (sb >= sorted.length) sorted // single super; still a fallback case
      else sorted.zipWithIndex.map { case ((id, v), j) =>
        if (j == sb) (id, sorted.head._2.clone()) else (id, v)
      }
    }

  property("probe2 duplicate-super empty block falls back to home, no crash") =
    forAll(dupSuperGen, vec) { (seeds, x) =>
      val (sIds, sVecs, cIds, cVecs) = build(seeds)
      val bc = SparkTestSession.spark.sparkContext
        .broadcast((sIds, sVecs, cIds, cVecs))
      val k1 = TwoLevelArgminBroadcast(bc, null)
      val k2 = TwoLevelArgmin2Broadcast(bc, null)
      val xd = ArrayData.toArrayData(x)
      val got2 = k2.cellOf(xd)
      val want = refProbe2(x, sIds, sVecs, cIds, cVecs)
      // in the constructed two-super duplicate-vector case the second
      // block is empty, so probe2 IS the home cell
      val homeWhenDup =
        if (sIds.length == 2 && sVecs(0).sameElements(sVecs(1)))
          got2 == k1.cellOf(xd)
        else true
      bc.destroy()
      got2 == want && homeWhenDup
    }

  property("home-second-child probe: rn=2 of the home ranking, single-child fallback") =
    forAll(seedsGen, vec) { (seeds, x) =>
      val (sIds, sVecs, cIds, cVecs) = build(seeds)
      val bc = SparkTestSession.spark.sparkContext
        .broadcast((sIds, sVecs, cIds, cVecs))
      val kH2 = TwoLevelArgminH2Broadcast(bc, null)
      val got = kH2.cellOf(ArrayData.toArrayData(x))
      val si = sIds.indices.minBy(i => (d2(x, sVecs(i)), sIds(i)))
      val home = refArgmin(x, cIds(si), cVecs(si))
      val want =
        if (cIds(si).length < 2) home
        else {
          val rest = cIds(si).zip(cVecs(si)).filter(_._1 != home)
          rest.minBy { case (id, v) => (d2(x, v), id) }._1
        }
      bc.destroy()
      got == want
    }

  private val bucketedGen: Gen[Map[Long, List[(Long, Array[Long])]]] = for {
    nb <- Gen.choose(1, 4)
    buckets <- Gen.listOfN(nb, Gen.choose(0L, 9L)).map(_.distinct)
    per <- Gen.listOfN(buckets.length, seedsGen.suchThat(_.nonEmpty))
  } yield buckets.zip(per).toMap

  property("bucketed kernel routes per bucket; absent bucket yields -1") =
    forAll(bucketedGen, vec, Gen.choose(0L, 9L)) { (books, x, probe) =>
      val built = books.map { case (b, seeds) => b -> build(seeds) }
      val bc = SparkTestSession.spark.sparkContext.broadcast(built)
      val kernel = BucketedArgminBroadcast(bc, null, null)
      val got = kernel.cellOf(probe, ArrayData.toArrayData(x))
      val ok = built.get(probe) match {
        case None => got == -1L
        case Some((sIds, sVecs, cIds, cVecs)) =>
          val si = sIds.indices.minBy(i => (d2(x, sVecs(i)), sIds(i)))
          got == refArgmin(x, cIds(si), cVecs(si))
      }
      bc.destroy()
      ok
    }

  // ---- flat seed lists and joined blocks ------------------------------

  /** A seed list sorted ascending by id — the order every builder
    * feeds the flat and block kernels. */
  private def sorted(seeds: List[(Long, Array[Long])])
      : (Array[Long], Array[Array[Long]]) = {
    val s = seeds.sortBy(_._1)
    (s.map(_._1).toArray, s.map(_._2).toArray)
  }

  /** The reference (d2, id) ranking of a seed list: ids nearest first. */
  private def ranked(x: Array[Long], ids: Array[Long],
      vecs: Array[Array[Long]]): Seq[Long] =
    ids.zip(vecs).map { case (id, v) => (d2(x, v), id) }.sorted.map(_._2).toSeq

  /** `array<struct<id, vec>>` as a joined block arrives at the kernel. */
  private def block(ids: Array[Long], vecs: Array[Array[Long]]): ArrayData =
    new GenericArrayData(ids.zip(vecs).map { case (id, v) =>
      InternalRow(id, ArrayData.toArrayData(v)): Any })

  private val blockGen: Gen[List[(Long, Array[Long])]] =
    Gen.oneOf(Gen.const(Nil), seedsGen)

  property("super argmin = smallest (d2, id)") =
    forAll(seedsGen, vec) { (seeds, x) =>
      val (ids, vecs) = sorted(seeds)
      val bc = SparkTestSession.spark.sparkContext.broadcast((ids, vecs))
      val got = SuperArgminBroadcast(bc, null).argmin(ArrayData.toArrayData(x))
      bc.destroy()
      got == refArgmin(x, ids, vecs)
    }

  property("super argmin2: second of the (d2, id) ranking, home on one super") =
    forAll(seedsGen, vec) { (seeds, x) =>
      val (ids, vecs) = sorted(seeds)
      val bc = SparkTestSession.spark.sparkContext.broadcast((ids, vecs))
      val got = SuperArgmin2Broadcast(bc, null).argmin2(ArrayData.toArrayData(x))
      bc.destroy()
      val r = ranked(x, ids, vecs)
      got == (if (ids.length < 2) r.head else r(1))
    }

  property("super top-K: the first min(k, n) of the (d2, id) ranking") =
    forAll(seedsGen, vec, Gen.choose(-1, 14)) { (seeds, x, k) =>
      val (ids, vecs) = sorted(seeds)
      val bc = SparkTestSession.spark.sparkContext.broadcast((ids, vecs))
      val got = SuperTopKBroadcast(k, bc, null)
        .topk(ArrayData.toArrayData(x)).toLongArray().toSeq
      bc.destroy()
      got == ranked(x, ids, vecs).take(math.max(k, 0))
    }

  property("block argmin = smallest (d2, id) in place; -1 on an empty block") =
    forAll(blockGen, vec) { (seeds, x) =>
      val (ids, vecs) = sorted(seeds)
      val got = ChildBlockArgmin(null, null)
        .argmin(ArrayData.toArrayData(x), block(ids, vecs))
      got == (if (ids.isEmpty) -1L else refArgmin(x, ids, vecs))
    }

  property("block argmin2: rn=2 of the block ranking, single-child home, -1 empty") =
    forAll(blockGen, vec) { (seeds, x) =>
      val (ids, vecs) = sorted(seeds)
      val got = ChildBlockArgmin2(null, null)
        .argmin2(ArrayData.toArrayData(x), block(ids, vecs))
      val r = ranked(x, ids, vecs)
      got == (if (r.isEmpty) -1L else if (r.length < 2) r.head else r(1))
    }

  property("block top-K carries exact distances in (d2, id) order") =
    forAll(blockGen, vec, Gen.choose(-1, 14)) { (seeds, x, k) =>
      val (ids, vecs) = sorted(seeds)
      val out = ChildBlockTopKD(k, null, null)
        .topkd(ArrayData.toArrayData(x), block(ids, vecs))
      val got = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1)) }
      val want = ids.zip(vecs).map { case (id, v) => (d2(x, v), id) }
        .sorted.take(math.max(k, 0)).toSeq
      got == want
    }

  private val bucketedSupersGen: Gen[Map[Long, List[(Long, Array[Long])]]] = for {
    nb <- Gen.choose(1, 4)
    buckets <- Gen.listOfN(nb, Gen.choose(0L, 9L)).map(_.distinct)
    per <- Gen.listOfN(buckets.length, seedsGen)
  } yield buckets.zip(per).toMap

  property("bucketed super argmin routes per bucket; absent bucket yields -1") =
    forAll(bucketedSupersGen, vec, Gen.choose(0L, 9L)) { (books, x, probe) =>
      val built = books.map { case (b, seeds) => b -> sorted(seeds) }
      val bc = SparkTestSession.spark.sparkContext.broadcast(built)
      val got = BucketSuperArgminBroadcast(bc, null, null)
        .superOf(probe, ArrayData.toArrayData(x))
      bc.destroy()
      got == built.get(probe).fold(-1L) { case (ids, vecs) =>
        refArgmin(x, ids, vecs) }
    }

  property("adaptive probes: home cell first, distinct, at most maxProbes") =
    forAll(seedsGen, vec, Gen.choose(1, 4), Gen.choose(1, 5),
        Gen.choose(1L, 20L), Gen.choose(1L, 10L), Gen.oneOf(false, true)) {
      (seeds, x, nSupers, maxProbes, epsNum, epsDen, interleave) =>
        val (sIds, sVecs, cIds, cVecs) = build(seeds)
        val bc = SparkTestSession.spark.sparkContext
          .broadcast((sIds, sVecs, cIds, cVecs))
        val xd = ArrayData.toArrayData(x)
        val probes = TwoLevelProbesBroadcast(bc, nSupers, maxProbes, epsNum,
          epsDen, null, interleave).probesOf(xd).toLongArray()
        val home = TwoLevelArgminBroadcast(bc, null).cellOf(xd)
        bc.destroy()
        probes.head == home && probes.distinct.length == probes.length &&
          probes.length <= maxProbes
    }
}
