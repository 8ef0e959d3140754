package graft.ops

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TileMath

/** Spark's partial aggregation is only correct if every Aggregator's
  * `merge` is commutative and associative and `reduce` commutes with
  * `merge` — the planner freely reorders partial buffers across
  * partitions. These laws are load-bearing for every tile operator, so
  * they get property tests instead of example tests.
  *
  * NaN = NoData makes plain equality useless; compare via bit patterns.
  */
class AggregatorLawsSpec extends AnyFunSuite {

  /** Deterministic sampler over raw ScalaCheck gens (the scalatestplus
    * bridge isn't on the offline classpath). */
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(g.pureApply(Gen.Parameters.default.withSize(40), org.scalacheck.rng.Seed(i.toLong)))
    }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  private def bits(a: Array[Double]): Seq[Long] =
    a.map(java.lang.Double.doubleToLongBits).toSeq

  private val cell: Gen[Double] =
    Gen.oneOf(Gen.choose(-100.0, 100.0), Gen.const(Double.NaN))

  private def tileGen(n: Int): Gen[Array[Double]] =
    Gen.listOfN(n, cell).map(_.toArray)

  test("TileAssemble.merge: disjoint-or-equal buffers merge commutatively where disjoint") {
    val agg = new TileAggregators.TileAssemble(4, 4)
    forAll(tileGen(16), tileGen(16)) { (a, b) =>
      // merge semantics: b's data cells overwrite a. Associativity:
      // (a+b)+c == a+(b+c) for all inputs.
      val c = Array.fill(16)(Double.NaN)
      val left = agg.merge(agg.merge(a.clone(), b.clone()), c.clone())
      val right = agg.merge(a.clone(), agg.merge(b.clone(), c.clone()))
      assert(bits(left) == bits(right))
    }
  }

  test("PadAssemble.merge is associative on arbitrary padded buffers") {
    val agg = new TileAggregators.PadAssemble(4, 4, 1)
    val n = 6 * 6
    forAll(tileGen(n), tileGen(n), tileGen(n)) { (a, b, c) =>
      val left = agg.merge(agg.merge(a.clone(), b.clone()), c.clone())
      val right = agg.merge(a.clone(), agg.merge(b.clone(), c.clone()))
      assert(bits(left) == bits(right))
    }
  }

  test("PadAssemble.merge is commutative when data cells are disjoint") {
    val agg = new TileAggregators.PadAssemble(4, 4, 1)
    val n = 6 * 6
    forAll(tileGen(n)) { a =>
      // split a's data cells across two disjoint buffers
      val x = Array.fill(n)(Double.NaN)
      val y = Array.fill(n)(Double.NaN)
      a.zipWithIndex.foreach { case (v, i) =>
        if (i % 2 == 0) x(i) = v else y(i) = v
      }
      assert(bits(agg.merge(x.clone(), y.clone())) == bits(agg.merge(y.clone(), x.clone())))
    }
  }

  test("RectBurn.merge: max-seq wins regardless of merge order or grouping") {
    val agg = new TileAggregators.RectBurn(4, 4)
    val rectGen = for {
      x0 <- Gen.choose(0L, 6L); y0 <- Gen.choose(0L, 6L)
      w <- Gen.choose(1L, 4L); h <- Gen.choose(1L, 4L)
      v <- Gen.choose(-50.0, 50.0)
    } yield TileAggregators.RectIn(0, 0, x0, y0, x0 + w, y0 + h, v, 0L)
    forAll(Gen.listOfN(6, rectGen), 200) { raw =>
      // seq = unique fid (the rasterizer's contract: features have
      // unique ids; equal-seq overlap order is undefined by design)
      val rects = raw.zipWithIndex.map { case (r, i) => r.copy(seq = i.toLong) }
      // all-in-one-buffer vs pairwise-merged partials, order shuffled
      val whole = rects.foldLeft(agg.zero)(agg.reduce)
      val partials = rects.reverse.grouped(2)
        .map(g => g.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = partials.reduceLeft(agg.merge)
      assert(agg.finish(whole).map(java.lang.Double.doubleToLongBits) ==
        agg.finish(merged).map(java.lang.Double.doubleToLongBits))
    }
  }

  test("CappedPostingList: overflow detection is stable under regrouping") {
    val cap = 8
    val agg = new graft.text.TextOps.CappedPostingList(cap)
    forAll(Gen.listOf(Gen.choose(0L, 30L)), 200) { ids =>
      val distinct = ids.distinct
      val whole = ids.foldLeft(agg.zero)(agg.reduce)
      val partials = ids.grouped(3).map(g => g.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = if (partials.isEmpty) agg.zero else partials.reduceLeft(agg.merge)
      val w = agg.finish(whole)
      val m = agg.finish(merged)
      // overflow detection must equal the ground truth regardless of
      // grouping — duplicates must not consume cap slots
      assert((w.size > cap) == (distinct.size > cap))
      assert((m.size > cap) == (distinct.size > cap))
      // and when under the cap, the list is exactly the distinct ids
      if (distinct.size <= cap) assert(w == distinct.sorted && m == distinct.sorted)
    }
  }

  test("QuadAssemble.merge is associative and commutative on disjoint quadrants") {
    val agg = new TileAggregators.QuadAssemble(4, 4)
    forAll(tileGen(16), tileGen(16), tileGen(16)) { (a, b, c) =>
      val left = agg.merge(agg.merge(a.clone(), b.clone()), c.clone())
      val right = agg.merge(a.clone(), agg.merge(b.clone(), c.clone()))
      assert(bits(left) == bits(right))
    }
  }

  test("PolyBurn.merge: max-seq wins under any partial grouping") {
    val agg = new PolyBurnAggregator.PolyBurn(4, 4)
    // triangles with unique seq ids
    val triGen = for {
      x <- Gen.choose(0.0, 5.0); y <- Gen.choose(0.0, 5.0)
      w <- Gen.choose(1.0, 3.0); v <- Gen.choose(-50.0, 50.0)
    } yield (x, y, w, v)
    forAll(Gen.listOfN(5, triGen), 100) { tris =>
      val polys = tris.zipWithIndex.map { case ((x, y, w, v), i) =>
        PolyBurnAggregator.PolyIn(0, 0,
          Array(x, x + w, x), Array(y, y, y + w), Array(0), v, i.toLong)
      }
      val whole = polys.foldLeft(agg.zero)(agg.reduce)
      val partials = polys.reverse.grouped(2).map(_.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = partials.reduceLeft(agg.merge)
      assert(agg.finish(whole).map(java.lang.Double.doubleToLongBits) ==
        agg.finish(merged).map(java.lang.Double.doubleToLongBits))
    }
  }

  test("mergeCells/TileMath.merge: incoming-wins is associative") {
    forAll(tileGen(16), tileGen(16), tileGen(16)) { (a, b, c) =>
      val left = TileMath.merge(TileMath.merge(a, b), c)
      val right = TileMath.merge(a, TileMath.merge(b, c))
      assert(bits(left) == bits(right))
    }
  }

  test("BinnedHist: any partitioning of updates + merges equals the sequential fold") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.DoubleType
    val agg = BinnedHist(
      BoundReference(0, DoubleType, nullable = true), lo = 0.0, width = 2.0, nBins = 10)
    def foldOf(xs: Seq[Double]): Array[Long] =
      xs.foldLeft(agg.createAggregationBuffer())((b, x) => agg.update(b, InternalRow(x)))
    val xs: Gen[List[Double]] =
      Gen.listOf(Gen.choose(-5.0, 25.0)) // spans underflow, bins, overflow
    forAll(Gen.zip(xs, Gen.choose(1, 7))) { case (vals, cuts) =>
      val seq = foldOf(vals)
      // partition into `cuts` chunks, fold each, merge in reverse order
      val chunks = vals.grouped(math.max(1, (vals.size + cuts - 1) / cuts)).toList
      val merged = chunks.reverse.map(foldOf)
        .foldLeft(agg.createAggregationBuffer())((a, b) => agg.merge(a, b))
      assert(merged.toSeq == seq.toSeq)
      // serialize/deserialize round-trips the buffer exactly
      assert(agg.deserialize(agg.serialize(seq)).toSeq == seq.toSeq)
    }
  }
}
