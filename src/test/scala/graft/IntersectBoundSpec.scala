package graft

import org.apache.spark.sql.functions._

import scala.util.Random

import graft.functions.VectorOps

/** Equivalence fuzz for the early-abandon intersect (round 22): under a
  * downstream `jac >= tau` filter, SortedLongIntersectCountBounded must be
  * indistinguishable from the exact SortedLongIntersectCount —
  *
  *   - a pair whose true jaccard is >= tau must return the EXACT count
  *     (the abandon bound is an upper bound on the true count, so it can
  *     never fire on a qualifying pair);
  *   - a pair below tau may return any partial count c' <= true count,
  *     as long as the jac computed from c' also fails the filter
  *     (monotonicity: c'/(n+m-c') <= c/(n+m-c) < tau).
  *
  * Both the codegen path (DataFrame select) and the interpreted path
  * (nullSafeEval via the expression directly) are exercised, across sizes
  * 0..~200 and overlap regimes clustered around the threshold, plus pairs
  * exactly at the threshold.
  */
class IntersectBoundSpec extends GraftSpec {
  import TestEnv.spark.implicits._

  private def jac(inter: Long, n: Int, m: Int): Double =
    if (n + m - inter == 0) Double.NaN
    else inter.toDouble / (n + m - inter).toDouble

  private val taus = Seq(0.5, 0.8, 0.9)

  /** Pairs whose jaccard is exactly tau in doubles — (tau, n, m, c) =
    * (0.8, 28, 35, 28), (0.8, 31, 32, 28), (0.9, 9, 10, 9), (0.9, 19, 19,
    * 18) — where the closed form ceil(tau*(n+m)/(1+tau)) overshoots c by
    * one. b's first element sorts before all of a, so the walk opens on a
    * mismatch, the step where the bound is checked.
    */
  private val boundaryPairs: Seq[(Array[Long], Array[Long])] =
    Seq((28, 35, 28), (31, 32, 28), (9, 10, 9), (19, 19, 18)).map {
      case (n, m, c) =>
        val core = (1 to c).map(100L + _)
        ((core ++ (1 to n - c).map(10000L + _)).toArray,
          (0L +: (core ++ (1 until m - c).map(20000L + _))).toArray)
    }

  test("bounded intersect is exact above tau and filter-equivalent below") {
    val rnd = new Random(0xB0DE22)
    // Pairs engineered to straddle each threshold: draw a shared core of
    // k elements plus disjoint tails, so true jac = k / (k + ta + tb)
    // sweeps through the threshold as the tails grow.
    val pairs = (0 until 400).map { _ =>
      val k = rnd.nextInt(100)
      val ta = rnd.nextInt(30)
      val tb = rnd.nextInt(30)
      val core = Seq.fill(k)(rnd.nextLong(1000000L)).distinct
      // Disjoint tails live in separate id ranges so they never collide
      // with the core or each other.
      val tailA = Seq.fill(ta)(1000000L + rnd.nextLong(1000000L)).distinct
      val tailB = Seq.fill(tb)(2000000L + rnd.nextLong(1000000L)).distinct
      ((core ++ tailA).sorted.toArray, (core ++ tailB).sorted.toArray)
    } ++ boundaryPairs ++ Seq( // edge shapes
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L, 3L)),
      (Array(5L), Array(5L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)))

    // RDD-backed, so the select runs generated code: over a local Seq the
    // optimizer would fold the projection through the interpreted path.
    val df = spark.sparkContext.parallelize(pairs).toDF("a", "b")
    for (tau <- taus) {
      val rows = df.select(
        size(col("a")).as("n"), size(col("b")).as("m"),
        VectorOps.sortedIntersectCount(col("a"), col("b")).as("exact"),
        VectorOps.sortedIntersectCountBounded(col("a"), col("b"), tau)
          .as("bounded"))
        .collect()
      assert(rows.length == pairs.length)
      for (r <- rows) {
        val (n, m) = (r.getInt(0), r.getInt(1))
        val exact = r.getLong(2); val bounded = r.getLong(3)
        val jE = jac(exact, n, m)
        if (!jE.isNaN && jE >= tau) {
          assert(bounded == exact,
            s"tau=$tau n=$n m=$m: qualifying pair must get the exact " +
              s"count, got $bounded vs $exact")
        } else {
          assert(bounded <= exact,
            s"tau=$tau n=$n m=$m: partial count must not exceed exact")
          val jB = jac(bounded, n, m)
          assert(jB.isNaN || jB < tau,
            s"tau=$tau n=$n m=$m: below-threshold pair must stay below " +
              s"(bounded=$bounded exact=$exact jB=$jB)")
        }
      }
    }
  }

  test("interpreted path agrees with codegen semantics") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val rnd = new Random(0x1E7B0DE)
    def lit(a: Array[Long]) =
      Literal(ArrayData.toArrayData(a), ArrayType(LongType, containsNull = false))
    val random = (0 until 300).map { _ =>
      val k = rnd.nextInt(40)
      val core = Seq.fill(k)(rnd.nextLong(100000L)).distinct
      val a = (core ++ Seq.fill(rnd.nextInt(15))(100000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      val b = (core ++ Seq.fill(rnd.nextInt(15))(200000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      (a, b, taus(rnd.nextInt(3)))
    }
    val boundary = for ((a, b) <- boundaryPairs; tau <- taus) yield (a, b, tau)
    for ((a, b, tau) <- random ++ boundary) {
      val exact = graft.functions.SortedLongIntersectCount(lit(a), lit(b))
        .eval(null).asInstanceOf[Long]
      val bounded = graft.functions
        .SortedLongIntersectCountBounded(lit(a), lit(b), tau)
        .eval(null).asInstanceOf[Long]
      val jE = jac(exact, a.length, b.length)
      if (!jE.isNaN && jE >= tau)
        assert(bounded == exact, s"tau=$tau n=${a.length} m=${b.length}")
      else {
        val jB = jac(bounded, a.length, b.length)
        assert(bounded <= exact && (jB.isNaN || jB < tau))
      }
    }
  }
}
