package graft

import graft.query.BlockMax
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck laws for the interval algebra ([[BlockMax.union]],
  * [[BlockMax.intersect]]) the two-level metadata read is built on:
  * membership-exact union/intersect against brute-force point sets —
  * the soundness the coverage-bounded fine read depends on. */
object MetaStoreProperties extends Properties("metastore") {

  private val ivGen: Gen[Array[(Int, Int)]] =
    Gen.listOf(for {
      lo <- Gen.chooseNum(0, 200)
      len <- Gen.chooseNum(0, 30)
    } yield (lo, lo + len)).map(_.toArray)

  private def points(iv: Array[(Int, Int)]): Set[Int] =
    iv.iterator.flatMap { case (lo, hi) => lo to hi }.toSet

  private def disjointAscending(iv: Array[(Int, Int)]): Boolean =
    iv.forall(r => r._1 <= r._2) &&
      iv.sliding(2).forall {
        case Array(a, b) => a._2.toLong + 1 < b._1 // gap of >= 1 (merged)
        case _           => true
      }

  property("union: same point set, disjoint ascending output") =
    Prop.forAll(ivGen) { iv =>
      val m = BlockMax.union(iv.iterator)
      points(m) == points(iv) && disjointAscending(m)
    }

  property("intersect = point-set intersection") =
    Prop.forAll(ivGen, ivGen) { (a, b) =>
      val ma = BlockMax.union(a.iterator)
      val mb = BlockMax.union(b.iterator)
      points(BlockMax.intersect(ma, mb)) == points(a).intersect(points(b))
    }

  property("union of unions covers both inputs, exact up to gap joins") =
    Prop.forAll(ivGen, ivGen) { (a, b) =>
      val u = points(BlockMax.union(
        BlockMax.union(a.iterator).iterator ++ BlockMax.union(b.iterator).iterator))
      // adjacency-coalescing may ADD only single-gap bridge points —
      // sound for coverage (never loses a point)
      points(a).union(points(b)).subsetOf(u)
    }
}
