package graft

import graft.core.{Bm25, Kernel, LenByte, Oracle}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The kernel ≡ oracle law: on random small corpora the matching kernel
  * both engines run returns exactly what the naive [[Oracle]] does — the
  * same docs in the same order with bitwise-equal scores — for phrases
  * (adjacent and with explicit shifts), slop, repeated terms, exclusions,
  * the search_after cursor, boosts and score ties. Short docs over a
  * four-term vocabulary make phrases, repeats and equal scores common. */
object KernelProperties extends Properties("kernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val vocab = Seq("a", "b", "c", "d")

  /** Docs with gappy ascending ids (ids are stable across deletes). */
  private val corpus: Gen[Oracle.Index] = for {
    n <- Gen.choose(1, 24)
    gaps <- Gen.listOfN(n, Gen.choose(1, 3))
    bodies <- Gen.listOfN(n, Gen.choose(1, 8).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab))))
  } yield new Oracle.Index(gaps.scanLeft(0)(_ + _).tail.zip(bodies).map { case (id, ws) =>
    Oracle.Doc(id, ws.mkString(" "))
  })

  private final case class Query(terms: Seq[String], phrase: Boolean, slop: Int,
                                 shifts: Option[Seq[Int]], exclude: Seq[String],
                                 boosts: Map[String, Double], k: Int)

  private val query: Gen[Query] = for {
    n <- Gen.choose(1, 3)
    terms <- Gen.listOfN(n, Gen.oneOf(vocab))
    phrase <- Gen.oneOf(false, true)
    slop <- if (phrase) Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(1, 3)) else Gen.const(0)
    shifts <- if (phrase && slop == 0)
        Gen.option(Gen.listOfN(n, Gen.choose(1, 2)).map(_.scanLeft(0)(_ + _).init))
      else Gen.const(None)
    exclude <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.listOfN(1, Gen.oneOf(vocab)))
    boosts <- Gen.frequency(3 -> Gen.const(Map.empty[String, Double]),
      1 -> Gen.oneOf(vocab).map(t => Map(t -> 2.5)))
    k <- Gen.choose(1, 8)
  } yield Query(terms, phrase, slop, shifts, exclude, boosts, k)

  /** The serving path's use of the kernel: slot lists straight from the
    * postings, each posting with its doc's length byte (as a posting block
    * stores it), `[0, split)` and `[split, ∞)` scanned into separate heaps
    * that merge. */
  private def viaKernel(ix: Oracle.Index, q: Query, after: (Double, Int),
                        split: Int): Seq[(Int, Double)] = {
    if (!q.terms.forall(ix.postings.contains)) return Nil
    val slots = q.terms.map(ix.postings).toArray
    val idfs = q.terms.map(t => Bm25.idf(ix.nDocs, ix.df(t)) * q.boosts.getOrElse(t, 1.0)).toArray
    val norms = slots.map(_.map(p => LenByte.encode(ix.docLen(p._1).toLong).toByte))
    val conj = new Kernel.Conjunction(slots.map(_.map(_._1)), slots.map(_.map(_._2)), norms, idfs,
      positions = if (q.phrase) slots.map(_.map(_._3)) else null,
      shifts = q.shifts.map(_.toArray).orNull, slop = q.slop,
      excluded = q.exclude.flatMap(ix.postings.get).map(_.map(_._1)).toArray)
    val low = new Kernel.TopK(q.k)
    val high = new Kernel.TopK(q.k)
    conj.scan(ix.lossyCache, 0, split, low, after._1, after._2)
    conj.scan(ix.lossyCache, split, Int.MaxValue, high, after._1, after._2)
    val (docs, scores) = low.merge(high).sorted
    docs.toSeq.zip(scores)
  }

  /** search_after restated on the oracle: every hit, then those strictly
    * after the cursor in (score desc, docId asc) order. */
  private def viaOracle(ix: Oracle.Index, q: Query, after: (Double, Int)): Seq[(Int, Double)] =
    Oracle.search(ix, q.terms, Int.MaxValue, q.phrase, q.exclude, q.slop, q.boosts, q.shifts)
      .filter(h => h.score < after._1 || (h.score == after._1 && h.docId > after._2))
      .take(q.k).map(h => (h.docId, h.score))

  property("conjunctive search: kernel ≡ oracle (phrase, shifts, slop, NOT, boosts, ties)") =
    Prop.forAll(corpus, query, Gen.choose(0, 80)) { (ix, q, split) =>
      val got = viaKernel(ix, q, (Double.PositiveInfinity, -1), split)
      val want = viaOracle(ix, q, (Double.PositiveInfinity, -1))
      Prop(got == want) :| s"query $q split $split: kernel $got oracle $want"
    }

  property("search_after cursor: kernel ≡ oracle") =
    Prop.forAll(corpus, query, Gen.choose(0, 80), Gen.choose(0, 10)) { (ix, q, split, at) =>
      val all = viaOracle(ix, q.copy(k = Int.MaxValue), (Double.PositiveInfinity, -1))
      val after = if (all.isEmpty) (1.0, 5) else { val (d, s) = all(at % all.size); (s, d) }
      val got = viaKernel(ix, q, after, split)
      val want = viaOracle(ix, q, after)
      Prop(got == want) :| s"query $q after $after: kernel $got oracle $want"
    }

  /** Ascending distinct positions, often empty or overlapping. */
  private val positions: Gen[Array[Int]] =
    Gen.listOf(Gen.choose(0, 20)).map(_.distinct.sorted.toArray)

  property("phrase starts and explicit shifts: kernel ≡ oracle") =
    Prop.forAll(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, positions)),
        Gen.listOfN(4, Gen.choose(0, 3))) { (lists, steps) =>
      val shifts = steps.take(lists.size).scanLeft(0)(_ + _).tail
      val arr = lists.toArray
      Kernel.phraseStarts(arr).toSeq == Oracle.phraseMatchStarts(lists).toSeq &&
        Kernel.phraseAt(arr, null, new Array[Int](arr.length)) == Oracle.phraseMatch(lists) &&
        Kernel.phraseAt(arr, shifts.toArray, new Array[Int](arr.length)) ==
          Oracle.phraseMatchAt(lists, shifts)
    }

  property("ordered proximity: greedy kernel ≡ brute-force oracle") =
    Prop.forAll(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, positions)), Gen.choose(0, 4)) {
      (lists, slop) =>
        Kernel.proximity(lists.toArray, slop, new Array[Int](lists.size)) ==
          Oracle.proximityMatch(lists, slop)
    }

  property("bounded heap keeps the top k by (score desc, docId asc) in any feed order") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.choose(0, 50), Gen.choose(0, 3))), Gen.choose(0, 6),
        Gen.choose(0, 30)) { (raw, k, cut) =>
      val hits = raw.distinctBy(_._1).map { case (d, s) => (d, s * 0.5) }
      val low = new Kernel.TopK(k)
      val high = new Kernel.TopK(k)
      hits.take(cut).foreach { case (d, s) => low.offer(d, s) }
      hits.drop(cut).foreach { case (d, s) => high.offer(d, s) }
      val (docs, scores) = low.merge(high).sorted
      docs.toSeq.zip(scores) == Oracle.topK(hits.map { case (d, s) => Oracle.Hit(d, s) }, k)
        .map(h => (h.docId, h.score))
    }

  property("lowerBound and gallop find the first element >= target") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 100)).map(_.sorted.toArray), Gen.choose(0, 40),
        Gen.choose(-5, 105)) { (arr, from0, target) =>
      val from = math.min(from0, arr.length)
      val want = (from until arr.length).find(i => arr(i) >= target).getOrElse(arr.length)
      Kernel.lowerBound(arr, from, arr.length, target) == want &&
        Kernel.gallop(arr, from, arr.length, target) == want
    }
}
