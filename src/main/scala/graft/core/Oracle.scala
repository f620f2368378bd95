package graft.core

/** Single-JVM reference oracle: the query semantics restated as naively
  * as they can be, to check the engines against. It shares no matching
  * code with them: the engines run one shared kernel (leapfrog, merge-scan
  * phrase check, greedy proximity, bounded heap); this file filters by
  * set membership, checks phrases by set intersection, enumerates every
  * ordered span for proximity, and sorts all candidates for top-k. Only
  * [[Bm25]] and [[LenByte]] are shared — golden values pin them. A
  * ScalaCheck law holds the kernel equal to this oracle on random corpora,
  * and the engine differentials and benchmark check answers against it.
  *
  * Semantics (reference `src/qq_mem/src/query_processing.h`, completed
  * where the reference stops):
  *  - conjunctive match: a doc holding every query term, none of the
  *    excluded terms, and — for a phrase — the terms at the query's
  *    relative positions;
  *  - lossy BM25 doc score, summed in query-slot order (`CalcDocScoreLossy`
  *    `scoring.h:124-145`);
  *  - top-k by (score desc, docId asc), the engine-wide tie rule
  *    (SURVEY.md §8.4): the set the reference's bounded heap keeps when it
  *    is fed ascending docIds (`query_processing.h:914-932`).
  */
object Oracle {

  final case class Doc(docId: Int, content: String)
  final case class Hit(docId: Int, score: Double)

  final class Index private (
      val docs: Seq[Doc],
      /** term -> postings sorted by docId: (docId, tf, positions) */
      val postings: Map[String, Array[(Int, Int, Array[Int])]],
      val docLen: Map[Int, Int]) {

    def this(docs: Seq[Doc], textAnalyzer: Boolean = false) = this(
      docs,
      Index.buildPostings(docs, textAnalyzer),
      docs.map(d => d.docId -> (
        if (textAnalyzer) Tokenizer.tokenizeText(d.content).length
        else Tokenizer.terms(d.content).length)).toMap)

    val nDocs: Long = docLen.size.toLong
    val avgLen: Double = if (nDocs == 0) 0.0 else docLen.values.map(_.toLong).sum.toDouble / nDocs
    val lossyCache: Array[Double] = Bm25.lossyCache(avgLen)
    def df(term: String): Long = postings.get(term).map(_.length.toLong).getOrElse(0L)
  }

  object Index {
    private def buildPostings(docs: Seq[Doc], textAnalyzer: Boolean)
        : Map[String, Array[(Int, Int, Array[Int])]] = {
      val m = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Int])]]
      docs.sortBy(_.docId).foreach { d =>
        val grouped =
          if (textAnalyzer) Tokenizer.groupedText(d.content) else Tokenizer.grouped(d.content)
        grouped.foreach { case (term, ps, _) =>
          m.getOrElseUpdate(term, scala.collection.mutable.ArrayBuffer.empty) +=
            ((d.docId, ps.length, ps))
        }
      }
      m.view.mapValues(_.toArray).toMap
    }

    /** Index from PRE-ANALYZED per-doc term groups + externally-defined
      * doc lengths — the reference's linedoc ingestion shape
      * (`qq_mem_engine.h:194-215`): the file carries the analyzed stream,
      * the BM25 norm is `BodyLength()` (whitespace terms of the raw
      * body), and no tokenizer runs at all. */
    def fromGroups(perDoc: Seq[(Int, Seq[(String, Array[Int])])],
                   lens: Map[Int, Int]): Index = {
      val m = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Int])]]
      perDoc.sortBy(_._1).foreach { case (docId, groups) =>
        groups.foreach { case (term, ps) =>
          m.getOrElseUpdate(term, scala.collection.mutable.ArrayBuffer.empty) +=
            ((docId, ps.length, ps))
        }
      }
      new Index(Nil, m.view.mapValues(_.toArray).toMap, lens)
    }
  }

  /** Conjunctive (optionally phrase) BM25 top-k. Empty if any term missing
    * (`qq_mem_engine.h:345-347`).
    *
    * `excludeTerms` completes the Boolean set-operator family (the reference
    * declares only AND; OR/NOT are natural closures — Lucene MUST_NOT
    * semantics): a doc containing ANY excluded term is dropped from the
    * candidate set, and excluded terms never contribute to the score.
    *
    * A phrase checks explicit `phraseShifts` when given (stopword gaps),
    * else adjacency at `slop = 0`, else ordered proximity within `slop`.
    * A term's weight is idf·boost (Lucene `term^B`), then ·tfNorm. */
  def search(ix: Index, queryTerms: Seq[String], k: Int, phrase: Boolean = false,
             excludeTerms: Seq[String] = Nil, slop: Int = 0,
             boosts: Map[String, Double] = Map.empty,
             phraseShifts: Option[Seq[Int]] = None): Seq[Hit] = {
    if (queryTerms.isEmpty || k <= 0 || !queryTerms.forall(ix.postings.contains)) return Nil
    val byDoc: Map[String, Map[Int, (Int, Array[Int])]] = queryTerms.distinct.map { t =>
      t -> ix.postings(t).map { case (d, tf, ps) => d -> ((tf, ps)) }.toMap
    }.toMap
    val excluded: Set[Int] = excludeTerms.flatMap(t =>
      ix.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]).map(_._1)).toSet
    val weights = queryTerms.map(t => Bm25.idf(ix.nDocs, ix.df(t)) * boosts.getOrElse(t, 1.0))
    val matched = ix.postings(queryTerms.head).map(_._1).filter { d =>
      queryTerms.forall(t => byDoc(t).contains(d)) && !excluded.contains(d) && (!phrase || {
        val posLists = queryTerms.map(t => byDoc(t)(d)._2)
        phraseShifts match {
          case Some(sh) => phraseMatchAt(posLists, sh)
          case None if slop == 0 => phraseMatch(posLists)
          case None => proximityMatch(posLists, slop)
        }
      })
    }
    topK(matched.map { d =>
      val lenByte = LenByte.encode(ix.docLen(d).toLong)
      Hit(d, queryTerms.zip(weights).foldLeft(0.0) { case (s, (t, w)) =>
        s + w * Bm25.tfNormLossy(byDoc(t)(d)._1.toLong, lenByte, ix.lossyCache)
      })
    }, k)
  }

  /** Disjunctive BM25 top-k. The reference DECLARES `SearchOperator::OR`
    * (`types.h:70`) but never implements it in the C++ engine; semantics
    * completed here: score = sum over query slots whose term contains the
    * doc (slot order, so the FP sequence is deterministic), absent terms
    * contribute nothing, all-terms-absent => empty. */
  def searchOr(ix: Index, queryTerms: Seq[String], k: Int,
               excludeTerms: Seq[String] = Nil): Seq[Hit] = {
    if (k <= 0) return Nil
    val present = queryTerms.filter(ix.postings.contains)
    if (present.isEmpty) return Nil
    val excluded: Set[Int] = excludeTerms.distinct.iterator
      .flatMap(t => ix.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]))
      .map(_._1).toSet
    val acc = scala.collection.mutable.HashMap.empty[Int, Double]
    // slot-outer iteration: every doc's contributions accumulate in query
    // slot order — same FP order as a per-doc slot loop
    present.foreach { t =>
      val idf = Bm25.idf(ix.nDocs, ix.df(t))
      ix.postings(t).foreach { case (docId, tf, _) =>
        if (!excluded.contains(docId)) {
          val lenByte = LenByte.encode(ix.docLen(docId).toLong)
          val part = idf * Bm25.tfNormLossy(tf.toLong, lenByte, ix.lossyCache)
          acc.update(docId, acc.getOrElse(docId, 0.0) + part)
        }
      }
    }
    topK(acc.map { case (d, s) => Hit(d, s) }, k)
  }

  /** Whether the phrase occurs: some start p has slot i at p + i. */
  def phraseMatch(positionLists: Seq[Array[Int]]): Boolean =
    phraseMatchStarts(positionLists).nonEmpty

  /** Every start position where the phrase occurs, ascending — slot i's
    * matching appearance sits at `start + i`. This is the position table
    * the reference keeps per result for phrase highlighting
    * (`query_processing.h:365-392` AppendPositionCol). */
  def phraseMatchStarts(positionLists: Seq[Array[Int]]): Array[Int] =
    starts(positionLists, positionLists.indices).toArray.sorted

  /** [[phraseMatch]] with EXPLICIT per-slot position shifts — the
    * query-side position increments Lucene's `match_phrase` keeps when an
    * analyzer removes tokens (stopword gaps): slot i must appear at
    * `start + shifts(i)`. `shifts = 0..k-1` is plain adjacency; the base
    * is irrelevant (only differences matter). */
  def phraseMatchAt(positionLists: Seq[Array[Int]], shifts: Seq[Int]): Boolean = {
    require(positionLists.size == shifts.size, "one shift per slot")
    starts(positionLists, shifts).nonEmpty
  }

  /** Starts p with `p + shifts(i)` in slot i for every i: the
    * intersection of the slots' position sets, each shifted back. */
  private def starts(positionLists: Seq[Array[Int]], shifts: Seq[Int]): Set[Int] =
    if (positionLists.isEmpty) Set.empty
    else positionLists.zip(shifts).map { case (ps, sh) => ps.map(_ - sh).toSet }.reduce(_ intersect _)

  /** Ordered proximity (Lucene span-near / `"a b"~N` slop analog; absent in
    * the reference, which only has exact adjacency): the query's slots must
    * occur in ORDER at strictly increasing positions p₁<…<p_k with total
    * span `p_k − p₁ ≤ (k−1) + slop`. `slop = 0` degenerates to exact
    * adjacency. Enumerates every ordered chain (cutting one off once its
    * span already exceeds the window). */
  def proximityMatch(positionLists: Seq[Array[Int]], slop: Int): Boolean = {
    val k = positionLists.size
    val window = (k - 1) + slop
    def chain(i: Int, prev: Int, start: Int): Boolean =
      i == k || positionLists(i).exists(p => p > prev && p - start <= window && chain(i + 1, p, start))
    k > 0 && positionLists.head.exists(p => chain(1, p, p))
  }

  /** Top k by (score desc, docId asc): sort every candidate, take k. */
  def topK(candidates: Iterable[Hit], k: Int): Seq[Hit] =
    candidates.toSeq.sortBy(h => (-h.score, h.docId)).take(k)
}
