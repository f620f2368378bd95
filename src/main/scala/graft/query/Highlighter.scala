package graft.query

import graft.core.{Bm25, Kernel, Tokenizer}

/** Snippet generation — the analog of the reference's `SimpleHighlighter`
  * (A6/F11: `highlighter.h:303-434`, sentence break `highlighter.h:118-196`):
  * split the doc into sentence passages, score each by a BM25-ish
  * `tfNorm(freq, len)` summed over matched query terms and damped by a
  * passage-start norm (earlier passages preferred), keep the top
  * `maxPassages` by bounded heap, and wrap matched terms in <b></b>.
  *
  * The exact passage-norm constants are not contractual (the reference's own
  * numbers are heuristic); the structure — sentence segmentation, per-passage
  * bounded-heap top-k, lazy offsets — is. Deterministic by construction.
  */
object Highlighter {

  final case class Passage(start: Int, end: Int, score: Double)

  /** Sentence boundaries: split after [.!?;] runs or newlines (F11 analog).
    * Returns [start, end) char spans covering the whole text. */
  def sentences(text: String): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int)]
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '.' || c == '!' || c == '?' || c == ';' || c == '\n') {
        var j = i + 1
        while (j < n && (text.charAt(j) == ' ' || text.charAt(j) == '\n')) j += 1
        if (i + 1 > start) out += ((start, i + 1))
        start = j
        i = j
      } else i += 1
    }
    if (start < n) out += ((start, n))
    val res = out.result()
    if (res.isEmpty) Array((0, n)) else res
  }

  /** Top-`maxPassages` scored passages for the query terms. */
  def topPassages(text: String, queryTerms: Set[String],
                  maxPassages: Int = 3, avgPassageLen: Double = 20.0): Seq[Passage] = {
    val spans = sentences(text)
    val scored = spans.flatMap { case (s, e) =>
      val toks = Tokenizer.tokenize(text.substring(s, e))
      val freqs = toks.iterator.map(_.term).filter(queryTerms.contains)
        .foldLeft(Map.empty[String, Int]) { (m, t) => m.updated(t, m.getOrElse(t, 0) + 1) }
      if (freqs.isEmpty) None
      else {
        val len = math.max(1, toks.length)
        val tfScore = freqs.valuesIterator.map(f => Bm25.tfNorm(f.toLong, len.toLong, avgPassageLen)).sum
        val passageNorm = 1.0 + 1.0 / math.log(math.E + s / 64.0) // earlier passages slightly preferred
        Some(Passage(s, e, tfScore * passageNorm))
      }
    }
    // bounded-heap top-k, ties to earlier passage (A5 semantics)
    scored.sortBy(p => (-p.score, p.start)).take(maxPassages).sortBy(_.start)
  }

  /** Token count of a [start, end) span — the number of maximal word-char
    * runs, identical to `Tokenizer.tokenize(span).length` but allocation-free
    * (one char scan, no substring/token objects). */
  private def spanTokenCount(text: String, start: Int, end: Int): Int = {
    var n = 0
    var i = start
    var inWord = false
    while (i < end) {
      val c = Character.toLowerCase(text.charAt(i))
      val w = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'
      if (w && !inWord) n += 1
      inWord = w
      i += 1
    }
    n
  }

  /** Top passages computed from STORED term offsets (the index's offsets
    * stream, `PostingCodec.decodeOffsets`) instead of re-tokenizing the doc —
    * the reference's lazy-offset highlighter parity
    * (`flash_iterators.h:711-769`, `highlighter.h:303-434`). Per passage the
    * matched-term frequencies come from binary searches over each term's
    * sorted offset starts; scoring is identical to [[topPassages]].
    *
    * `termOffsets`: query term -> ascending (start, end) char spans in
    * `text` (from the index; only query terms needed). */
  def topPassagesFromOffsets(text: String, termOffsets: Map[String, Array[(Int, Int)]],
                             maxPassages: Int = 3, avgPassageLen: Double = 20.0): Seq[Passage] = {
    val spans = sentences(text)
    val starts = termOffsets.view.mapValues(_.map(_._1)).toMap
    def countIn(arr: Array[Int], s: Int, e: Int): Int = // #starts in [s, e)
      Kernel.lowerBound(arr, 0, arr.length, e) - Kernel.lowerBound(arr, 0, arr.length, s)
    val scored = spans.flatMap { case (s, e) =>
      val freqs = starts.iterator
        .map { case (t, arr) => t -> countIn(arr, s, e) }
        .filter(_._2 > 0).toMap
      if (freqs.isEmpty) None
      else {
        val len = math.max(1, spanTokenCount(text, s, e))
        val tfScore = freqs.valuesIterator.map(f => Bm25.tfNorm(f.toLong, len.toLong, avgPassageLen)).sum
        val passageNorm = 1.0 + 1.0 / math.log(math.E + s / 64.0)
        Some(Passage(s, e, tfScore * passageNorm))
      }
    }
    scored.sortBy(p => (-p.score, p.start)).take(maxPassages).sortBy(_.start)
  }

  /** Phrase-filtered highlight offsets — the reference's
    * `FilterOffsetByPosition` (`query_processing.h:446-492`): per query
    * slot, ONLY the offset pairs at appearances that participate in a
    * phrase match (slot i of a match starting at p ⇒ the appearance at
    * position p+i). A term's other occurrences are never highlighted.
    * Slots sharing a term merge (ascending, deduped). Empty map when the
    * phrase never occurs. */
  def phraseOffsets(text: String,
                    terms: Seq[String]): Map[String, Array[(Int, Int)]] = {
    val qset = terms.toSet
    val pos = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    val off = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[(Int, Int)]]
    Tokenizer.tokenize(text).foreach { t =>
      if (qset.contains(t.term)) {
        pos.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position
        off.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += (t.start -> t.end)
      }
    }
    if (!terms.forall(pos.contains)) return Map.empty
    val posArrs = terms.map(t => pos(t).toArray)
    val starts = Kernel.phraseStarts(posArrs.toArray)
    if (starts.isEmpty) return Map.empty
    val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.TreeSet[(Int, Int)]]
    starts.foreach { p =>
      terms.iterator.zipWithIndex.foreach { case (t, slot) =>
        // positions per term ascend (tokenize order), so the appearance
        // index is a binary search; its offset pair shares that index
        val arr = posArrs(terms.indexOf(t))
        val j = Kernel.lowerBound(arr, 0, arr.length, p + slot)
        out.getOrElseUpdate(t, scala.collection.mutable.TreeSet.empty) += off(t)(j)
      }
    }
    out.view.mapValues(_.toArray).toMap
  }

  /** Snippet from stored offsets: passages via [[topPassagesFromOffsets]],
    * matched terms bolded at their stored [start, end) spans — the doc body
    * is never re-tokenized. */
  def snippetFromOffsets(text: String, termOffsets: Map[String, Array[(Int, Int)]],
                         maxPassages: Int = 3): String = {
    val ps = topPassagesFromOffsets(text, termOffsets, maxPassages)
    val all = termOffsets.valuesIterator.flatten.toArray.sortBy(_._1)
    ps.map { p =>
      val sb = new java.lang.StringBuilder
      var last = p.start
      all.foreach { case (s, e) =>
        if (s >= p.start && s < p.end) {
          sb.append(text, last, s).append("<b>").append(text, s, math.min(e, p.end)).append("</b>")
          last = math.min(e, p.end)
        }
      }
      sb.append(text, last, p.end).toString
    }.mkString(" … ")
  }

  /** Snippet string: top passages joined with " … ", matched terms bolded. */
  def snippet(text: String, queryTerms: Set[String], maxPassages: Int = 3): String = {
    val ps = topPassages(text, queryTerms, maxPassages)
    ps.map { p =>
      val seg = text.substring(p.start, p.end)
      val toks = Tokenizer.tokenize(seg).filter(t => queryTerms.contains(t.term))
      val sb = new StringBuilder
      var last = 0
      toks.foreach { t =>
        sb.append(seg.substring(last, t.start)).append("<b>")
          .append(seg.substring(t.start, t.end)).append("</b>")
        last = t.end
      }
      sb.append(seg.substring(last)).toString
    }.mkString(" … ")
  }
}
