package graft.query

import graft.core.{Bm25, Tokenizer}
import graft.index.PostingCodec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Nested boolean queries — `(spark AND query) OR (join AND hash AND NOT
  * dup)` — over the inverted index. The reference engine evaluates only
  * flat conjunctions (`query_processing.h` k-way intersection); this
  * completes the Lucene `BooleanQuery` surface the flat operators (J1/J2
  * AND, the OR completion, J6 NOT) already span pairwise.
  *
  * Semantics (Lucene `BooleanQuery`): a doc matches the boolean predicate
  * over per-term presence; its score is the CLAUSE-AWARE recursive sum —
  * only MATCHING clauses contribute (a matched AND adds all its children's
  * contributions, a matched OR adds its matching children's, NOT adds
  * nothing), so a stray term from a non-matching clause never scores.
  * Pure-negative (sub)queries match nothing — a clause with no positive
  * leaf folds to FALSE, exactly Lucene's rule for MUST_NOT-only boolean
  * queries.
  *
  * Evaluation shape (one Spark job):
  *  1. constant-fold absent terms (P2 analog: absent Term → FALSE) and
  *     prune pure-negative clauses;
  *  2. docId-range coverage of the folded tree by interval algebra — AND
  *     intersects its positive children's coverage, OR unions — bounding
  *     which blocks decode (a rare clause prunes its AND-siblings' hot
  *     lists, same J3 skip analog as [[Searcher.search]]);
  *  3. decode every leaf term's surviving blocks once; per doc, aggregate a
  *     presence BITMASK (each (term, doc) posting is unique, so a sum of
  *     2^leafBit is an exact mask) plus one pivoted partial-score column
  *     per positive leaf (boolean queries are narrow — ≤ 62 leaves by
  *     construction — so the pivot stays cheap, unlike a 64-slot batch);
  *  4. predicate AND score both compile to pure codegen Columns over the
  *     mask and the pivot: the score expression adds in fixed tree order,
  *     bitwise-deterministic and mirrored term-for-term by the SQL oracle.
  */
object BoolQuery {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class And(cs: Seq[Node]) extends Node
  final case class Or(cs: Seq[Node]) extends Node
  final case class Not(c: Node) extends Node
  private case object True extends Node
  private case object False extends Node

  /** Recursive-descent parser. Grammar (case-insensitive keywords):
    * orExpr := andExpr (OR andExpr)* ; andExpr := unary (AND unary)* ;
    * unary := NOT unary | '(' orExpr ')' | TERM. Terms are normalized
    * through the engine tokenizer. */
  def parse(s: String): Node = {
    val toks = tokenize(s)
    val (node, rest) = parseOr(toks)
    require(rest.isEmpty, s"trailing input: ${rest.mkString(" ")}")
    node
  }

  private def tokenize(s: String): List[String] =
    s.replace("(", " ( ").replace(")", " ) ")
      .split("\\s+").toList.filter(_.nonEmpty)

  private def parseOr(ts: List[String]): (Node, List[String]) = {
    var (acc, rest) = parseAnd(ts)
    val cs = scala.collection.mutable.ArrayBuffer(acc)
    while (rest.headOption.exists(_.equalsIgnoreCase("OR"))) {
      val (n, r) = parseAnd(rest.tail)
      cs += n
      rest = r
    }
    (if (cs.size == 1) cs.head else Or(cs.toSeq), rest)
  }

  private def parseAnd(ts: List[String]): (Node, List[String]) = {
    var (acc, rest) = parseUnary(ts)
    val cs = scala.collection.mutable.ArrayBuffer(acc)
    while (rest.headOption.exists(_.equalsIgnoreCase("AND"))) {
      val (n, r) = parseUnary(rest.tail)
      cs += n
      rest = r
    }
    (if (cs.size == 1) cs.head else And(cs.toSeq), rest)
  }

  private def parseUnary(ts: List[String]): (Node, List[String]) = ts match {
    case kw :: rest if kw.equalsIgnoreCase("NOT") =>
      val (n, r) = parseUnary(rest)
      (Not(n), r)
    case "(" :: rest =>
      val (n, r) = parseOr(rest)
      require(r.headOption.contains(")"), "unbalanced parenthesis")
      (n, r.tail)
    case w :: rest if w != ")" && !w.equalsIgnoreCase("AND") && !w.equalsIgnoreCase("OR") =>
      val norm = Tokenizer.terms(w)
      require(norm.nonEmpty, s"unparsable term: $w")
      (Term(norm.head), rest)
    case other => throw new IllegalArgumentException(s"expected term at: $other")
  }

  /** Does the node contain at least one positive (non-negated) leaf? */
  private def hasPositive(n: Node): Boolean = n match {
    case Term(_)  => true
    case Not(_)   => false
    case And(cs)  => cs.exists(hasPositive)
    case Or(cs)   => cs.exists(hasPositive)
    case _        => false
  }

  /** Constant-fold absent terms and prune pure-negative clauses (the
    * Lucene MUST_NOT-only rule). Returns True/False/folded tree. */
  private[graft] def fold(n: Node, present: String => Boolean): Node = n match {
    case Term(t) => if (present(t)) Term(t) else False
    case Not(c) => fold(c, present) match {
      case False => True
      case True  => False
      case cf    => Not(cf)
    }
    case And(cs0) =>
      val cs = cs0.map(fold(_, present))
      if (cs.contains(False)) False
      else {
        val live = cs.filter(_ != True)
        if (live.isEmpty) True
        else if (!live.exists(hasPositive)) False // pure-negative conjunction
        else if (live.size == 1) live.head
        else And(live)
      }
    case Or(cs0) =>
      val cs = cs0.map(fold(_, present))
      if (cs.contains(True)) True
      else {
        // a pure-negative OR clause can never match on its own (Lucene)
        val live = cs.filter(c => c != False && hasPositive(c))
        if (live.isEmpty) False
        else if (live.size == 1) live.head
        else Or(live)
      }
    case leaf => leaf
  }

  /** Fold for evaluation: None when the folded tree cannot match anything
    * (constant, or no positive leaf — the Lucene pure-negative rule),
    * otherwise the folded tree. The shared entry for every path. */
  private[graft] def foldForEval(root0: Node, present: String => Boolean): Option[Node] = {
    val root = fold(root0, present)
    if (root == False || root == True || !hasPositive(root)) None else Some(root)
  }

  /** Shared recursive evaluator: (matched, clause-aware score). `partial`
    * returns a positive leaf's BM25 partial for the CURRENT doc (only
    * consulted for present positive leaves). Additions happen in tree
    * order via foldLeft(0.0) — bitwise-identical to the Column form's
    * left-assoc sum (x + 0.0 == x for every non-negative partial), so the
    * distributed, batched, and resident paths all produce the same bits. */
  private[graft] def evalAndScore(n: Node, present: String => Boolean,
                                  partial: String => Double): (Boolean, Double) = n match {
    case Term(t) =>
      val p = present(t)
      (p, if (p) partial(t) else 0.0)
    case Not(c) => (!evalAndScore(c, present, partial)._1, 0.0)
    case And(cs) =>
      val rs = cs.map(evalAndScore(_, present, partial))
      val m = rs.forall(_._1)
      (m, if (m) rs.foldLeft(0.0)(_ + _._2) else 0.0)
    case Or(cs) =>
      val rs = cs.map(evalAndScore(_, present, partial))
      val m = rs.exists(_._1)
      (m, if (m) rs.foldLeft(0.0)(_ + _._2) else 0.0)
    case True  => (true, 0.0)
    case _     => (false, 0.0)
  }

  /** [[evalAndScore]] compiled to int-indexed postorder arrays for the
    * resident serving hot loop ([[LocalService.searchBool]] runs the
    * evaluator once per candidate doc — the merged union of the positive
    * lists, which for a hot leaf is most of the corpus). The recursive
    * form allocates a Seq + tuple per inner node and hashes term STRINGS
    * per leaf per doc; compiled evaluation is two flat array passes with
    * zero allocation. Node order is postorder (children before parents,
    * ascending child order preserved), so the And/Or sums visit children
    * in exactly `foldLeft(0.0)(_ + _._2)`'s left-assoc order — the scores
    * are bitwise-identical to [[evalAndScore]] (asserted differentially
    * in EngineSpec and QuerySpec).
    *
    * Leaf slots: `leafSlot(i) >= 0` is a positive-term slot (indexes the
    * caller's aligned/partial arrays); `leafSlot(i) < 0` is `~negSlot`.
    * Instances carry per-doc scratch — one instance per query evaluation
    * loop, NOT shared across threads. */
  private[graft] final class Compiled(ops: Array[Int], leafSlot: Array[Int],
                                      childStart: Array[Int], children: Array[Int]) {
    private val n = ops.length
    private val m = new Array[Boolean](n)
    private val s = new Array[Double](n)
    /** True iff the doc matches; the clause-aware score is [[lastScore]].
      * `posPresent`/`partials` are indexed by positive slot (partials need
      * only be valid at present slots), `negPresent` by negative slot. */
    def eval(posPresent: Array[Boolean], partials: Array[Double],
             negPresent: Array[Boolean]): Boolean = {
      var i = 0
      while (i < n) {
        (ops(i): @annotation.switch) match {
          case 0 => // leaf
            val sl = leafSlot(i)
            if (sl >= 0) {
              val p = posPresent(sl)
              m(i) = p
              s(i) = if (p) partials(sl) else 0.0
            } else {
              m(i) = negPresent(~sl)
              s(i) = 0.0 // a negative-only leaf never scores
            }
          case 1 => // not
            m(i) = !m(children(childStart(i)))
            s(i) = 0.0
          case 2 => // and
            var c = childStart(i)
            val end = childStart(i + 1)
            var all = true
            while (c < end) { all &&= m(children(c)); c += 1 }
            m(i) = all
            var acc = 0.0
            if (all) { c = childStart(i); while (c < end) { acc += s(children(c)); c += 1 } }
            s(i) = acc
          case _ => // or: sums ALL children (unmatched ones hold 0.0)
            var c = childStart(i)
            val end = childStart(i + 1)
            var any = false
            var acc = 0.0
            while (c < end) { val ci = children(c); any ||= m(ci); acc += s(ci); c += 1 }
            m(i) = any
            s(i) = if (any) acc else 0.0
        }
        i += 1
      }
      m(n - 1)
    }
    def lastScore: Double = s(n - 1)
  }

  /** Flatten a folded tree into a [[Compiled]] program. `posIdx`/`negIdx`
    * are the caller's slot assignments from [[leafTerms]] (a term in both
    * maps resolves positive, mirroring evalAndScore's posIdx-first probe). */
  private[graft] def compile(root: Node, posIdx: Map[String, Int],
                             negIdx: Map[String, Int]): Compiled = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Int]
    val leafSlot = scala.collection.mutable.ArrayBuffer.empty[Int]
    val childLists = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def emit(op: Int, slot: Int, cs: Seq[Int]): Int = {
      ops += op; leafSlot += slot; childLists += cs; ops.length - 1
    }
    def walk(n: Node): Int = n match {
      case Term(t) =>
        emit(0, posIdx.get(t).getOrElse(~negIdx(t)), Nil)
      case Not(c)  => val ci = walk(c); emit(1, 0, Seq(ci))
      case And(cs) => val cis = cs.map(walk); emit(2, 0, cis)
      case Or(cs)  => val cis = cs.map(walk); emit(3, 0, cis)
      case True    => emit(2, 0, Nil) // empty AND ≡ true (foldForEval never emits these,
      case False   => emit(3, 0, Nil) // empty OR ≡ false  but stay total)
    }
    walk(root)
    val childStart = new Array[Int](ops.length + 1)
    var acc = 0
    var i = 0
    while (i < ops.length) { childStart(i) = acc; acc += childLists(i).size; i += 1 }
    childStart(ops.length) = acc
    new Compiled(ops.toArray, leafSlot.toArray, childStart,
      childLists.flatten.toArray)
  }

  /** Distinct positive leaf terms in first-occurrence order (the scoring
    * slots), then distinct negative-only leaf terms. */
  private[graft] def leafTerms(n: Node): (Seq[String], Seq[String]) = {
    val pos = scala.collection.mutable.LinkedHashSet.empty[String]
    val neg = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(n: Node, negated: Boolean): Unit = n match {
      case Term(t) => if (negated) neg += t else pos += t
      case Not(c)  => walk(c, !negated)
      case And(cs) => cs.foreach(walk(_, negated))
      case Or(cs)  => cs.foreach(walk(_, negated))
      case _       => ()
    }
    walk(n, negated = false)
    (pos.toSeq, (neg -- pos).toSeq)
  }

  // ---- interval algebra over disjoint ascending (first, last) arrays ----
  private def intersectIv(a: Array[(Int, Int)], b: Array[(Int, Int)]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  private def unionIv(ivs: Seq[Array[(Int, Int)]]): Array[(Int, Int)] = {
    val all = ivs.flatten.sortBy(_._1)
    if (all.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer(all.head)
    all.tail.foreach { case (lo, hi) =>
      val (plo, phi) = out.last
      if (lo <= phi + 1) { if (hi > phi) out(out.length - 1) = (plo, hi) }
      else out += ((lo, hi))
    }
    out.toArray
  }

  /** Candidate docId coverage of a folded tree: any matching doc lies
    * inside (AND intersects positive children, OR unions children, NOT
    * never restricts). */
  private def coverage(n: Node, ranges: Map[String, Array[(Int, Int)]]): Array[(Int, Int)] =
    n match {
      case Term(t) => ranges.getOrElse(t, Array.empty)
      case And(cs) =>
        cs.filter(hasPositive).map(coverage(_, ranges)) match {
          case Seq()       => Array.empty
          case head +: tail => tail.foldLeft(head)(intersectIv)
        }
      case Or(cs) => unionIv(cs.map(coverage(_, ranges)))
      case Not(_) => Array.empty // only reachable for pure-negative trees
      case _      => Array.empty
    }

  /** Compile the folded predicate to a codegen Column over the presence
    * bitmask (leaf bit positions from `bitOf`). */
  private def predicate(n: Node, mask: org.apache.spark.sql.Column,
                        bitOf: Map[String, Int]): org.apache.spark.sql.Column = n match {
    case Term(t) => mask.bitwiseAND(lit(1L << bitOf(t))) =!= 0L
    case Not(c)  => !predicate(c, mask, bitOf)
    case And(cs) => cs.map(predicate(_, mask, bitOf)).reduceLeft(_ && _)
    case Or(cs)  => cs.map(predicate(_, mask, bitOf)).reduceLeft(_ || _)
    case True    => lit(true)
    case _       => lit(false)
  }

  /** Clause-aware Lucene scoring as a codegen Column over the presence
    * mask and the per-leaf partial-score pivot (`_p<slot>`): a node
    * contributes only when it MATCHES — a matched AND adds all children, a
    * matched OR its matching children, NOT nothing. Additions happen in
    * fixed tree order (bitwise-deterministic; the SQL oracle mirrors the
    * same CASE tree term for term). */
  private def scoreExpr(n: Node, mask: org.apache.spark.sql.Column,
                        bitOf: Map[String, Int],
                        slotOf: Map[String, Int]): org.apache.spark.sql.Column = n match {
    case Term(t) =>
      slotOf.get(t).map(i => coalesce(col(s"_p$i"), lit(0.0))).getOrElse(lit(0.0))
    case Not(_) => lit(0.0)
    case And(cs) =>
      when(predicate(n, mask, bitOf),
        cs.map(scoreExpr(_, mask, bitOf, slotOf)).reduceLeft(_ + _)).otherwise(lit(0.0))
    case Or(cs) =>
      when(predicate(n, mask, bitOf),
        cs.map(scoreExpr(_, mask, bitOf, slotOf)).reduceLeft(_ + _)).otherwise(lit(0.0))
    case _ => lit(0.0)
  }

  /** Batched boolean search: every boolean query of a log in ONE Spark job
    * (the [[Searcher.searchAll]] analog). Same semantics as [[search]] per
    * query; the per-(query, doc) (mask, slot partials) aggregate feeds the
    * SHARED recursive evaluator ([[evalAndScore]]) executor-side with the
    * broadcast folded trees — scores bitwise-identical to the single-query
    * Column form. Returns (queryId, rank, docId, score). */
  def searchAll(ix: Searcher.LoadedIndex, queries: Seq[(Int, Node)],
                k: Int): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty =
      Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
    if (queries.isEmpty || k <= 0) return empty
    val all0 = queries.flatMap { case (_, n) =>
      val (p, ng) = leafTerms(n); p ++ ng
    }.distinct
    if (all0.isEmpty) return empty
    val dfs: Map[String, Long] = ix.dfs(all0)
    val live: Seq[(Int, Node)] = queries.flatMap { case (qid, n) =>
      foldForEval(n, dfs.contains).map(qid -> _)
    }
    if (live.isEmpty) return empty
    // per-query leaf tables: (queryId, term, bit, slot, idf) — bit/slot
    // spaces are PER QUERY (each query's own mask and partial array)
    final case class QInfo(qid: Int, root: Node, posTerms: Seq[String],
                           bitOf: Map[String, Int])
    val infos = live.map { case (qid, root) =>
      val (pos, neg) = leafTerms(root)
      require(pos.size + neg.size <= 62, s"boolean query $qid exceeds 62 distinct terms")
      QInfo(qid, root, pos, (pos ++ neg).zipWithIndex.toMap)
    }
    val leafRows = infos.flatMap { qi =>
      qi.bitOf.toSeq.map { case (t, bit) =>
        (qi.qid, t, 1L << bit, qi.posTerms.indexOf(t),
          Bm25.idf(ix.nDocs, dfs.getOrElse(t, 0L)))
      }
    }
    val leafDf = broadcast(leafRows.toDF("queryId", "term", "bit", "slot", "idf"))
    val allTerms = live.flatMap { case (_, n) =>
      val (p, ng) = leafTerms(n); p ++ ng
    }.distinct
    // coverage per query; union of surviving blocks decoded once (extra
    // blocks decoded for one query only add rows another query's own
    // predicate discards — same exactness argument as Searcher.searchAll)
    val blocks = ix.postings.filter($"term".isin(allTerms: _*))
    // [[MetaStore]]-bounded fetch: the per-tree coverage walk is monotone
    // in each term's intervals, so running it over COARSE coverage yields
    // a sound superset to restrict the fine fetch to
    val metaRaw = MetaStore.fineMetaBy(ix, blocks, allTerms, dfs)(covMap =>
      MetaStore.unionIv(infos.map(qi => coverage(qi.root, covMap))))
    val ranges: Map[String, Array[(Int, Int)]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) => t -> rs.sortBy(_._2).map(r => (r._2, r._3)) }
    val keys: Set[(String, Int)] = infos.iterator.flatMap { qi =>
      val cov = coverage(qi.root, ranges)
      qi.bitOf.keysIterator.flatMap { t =>
        val m = ranges.getOrElse(t, Array.empty[(Int, Int)])
          .map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))
        BlockMax.overlapping(m, cov).iterator.map(i => (t, m(i).first))
      }
    }.toSet
    if (keys.isEmpty) return empty
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val partScore = $"idf" *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    val decoded = Searcher.decodedScoreRows(ix, blocks
      .join(broadcast(keys.toSeq.toDF("term", "firstDocId")),
        Seq("term", "firstDocId"), "left_semi"))
    val bcTrees = spark.sparkContext.broadcast(
      infos.map(qi => qi.qid -> ((qi.root, qi.bitOf, qi.posTerms))).toMap)
    val scored = decoded
      .join(leafDf, "term")
      .withColumn("partScore", partScore)
      .groupBy($"queryId", $"docId")
      .agg(sum($"bit").as("mask"),
        collect_list(when($"slot" >= 0, struct($"slot", $"partScore"))).as("sps"))
      .select($"queryId", $"docId".cast("int").as("docId"), $"mask",
        $"sps".cast("array<struct<slot:int,partScore:double>>"))
      .as[(Int, Int, Long, Seq[(Int, Double)])]
      .flatMap { case (qid, docId, mask, sps) =>
        val (root, bitOf, posTerms) = bcTrees.value(qid)
        val parts = new Array[Double](posTerms.size)
        sps.foreach { case (slot, p) => parts(slot) = p }
        val slotIdx = posTerms.zipWithIndex.toMap
        val (matched, score) = evalAndScore(root,
          t => (mask & (1L << bitOf(t))) != 0L,
          // total: a present NEGATIVE leaf's partial is requested but
          // discarded by its Not parent — 0.0, never a lookup failure
          t => slotIdx.get(t).map(parts).getOrElse(0.0))
        if (matched) Iterator.single((qid, docId, score)) else Iterator.empty
      }
      .toDF("queryId", "docId", "score")
    val withDel = ix.tombstones
      .map(d => scored.join(d, Seq("docId"), "left_anti")).getOrElse(scored)
    withDel
      .as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, s), i) => (qid, i + 1, d, s) }
      }
      .toDF("queryId", "rank", "docId", "score")
  }

  /** Boolean BM25 top-k over the index (see object doc for the contract).
    * Accepts a query string (parsed) or a pre-built [[Node]]. */
  def search(ix: Searcher.LoadedIndex, query: String, k: Int): Dataset[Searcher.Hit] =
    search(ix, parse(query), k)

  def search(ix: Searcher.LoadedIndex, root0: Node, k: Int): Dataset[Searcher.Hit] = {
    val spark = ix.spark
    import spark.implicits._
    if (k <= 0) return spark.emptyDataset[Searcher.Hit]
    val (pos0, neg0) = leafTerms(root0)
    val all0 = (pos0 ++ neg0).distinct
    if (all0.isEmpty) return spark.emptyDataset[Searcher.Hit]
    val dfs: Map[String, Long] = ix.dfs(all0)
    val root = fold(root0, dfs.contains)
    if (root == False || root == True || !hasPositive(root))
      return spark.emptyDataset[Searcher.Hit]
    val (posTerms, negTerms) = leafTerms(root)
    val allTerms = (posTerms ++ negTerms).distinct
    val blocks = ix.postings.filter($"term".isin(allTerms: _*))
    val metaRaw = MetaStore.fineMetaBy(ix, blocks, allTerms, dfs)(covMap =>
      coverage(root, covMap))
    val ranges: Map[String, Array[(Int, Int)]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) => t -> rs.sortBy(_._2).map(r => (r._2, r._3)) }
    val cov = coverage(root, ranges)
    if (cov.isEmpty) return spark.emptyDataset[Searcher.Hit]
    // every leaf (positive AND negative) decodes only blocks overlapping the
    // tree's coverage: presence flags are complete for all candidate docs
    val keys: Set[(String, Int)] = allTerms.iterator.flatMap { t =>
      val m = ranges.getOrElse(t, Array.empty[(Int, Int)])
        .map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))
      BlockMax.overlapping(m, cov).iterator.map(i => (t, m(i).first))
    }.toSet
    if (keys.isEmpty) return spark.emptyDataset[Searcher.Hit]
    val bitOf: Map[String, Int] = allTerms.zipWithIndex.toMap
    require(allTerms.size <= 62, "boolean query exceeds 62 distinct terms")
    val slotOf: Map[String, Int] = posTerms.zipWithIndex.toMap
    val idfs = dfs.map { case (t, d) => t -> Bm25.idf(ix.nDocs, d) }
    val leafDf = broadcast(allTerms.map { t =>
      (t, 1L << bitOf(t), slotOf.getOrElse(t, -1), idfs.getOrElse(t, 0.0))
    }.toDF("term", "bit", "slot", "idf"))
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val partScore = $"idf" *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    val decoded = Searcher.decodedScoreRows(ix, blocks
      .join(broadcast(keys.toSeq.toDF("term", "firstDocId")),
        Seq("term", "firstDocId"), "left_semi"))
    // each (term, doc) posting is unique → the bit sum is an exact mask and
    // each positive leaf's max(when(...)) pivot holds its single partial
    val pivots = posTerms.zipWithIndex.map { case (t, i) =>
      max(when($"term" === t, $"partScore")).as(s"_p$i")
    }
    val agg = decoded
      .join(leafDf, "term")
      .withColumn("partScore", partScore)
      .groupBy($"docId")
      .agg(sum($"bit").as("mask"), pivots: _*)
      .withColumn("score", scoreExpr(root, $"mask", bitOf, slotOf))
      .filter(predicate(root, $"mask", bitOf))
    val withDel = ix.tombstones
      .map(d => agg.join(d, Seq("docId"), "left_anti")).getOrElse(agg)
    val hits = withDel
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select($"docId".cast("int"), $"score")
      .as[(Int, Double)].collect()
      .zipWithIndex.map { case ((d, s), i) => Searcher.Hit(d, s, i + 1) }
    hits.toSeq.toDS()
  }
}
