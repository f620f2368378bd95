package graft.query

import graft.core.{Bm25, Tokenizer}
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
  * Evaluation shape (one Spark job; [[search]] is the one-query batch of
  * [[searchAll]]):
  *  1. constant-fold absent terms (P2 analog: absent Term → FALSE) and
  *     prune pure-negative clauses;
  *  2. docId-range coverage of the folded tree by interval algebra — AND
  *     intersects its positive children's coverage, OR unions — bounding
  *     which blocks decode (a rare clause prunes its AND-siblings' hot
  *     lists, same J3 skip analog as [[Searcher.search]]);
  *  3. decode every leaf term's surviving blocks once; per (query, doc),
  *     aggregate a presence BITMASK (each (term, doc) posting is unique,
  *     so a sum of 2^leafBit is an exact mask) plus the positive leaves'
  *     partial scores;
  *  4. the tree's [[compile]]d program — the evaluator
  *     [[LocalService.searchBool]] runs too — decides the predicate and
  *     adds the score in fixed tree order, bitwise-deterministic and
  *     mirrored term-for-term by the SQL oracle.
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

  /** Reference recursive evaluator: (matched, clause-aware score).
    * `partial` returns a positive leaf's BM25 partial for the CURRENT doc
    * (only consulted for present positive leaves). Additions happen in
    * tree order via foldLeft(0.0). No engine path runs it: it is the
    * specification [[compile]] is checked against (CoreSpec's compile law,
    * the bench's served-log check). */
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

  /** [[evalAndScore]] compiled to int-indexed postorder arrays — the
    * evaluator of both engines: [[LocalService.searchBool]] runs it once
    * per candidate doc (the merged union of the positive lists, which for
    * a hot leaf is most of the corpus), the distributed [[scored]] once
    * per aggregated (query, doc) row. The recursive
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

  /** Candidate docId coverage of a folded tree: any matching doc lies
    * inside (AND intersects positive children, OR unions children, NOT
    * never restricts). */
  private def coverage(n: Node, ranges: Map[String, Array[(Int, Int)]]): Array[(Int, Int)] =
    n match {
      case Term(t) => ranges.getOrElse(t, Array.empty)
      case And(cs) =>
        cs.filter(hasPositive).map(coverage(_, ranges)) match {
          case Seq()       => Array.empty
          case head +: tail => tail.foldLeft(head)(BlockMax.intersect)
        }
      case Or(cs) => BlockMax.union(cs.iterator.flatMap(coverage(_, ranges)))
      case Not(_) => Array.empty // only reachable for pure-negative trees
      case _      => Array.empty
    }

  /** Batched boolean search: every boolean query of a log in ONE Spark job
    * (the [[Searcher.searchAll]] analog). Same semantics as [[search]] per
    * query. Returns (queryId, rank, docId, score). */
  def searchAll(ix: Searcher.LoadedIndex, queries: Seq[(Int, Node)],
                k: Int): DataFrame =
    (if (k <= 0) None else scored(ix, queries))
      .fold(Searcher.noRanks(ix.spark))(Searcher.rankedTopK(_, k))

  /** Boolean BM25 top-k over the index (see object doc for the contract):
    * the one-query case of [[searchAll]]'s scoring, ending in
    * orderBy(score desc, docId asc) limit k. Accepts a query string
    * (parsed) or a pre-built [[Node]]. */
  def search(ix: Searcher.LoadedIndex, query: String, k: Int): Dataset[Searcher.Hit] =
    search(ix, parse(query), k)

  def search(ix: Searcher.LoadedIndex, root0: Node, k: Int): Dataset[Searcher.Hit] = {
    val spark = ix.spark
    import spark.implicits._
    (if (k <= 0) None else scored(ix, Seq(0 -> root0)))
      .fold(spark.emptyDataset[Searcher.Hit])(rows =>
        Searcher.topHits(rows.select("docId", "score"), k))
  }

  /** (queryId, docId, score) of every doc matching its query's folded
    * tree, delete tombstones applied; None when no query can match. Each
    * query's leaves get per-query slots — positive leaves first (bit =
    * scoring slot), then negative-only leaves — and each leaf decodes only
    * the blocks overlapping its query's coverage, so presence flags are
    * complete for every candidate doc. The union of surviving blocks
    * decodes once (extra blocks decoded for one query only add rows
    * another query's own predicate discards). Per (query, doc) one hash
    * aggregation builds the presence bitmask (each (term, doc) posting is
    * unique, so a sum of 2^bit is exact) and the positive leaves' partial
    * scores, and [[compile]]'s program — one per query per partition, it
    * holds per-doc scratch — evaluates the predicate and the clause-aware
    * score. */
  private def scored(ix: Searcher.LoadedIndex, queries: Seq[(Int, Node)]): Option[DataFrame] = {
    val spark = ix.spark
    import spark.implicits._
    val all0 = queries.flatMap { case (_, n) =>
      val (p, ng) = leafTerms(n); p ++ ng
    }.distinct
    if (all0.isEmpty) return None
    val dfs: Map[String, Long] = ix.dfs(all0)
    val live = queries.flatMap { case (qid, n) =>
      foldForEval(n, dfs.contains).map { root =>
        val (pos, neg) = leafTerms(root)
        require(pos.size + neg.size <= 62, s"boolean query $qid exceeds 62 distinct terms")
        (qid, root, pos, neg)
      }
    }
    if (live.isEmpty) return None
    val allTerms = live.flatMap(q => q._3 ++ q._4).distinct
    // [[MetaStore]]-bounded fetch: the per-tree coverage walk is monotone
    // in each term's intervals, so running it over COARSE coverage yields
    // a sound superset to restrict the fine fetch to
    val meta = BlockMax.metaByTerm(
      MetaStore.fineMetaBy(ix, allTerms, dfs)(
        covMap => BlockMax.union(live.iterator.flatMap(q => coverage(q._2, covMap)))),
      Map.empty, ix.lossyCache)
    val ranges = meta.map { case (t, m) => t -> BlockMax.ranges(m) }
    val keys = live.iterator.flatMap { case (_, root, pos, neg) =>
      val cov = coverage(root, ranges)
      BlockMax.keysOf(meta, (pos ++ neg).filter(meta.contains)
        .map(t => t -> BlockMax.overlapping(meta(t), cov)).toMap)
    }.toSet
    if (keys.isEmpty) return None
    val leafDf = broadcast(live.flatMap { case (qid, _, pos, neg) =>
      (pos ++ neg).zipWithIndex.map { case (t, bit) =>
        (qid, t, 1L << bit, if (bit < pos.size) bit else -1, Bm25.idf(ix.nDocs, dfs(t)))
      }
    }.toDF("queryId", "term", "bit", "slot", "idf"))
    val bcTrees = spark.sparkContext.broadcast(
      live.map { case (qid, root, pos, neg) => qid -> ((root, pos, neg)) }.toMap)
    val rows = Searcher.decodedScoreRows(ix, Searcher.blocksOf(ix, keys))
      .join(leafDf, "term")
      .withColumn("partScore", Searcher.partScore(ix, $"idf", $"tf"))
      .groupBy($"queryId", $"docId")
      .agg(sum($"bit").as("mask"),
        collect_list(when($"slot" >= 0, struct($"slot", $"partScore"))).as("sps"))
      .select($"queryId", $"docId", $"mask",
        $"sps".cast("array<struct<slot:int,partScore:double>>"))
      .as[(Int, Int, Long, Seq[(Int, Double)])]
      .mapPartitions { it =>
        val progs = scala.collection.mutable.HashMap.empty[Int, CompiledQuery]
        it.flatMap { case (qid, docId, mask, sps) =>
          val q = progs.getOrElseUpdate(qid, {
            val (root, pos, neg) = bcTrees.value(qid)
            new CompiledQuery(compile(root, pos.zipWithIndex.toMap, neg.zipWithIndex.toMap),
              pos.size, neg.size)
          })
          q.eval(mask, sps).map(s => (qid, docId, s))
        }
      }
      .toDF("queryId", "docId", "score")
    Some(ix.tombstones.fold(rows)(d => rows.join(d, Seq("docId"), "left_anti")))
  }

  /** A query's [[Compiled]] program with its per-doc input buffers, fed
    * from an aggregated (presence mask, positive-slot partials) row. */
  private final class CompiledQuery(prog: Compiled, nPos: Int, nNeg: Int) {
    private val posPresent = new Array[Boolean](nPos)
    private val partials = new Array[Double](nPos)
    private val negPresent = new Array[Boolean](nNeg)
    /** The clause-aware score if the doc matches. */
    def eval(mask: Long, sps: Seq[(Int, Double)]): Option[Double] = {
      var i = 0
      while (i < nPos) { posPresent(i) = (mask & (1L << i)) != 0L; partials(i) = 0.0; i += 1 }
      i = 0
      while (i < nNeg) { negPresent(i) = (mask & (1L << (nPos + i))) != 0L; i += 1 }
      sps.foreach { case (slot, p) => partials(slot) = p }
      if (prog.eval(posPresent, partials, negPresent)) Some(prog.lastScore) else None
    }
  }
}
