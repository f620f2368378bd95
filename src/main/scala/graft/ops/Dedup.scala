package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all shuffle-aware:
  *
  *  - exact: hash-groupBy on a content digest — one partial+final agg.
  *  - minhash + LSH: shingle → md5-based minhash signature (cross-engine
  *    reproducible: the per-seed hash is the md5 hex string itself, min =
  *    lexicographic) → band keys → bucket self-join restricted to bucket
  *    groups (never an all-pairs cartesian).
  *  - simhash: 60-bit md5-derived hyperplane signature; near-dups = equal
  *    high bands or hamming-close (verified pairwise within buckets).
  *  - n-gram Jaccard: exact verification metric on candidate pairs.
  *  - embedding cosine near-dup: see [[Similarity]].
  *
  * Scale: every candidate-generation step is a groupBy/join on a bounded
  * key (digest, band key); the only pairwise work happens inside buckets,
  * which LSH keeps small. Skewed buckets (e.g. boilerplate docs) are capped
  * explosion-safe by `maxBucket`.
  */
object Dedup {

  /** Exact duplicate groups by content digest (optionally
    * tokenization-normalized so whitespace/punct differences collapse). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String,
                  normalized: Boolean = true): DataFrame = {
    val digest = if (normalized) TextOps.contentFingerprint(col(textCol)) else md5(col(textCol))
    df.select(col(idCol), digest.as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"),
           sort_array(collect_list(col(idCol))).as("members"))
  }

  /** Minhash signature from precomputed shingle digests (one md5 hex
    * digest per shingle, the single expensive hash pass): component `i` is
    * `min over shingles of rotate(md5hex, 4*i hex chars)` — a hex-string
    * rotation puts a different 16-bit window of the digest in front per
    * component, so the per-component minima select near-independent shingles
    * while md5 runs ONCE per shingle (not once per seed). String min is
    * engine-portable (lexicographic over lowercase hex). */
  def minhashSigFromHashes(hashes: Column, sigLen: Int = 8): Column = {
    val comps = (0 until sigLen).map { i =>
      val rot = 4 * i
      if (rot == 0) array_min(hashes)
      else array_min(transform(hashes, h =>
        concat(substring(h, rot + 1, 32 - rot), substring(h, 1, rot))))
    }
    array(comps: _*)
  }

  /** LSH candidate pairs: signature split into `bands` bands; docs sharing
    * any band key are candidates. Output: (id_a, id_b) distinct pairs,
    * id_a < id_b.
    *
    * Skew handling (no silent recall loss):
    *  1. exact-digest pre-collapse — byte-identical (post-normalization)
    *    docs are collapsed to one representative before banding, so
    *    boilerplate clusters (the classic oversized-bucket cause) cost one
    *    row each; each group re-enters the output as |group|-1 linear
    *    rep<->member pairs (connected-component equivalent, never the
    *    quadratic within-group pair set).
    *  2. buckets still larger than `maxBucket` are SUB-SPLIT by a secondary
    *    hash of the full signature (docs with identical signatures — the
    *    highest-confidence near-dups — always co-locate), never dropped;
    *    the split count is reported via `splitCounter` when provided.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, sigLen: Int = 8, bands: Int = 4,
                        maxBucket: Int = 1000,
                        splitCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val rows = sigLen / bands
    // exact-digest pre-collapse: one representative (min id) per normalized
    // content digest — the skew guard for byte-identical boilerplate
    val withDigest = df
      .select(col(idCol).as("id"), TextOps.contentFingerprint(col(textCol)).as("digest"),
        col(textCol).as("_text"))
      .withColumn("rid", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .cache()
    val reps = withDigest
      .filter(col("id") === col("rid"))
      .select(col("id"), col("_text").as("text_rep"))
    // linear rep<->member pairs keep exact-dup groups connected in the
    // candidate graph (|group|-1 pairs, not |group|^2): downstream
    // union-find links member -> rep -> any near-dup of the rep
    val exactPairs = withDigest
      .filter(col("id") =!= col("rid"))
      .select(col("rid").as("id_a"), col("id").as("id_b"))
    // staged selects: tokens -> shingles -> digests -> signature, each at a
    // projection boundary so the tokenizer split runs once per doc and md5
    // once per shingle (embedding the whole chain in one expression would
    // re-evaluate the token split per shingle index — quadratic per doc)
    val withSig = reps
      .select(col("id"), TextOps.tokens(col("text_rep")).as("t"))
      .select(col("id"), TextOps.shingles(col("t"), n).as("sh"))
      .select(col("id"), transform(col("sh"), s => md5(s)).as("hs"))
      .select(col("id"), minhashSigFromHashes(col("hs"), sigLen).as("sig"))
      .cache()
    val banded = withSig.select(
      col("id"), md5(concat_ws("|", col("sig"))).as("sigkey"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", slice(col("sig"), lit(b * rows + 1), lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val sized = banded.withColumn("bsize",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
      .filter(col("bsize") > 1)
    // oversized buckets: sub-split by full-signature hash (identical-sig docs
    // stay together); count the splits so recall loss is observable, not silent
    val nSub = ceil(col("bsize").cast("double") / maxBucket)
    val split = sized.withColumn("sub",
      when(col("bsize") <= maxBucket, lit(0L))
        .otherwise(pmod(conv(substring(col("sigkey"), 1, 8), 16, 10).cast("long"), nSub.cast("long"))))
    splitCounter.foreach { acc =>
      split.filter(col("bsize") > maxBucket).select(countDistinct("band", "bkey")).collect()
        .headOption.foreach(r => acc.add(r.getLong(0)))
    }
    val a = split.select(col("band"), col("bkey"), col("sub"), col("id").as("id_a"))
    val b = split.select(col("band"), col("bkey"), col("sub"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bkey", "sub"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .unionByName(exactPairs)
      .distinct()
      .cache()
    // materialize the (small) pair set while the staged intermediates are
    // resident, then release them — repeated calls must not accumulate
    // cached partitions for the life of the session. Callers that are done
    // with the result may unpersist it; it is |pairs| rows, not corpus-sized.
    pairs.count()
    withDigest.unpersist(false)
    withSig.unpersist(false)
    pairs
  }

  /** Connected components over a candidate-pair graph — the step AFTER
    * LSH in a dedup pipeline: pairs → clusters → keep/drop lists. Each
    * node's component id is the MINIMUM doc id reachable from it, so
    * `id === comp` marks the cluster representative (the keep-list) and
    * everything else is a drop.
    *
    * Input: (id_a, id_b) undirected candidate edges (e.g.
    * [[minhashCandidates]] output). Output: (id, comp) for every id that
    * appears in a pair; docs absent from the output are singletons.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbours' labels, one
    * shuffle (groupBy on the node id) per round, converging in
    * graph-diameter rounds. Dedup graphs are near-star-shaped by
    * construction (exact-dup groups enter as rep<->member stars, LSH
    * buckets as cliques), so the diameter — and the round count — stays
    * small regardless of corpus size; for adversarial long-chain graphs
    * the O(log n)-round star-contraction variant (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) drops in
    * with the same DataFrame shape. Scale notes: the label table is one
    * row per PAIRED doc (≪ corpus), `localCheckpoint` cuts the lineage
    * each round so the plan never grows with iterations, and the
    * convergence check rides the same shuffle as the propagation.
    *
    * Size gate: the candidate graph after LSH + bucket caps is O(duplicate
    * pairs), orders of magnitude smaller than the corpus — at small scale
    * the distributed loop's per-round job overhead dwarfs the work. Below
    * `localEdgeLimit` edges (default 4M ≈ 64 MB of id pairs) the edges are
    * collected once and resolved with path-compressed union-find on the
    * driver (unioning toward the smaller root, so each root IS the
    * component min — bit-identical output to the propagation loop, which
    * OpsSpec asserts by running both paths on the same graph). Graphs over
    * the limit — a 100 TB corpus with billions of dup pairs — take the
    * distributed loop unchanged. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localEdgeLimit: Long = 4000000L): DataFrame = {
    // both orientations in ONE pass over the pairs plan (a union of two
    // selects would evaluate the upstream LSH pipeline twice)
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .cache()
    val nEdges = edges.count() // materializes the cache either way
    if (nEdges <= localEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val idType = edges.schema("src").dataType
      val collected = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      edges.unpersist(false)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      collected.foreach { case (a, b) =>
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { // smaller root wins -> root = component min
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val ids = parent.keySet().toArray(new Array[java.lang.Long](0))
      return ids.map(id => (id.longValue(), find(id.longValue()))).toSeq
        .toDF("id", "comp")
        .select(col("id").cast(idType), col("comp").cast(idType))
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val neigh = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy("src").agg(min("ncomp").as("ncomp"))
        .withColumnRenamed("src", "id")
      // carry the previous label through the checkpoint so the convergence
      // count reads materialized rows — no extra join-back per round
      val next = labels
        .join(neigh, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("old"))
        .localCheckpoint()
      changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.drop("old")
      it += 1
    }
    edges.unpersist(false)
    labels
  }

  /** Exact n-gram Jaccard similarity for (candidate) pairs — the verifier
    * after LSH, and a direct metric for small corpora. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("jid"), TextOps.tokens(col(textCol)).as("t"))
      .select(col("jid"), array_distinct(TextOps.shingles(col("t"), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        TextOps.microRatio(
          size(array_intersect(col("sh_a"), col("sh_b"))),
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard_micro"))
  }

  /** Asymmetric shingle containment per candidate pair: C(A→B) =
    * |S(A)∩S(B)| / |S(A)| (and the B→A direction) over distinct n-gram
    * shingles. Jaccard misses near-SUPERSET duplication — a doc quoted
    * wholesale inside a much larger doc scores low Jaccard but
    * containment ≈ 1 in the contained direction; training-data dedup
    * drops the contained copy. Same join shape as [[ngramJaccard]]
    * (post-LSH verifier over candidate pairs, never all-pairs). */
  def containment(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
                  n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("cid"), TextOps.tokens(col(textCol)).as("t"))
      .select(col("cid"), array_distinct(TextOps.shingles(col("t"), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed("cid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("cid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        TextOps.microRatio(
          size(array_intersect(col("sh_a"), col("sh_b"))), size(col("sh_a")))
          .as("cont_ab_micro"),
        TextOps.microRatio(
          size(array_intersect(col("sh_a"), col("sh_b"))), size(col("sh_b")))
          .as("cont_ba_micro"))
  }

  /** 60-bit simhash from md5-derived token hashes, tf-weighted. Scala-side
    * (bit-twiddling is not worth a 60-aggregate SQL oracle); deterministic
    * and unit-tested against a direct reimplementation. */
  def simhash60(tokens: Array[String]): Long = {
    if (tokens.isEmpty) return 0L
    val acc = new Array[Int](60)
    tokens.foreach { t =>
      val h = java.lang.Long.parseLong(graft.ops.Dedup.md5Hex(t).substring(0, 15), 16)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def md5Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  def hamming60(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Simhash near-dup candidates: docs whose signatures agree on any of 4
    * 15-bit bands (guarantees recall for hamming distance <= 3). */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame = {
    import df.sparkSession.implicits._
    val sigUdf = udf { t: String => simhash60(graft.core.Tokenizer.terms(t)) }
    val sigs = df.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b => shiftrightunsigned(col("sig"), b * 15) % 32768): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val a = banded.select($"band", $"bkey", $"id".as("id_a"), $"sig".as("sig_a"))
    val b = banded.select($"band", $"bkey", $"id".as("id_b"), $"sig".as("sig_b"))
    // hamming = popcount(xor) via the built-in bit_count — codegen'd, no UDF
    a.join(b, Seq("band", "bkey"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        bit_count($"sig_a".bitwiseXOR($"sig_b")).cast("int").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** Benchmark decontamination: flag corpus docs sharing at least
    * `minShared` distinct token n-grams with an evaluation set — the
    * GPT-3/PaLM-style contamination check every training pipeline runs
    * before a data release (n-gram collision against held-out benchmarks).
    *
    * Returns (id, n_shared) for flagged corpus docs. Scale shape: the eval
    * side is benchmarks — thousands of docs, millions of n-grams — so its
    * distinct n-gram set is BROADCAST and the corpus side is one map-only
    * pass (explode → broadcast semi-ish join → partial-agg count): no
    * corpus-sized shuffle at 100 TB. Counting distinct shared n-grams
    * (not occurrences) makes the score insensitive to repetition inside a
    * single doc. For eval sets too big to broadcast, the same plan without
    * `broadcast()` degrades to a shuffle join on the n-gram key — Catalyst
    * picks it automatically when the hint is dropped. */
  def contaminationOverlap(corpus: DataFrame, evalDocs: DataFrame,
                           textCol: String, idCol: String,
                           n: Int = 3, minShared: Int = 5): DataFrame = {
    // per-doc array_distinct BEFORE the explode: within-doc duplicate
    // n-grams (heavy under a small vocabulary) collapse in a per-row pass,
    // so the join input carries one row per DISTINCT (doc, gram) and the
    // per-doc aggregation is a plain count — no countDistinct Expand
    // doubling the post-join rows (measured 12.2s -> ~2s at sf0.1)
    // STAGED selects (tokens materialized before the shingle lambda): a
    // tokenizer expression inlined into the transform lambda re-evaluates
    // per shingle index — quadratic per doc (same trap the minhash
    // signature pass documents)
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("t"))
      .select(col("id"),
        explode(array_distinct(TextOps.shingles(col("t"), n))).as("g"))
    val evalGrams = grams(evalDocs).select("g").distinct()
    grams(corpus)
      .join(broadcast(evalGrams), "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicated-span detection — the exact-substring dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", public), at token-n-gram granularity: an n-gram is
    * *duplicated* when it occurs in ≥2 distinct documents; a document's
    * duplicated region is the UNION of its duplicated n-gram spans
    * [pos, pos+n). Emits per doc: distinct duplicated n-grams, tokens
    * covered by the union, doc length, and the micro-quantized covered
    * fraction — the per-doc "how much of me is boilerplate/copy" number a
    * filtering pipeline thresholds on.
    *
    * Exactness: same-length intervals union by the sorted-neighbor rule
    * Σ min(n, next_pos − pos) (last span contributes n) — a partitioned
    * window per doc, never a global one. Integer arithmetic throughout.
    *
    * Scale: the n-gram df pass is distinct (gram, doc) pairs + one
    * count groupBy (partial-agg friendly, no countDistinct Expand); the
    * span pass shuffles only positions of duplicated grams (a small
    * fraction of the corpus once n ≥ 5). */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               n: Int = 5): DataFrame = {
    val staged = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("len"))
    val grams = staged.select(col("doc_id"), col("len"),
        posexplode(TextOps.shingles(col("t"), n)).as(Seq("pos", "g")))
    val dup = grams.select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select("g")
    // duplicated grams are a small fraction of the gram space once n ≥ 5 —
    // broadcast them so the position pass is a map-side semi filter, not a
    // corpus-wide string shuffle
    val dpos = grams.join(broadcast(dup), "g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val cover = dpos
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .groupBy("doc_id")
      .agg(sum(least(lit(n), coalesce(col("nxt") - col("pos"), lit(n))))
        .cast("long").as("dup_tokens"),
        max("len").as("len"))
    val dgrams = dpos.select("doc_id", "g").distinct()
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("dup_ngrams"))
    cover.join(dgrams, "doc_id")
      .select(col("doc_id"), col("dup_ngrams"), col("dup_tokens"), col("len"),
        expr("dup_tokens * 1000000 div len").as("dup_frac_micro"))
  }
}
