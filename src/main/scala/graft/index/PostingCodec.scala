package graft.index

import graft.core.{BitPack, Delta, Varint}

/** One encoded posting block: up to [[PostingCodec.BlockSize]] postings of a
  * single term, in ascending docId, with the per-block skip metadata the
  * reference keeps in its skip list (reference "cozy box" + skip entries:
  * `flash_engine_dumper.h:51-119,331-525`, `flash_containers.h:236-308`;
  * in-memory analog `posting_list_delta.h:397-570`).
  *
  * Columnar-per-term layout like the reference: four independent value
  * streams (docids / tfs / positions / offsets) so non-phrase queries never
  * touch positions ("read as needed" — parquet column pruning is the Spark
  * analog of the reference's lazy offset decode `flash_iterators.h:711-769`).
  *
  *  - docIds: delta-gap vs `prevDocId` (the skip entry's prev-doc-id,
  *    seeded 0 for the first block, `flash_containers.h:22`), varint.
  *  - tfs: raw varint.
  *  - lenBytes: the per-posting lossy doc-length byte (the BM25 norm,
  *    Lucene's `norms` analog) framed like tfs. Inlining the norm in the
  *    posting stream makes scoring join-free: without it every query job
  *    joins decoded postings against a doc-length table that at corpus
  *    scale (10^10 docs) is neither broadcastable nor cheap to shuffle
  *    against. Costs ≤1 byte/posting (values are 0-255; full blocks
  *    bit-pack at the group max width). The reference needs no such
  *    stream only because its doc store is a local mmap array
  *    (`doc_length_store.h`) — a lookup Spark executors don't have.
  *  - positions: per posting `varint(n)` then within-posting delta varints
  *    starting from 0 (`flash_engine_dumper.h:456-461`).
  *  - offsets: per posting `varint(n)` then delta-encoded interleaved
  *    (start,end) varints starting from 0.
  */
final case class PostingBlock(
    term: String,
    prevDocId: Int,   // skip metadata: last docId of the previous block (0 for first)
    firstDocId: Int,  // skip metadata: block min docId
    lastDocId: Int,   // skip metadata: block max docId
    n: Int,
    maxTf: Int,       // block-max metadata: max tf in block (WAND upper bound)
    minLenByte: Int,  // block-max metadata: min lossy length byte in block
    sumTf: Int,       // Σ tf in block — term cf derives from metadata alone
    docIds: Array[Byte],
    tfs: Array[Byte],
    lenBytes: Array[Byte],
    positions: Array[Byte],
    offsets: Array[Byte])

object PostingCodec {

  /** A postings file without the `lenBytes` stream: it was written before
    * the inline norm stream existed, and no query or compaction path reads
    * that layout. The index must be rebuilt. */
  final class LegacyPostingsException(path: String) extends IllegalStateException(
    s"postings file $path has no lenBytes column: it predates the inline norm " +
      "stream; rebuild the index")

  /** Postings per block — the reference's vacuum pack/skip interval
    * (`packed_value.h:13`, PACK_ITEM_CNT=128). */
  val BlockSize = 128

  /** Per-posting pre-encoded payloads: positions/offsets are delta+varint
    * encoded once at tokenize time; a block's positions stream is the
    * byte-concatenation of its postings' blobs (same wire format), so the
    * term-partitioned shuffle moves ~3× fewer bytes and the encode stage
    * never re-touches them. */
  final case class Posting(docId: Int, tf: Int, posBlob: Array[Byte], offBlob: Array[Byte],
                           lenByte: Int = 0)

  /** varint(n) + within-posting delta varints, starting at 0
    * (`flash_engine_dumper.h:456-461`). */
  def encodePositionsBlob(positions: Array[Int]): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuilder.make[Byte]
    Varint.encode(positions.length, b)
    var prev = 0
    var i = 0
    while (i < positions.length) {
      Varint.encode(positions(i) - prev, b); prev = positions(i); i += 1
    }
    b.result()
  }

  /** varint(n) + interleaved delta-encoded (start,end) varints. */
  def encodeOffsetsBlob(starts: Array[Int], ends: Array[Int]): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuilder.make[Byte]
    Varint.encode(starts.length, b)
    var prevS = 0
    var prevE = 0
    var i = 0
    while (i < starts.length) {
      Varint.encode(starts(i) - prevS, b); Varint.encode(ends(i) - prevE, b)
      prevS = starts(i); prevE = ends(i); i += 1
    }
    b.result()
  }

  /** Encode one term's postings (ascending docId, strictly increasing —
    * `posting_list_delta.h:412-415`) into blocks. `prevDocId` seeds the
    * first block's delta base (0 at list start; when a hot term is salted
    * into docId-range shards, the shard's base is the previous shard's last
    * docId — callers pass it in). */
  /** Value-stream framing: full 128-posting blocks are bit-packed at the
    * group's max width (the reference's pack format, `packed_value.h:87-128`,
    * width rule `utils.h:286-294`); partial tail blocks stay varint (the
    * reference's "vints tail", `flash_engine_dumper.h:78-104`). First byte
    * tags the framing. */
  private val TagVarint: Byte = 0
  private val TagPacked: Byte = 1

  private def frame(vals: Array[Int]): Array[Byte] =
    if (vals.length == BlockSize) TagPacked +: BitPack.pack(vals)
    else TagVarint +: Varint.encodeAll(vals)

  private def unframe(bytes: Array[Byte], n: Int): Array[Int] = {
    val body = java.util.Arrays.copyOfRange(bytes, 1, bytes.length)
    if (bytes(0) == TagPacked) BitPack.unpack(body)
    else Varint.decodeAll(body, n)
  }

  def encode(term: String, postings: Iterator[Posting], basePrevDocId: Int = 0): Iterator[PostingBlock] = {
    val grouped = postings.grouped(BlockSize)
    var prev = basePrevDocId
    grouped.map { group =>
      val arr = group.toArray
      val ids = arr.map(_.docId)
      require(ids.length == 1 || ids.sliding(2).forall(p => p(1) > p(0)),
        s"postings for '$term' not strictly increasing")
      val docIdBytes = frame(Delta.encode(ids, prev))
      val tfBytes = frame(arr.map(_.tf))
      val lenBytes = frame(arr.map(_.lenByte))
      val posB = scala.collection.mutable.ArrayBuilder.make[Byte]
      val offB = scala.collection.mutable.ArrayBuilder.make[Byte]
      arr.foreach { p => posB ++= p.posBlob; offB ++= p.offBlob }
      // avg-independent block-max pair: tfNormLossy is increasing in tf and
      // decreasing in lenByte at ANY avgLen, so (maxTf, minLenByte) bounds
      // every posting's partial score in the block even when segments with
      // different corpus averages are searched together (BMW metadata —
      // the reference's skip-list analog, north-rule block-max WAND)
      val maxTf = arr.iterator.map(_.tf).max
      val minLb = arr.iterator.map(_.lenByte).min
      val sumTf = arr.iterator.map(_.tf).sum
      val blk = PostingBlock(term, prev, ids.head, ids.last, arr.length,
        maxTf, minLb, sumTf, docIdBytes, tfBytes, lenBytes, posB.result(), offB.result())
      prev = ids.last
      blk
    }
  }

  /** Decode only (docId, tf) — the scoring path; positions/offsets untouched. */
  def decodeDocIdTf(prevDocId: Int, n: Int, docIds: Array[Byte], tfs: Array[Byte]): Array[(Int, Int)] = {
    val ids = Delta.decode(unframe(docIds, n), prevDocId)
    val tf = unframe(tfs, n)
    Array.tabulate(n)(i => (ids(i), tf(i)))
  }

  /** Decode the per-posting lossy doc-length bytes (the inline norm
    * stream) — parallel to the block's docId order. */
  def decodeLenBytes(n: Int, lenBytes: Array[Byte]): Array[Int] =
    unframe(lenBytes, n)

  /** Decode per-posting position lists (phrase path only). */
  def decodePositions(n: Int, positions: Array[Byte]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](n)
    var off = 0
    var i = 0
    while (i < n) {
      val (np, o1) = Varint.decodeOne(positions, off)
      off = o1
      val deltas = new Array[Int](np)
      var j = 0
      while (j < np) {
        val (d, o2) = Varint.decodeOne(positions, off)
        deltas(j) = d; off = o2; j += 1
      }
      out(i) = Delta.decode(deltas)
      i += 1
    }
    out
  }

  /** Decode per-posting offset pair lists (snippet path only). */
  def decodeOffsets(n: Int, offsets: Array[Byte]): Array[Array[(Int, Int)]] = {
    val out = new Array[Array[(Int, Int)]](n)
    var off = 0
    var i = 0
    while (i < n) {
      val (np, o1) = Varint.decodeOne(offsets, off)
      off = o1
      val pairs = new Array[(Int, Int)](np)
      var prevS = 0
      var prevE = 0
      var j = 0
      while (j < np) {
        val (ds, o2) = Varint.decodeOne(offsets, off)
        val (de, o3) = Varint.decodeOne(offsets, o2)
        prevS += ds; prevE += de
        pairs(j) = (prevS, prevE)
        off = o3; j += 1
      }
      out(i) = pairs
      i += 1
    }
    out
  }
}
