package graft.index

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Positional-read document sidecar for the SERVING tier — the fix for the
  * searchd memory model (the reference pins every document's full text in RAM,
  * /root/reference/src/core/search_service.cpp; at 100x corpus the serving
  * node dies at load). One `docs-<bucket>.bin` per docstore bucket, mirroring
  * the v5 segment dictionary design:
  *
  *   magic | bucket | doc records... | dictionary | dictOffset (last 8 bytes)
  *
  * A reader pins the dictionary — (docId, offset, len), 20 bytes per doc
  * vs kilobytes of text — and a reference per doc to its interned filter
  * fields (`DocMeta`), nothing more. It serves each requested doc with one
  * positional read (the docstore is doc_id-sorted per bucket, so ids
  * binary-search). Decoded rows go through a bounded byte-capped LRU for hot
  * docs; a metadata filter reads only the pinned fields, never a row.
  *
  * Sidecars are DERIVED data: generated lazily at server load when missing
  * (one column-pruned, exchange-free pass over the missing buckets' docstore
  * files — off the build hot path, so index-build throughput is untouched)
  * and maintained eagerly by addDocuments and compactBuckets for their new
  * buckets once an index has them.
  */
object DocSidecar {

  final case class DocRow(text: String, source: String, lang: String) {
    def meta: DocMeta = DocMeta(source, lang)
  }

  /** A doc's filter fields: what a `lang=` / `source=` filter reads. */
  final case class DocMeta(source: String, lang: String)

  /** A doc lookup (a serving generation's store, or one sidecar bucket):
    * `apply` gives a doc's row (phrase adjacency, snippets), `meta` its
    * filter fields (null when the doc is unknown).
    */
  trait Docs extends (Long => Option[DocRow]) {
    def meta(docId: Long): DocMeta
  }

  object Docs {
    /** Docs over a row function (an in-memory doc map): the filter fields
      * come from the row.
      */
    def apply(rows: Long => Option[DocRow]): Docs = new Docs {
      def apply(docId: Long): Option[DocRow] = rows(docId)
      def meta(docId: Long): DocMeta = rows(docId).map(_.meta).orNull
    }

    val empty: Docs = Docs(_ => None)
  }

  private val Magic = "GRFTDOC1".getBytes(StandardCharsets.US_ASCII)

  def sidecarPath(indexDir: String, bucket: Int): Path =
    Paths.get(indexDir, f"docs-$bucket%05d.bin")

  def sidecarFiles(indexDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(indexDir)).iterator().asScala
      .filter(_.getFileName.toString.matches("docs-\\d+\\.bin"))
      .map(_.toString)
      .toSeq
      .sorted
  }

  /** Bucket id encoded in a sidecar file name (docs-NNNNN.bin). */
  def sidecarBucket(file: String): Int =
    Paths.get(file).getFileName.toString.stripPrefix("docs-").stripSuffix(".bin").toInt

  /** Sidecar files of the COMMITTED generation only — dead pre-compaction
    * buckets and crashed-add orphans can leave docs-*.bin droppings on disk
    * (content-identical for dead duplicates, but their overlapping doc-id
    * ranges defeat DocStore's sorted-bucket binary search and pin dead
    * descriptors). Readers enumerate through this, mirroring
    * [[SegmentIndex.liveSegmentFiles]].
    */
  def liveSidecarFiles(indexDir: String, meta: SegmentIndex.Meta): Seq[String] = {
    val live = SegmentIndex.liveBucketSet(meta)
    sidecarFiles(indexDir).filter(f => live(sidecarBucket(f)))
  }

  /** Live segment buckets that have no sidecar yet — what `ensure` and the
    * serving load (`SearchServer.loadState`) backfill. A directory listing:
    * no Spark job. Orphan buckets of a crashed add and dead pre-compaction
    * buckets are not live, so they get no sidecar.
    */
  def missingBuckets(indexDir: String, meta: SegmentIndex.Meta): Seq[Int] =
    SegmentIndex.liveSegmentFiles(indexDir, meta).map(SegmentIndex.bucketOf)
      .filterNot(b => Files.exists(sidecarPath(indexDir, b)))

  /** Write sidecars for every live bucket missing one (idempotent; safe to
    * call at every server load — on a complete index it starts no Spark
    * job). Returns the buckets written.
    */
  def ensure(spark: SparkSession, indexDir: String): Seq[Int] =
    writeBuckets(spark, indexDir, missingBuckets(indexDir, SegmentIndex.readMeta(indexDir)))

  /** Write sidecars for exactly `target` buckets (used by addDocuments and
    * compactBuckets for their new buckets, and by ensure for the missing
    * set). Exchange-free: each task streams one docstore bucket file's
    * (doc_id, text, source, lang) through [[SegmentIndex.scanBuckets]] to
    * `.tmp` + atomic rename — same persistence discipline as segments.
    */
  def writeBuckets(spark: SparkSession, indexDir: String, target: Seq[Int]): Seq[Int] =
    if (target.isEmpty) Nil
    else {
      val out = indexDir
      SegmentIndex.scanBuckets(spark, s"$indexDir/docstore",
        Seq(col("text"), col("source"), col("lang")), col("bucket").isInCollection(target))(
        it => writePartition(it, out)).sorted
    }

  /** Stream one scan partition — (bucket, doc_id, text, source, lang) rows,
    * grouped by bucket and doc_id-sorted within it (the docstore file
    * layout, guarded by the scan, so `BucketReader`'s binary search over
    * `docIds` holds) — into one sidecar per bucket.
    */
  private def writePartition(it: Iterator[InternalRow], indexDir: String): Iterator[Int] = {
    val written = scala.collection.mutable.ArrayBuffer[Int]()
    val buffered = it.buffered
    while (buffered.hasNext) {
      val bucket = buffered.head.getInt(0)
      val file = sidecarPath(indexDir, bucket)
      val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
      val fos = new FileOutputStream(tmp.toFile)
      val counting = new CountingStream(new BufferedOutputStream(fos, 1 << 16))
      val out = new DataOutputStream(counting)
      val dict = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      try {
        out.write(Magic)
        out.writeInt(bucket)
        while (buffered.hasNext && buffered.head.getInt(0) == bucket) {
          val r = buffered.next()
          val off = counting.count
          writeStr(out, r.getUTF8String(2)) // text (int length — no 64 KiB cap)
          writeStr(out, r.getUTF8String(3)) // source
          writeStr(out, r.getUTF8String(4)) // lang
          dict += ((r.getLong(1), off, (counting.count - off).toInt))
        }
        val dictOffset = counting.count
        out.writeInt(dict.length)
        dict.foreach { case (id, off, len) =>
          out.writeLong(id); out.writeLong(off); out.writeInt(len)
        }
        out.writeLong(dictOffset)
        out.flush()
        fos.getFD.sync()
      } finally out.close()
      Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      written += bucket
    }
    written.iterator
  }

  private def writeStr(out: DataOutputStream, s: UTF8String): Unit = {
    val b = (if (s == null) "" else s.toString).getBytes(StandardCharsets.UTF_8)
    out.writeInt(b.length)
    out.write(b)
  }

  private final class CountingStream(os: java.io.OutputStream)
      extends java.io.FilterOutputStream(os) {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
  }

  // -------------------------------------------------------------------- read

  /** One bucket's pinned dictionary + open channel for positional reads. */
  final class BucketReader private[DocSidecar] (
      val bucket: Int,
      path: String,
      ch: java.nio.channels.FileChannel,
      val docIds: Array[Long],
      offsets: Array[Long],
      lens: Array[Int],
      metas: Array[DocMeta]
  ) extends Docs {
    def minDoc: Long = if (docIds.isEmpty) Long.MaxValue else docIds(0)
    def maxDoc: Long = if (docIds.isEmpty) Long.MinValue else docIds(docIds.length - 1)

    def apply(docId: Long): Option[DocRow] = {
      val i = java.util.Arrays.binarySearch(docIds, docId)
      if (i < 0) return None
      val buf = java.nio.ByteBuffer.allocate(lens(i))
      var p = offsets(i)
      while (buf.hasRemaining) {
        val n = ch.read(buf, p)
        require(n >= 0, s"unexpected EOF in $path at $p")
        p += n
      }
      buf.flip()
      Some(DocRow(readStr(buf), readStr(buf), readStr(buf)))
    }

    /** The doc's pinned filter fields; null when it is not in this bucket. */
    def meta(docId: Long): DocMeta = {
      val i = java.util.Arrays.binarySearch(docIds, docId)
      if (i < 0) null else metas(i)
    }

    private def readStr(buf: java.nio.ByteBuffer): String = {
      val len = buf.getInt
      val b = new Array[Byte](len)
      buf.get(b)
      new String(b, StandardCharsets.UTF_8)
    }

    /** Pinned footprint (what the serving node actually holds): the
      * dictionary and a reference per doc to its interned `DocMeta`.
      */
    def pinnedBytes: Long = docIds.length.toLong * 24

    def close(): Unit = ch.close()
  }

  /** Diagnostic: sidecar bucket opens performed by this JVM. */
  val bucketOpens = new java.util.concurrent.atomic.AtomicLong(0)

  def openBucket(path: String): BucketReader = {
    bucketOpens.incrementAndGet()
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try {
      val size = ch.size()
      def readAt(pos: Long, len: Int): java.nio.ByteBuffer = {
        val buf = java.nio.ByteBuffer.allocate(len)
        var p = pos
        while (buf.hasRemaining) {
          val n = ch.read(buf, p)
          require(n >= 0, s"unexpected EOF in $path at $p")
          p += n
        }
        buf.flip(); buf
      }
      val head = readAt(0, Magic.length + 4)
      val magic = new Array[Byte](Magic.length)
      head.get(magic)
      require(java.util.Arrays.equals(magic, Magic), s"bad sidecar magic in $path")
      val bucket = head.getInt
      val dictOffset = readAt(size - 8, 8).getLong
      val dict = readAt(dictOffset, (size - 8 - dictOffset).toInt)
      val n = dict.getInt
      val ids = new Array[Long](n)
      val offs = new Array[Long](n)
      val lens = new Array[Int](n)
      var i = 0
      while (i < n) { ids(i) = dict.getLong; offs(i) = dict.getLong; lens(i) = dict.getInt; i += 1 }
      new BucketReader(bucket, path, ch, ids, offs, lens, readMetas(path, offs))
    } catch { case t: Throwable => ch.close(); throw t }
  }

  /** Every record's (source, lang), in one sequential pass over the records
    * (the text is skipped, not decoded); equal pairs share one instance.
    */
  private def readMetas(path: String, offsets: Array[Long]): Array[DocMeta] = {
    val metas = new Array[DocMeta](offsets.length)
    val interned = new java.util.HashMap[DocMeta, DocMeta]()
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(Paths.get(path)), 1 << 16))
    try {
      var pos = 0L
      def str(): String = {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        pos += 4 + b.length
        new String(b, StandardCharsets.UTF_8)
      }
      var i = 0
      while (i < offsets.length) {
        in.skipNBytes(offsets(i) - pos) // the header, then nothing: records are contiguous
        pos = offsets(i)
        val textLen = in.readInt()
        in.skipNBytes(textLen)
        pos += 4 + textLen
        val m = DocMeta(str(), str())
        val prev = interned.putIfAbsent(m, m)
        metas(i) = if (prev == null) m else prev
        i += 1
      }
    } finally in.close()
    metas
  }

  /** Serving-tier doc store over all of an index's sidecars: routes a docId
    * to its bucket (ranges are doc_id-range partitioned, binary search),
    * positional-reads the record, and keeps hot docs in a byte-capped LRU.
    * Thread-safe: positional channel reads + a STRIPED LRU — 16 independent
    * synchronized shards keyed by docId, each with 1/16 of the byte cap, so
    * 50 concurrent clients doing ~10 lookups per request don't all funnel
    * through one monitor (a single global lock serializes every get AND
    * every fill at thousands of requests per second).
    */
  final class DocStore(readers: IndexedSeq[BucketReader], cacheCapBytes: Long) extends Docs {
    private val byMin = readers.sortBy(_.minDoc).toArray
    private val mins = byMin.map(_.minDoc)
    // every writer path range-partitions by doc_id, so bucket ranges are
    // disjoint; if a hand-built index violates that, fall back to probing all
    private val overlapping =
      byMin.length > 1 && byMin.sliding(2).exists(p => p(0).maxDoc >= p(1).minDoc)

    private final class Shard(capBytes: Long) {
      val lru = new java.util.LinkedHashMap[java.lang.Long, DocRow](256, 0.75f, true)
      var bytes = 0L
      def get(docId: Long): DocRow = lru.synchronized(lru.get(docId))
      def put(docId: Long, r: DocRow): Unit = {
        // a row larger than this shard's whole cap can never be retained —
        // inserting it would just evict every other hot doc in the shard and
        // then itself (cache thrash); serve oversized docs straight from the
        // positional read instead
        if (rowBytes(r) > capBytes) return
        lru.synchronized {
          if (lru.put(docId, r) == null) bytes += rowBytes(r)
          val it = lru.entrySet().iterator()
          while (bytes > capBytes && it.hasNext) {
            val e = it.next()
            bytes -= rowBytes(e.getValue)
            it.remove()
          }
        }
      }
    }
    private val shards =
      Array.fill(Stripes)(new Shard(math.max(1L, cacheCapBytes / Stripes)))
    private def shardOf(docId: Long): Shard = shards(stripeOf(docId))
    private def rowBytes(r: DocRow): Long =
      2L * (r.text.length + r.source.length + r.lang.length) + 64

    /** The bucket whose doc-id range holds `docId`; null when none does. */
    private def readerOf(docId: Long): BucketReader = {
      var i = java.util.Arrays.binarySearch(mins, docId)
      if (i < 0) i = -i - 2 // last bucket with minDoc <= docId
      if (i >= 0 && docId <= byMin(i).maxDoc) byMin(i) else null
    }
    private def covering(docId: Long): Iterator[BucketReader] =
      byMin.iterator.filter(r => r.minDoc <= docId && docId <= r.maxDoc)

    def get(docId: Long): Option[DocRow] = {
      val shard = shardOf(docId)
      val hit = shard.get(docId)
      if (hit != null) return Some(hit)
      val r = readerOf(docId)
      var found: Option[DocRow] = if (r == null) None else r(docId)
      if (found.isEmpty && overlapping)
        found = covering(docId).flatMap(_(docId)).nextOption()
      found.foreach(shard.put(docId, _))
      found
    }

    def apply(docId: Long): Option[DocRow] = get(docId)

    /** The doc's pinned filter fields: no row read, no LRU. */
    def meta(docId: Long): DocMeta = {
      val r = readerOf(docId)
      val m = if (r == null) null else r.meta(docId)
      if (m == null && overlapping) covering(docId).map(_.meta(docId)).find(_ != null).orNull
      else m
    }

    def nDocs: Long = readers.map(_.docIds.length.toLong).sum
    def pinnedBytes: Long = readers.map(_.pinnedBytes).sum
    def close(): Unit = readers.foreach(_.close())
  }

  private val StripeBits = 4
  private val Stripes = 1 << StripeBits

  /** The DocStore LRU stripe of a doc id: the top bits of a multiplicative
    * (Fibonacci) hash. Not the low bits: each stripe's `LinkedHashMap` also
    * picks its bin from an id's low bits, so a stripe holding only ids
    * congruent mod 16 would use 1/16 of its bins, and those bins treeify.
    */
  private[index] def stripeOf(docId: Long): Int =
    ((docId * 0x9E3779B97F4A7C15L) >>> (64 - StripeBits)).toInt

  /** Open the index's sidecar-backed doc store; None when no sidecars exist
    * (caller backfills via ensure()).
    */
  def openStore(indexDir: String, cacheCapBytes: Long = 64L << 20): Option[DocStore] = {
    val files = liveSidecarFiles(indexDir, SegmentIndex.readMeta(indexDir))
    if (files.isEmpty) None
    else Some(new DocStore(files.map(openBucket).toIndexedSeq, cacheCapBytes))
  }
}
