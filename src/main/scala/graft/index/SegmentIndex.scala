package graft.index

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.ClassTag
import scala.util.chaining._

import graft.core.Bm25

/** On-disk index segments: the scale form of the reference's persisted index
  * (3 files, /root/reference/specs/phase2_persistence.md:44-92), redesigned
  * for a cluster:
  *
  *   - DOC-partitioned (each bucket holds ALL terms for a contiguous docId
  *     range) so AND/OR/NOT and top-k scoring are fully local to a bucket and
  *     query fan-out needs no shuffle — per-bucket top-k heaps merge at the
  *     driver (the Lucene/ES sharding model, which is what survives 1000
  *     executors);
  *   - per-term posting lists sorted by docId, stored as delta+varint blocks
  *     with per-block bound metadata (BlockCodec); at query time WAND skips
  *     whole blocks and doc-id windows by the exact maxima of the decoded
  *     impacts (TermData below);
  *   - segments are APPEND-ONLY: per-term df is LOCAL to its segment (the
  *     global df used for idf is the sum of local dfs across segments at
  *     query time), block bounds are statistics-free (maxTf, min dl/tf —
  *     valid under ANY current (idf, avgdl)), and index_meta.json keeps the
  *     corpus scalars including the exact integer sumDl — so incremental
  *     adds/compaction never rewrite existing segment files and stay
  *     bit-identical to full rebuilds (see TermData below, SURVEY §2.10);
  *   - every bucket write is atomic (write .tmp, fsync, rename — the
  *     reference's own persistence discipline, search_service.cpp:299-327)
  *     and records a manifest with row/byte metrics, a file sha256, and an
  *     order-independent lineage hash of the source rows (north_rule:
  *     resumable with per-partition lineage + metrics). A re-run SKIPS
  *     buckets whose manifest is already complete.
  */
object SegmentIndex {

  val SchemaVersion = 2

  final case class Manifest(
      formatVersion: Int,
      bucket: Int,
      nTerms: Long,
      nPostings: Long,
      nDocs: Long,
      bytes: Long,
      fileSha256: String,
      lineageXor: Long,
      skipped: Boolean,
      // exact integer token total of this bucket, so a fresh build's meta
      // (n, sumDl) aggregates straight off the manifests with no separate
      // stats job; 0 in manifests written before round 4 (resume reads them
      // only for the skip decision, never for stats)
      sumDl: Long = 0L
  )

  /** Bumped when the segment byte layout changes; manifests from another
    * format never satisfy the resume check. PFOR-coded segments are format
    * 6 (magic GRFTSEG6) — a resume under a different codec rebuilds rather
    * than reusing the other codec's segments.
    */
  val FormatVersion = 5
  val FormatVersionPfor = 6
  private def formatOf(codec: String): Int =
    if (codec == BlockCodec.CodecPfor) FormatVersionPfor else FormatVersion

  /** Corpus-level stats. `sumDl` is the EXACT integer token total so that
    * incremental adds recompute avgdl = (sumDl + delta) / (n + delta) with
    * bit-identical results to a from-scratch rebuild (no float re-summation
    * drift — the add-parity contract).
    *
    * `lastBatchId` is the exactly-once marker for streaming ingest: the id of
    * the last micro-batch whose addDocuments COMPLETED (the meta rewrite is
    * the commit point). A replayed foreachBatch whose id is already recorded
    * here is a no-op — this closes the crash window between a fully-applied
    * add and Spark committing the micro-batch to its checkpoint, where the
    * orphan cleanup alone cannot tell "applied" from "half-applied".
    * Absent (None) for indexes never touched by the streaming path.
    */
  final case class Meta(
      schemaVersion: Int,
      n: Long,
      sumDl: Long,
      avgdl: Double,
      buckets: Int,
      blockSize: Int,
      codec: String,
      codeAware: Boolean,
      lastBatchId: Option[Long] = None,
      // live bucket ids after a PARTIAL compaction (compactBuckets); None =
      // every bucket in [0, buckets) is live (the append-only common case).
      // `buckets` stays the NEXT-id counter — dead ids are never reused.
      live: Option[Seq[Int]] = None
  )

  /** One term's scored postings under ONE (idf, avgdl): `impact(i)` is
    * `Bm25.termPart(tf, idf, norm(dl, avgdl))` of the term's i-th posting in
    * doc order — block `b`'s postings, whose doc ids are `docIds(b)`, follow
    * those of blocks 0 until b. `blockMax(b)` is the exact maximum of block
    * `b`'s impacts and `termMax` that of the term: tight bounds, where the
    * on-disk `Bm25.partBound` only dominates them. Immutable once built: a
    * scorer holds the object it started with, so a concurrent stats change
    * never mixes two generations' values in one query.
    */
  final class Impacts(
      val idf: Double,
      val avgdl: Double,
      val docIds: Array[Array[Long]],
      val impact: Array[Double],
      val blockMax: Array[Double],
      val termMax: Double
  )

  /** One term's postings inside ONE segment. `df` is the LOCAL document
    * frequency (this segment only); the GLOBAL df used for idf is the sum of
    * local dfs across segments — which is what lets new segments be appended
    * without rewriting old ones (the Lucene sharding model). The blocks'
    * statistics-free (maxTf, minDl/tf) metadata stays the format's bound
    * contract; scoring reads `impacts` instead.
    *
    * Blocks load LAZILY through `blocksLoader` (a positional read of this
    * term's record — df comes from the dictionary, so loading a segment
    * touches only its term dictionary, and a query touches only its own
    * terms' postings). `lazy val` gives thread-safe load-once.
    *
    * Decoded state on the heap: each block's doc ids (`docIds`, decoded once
    * per segment lifetime) and ONE `Impacts` object, memoized for the last
    * (idf, avgdl) seen. tf and dl are not retained: a query under other
    * stats (a reload that changed N or avgdl, a carried segment served by
    * two generations) re-decodes the blocks from `blocks`' compressed bytes
    * and swaps the memo. Benign racy fills: decoding is deterministic.
    */
  final class TermData(val df: Long, blocksLoader: () => IndexedSeq[BlockCodec.Block]) {
    lazy val blocks: IndexedSeq[BlockCodec.Block] = blocksLoader()

    @transient private lazy val idCache = new Array[Array[Long]](blocks.length)
    @volatile @transient private var memo: Impacts = _

    /** Block `bi`'s doc ids, decoded on first access. */
    def docIds(bi: Int): Array[Long] = {
      var d = idCache(bi)
      if (d == null) { d = BlockCodec.decodePrimitive(blocks(bi)).docIds; idCache(bi) = d }
      d
    }

    /** Every posting's BM25 part under (idf, avgdl): the memo when its stats
      * are these, else a fresh object from one decode of every block.
      */
    def impacts(idf: Double, avgdl: Double): Impacts = {
      val m = memo
      if (m != null && m.idf == idf && m.avgdl == avgdl) m
      else { val fresh = buildImpacts(idf, avgdl); memo = fresh; fresh }
    }

    private def buildImpacts(idf: Double, avgdl: Double): Impacts = {
      val nb = blocks.length
      val imp = new Array[Double](blocks.iterator.map(_.count).sum)
      val bmax = new Array[Double](nb)
      var tmax = 0.0
      var at = 0
      var bi = 0
      while (bi < nb) {
        val d = BlockCodec.decodePrimitive(blocks(bi))
        if (idCache(bi) == null) idCache(bi) = d.docIds
        var mx = 0.0
        var p = 0
        while (p < d.length) {
          val x = Bm25.termPart(d.tfs(p), idf, Bm25.norm(d.dls(p).toDouble, avgdl))
          imp(at + p) = x
          if (x > mx) mx = x
          p += 1
        }
        at += d.length
        bmax(bi) = mx
        if (mx > tmax) tmax = mx
        bi += 1
      }
      // every slot is filled now, so the scorer can share the cache itself
      new Impacts(idf, avgdl, idCache, imp, bmax, tmax)
    }
  }

  /** One segment's term dictionary: `terms` is the lookup (WAND's hot
    * path), `sortedTerms` the same `String`s in the footer's byte-lex order,
    * exposed for expansion as `dict`.
    */
  final case class LoadedSegment(
      bucket: Int,
      terms: Map[String, TermData],
      sortedTerms: Array[String],
      closer: () => Unit = () => ()
  ) {
    lazy val dict: TermDict = TermDict.of(IndexedSeq(this))

    /** all docIds of a term's postings (decoded), ascending */
    def postings(term: String): Iterator[BlockCodec.Posting] =
      terms.get(term).iterator.flatMap(_.blocks.iterator.flatMap(BlockCodec.decode(_).iterator))

    /** Release the underlying FileChannel of a lazily-loaded segment (no-op
      * for eager loads, which close at load time). After close, lazy term
      * records that were never touched can no longer load — callers close
      * only when the segment is superseded or the process is done with it.
      */
    def close(): Unit = closer()
  }

  private val Magic = "GRFTSEG5".getBytes(StandardCharsets.US_ASCII)
  private val MagicPfor = "GRFTSEG6".getBytes(StandardCharsets.US_ASCII)

  // ------------------------------------------------------------------- build

  /** Build (or RESUME building) segments for `docs` (doc_id, text) into
    * `outDir`. Returns the per-bucket manifests. Also writes the bucketed
    * docstore (parquet, partition-pruned by bucket) and index_meta.json.
    */
  def build(
      docs: DataFrame,
      outDir: String,
      buckets: Int,
      codeAware: Boolean = false,
      batchId: Option[Long] = None,
      codec: String = BlockCodec.CodecVarint
  ): Seq[Manifest] = {
    val spark = docs.sparkSession
    Files.createDirectories(Paths.get(outDir))

    // NOTE (r6): the old `widened()` guard (repartition when input
    // partitions < buckets) is gone. The CPU-bound stages — tokenize, sha,
    // parquet encode, block encode — all run AFTER the repartitionByRange
    // exchange below, which establishes `buckets`-way parallelism
    // regardless of input partitioning; the guard only affected the cheap
    // narrow pre-exchange work, while its `df.rdd.getNumPartitions` probe
    // forced AQE to materialize every upstream shuffle stage as a separate
    // job before the build proper began (measured: an extra ~1 s job pair
    // at the head of every cold bench build).

    // ---- job 1: docstore parquet (doc_id, text, dl, sha, bucket, tfbin),
    // range-partitioned by doc_id; the SEGMENT BUCKET IS the range-partition
    // id (balanced by sampling — skew-resistant — and frozen as a data
    // column). This is the ONLY pass that reads or tokenizes text: the
    // per-doc (term -> tf) map is materialized as a parquet column, so the
    // postings job later reads just (bucket, doc_id, dl, tfbin) — at 100 TB
    // that halves the text-bandwidth of the build.
    val storePath = s"$outDir/docstore"

    // Resume validation (north_rule: resumable, but NEVER serve stale data).
    // A leftover outDir is only reused when it provably matches this run:
    //   - meta bucket count / schema / format must match, else everything is
    //     invalidated (docId->bucket assignment changes with bucket count);
    //   - a reused docstore must match the CURRENT corpus — row count plus an
    //     order-independent lineage XOR of sha256(doc_id:sha256(text)),
    //     computed on both sides (one extra read pass over the input, paid
    //     ONLY on resume; a fresh build skips it entirely).
    // Per-bucket segment staleness is caught later in writePartition by
    // comparing the manifest's lineageXor/nDocs to this run's lineage.
    if (Files.exists(Paths.get(storePath, "_SUCCESS"))) {
      // mode matters: a docstore tokenized code-aware is NOT reusable for a
      // reference-mode build (tfbin differs) and vice versa — meta records it
      val metaOk = Files.exists(Paths.get(outDir, "index_meta.json")) && {
        try {
          val m = readMeta(outDir)
          m.buckets == buckets && m.codeAware == codeAware && m.codec == codec
        } catch { case _: Exception => false }
      }
      val storeOk = metaOk &&
        // schema gate: a docstore from the map<string,int>-era layout (or
        // any foreign schema) is not reusable — rebuild instead of crashing
        // in the segment pass
        spark.read.parquet(storePath).schema.fieldNames.contains("tfbin") && {
        // the reuse hash covers METADATA too (source/lang) — same text with
        // changed metadata must rebuild, or hits would serve stale meta
        val lin = conv(
          substring(
            sha2(concat_ws(":", col("doc_id").cast("string"), col("sha"), col("source"), col("lang")), 256),
            1, 15), 16, 10
        ).cast("long")
        val st = spark.read.parquet(storePath)
          .select(lin.as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        val cur = docs
          .select(
            Seq(col("doc_id").cast("long").as("doc_id"), sha2(col("text"), 256).as("sha")) ++
              IndexBuilder.metaColumns(docs): _*)
          .select(lin.as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        st == cur
      }
      if (!storeOk) invalidate(outDir)
    }

    if (!Files.exists(Paths.get(storePath, "_SUCCESS"))) {
      // doc sidecars are DERIVED from the docstore — a rebuild invalidates
      // them (the serving tier regenerates at load via DocSidecar.ensure)
      DocSidecar.sidecarFiles(outDir).foreach(f => Files.deleteIfExists(Paths.get(f)))
      storeWriter(withDlTfbin(
        rangeLayout(docs.select(
          Seq(col("doc_id").cast("long").as("doc_id"), col("text")) ++
            IndexBuilder.metaColumns(docs): _*), buckets),
        codeAware
      )
        .withColumn("sha", sha2(col("text"), 256)))
        .mode("overwrite").parquet(storePath)
    }
    // ---- job 2 (RESUME ONLY): per-bucket lineage over the column-pruned
    // docstore, used to decide which existing segments can be SKIPPED. A
    // fresh build (no manifests on disk — the overwhelmingly common case)
    // pays no separate stats job at all: lineage, doc counts and dl sums are
    // computed INSIDE the segment-write tasks from the rows they already
    // stream (sha256 per row is microseconds against the inversion work),
    // and meta aggregates the returned manifests. One fewer corpus pass +
    // one fewer job boundary on the hot path.
    val resume = (0 until buckets).exists(b => readManifest(outDir, b).isDefined)
    val agg = if (resume) Some(bucketLineage(spark.read.parquet(storePath))) else None

    // ---- job 3: postings (from the tfbin column) -> segment write with
    // ZERO exchange.
    //
    // Shuffle budget (the scale-critical part): tf is computed PER ROW from
    // the token array (a doc's terms never span rows), so the classic
    // groupBy(term, doc_id) exchange disappears entirely; df is LOCAL per
    // segment (global df = sum over segments at query time), so the old
    // df-denormalizing join — a second full-postings exchange — disappears
    // too. And the docstore is ALREADY the partitioning this job needs: job
    // 1 range-partitioned rows by doc_id into exactly one doc_id-sorted
    // parquet file per bucket, so `scanBuckets` reads ONE FILE PER TASK and
    // hands each write task its whole bucket in order — the round-3 bucket
    // re-shuffle of the entire tf-payload corpus is gone.
    val manifests = writeSegments(spark, storePath, outDir, agg.map(_.lineage), codec)

    // corpus scalars: from the resume aggregation when it ran, else from the
    // write tasks' own counts (fresh manifests always carry sumDl)
    val (n, sumDl) = agg.fold((manifests.map(_.nDocs).sum, manifests.map(_.sumDl).sum))(a => (a.n, a.sumDl))
    val avgdl = if (n == 0) 0.0 else sumDl.toDouble / n
    writeMeta(outDir, Meta(SchemaVersion, n, sumDl, avgdl, buckets, BlockCodec.BlockSize, codec, codeAware, batchId))
    manifests
  }

  /** Build a fresh index from docs whose (dl, tfmap) are ALREADY
    * materialized — the import seam: a foreign index's postings are the
    * ground truth for tf/dl, so NOTHING here tokenizes (see
    * [[HaystackImport]]). Same docstore layout and exchange-free segment
    * write as [[build]] (one doc_id-sorted file per bucket, one write task
    * per file); overwrite semantics, no resume (imports are one-shot).
    *
    * Expected columns: doc_id, text, source, lang, dl (int), tfmap
    * (map<string,int>) — converted to the packed tfbin docstore column
    * here (entry order preserved; the import builds term-sorted maps).
    */
  private[index] def buildFromDlTfmap(
      docs: DataFrame,
      outDir: String,
      buckets: Int,
      codec: String = BlockCodec.CodecVarint
  ): Seq[Manifest] = {
    val spark = docs.sparkSession
    graft.expr.TfBinExprs.register(spark)
    Files.createDirectories(Paths.get(outDir))
    val storePath = s"$outDir/docstore"
    // Imports are one-shot overwrites: remove EVERY prior artifact first.
    // Spark writes no parquet file for an empty range partition, so a bucket
    // the new corpus leaves empty would otherwise keep the OLD segment file —
    // meta live=None would serve its ghost postings under the new stats.
    invalidate(outDir)
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"), col("lang"), col("dl").cast("int").as("dl"),
        call_function("map_to_tfbin", col("tfmap")).as("tfbin"))
      .pipe(rangeLayout(_, buckets))
      .withColumn("sha", sha2(col("text"), 256))
      .pipe(storeWriter).mode("overwrite").parquet(storePath)
    val manifests = writeSegments(spark, storePath, outDir, None, codec)
    val (n, sumDl) = (manifests.map(_.nDocs).sum, manifests.map(_.sumDl).sum)
    val avgdl = if (n == 0) 0.0 else sumDl.toDouble / n
    writeMeta(outDir, Meta(SchemaVersion, n, sumDl, avgdl, buckets, BlockCodec.BlockSize,
      codec, codeAware = false, None))
    manifests
  }

  /** Incrementally add `delta` docs (doc_id, text) to an existing index:
    * builds NEW segments in buckets [meta.buckets, meta.buckets+newBuckets),
    * appends their rows to the docstore, and rewrites meta with the merged
    * exact (n, sumDl) -> avgdl. Old segments are NEVER touched: global df is
    * the sum of per-segment local dfs and block bounds are statistics-free,
    * so existing files stay valid under the new corpus stats. This is the
    * reference's add_document capability
    * (/root/reference/src/core/search_service.cpp:31-57) in segment form;
    * search results are bit-identical to a full rebuild of base+delta
    * (SegmentSpec add-parity test). Caller contract: delta doc_ids must not
    * collide with existing ones.
    */
  def addDocuments(
      delta: DataFrame,
      outDir: String,
      newBuckets: Int,
      codeAware: Boolean = false,
      batchId: Option[Long] = None
  ): Seq[Manifest] = {
    val spark = delta.sparkSession
    // bootstrap: adding to a not-yet-existing index is just a build
    if (!Files.exists(Paths.get(outDir, "index_meta.json")))
      return build(delta, outDir, newBuckets, codeAware, batchId)
    val old = readMeta(outDir)
    // Exactly-once replay guard: a batch whose id is already recorded in meta
    // COMPLETED before the crash (meta rewrite is the commit point) — the
    // replay must be a no-op, or its rows would be appended twice.
    if (batchId.isDefined && old.lastBatchId == batchId) return Nil
    val offset = old.buckets
    val storePath = s"$outDir/docstore"

    // Crash safety / idempotent replay (the streaming foreachBatch contract):
    // a previous add that died between the docstore append and the meta
    // rewrite leaves orphan rows with bucket >= offset. The append wrote
    // those rows into their OWN part files, so deleting exactly those files
    // (plus any orphan segments/manifests at bucket >= offset) fully undoes
    // the half-finished add before this one re-appends.
    sweepBuckets(spark, outDir, b => b >= offset)

    withDlTfbin(
      rangeLayout(delta.select(
        Seq(col("doc_id").cast("long").as("doc_id"), col("text")) ++
          IndexBuilder.metaColumns(delta): _*), newBuckets, offset),
      codeAware
    )
      .withColumn("sha", sha2(col("text"), 256))
      .pipe(storeWriter).mode("append").parquet(storePath)

    // exchange-free segment pass over the delta's own files (one per new
    // bucket, as in a fresh build). Nothing can be skipped — the sweep above
    // deleted every manifest at or above offset — and the delta's n/sumDl
    // are the figures its manifests carry.
    val manifests = writeSegments(spark, storePath, outDir, None, old.codec, col("bucket") >= offset)

    val n = old.n + manifests.map(_.nDocs).sum
    val sumDl = old.sumDl + manifests.map(_.sumDl).sum
    val avgdl = if (n == 0) 0.0 else sumDl.toDouble / n
    writeMeta(outDir, Meta(SchemaVersion, n, sumDl, avgdl, offset + newBuckets, BlockCodec.BlockSize,
      old.codec, codeAware, batchId.orElse(old.lastBatchId),
      // a partially-compacted index tracks its live set explicitly; the
      // delta buckets join it (None = all of [0, buckets) — stays None)
      old.live.map(_ ++ (offset until (offset + newBuckets)))))

    // A SERVING index (one that has doc sidecars) keeps them current: write
    // sidecars for the delta buckets so a /reload needs no Spark backfill.
    // Non-serving indexes skip this (derived data, generated at server load).
    // "is this a serving index" = ANY sidecar exists (bucket 0 may have
    // been folded away by a partial compaction)
    if (DocSidecar.sidecarFiles(outDir).nonEmpty)
      DocSidecar.writeBuckets(spark, outDir, offset until (offset + newBuckets))
    manifests
  }

  /** Compact an index into `dstDir` at a new bucket count WITHOUT
    * re-tokenizing: the docstore already materializes per-doc (dl, tfbin), so
    * compaction is a re-range-partition + segment rewrite over those columns
    * only — no text read, no tokenize. This is the maintenance op that folds
    * the many small delta segments accumulated by addDocuments / streaming
    * ingest back into `buckets` balanced segments (search results are
    * unchanged: stats are corpus-level, doc->bucket placement is not
    * semantic). The source dir is untouched; callers swap directories.
    */
  def compact(spark: SparkSession, srcDir: String, dstDir: String, buckets: Int): Seq[Manifest] = {
    val meta = readMeta(srcDir)
    Files.createDirectories(Paths.get(dstDir))
    val dstStore = s"$dstDir/docstore"

    spark.read.parquet(s"$srcDir/docstore")
      // LIVE rows only: dead parts awaiting sweep (crashed partial
      // compaction) or orphan parts (crashed add) are not in the index
      .filter(col("bucket").isInCollection(liveBucketSet(meta)))
      .drop("bucket")
      .pipe(rangeLayout(_, buckets))
      .pipe(storeWriter).mode("overwrite").parquet(dstStore)

    val agg = bucketLineage(spark.read.parquet(dstStore))
    require(
      agg.n == meta.n && agg.sumDl == meta.sumDl,
      s"compact: docstore stats disagree with $srcDir meta — refusing to write"
    )

    // exchange-free segment pass: the compacted docstore just written above
    // is one doc_id-sorted file per bucket, same as a fresh build's
    val manifests = writeSegments(spark, dstStore, dstDir, Some(agg.lineage), meta.codec)

    // lastBatchId travels with the data: if the caller swaps the compacted
    // dir in under a live streaming checkpoint, replayed batches stay no-ops
    writeMeta(dstDir, Meta(SchemaVersion, meta.n, meta.sumDl, meta.avgdl, buckets, BlockCodec.BlockSize,
      meta.codec, meta.codeAware, meta.lastBatchId))
    manifests
  }

  /** Docstore rows' per-bucket (lineage XOR, doc count) — the XOR of a
    * 60-bit slice of sha256(doc_id:sha) per doc — plus their total doc count
    * and dl sum. `writePartition` computes the same figures in-task, into
    * the manifests; build resume and compact compare against this form.
    */
  private def bucketLineage(store: DataFrame): BucketLineage = {
    val rows = store
      .select(
        col("bucket"),
        col("dl"),
        conv(substring(sha2(concat(col("doc_id").cast("string"), lit(":"), col("sha")), 256), 1, 15), 16, 10)
          .cast("long")
          .as("h")
      )
      .groupBy(col("bucket"))
      .agg(expr("bit_xor(h)").as("lineage_xor"), count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .collect()
    BucketLineage(rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap,
      rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
  }
  private final case class BucketLineage(lineage: Map[Int, (Long, Long)], n: Long, sumDl: Long)

  /** Delete every index artifact of buckets matching `dead` — docstore
    * part-files (through the Hadoop FileSystem of each URI: at the 100 TB
    * deployment shape the store need not be file:) plus segments, manifests
    * and doc sidecars. Used by addDocuments (undo a half-finished add:
    * bucket >= offset), by compactBuckets (entry recovery + post-commit
    * cleanup), and by sweepDead (crash recovery).
    */
  private def sweepBuckets(spark: SparkSession, outDir: String, dead: Int => Boolean): Unit = {
    val storePath = s"$outDir/docstore"
    val deadUdf = udf((b: Int) => dead(b))
    val orphanFiles = spark.read.parquet(storePath)
      .filter(deadUdf(col("bucket")))
      .select(input_file_name().as("f"))
      .distinct()
      .collect()
      .map(_.getString(0))
    val hconf = spark.sparkContext.hadoopConfiguration
    orphanFiles.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(java.net.URI.create(f))
      val fs = p.getFileSystem(hconf)
      if (!fs.delete(p, false) && fs.exists(p))
        throw new java.io.IOException(s"failed to delete dead docstore file $f")
    }
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(outDir)).iterator().asScala.toSeq.foreach { p =>
      val name = p.getFileName.toString
      val seg = "segment-(\\d+)\\.bin(\\.tmp)?".r
      val man = "manifest-(\\d+)\\.json(\\.tmp)?".r
      val doc = "docs-(\\d+)\\.bin(\\.tmp)?".r
      name match {
        case seg(b, _) if dead(b.toInt) => Files.deleteIfExists(p)
        case man(b, _) if dead(b.toInt) => Files.deleteIfExists(p)
        case doc(b, _) if dead(b.toInt) => Files.deleteIfExists(p)
        case _ =>
      }
    }
  }

  /** Crash-recovery sweep: delete files of buckets that are BELOW the
    * meta bucket counter but not in the live set — the droppings of a
    * partial compaction that committed (meta rewritten) and crashed before
    * its cleanup. Readers already ignore them (liveSegmentFiles / the live
    * filters on docstore reads); this reclaims the space. Safe to call on
    * any index; a no-op when live is unset (no partial compaction ever).
    */
  def sweepDead(spark: SparkSession, outDir: String): Unit = {
    val meta = readMeta(outDir)
    if (meta.live.isEmpty) return
    val live = liveBucketSet(meta)
    val dead = (0 until meta.buckets).filterNot(live).toSet
    if (dead.nonEmpty) sweepBuckets(spark, outDir, dead)
  }

  /** PARTIAL compaction — fold `picks` (>= 2) live buckets into ONE new
    * bucket IN PLACE, leaving every other bucket untouched: the tiered /
    * LSM maintenance op. Where `compact` rewrites the whole index (cost
    * linear in the INDEX), this is linear in the PICKED buckets — at
    * 100 TB, folding a month of small daily-delta segments never touches
    * the base corpus. No re-tokenize (the docstore already holds tf payloads),
    * search results unchanged (stats are corpus-level; doc->bucket
    * placement is not semantic; add-parity logic applies unchanged).
    *
    * Protocol (single writer, like every mutation; META REWRITE IS THE
    * COMMIT POINT):
    *   0. entry recovery: sweep dead buckets of a prior crashed compaction
    *      and orphan buckets (>= meta.buckets) of a prior crashed attempt.
    *   1. stage the merged rows under `<dir>/_staging/` (doc_id-sorted,
    *      bucket = B = meta.buckets — an id readers treat as uncommitted),
    *      write segment-B exchange-free from the staged file, verify the
    *      merged manifest re-hashes to the XOR of the picked manifests'
    *      lineage (order-independent row XOR => exact integrity check),
    *      move the staged part-file into the docstore, write sidecar-B if
    *      this is a serving index. Everything so far is invisible: readers
    *      filter to the committed live set.
    *   2. COMMIT: rewrite meta with buckets = B+1 and
    *      live = live - picks + {B}. n/sumDl/avgdl are untouched.
    *   3. cleanup: sweep the picked (now dead) buckets' files. A crash
    *      between 2 and 3 leaves dead files every reader ignores;
    *      sweepDead (or the next compactBuckets) reclaims them.
    *
    * Between 1 and 3 a doc's docstore rows exist twice (old part + merged
    * part) — the doc_id-keyed readers are window-safe: snippet decoration
    * keys a map by doc_id (identical content), sidecar ensure() and full
    * compact() filter to live buckets.
    */
  def compactBuckets(spark: SparkSession, outDir: String, picks: Seq[Int]): Manifest = {
    val meta = readMeta(outDir)
    val live = liveBucketSet(meta)
    require(picks.size >= 2, s"compactBuckets: need >= 2 buckets, got ${picks.size}")
    require(picks.distinct.size == picks.size, "compactBuckets: duplicate picks")
    val bad = picks.filterNot(live)
    require(bad.isEmpty, s"compactBuckets: not live: ${bad.sorted.mkString(",")}")
    val storePath = s"$outDir/docstore"
    val newBucket = meta.buckets
    // 0. entry recovery, ONE scan: dead droppings of a committed prior
    // compaction that crashed before its cleanup AND leftovers of a prior
    // crashed attempt (bucket >= counter) — the same footer-only docstore
    // scan every addDocuments already pays for its own orphan sweep
    val deadSet = (0 until newBucket).filterNot(live).toSet
    sweepBuckets(spark, outDir, b => deadSet(b) || b >= newBucket)

    // integrity expectation: lineage is an order-independent XOR over rows,
    // so the merged bucket must re-hash to the XOR of the picked manifests
    val pickedMs = picks.sorted.map { b =>
      readManifest(outDir, b).getOrElse(
        throw new IllegalStateException(s"compactBuckets: missing manifest for live bucket $b"))
    }
    val expXor = pickedMs.map(_.lineageXor).reduce(_ ^ _)
    val expN = pickedMs.map(_.nDocs).sum
    val expSumDl = pickedMs.map(_.sumDl).sum

    // 1a. stage merged rows as ONE doc_id-sorted file at the new bucket id
    val staging = s"$outDir/_staging/compact-$newBucket"
    val pickSet = picks.toSet
    val store = spark.read.parquet(storePath)
    val cols = store.columns.toSeq.map(col)
    store
      .filter(col("bucket").isInCollection(pickSet))
      .withColumn("bucket", lit(newBucket))
      .select(cols: _*)
      .repartition(1)
      .sortWithinPartitions(col("doc_id"))
      .pipe(storeWriter).mode("overwrite").parquet(staging)

    // 1b. segment-B from the staged file (exchange-free single-task read)
    val ms = writeSegments(spark, staging, outDir, None, meta.codec)
    require(ms.size == 1 && ms.head.bucket == newBucket,
      s"compactBuckets: expected one bucket $newBucket, got ${ms.map(_.bucket)}")
    val m = ms.head
    // Manifests written before the sumDl field existed deserialize with 0:
    // folding such buckets (or a MIX of legacy and current ones) would fail
    // the sumDl leg with a misleading "corruption" message even though the
    // data is fine. lineage XOR + doc count still verify integrity; skip
    // only the sumDl leg whenever any picked manifest looks legacy (a
    // non-empty bucket whose sumDl reads 0 — a genuinely all-empty bucket
    // trips this too, harmlessly: the other two legs still check).
    val legacySumDl =
      pickedMs.exists(p => p.sumDl == 0L && p.nDocs > 0) && m.sumDl != expSumDl
    if (legacySumDl)
      Console.err.println(
        s"[compact] picked manifests predate the sumDl field (all 0) — " +
          s"skipping the sumDl integrity leg; rebuild or re-add to refresh manifests")
    require(m.lineageXor == expXor && m.nDocs == expN && (legacySumDl || m.sumDl == expSumDl),
      s"compactBuckets: merged bucket disagrees with picked manifests " +
        s"(xor ${m.lineageXor} vs $expXor, n ${m.nDocs} vs $expN, sumDl ${m.sumDl} vs $expSumDl)")

    // 1c. adopt the staged part-file into the docstore (atomic rename), then
    // drop the staging dir; sidecar for serving indexes
    val part = {
      import scala.jdk.CollectionConverters._
      val l = Files.list(Paths.get(staging))
      val fs = try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq finally l.close()
      require(fs.size == 1, s"compactBuckets: expected one staged parquet file, got ${fs.size}")
      fs.head
    }
    Files.move(part, Paths.get(storePath, f"part-compact-$newBucket%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    locally {
      import scala.jdk.CollectionConverters._
      val l = Files.walk(Paths.get(staging))
      val all = try l.iterator().asScala.toSeq finally l.close()
      all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
    }
    if (DocSidecar.sidecarFiles(outDir).nonEmpty)
      DocSidecar.writeBuckets(spark, outDir, Seq(newBucket))

    // 2. COMMIT: the merged bucket replaces the picks in the live set
    val newLive = ((live -- pickSet) + newBucket).toSeq.sorted
    writeMeta(outDir, meta.copy(buckets = newBucket + 1, live = Some(newLive)))

    // 3. cleanup (crash-safe to skip: readers ignore dead buckets)
    sweepBuckets(spark, outDir, pickSet)
    m
  }

  /** Size-tiered fold policy for [[compactBuckets]]: the live buckets whose
    * segment is smaller than `maxBytes`, smallest first, capped at `maxFold`
    * (the merged bucket must still fit one write task's memory bound — the
    * same dial that sizes segments for serving). Returns Nil when fewer
    * than 2 qualify — nothing worth folding. Deterministic: a pure
    * function of the manifests.
    */
  def pickFoldable(outDir: String, maxBytes: Long, maxFold: Int = 16): Seq[Int] = {
    val meta = readMeta(outDir)
    val live = liveBucketSet(meta).toSeq.sorted
    val sized = live.flatMap(b => readManifest(outDir, b).map(m => b -> m.bytes))
      .filter(_._2 < maxBytes)
      .sortBy { case (b, bytes) => (bytes, b) }
      .take(maxFold)
    if (sized.size < 2) Nil else sized.map(_._1)
  }

  /** Attach (dl, tfbin) — computed row-locally (a doc's terms never span
    * rows, so no shuffle is needed for the tf aggregation). Reference mode
    * uses the fused native expression (one byte scan, codegen-resident,
    * packed [[TfBin]] payload — no catalyst MapData, no parquet nested-map
    * encode); code-aware mode tokenizes through the Scala code tokenizer +
    * a packing UDF.
    */
  private def withDlTfbin(df: DataFrame, codeAware: Boolean): DataFrame =
    if (!codeAware) {
      graft.expr.RefTokenizeTf.register(df.sparkSession)
      df.withColumn("tt", call_function("ref_tokenize_tfbin", col("text")))
        .withColumn("dl", col("tt.dl"))
        .withColumn("tfbin", col("tt.tfbin"))
        .drop("tt")
    } else {
      df.withColumn("toks", IndexBuilder.codeTokenizeUdf(col("text")))
        .withColumn("dl", size(col("toks")))
        .withColumn("tfbin", termCountsBinUdf(col("toks")))
        .drop("toks")
    }

  /** Docstore writer with parquet encode tuned for this table's shape:
    * text / sha / tfbin are unique per row, so parquet's dictionary
    * encoding only burns CPU (hashing every value into a dictionary it
    * then abandons at the fallback threshold — visible as
    * DictionaryValuesWriter/Binary.hashCode frames in the build JFR);
    * disable it for exactly those columns. Low-cardinality columns
    * (source, lang, bucket) keep dictionary encoding.
    */
  private def storeWriter(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write
      .option("compression", "snappy")
      .option("parquet.enable.dictionary#text", "false")
      .option("parquet.enable.dictionary#sha", "false")
      .option("parquet.enable.dictionary#tfbin", "false")

  private val termCountsBinUdf = udf { (tokens: Seq[String]) =>
    // first-occurrence order, like the fused expression
    val m = scala.collection.mutable.LinkedHashMap[String, Int]()
    tokens.foreach(t => m.update(t, m.getOrElse(t, 0) + 1))
    val ks = new Array[org.apache.spark.unsafe.types.UTF8String](m.size)
    val cs = new Array[Int](m.size)
    var i = 0
    m.foreach { case (k, c) =>
      ks(i) = org.apache.spark.unsafe.types.UTF8String.fromString(k); cs(i) = c; i += 1
    }
    TfBin.encode(ks, cs, m.size)
  }

  /** The one writer of the docstore layout: range-partitioned by doc_id,
    * doc_id-sorted, the partition id (+ `offset`, an add's first new bucket)
    * frozen as `bucket`. Written as is, that is one doc_id-sorted parquet
    * file per bucket — what [[scanBuckets]] reads.
    */
  private def rangeLayout(rows: DataFrame, buckets: Int, offset: Int = 0): DataFrame =
    rows
      .repartitionByRange(buckets, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("bucket", spark_partition_id() + lit(offset))

  /** The one reader of the docstore layout: each task reads exactly one
    * bucket file (maxPartitionBytes pinned above the largest file so nothing
    * splits; openCostInBytes equally large so nothing packs), so writers need
    * no exchange. `write` consumes one task's (bucket, doc_id, `columns`...)
    * rows of the buckets `keep` selects; its results return in task order.
    * A layout breach fails loudly: a bucket's rows in two runs of one task
    * or in two tasks (two files), or a doc_id out of order within a bucket —
    * a silent one would truncate a segment or break block bounds and the
    * sidecar's binary search.
    */
  private[index] def scanBuckets[T: ClassTag](
      spark: SparkSession,
      storePath: String,
      columns: Seq[Column],
      keep: Column = lit(true)
  )(write: Iterator[InternalRow] => Iterator[T]): Seq[T] = {
    val prevMaxPart = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      val sizes = Option(new java.io.File(storePath).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length)
      val noSplit = ((if (sizes.isEmpty) 1L else sizes.max) + (1L << 20)).toString
      spark.conf.set("spark.sql.files.maxPartitionBytes", noSplit)
      spark.conf.set("spark.sql.files.openCostInBytes", noSplit)
      val perTask = spark.read.parquet(storePath).filter(keep)
        .select(col("bucket") +: col("doc_id") +: columns: _*)
        .queryExecution.toRdd
        .mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet[Int]()
          var cur = Int.MinValue
          var prevDocId = Long.MinValue
          val out = write(it.map { r =>
            val b = r.getInt(0)
            val docId = r.getLong(1)
            if (b != cur) {
              require(seen.add(b), s"bucket $b rows are not contiguous — docstore layout violated")
              cur = b
            } else require(docId > prevDocId, s"doc_id order violated in bucket $b ($docId after $prevDocId)")
            prevDocId = docId
            r
          }).toVector
          Iterator((seen, out))
        }
        .collect()
      val split = perTask.toSeq.flatMap(_._1).groupBy(identity).collect { case (b, g) if g.size > 1 => b }
      require(split.isEmpty,
        s"bucket split across docstore files: ${split.toSeq.sorted.mkString(",")} — docstore layout violated")
      perTask.toSeq.flatMap(_._2)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMaxPart)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
    }
  }

  /** The segment pass of every writer: one segment per bucket `keep` selects. */
  private def writeSegments(spark: SparkSession, storePath: String, outDir: String,
      lineage: Option[Map[Int, (Long, Long)]], codec: String, keep: Column = lit(true)): Seq[Manifest] = {
    val out = outDir
    scanBuckets(spark, storePath, Seq(col("dl").cast("int").as("dl"), col("tfbin"), col("sha")), keep)(
      it => writePartition(it, out, lineage, codec)).sortBy(_.bucket)
  }

  /** Per-bucket in-memory term inversion — the reference's `add_document`
    * loop (/root/reference/src/core/inverted_index.cpp:21-41) run once per
    * bucket on the executor. Zero-copy probes: the packed tfbin's term bytes are
    * compared in place and copied only on a term's FIRST occurrence in the
    * bucket; postings live in per-term primitive arrays. No exploded-posting
    * rows exist anywhere: the explode would multiply the sorted row count
    * ~40x and push it through Spark's external sorter, whose page-allocation
    * contention produced 4x task-time variance at 32 threads.
    *
    * MEMORY BOUND (the scale contract): peak per concurrent write task =
    * this bucket's postings as primitive arrays (~16 B/posting, i.e. ~3-4x
    * the encoded segment bytes). The serving tier already requires an
    * ENCODED segment to fit a node's RAM (eager pinned load), so bucket
    * count must bound segment size regardless; executors cap concurrent
    * write tasks at their core count. Pick buckets so encodedSegment * 4 *
    * coresPerExecutor <= executor heap — the same dial that already sizes
    * segments for serving.
    */
  private final class Inverter {
    private var cap = 1 << 12 // term table (power of two)
    private var mask = cap - 1
    private var table = new Array[UTF8String](cap)
    private var tableSlot = new Array[Int](cap)

    var nTerms = 0
    var nPostings = 0L
    private var keys = new Array[UTF8String](1 << 12)
    private var docs = new Array[Array[Long]](1 << 12)
    private var tfs = new Array[Array[Int]](1 << 12)
    private var dls = new Array[Array[Int]](1 << 12)
    private var lens = new Array[Int](1 << 12)

    private def growTable(): Unit = {
      cap <<= 1; mask = cap - 1
      val nk = new Array[UTF8String](cap)
      val ns = new Array[Int](cap)
      var s = 0
      while (s < nTerms) {
        var idx = keys(s).hashCode & mask
        while (nk(idx) != null) idx = (idx + 1) & mask
        nk(idx) = keys(s); ns(idx) = s
        s += 1
      }
      table = nk; tableSlot = ns
    }

    private def growSlots(): Unit = {
      val c = keys.length * 2
      keys = java.util.Arrays.copyOf(keys, c)
      docs = java.util.Arrays.copyOf(docs, c)
      tfs = java.util.Arrays.copyOf(tfs, c)
      dls = java.util.Arrays.copyOf(dls, c)
      lens = java.util.Arrays.copyOf(lens, c)
    }

    /** Append one (docId, tf, dl) under `probe` (a transient view — copied
      * only if this is the term's first occurrence). Call in docId order.
      */
    def add(probe: UTF8String, docId: Long, tf: Int, dl: Int): Unit = {
      var slot = -1
      var idx = probe.hashCode & mask
      while (slot < 0) {
        val k = table(idx)
        if (k == null) {
          val key = UTF8String.fromBytes(probe.getBytes) // private copy
          if (nTerms == keys.length) growSlots()
          table(idx) = key; tableSlot(idx) = nTerms
          keys(nTerms) = key
          docs(nTerms) = new Array[Long](16)
          tfs(nTerms) = new Array[Int](16)
          dls(nTerms) = new Array[Int](16)
          slot = nTerms
          nTerms += 1
          if (nTerms * 2 > cap) growTable()
        } else if (k.equals(probe)) slot = tableSlot(idx)
        else idx = (idx + 1) & mask
      }
      val len = lens(slot)
      if (len == docs(slot).length) {
        val c = len * 2
        docs(slot) = java.util.Arrays.copyOf(docs(slot), c)
        tfs(slot) = java.util.Arrays.copyOf(tfs(slot), c)
        dls(slot) = java.util.Arrays.copyOf(dls(slot), c)
      }
      docs(slot)(len) = docId
      tfs(slot)(len) = tf
      dls(slot)(len) = dl
      lens(slot) = len + 1
      nPostings += 1
    }

    /** Slot ids in term byte-lex order (UTF8String binary comparison — the
      * exact order Spark's string sort produced in the previous design, so
      * rebuilds stay byte-identical across engine versions).
      */
    def sortedSlots: Array[Int] =
      Array.range(0, nTerms).sortWith((a, b) => keys(a).compareTo(keys(b)) < 0)

    def key(slot: Int): UTF8String = keys(slot)
    def postings(slot: Int): (Array[Long], Array[Int], Array[Int], Int) =
      (docs(slot), tfs(slot), dls(slot), lens(slot))
  }

  /** Stream one scan partition's rows — (bucket, doc_id, dl, tfbin, sha),
    * bucket-grouped and doc_id-sorted (the docstore file layout, guarded by
    * [[scanBuckets]]) — into one segment per bucket. Per-bucket lineage XOR,
    * doc count, and dl sum are computed HERE from the same rows (sha256 per
    * row is noise next to the inversion), so no write path needs a separate
    * stats job. `lineage` is the RESUME map: when present, buckets whose
    * existing manifest matches it are skipped without inverting.
    */
  private def writePartition(
      it: Iterator[InternalRow],
      outDir: String,
      lineage: Option[Map[Int, (Long, Long)]],
      codec: String
  ): Iterator[Manifest] = {
    val pfor = codec == BlockCodec.CodecPfor
    val results = scala.collection.mutable.ArrayBuffer[Manifest]()
    val md = MessageDigest.getInstance("SHA-256")
    var cur = Int.MinValue
    var skipping = false
    var inv: Inverter = null
    var nDocs = 0L
    var sumDl = 0L
    var lineageXor = 0L

    def flush(): Unit =
      if (cur != Int.MinValue && !skipping) results += writeBucket(inv, cur, nDocs, sumDl, lineageXor, outDir, pfor)

    while (it.hasNext) {
      val r = it.next()
      val b = r.getInt(0)
      if (b != cur) {
        flush()
        cur = b; nDocs = 0L; sumDl = 0L; lineageXor = 0L
        inv = null
        // Skip ONLY when the existing manifest provably describes this run's
        // data: same lineage XOR and doc count as the current corpus slice.
        // A stale segment (source data changed under the same outDir) fails
        // this check and is rebuilt in place.
        val existing = readManifest(outDir, b).filter { m =>
          m.formatVersion == formatOf(codec) &&
            lineage.exists(_.get(b).exists { case (xor, nd) => m.lineageXor == xor && m.nDocs == nd })
        }
        skipping = existing.isDefined
        if (skipping) results += existing.get.copy(skipped = true)
        else inv = new Inverter
      }
      if (!skipping) {
        val docId = r.getLong(1)
        val dl = r.getInt(2)
        val bin = r.getBinary(3)
        // loud guard: a null tfbin means a null text reached the docstore
        // (e.g. a mis-shaped source NULL-filled by an explicit read schema)
        require(bin != null, s"null tfbin for doc_id=$docId in bucket $cur — null text in the corpus?")
        val invv = inv
        TfBin.foreachEntry(bin) { (b, off, len, tf) =>
          // zero-copy probe view; Inverter copies only on first occurrence
          invv.add(UTF8String.fromBytes(b, off, len), docId, tf, dl)
        }
        // in-task lineage: the same 60-bit slice of sha256(doc_id:sha) that
        // `bucketLineage` computes in SQL — first 15 hex nibbles ==
        // big-endian first 8 digest bytes >>> 4
        md.reset()
        md.update((docId.toString + ":" + r.getUTF8String(4).toString)
          .getBytes(StandardCharsets.US_ASCII))
        val d = md.digest()
        val h = (java.nio.ByteBuffer.wrap(d, 0, 8).getLong) >>> 4
        lineageXor ^= h
        sumDl += dl
        nDocs += 1
      }
    }
    flush()
    results.iterator
  }

  /** Remove every index artifact under outDir (stale-resume invalidation). */
  private def invalidate(outDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(outDir)
    if (!Files.exists(dir)) return
    // segments + manifests + meta
    Files.list(dir).iterator().asScala.toSeq.foreach { p =>
      val name = p.getFileName.toString
      if (name.matches("segment-\\d+\\.bin(\\.tmp)?") || name.matches("manifest-\\d+\\.json(\\.tmp)?") ||
        name.matches("docs-\\d+\\.bin(\\.tmp)?") || name.startsWith("index_meta.json"))
        Files.deleteIfExists(p)
    }
    // docstore parquet dir
    val store = dir.resolve("docstore")
    if (Files.exists(store)) {
      Files.walk(store).iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  private def writeBucket(
      inv: Inverter,
      bucket: Int,
      nDocs: Long,
      sumDl: Long,
      lineageXor: Long,
      outDir: String,
      pfor: Boolean = false
  ): Manifest = {
    // Terms stream to the .tmp file through a DigestOutputStream — the
    // sha256 comes free. Terms emit in byte-lex order, postings in docId
    // order (doc rows arrived sorted), so output bytes are deterministic
    // (byte-identical rebuilds).
    //
    // Layout v5: magic | bucket | term records... | DICTIONARY | dictOffset
    // (last 8 bytes). A reader seeks the dictionary and loads postings
    // per-term on demand — segment load cost is O(vocabulary), not O(file).
    val file = Paths.get(outDir, f"segment-$bucket%05d.bin")
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    val digest = MessageDigest.getInstance("SHA-256")
    val fos = new FileOutputStream(tmp.toFile)
    val counting = new CountingOutputStream(
      new java.security.DigestOutputStream(new BufferedOutputStream(fos, 1 << 16), digest))
    val out = new DataOutputStream(counting)

    val dict = scala.collection.mutable.ArrayBuffer[(Array[Byte], Long, Long, Int)]()

    try {
      out.write(if (pfor) MagicPfor else Magic)
      out.writeInt(bucket)
      inv.sortedSlots.foreach { slot =>
        val (pDoc, pTf, pDl, pn) = inv.postings(slot)
        val offset = counting.count
        writeTerm(out, pDoc, pTf, pDl, pn, pfor)
        dict += ((inv.key(slot).getBytes, pn.toLong, offset,
          (counting.count - offset).toInt))
      }
      // dictionary + footer — entries assembled locally and bulk-written
      // (same per-byte digest-chain argument as the block headers above)
      val dictOffset = counting.count
      out.writeInt(dict.length)
      var entry = new Array[Byte](256)
      dict.foreach { case (tb, df, offset, len) =>
        // The dictionary length field is an unsigned short; the tokenizer
        // permits unbounded alnum runs, so fail the BUILD loudly rather than
        // let a silent writeShort truncation desynchronize the whole reader.
        require(tb.length <= 0xffff,
          s"term exceeds dictionary limit (${tb.length} UTF-8 bytes > 65535) in bucket $bucket")
        val need = 2 + tb.length + 8 + 8 + 4
        if (entry.length < need) entry = new Array[Byte](need)
        val eb = java.nio.ByteBuffer.wrap(entry)
        eb.putShort(tb.length.toShort)
        eb.put(tb)
        eb.putLong(df)
        eb.putLong(offset)
        eb.putInt(len)
        out.write(entry, 0, need)
      }
      out.writeLong(dictOffset)
      out.flush()
      fos.getFD.sync()
    } finally out.close()

    val bytes = Files.size(tmp)
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val sha = digest.digest().map("%02x".format(_)).mkString
    // stats/lineage are the write task's own in-stream computation (covers
    // token-less docs too — a doc row with an empty tfbin still counts)
    val m = Manifest(if (pfor) FormatVersionPfor else FormatVersion, bucket,
      inv.nTerms.toLong, inv.nPostings, nDocs, bytes, sha,
      lineageXor, skipped = false, sumDl = sumDl)
    writeManifest(outDir, m)
    m
  }

  /** One term's record: blockCount + blocks (term text lives in the
    * dictionary, not the record).
    */
  private def writeTerm(
      out: DataOutputStream,
      docIds: Array[Long],
      tfs: Array[Int],
      dls: Array[Int],
      n: Int,
      pfor: Boolean = false
  ): Unit = {
    val blocks =
      if (pfor) BlockCodec.encodeColumnarPfor(docIds, tfs, dls, n)
      else BlockCodec.encodeColumnar(docIds, tfs, dls, n)
    // r6: assemble each 36-byte block header locally and bulk-write it —
    // DataOutputStream.writeInt/Long/Double emit byte-at-a-time, and every
    // byte crossed the Counting -> Digest (per-byte sha update) -> Buffered
    // chain; one header = one write call now. Identical bytes.
    val hdr = new Array[Byte](36)
    val hb = java.nio.ByteBuffer.wrap(hdr) // big-endian, like DataOutputStream
    out.writeInt(blocks.length)
    blocks.foreach { b =>
      hb.clear()
      hb.putLong(b.minDoc)
      hb.putLong(b.maxDoc)
      hb.putInt(b.count)
      hb.putInt(b.maxTf)
      hb.putDouble(b.minDlOverTf)
      hb.putInt(b.bytes.length)
      out.write(hdr)
      out.write(b.bytes)
    }
  }

  private final class CountingOutputStream(os: java.io.OutputStream)
      extends java.io.FilterOutputStream(os) {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
  }

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** A file's identity for the readers' caches and delta reloads: path, size
    * and mtime (`path|size|mtime`), so an in-place rewrite of the same path
    * (resume invalidation, changed corpus, compaction) is a different file.
    */
  def fileKey(path: String): String = {
    val p = Paths.get(path)
    s"$path|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
  }

  // -------------------------------------------------------------- manifests
  import org.json4s._
  import org.json4s.jackson.{JsonMethods, Serialization}
  private implicit val fmts: Formats = DefaultFormats

  private def manifestPath(outDir: String, bucket: Int) =
    Paths.get(outDir, f"manifest-$bucket%05d.json")

  def writeManifest(outDir: String, m: Manifest): Unit = {
    val p = manifestPath(outDir, m.bucket)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, Serialization.write(m))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readManifest(outDir: String, bucket: Int): Option[Manifest] = {
    val p = manifestPath(outDir, bucket)
    if (!Files.exists(p)) None
    else {
      // Unparseable / older-format manifests (missing formatVersion) read as
      // absent — the bucket is simply rebuilt.
      val parsed =
        try Some(JsonMethods.parse(Files.readString(p)).extract[Manifest])
        catch { case _: Exception => None }
      parsed.filter { m =>
        val seg = Paths.get(outDir, f"segment-$bucket%05d.bin")
        (m.formatVersion == FormatVersion || m.formatVersion == FormatVersionPfor) &&
          Files.exists(seg) && Files.size(seg) == m.bytes
      }
    }
  }

  def writeMeta(outDir: String, meta: Meta): Unit = {
    val p = Paths.get(outDir, "index_meta.json")
    val tmp = p.resolveSibling("index_meta.json.tmp")
    Files.writeString(tmp, Serialization.write(meta))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readMeta(outDir: String): Meta = {
    val meta = JsonMethods.parse(Files.readString(Paths.get(outDir, "index_meta.json"))).extract[Meta]
    require(meta.schemaVersion == SchemaVersion, s"unsupported schema version ${meta.schemaVersion}")
    meta
  }

  /** Bucket ids of the COMMITTED generation: meta.live when present (a
    * partially-compacted index), else all of [0, meta.buckets).
    */
  def liveBucketSet(meta: Meta): Set[Int] =
    meta.live.map(_.toSet).getOrElse((0 until meta.buckets).toSet)

  private[index] def bucketOf(segFile: String): Int =
    segFile.replaceAll(".*segment-(\\d+)\\.bin$", "$1").toInt

  /** Committed-generation segment files: the directory listing filtered to
    * the live bucket set. Readers MUST use this, not `segmentFiles`:
    * orphan bucket files from a crashed addDocuments (bucket >= buckets,
    * swept by the next add) and dead pre-compaction buckets (awaiting
    * sweep) are on disk but NOT part of the committed index — loading them
    * would serve phantom docs under stats that exclude them.
    */
  def liveSegmentFiles(outDir: String): Seq[String] =
    liveSegmentFiles(outDir, readMeta(outDir))

  /** Meta-paired variant: callers that already hold a Meta MUST pass it, so
    * the stats and the file set come from ONE generation — a second readMeta
    * could observe a newer commit and pair gen-G stats with gen-G+1 files
    * (docs scored under idf/avgdl that exclude them).
    */
  def liveSegmentFiles(outDir: String, meta: Meta): Seq[String] = {
    val live = liveBucketSet(meta)
    segmentFiles(outDir).filter(f => live(bucketOf(f)))
  }

  def segmentFiles(outDir: String): Seq[String] = {
    val dir = Paths.get(outDir)
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("segment-\\d+\\.bin"))
      .map(_.toString)
      .toSeq
      .sorted
  }

  // -------------------------------------------------------------------- read

  /** Diagnostic: segment loads performed by this JVM (delta-reload specs
    * assert a reload after a small addDocuments re-loads only the delta).
    */
  val segmentLoads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Load a segment. `eager = true` (the pinned serving model) materializes
    * every term's blocks and closes the file; `eager = false` (executor
    * batch tasks) reads ONLY the term dictionary — O(vocabulary), not
    * O(file) — and posting records load lazily per queried term through
    * thread-safe positional reads on a shared channel. At 100 TB a segment
    * can be far larger than an executor heap; the lazy path touches just the
    * query's terms.
    */
  def loadSegment(path: String, eager: Boolean = true): LoadedSegment = {
    segmentLoads.incrementAndGet()
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try loadFromChannel(ch, path, eager)
    catch { case t: Throwable => ch.close(); throw t } // never leak on a bad file
  }

  private def loadFromChannel(
      ch: java.nio.channels.FileChannel,
      path: String,
      eager: Boolean
  ): LoadedSegment = {
    val size = ch.size()

    def readAt(pos: Long, len: Int): java.nio.ByteBuffer = {
      val buf = java.nio.ByteBuffer.allocate(len)
      var p = pos
      while (buf.hasRemaining) {
        val n = ch.read(buf, p)
        require(n >= 0, s"unexpected EOF in $path at $p")
        p += n
      }
      buf.flip()
      buf
    }

    val head = readAt(0, Magic.length + 4)
    val magic = new Array[Byte](Magic.length)
    head.get(magic)
    val pfor = java.util.Arrays.equals(magic, MagicPfor)
    require(pfor || java.util.Arrays.equals(magic, Magic), s"bad magic in $path")
    val bucket = head.getInt

    val dictOffset = readAt(size - 8, 8).getLong
    val dict = readAt(dictOffset, (size - 8 - dictOffset).toInt)
    val nTerms = dict.getInt
    val terms = Map.newBuilder[String, TermData]
    val sorted = new Array[String](nTerms)
    var i = 0
    while (i < nTerms) {
      val tlen = dict.getShort & 0xffff
      val tb = new Array[Byte](tlen)
      dict.get(tb)
      val term = new String(tb, StandardCharsets.UTF_8)
      // the writer emits byte-lex order, which is String order for the
      // tokenizer's ASCII terms: TermDict's binary searches rely on it
      require(i == 0 || sorted(i - 1).compareTo(term) < 0,
        s"dictionary of $path is not strictly ascending at term $i ('${sorted(i - 1)}' then '$term')")
      sorted(i) = term
      val df = dict.getLong
      val offset = dict.getLong
      val len = dict.getInt
      terms += term -> new TermData(df, () => parseTermRecord(readAt(offset, len), pfor))
      i += 1
    }
    if (eager) {
      // Force every term's blocks, then close the channel — in try/finally so
      // a read failure mid-force cannot leak the descriptor.
      val seg = LoadedSegment(bucket, terms.result(), sorted)
      try seg.terms.valuesIterator.foreach(_.blocks)
      finally ch.close()
      seg
    } else {
      // Lazy loads keep the channel open for per-term positional reads; the
      // LoadedSegment owns it and close() releases it (loadCached closes
      // superseded entries; long-lived executors no longer leak descriptors).
      LoadedSegment(bucket, terms.result(), sorted, () => ch.close())
    }
  }

  private def parseTermRecord(buf: java.nio.ByteBuffer, pfor: Boolean = false): IndexedSeq[BlockCodec.Block] = {
    val blockCount = buf.getInt
    (0 until blockCount).map { _ =>
      val minDoc = buf.getLong
      val maxDoc = buf.getLong
      val count = buf.getInt
      val maxTf = buf.getInt
      val minDlOverTf = buf.getDouble
      val blen = buf.getInt
      val bb = new Array[Byte](blen)
      buf.get(bb)
      BlockCodec.Block(minDoc, maxDoc, count, maxTf, minDlOverTf, bb, pfor)
    }
  }
}
