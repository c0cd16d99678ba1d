package graft.bench

import graft.index.BlockCodec

/** Single-threaded microbench of the posting-block encode kernels (no
  * Spark): a full index build cannot resolve the PFOR encode's per-byte
  * cost inside its multi-second wall on a noisy host, so this times
  * `encodeColumnar` (varint) and `encodeColumnarPfor` alone over a
  * deterministic synthetic corpus and reports ns/posting plus a decode
  * pass. Also asserts the two codecs' decoded postings agree, and prints a
  * digest of the encoded bytes so a before/after pair can prove
  * byte-identity of the optimized encoder.
  *
  * Args: [nLists] [postingsPerList] [rounds] (defaults 2000 1000 5).
  */
object PforMicro {

  /** The instrument's corpus, fixed by `seed`: `nLists` posting lists of
    * `perList` postings as (docIds, tfs, dls) — mixed gap widths (dense runs
    * + occasional large jumps -> PFOR exceptions), small tfs, realistic dls.
    */
  def corpus(
      nLists: Int = 2000,
      perList: Int = 1000,
      seed: Long = 20260822L): Array[(Array[Long], Array[Int], Array[Int])] = {
    val rng = new java.util.Random(seed)
    Array.fill(nLists) {
      val docIds = new Array[Long](perList)
      val tfs = new Array[Int](perList)
      val dls = new Array[Int](perList)
      var d = 0L
      var i = 0
      while (i < perList) {
        val gap = if (rng.nextInt(64) == 0) 1L + rng.nextInt(1 << 20) else 1L + rng.nextInt(8)
        d += gap
        docIds(i) = d
        tfs(i) = 1 + rng.nextInt(15)
        dls(i) = 20 + rng.nextInt(2000)
        i += 1
      }
      (docIds, tfs, dls)
    }
  }

  /** First 16 hex digits of the SHA-256 over the encoded bytes of `lists`
    * (every list cut into `BlockCodec.BlockSize` blocks), PFOR or varint.
    */
  def digest(lists: Array[(Array[Long], Array[Int], Array[Int])], pfor: Boolean): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lists.foreach { case (ds, ts, ls) =>
      val blocks =
        if (pfor) BlockCodec.encodeColumnarPfor(ds, ts, ls, ds.length)
        else BlockCodec.encodeColumnar(ds, ts, ls, ds.length)
      blocks.foreach(b => md.update(b.bytes))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val nLists = if (args.length > 0) args(0).toInt else 2000
    val perList = if (args.length > 1) args(1).toInt else 1000
    val rounds = if (args.length > 2) args(2).toInt else 5

    val lists = corpus(nLists, perList)
    val totalPostings = nLists.toLong * perList

    def time(label: String)(f: => Long): Unit = {
      var best = Long.MaxValue
      var sink = 0L
      (1 to rounds).foreach { _ =>
        val t0 = System.nanoTime()
        sink ^= f
        val dt = System.nanoTime() - t0
        if (dt < best) best = dt
      }
      println(f"[pfor-micro] $label%-14s best ${best / 1e6}%.1f ms  ${best.toDouble / totalPostings}%.1f ns/posting  (sink=$sink%d)")
    }

    // warmup (JIT)
    (1 to 2).foreach { _ =>
      lists.take(200).foreach { case (ds, ts, ls) =>
        BlockCodec.encodeColumnar(ds, ts, ls, perList)
        BlockCodec.encodeColumnarPfor(ds, ts, ls, perList)
      }
    }

    time("encode varint") {
      var acc = 0L
      lists.foreach { case (ds, ts, ls) =>
        BlockCodec.encodeColumnar(ds, ts, ls, perList).foreach(b => acc += b.bytes.length)
      }
      acc
    }
    time("encode pfor") {
      var acc = 0L
      lists.foreach { case (ds, ts, ls) =>
        BlockCodec.encodeColumnarPfor(ds, ts, ls, perList).foreach(b => acc += b.bytes.length)
      }
      acc
    }

    // decode pass over pre-encoded blocks (first-touch cold-query cost)
    val encV = lists.map { case (ds, ts, ls) => BlockCodec.encodeColumnar(ds, ts, ls, perList) }
    val encP = lists.map { case (ds, ts, ls) => BlockCodec.encodeColumnarPfor(ds, ts, ls, perList) }
    time("decode varint") {
      var acc = 0L
      encV.foreach(_.foreach { b => acc += BlockCodec.decodePrimitive(b).docIds(0) })
      acc
    }
    time("decode pfor") {
      var acc = 0L
      encP.foreach(_.foreach { b => acc += BlockCodec.decodePrimitive(b).docIds(0) })
      acc
    }

    // parity: pfor decodes to exactly the varint postings
    encV.zip(encP).foreach { case (bv, bp) =>
      val dv = bv.flatMap(b => { val d = BlockCodec.decodePrimitive(b); d.docIds.indices.map(i => (d.docIds(i), d.tfs(i), d.dls(i))) })
      val dp = bp.flatMap(b => { val d = BlockCodec.decodePrimitive(b); d.docIds.indices.map(i => (d.docIds(i), d.tfs(i), d.dls(i))) })
      require(dv == dp, "codec parity violation")
    }
    println(s"[pfor-micro] parity ok; varint digest ${digest(lists, pfor = false)}  pfor digest ${digest(lists, pfor = true)}")
  }
}
