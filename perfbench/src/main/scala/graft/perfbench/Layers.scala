package graft.perfbench

import scala.util.Random

import graft.codec.{CodecId, Fsst, Huffman, TokenCodec, Varint}
import graft.engine.{ChunkBuilder, EncodedChunk, Lineage, MetaDict}

/** Per-layer figures for the traced run. The benchmark times direct,
  * single-threaded calls into the codec, chunk (`ChunkBuilder`) and lineage
  * layers on the workload's own table, reads the Spark layer off the
  * plan/execute spans of the workload's ops, and measures Spark's
  * empty-job floor. */
final class Layers(ctx: Ctx) {
  import ctx.{spark, tracer}

  /** Tokens of chunks (a seeded sample) the codec and chunk calls are
    * timed on. */
  val SampleTokens: Long = 8L << 20

  private var containsTruthChunks = 0L
  private var delete = Lineage.DeleteStats(0, 0, 0, 0, 0)
  private var updateFilesAdded = Vector.empty[Double]
  private val sums = scala.collection.mutable.HashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  /** After a traced contains op: how many chunks truly hold a matching row,
    * from the benchmark's model (chunks whose doc_id zone covers one of the
    * expected ids — an upper bound where rewritten zones overlap). */
  def containsTruth(dir: String, want: Set[String]): Unit = {
    val sorted = want.toArray.sorted
    containsTruthChunks += Files.manifest(spark, dir).count { m =>
      val i = java.util.Arrays.binarySearch(sorted.asInstanceOf[Array[AnyRef]],
        m.min_doc_id: AnyRef)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= m.max_doc_id
    }
  }

  def deleteStats(st: Lineage.DeleteStats): Unit = delete = delete + st
  def updateFiles(delta: Int): Unit = updateFilesAdded :+= delta.toDouble

  /** Direct layer calls on the final table. */
  def table(dir: String): Unit = {
    val conf = ctx.hadoopConf
    (0 until 15).foreach(_ => tracer.span("floor.empty_job")(spark.range(1).count()))
    (0 until 10).foreach(_ => tracer.span("lineage.manifest_read")(
      Lineage.readManifestLocal(conf, dir, 16L << 20)))
    (0 until 20).foreach(_ => tracer.span("lineage.listing")(
      Lineage.readManifestLocal(conf, dir, -1L)))
    val man = Files.manifest(spark, dir)
    tracer.count("lineage.chunks", man.length)
    tracer.count("lineage.manifest_bytes", Files.manifestBytes(dir).toDouble)
    tracer.count("lineage.files", Files.tableFiles(dir))
    val dict = Lineage.sharedDictBytes(spark, dir).map(MetaDict.fromBytes).orNull

    val chunks = man.map(m => tracer.span("lineage.read_chunk")(Lineage.readChunk(conf, dir, m)))
    chunks.foreach { c =>
      tracer.count("codec.payload_bytes", c.payload.length)
      tracer.count("codec.meta_bytes", c.meta.length)
      census(c.payload)
    }
    var taken = 0L
    val sample = new Random(ctx.seed).shuffle(chunks.toSeq).takeWhile { c =>
      val go = taken < SampleTokens; taken += c.n_tokens; go
    }
    sample.foreach(timeChunk(_, dict))
  }

  private def timeChunk(c: EncodedChunk, dict: MetaDict): Unit = {
    tracer.span("chunk.open_meta")(ChunkBuilder.openColumns(c, dict, withTokens = false,
      withDocIds = false))
    val cols = tracer.span("chunk.open_tokens")(ChunkBuilder.openColumns(c, dict,
      withTokens = true, withDocIds = true))
    val rebuilt = tracer.span("chunk.build")(ChunkBuilder.build(c.part_id, c.seq,
      cols.docIds.toStrings, cols.srcIdx.map(cols.srcDict(_)), cols.tokens, cols.rowLens, dict))
    ctx.log.check(Checks.sameBytes(s"chunk ${c.chunk_id} re-encoded payload", rebuilt.payload, c.payload))
    tracer.span("codec.encode")(TokenCodec.encodeAuto(cols.tokens, cols.rowLens))
    add("encode_tokens", c.n_tokens)
    tracer.span("codec.decode")(TokenCodec.decodeOrThrow(c.payload))
    add("decode_tokens", c.n_tokens)
    val p = c.payload
    if (p(2) == CodecId.HPack) {
      val inner = tracer.span("codec.hpack_decode")(
        Huffman.decode(p, TokenCodec.HeaderLen, p.length - TokenCodec.CrcLen))
      add("hpack_bytes", inner.length)
      tracer.span("codec.block_decode")(TokenCodec.decodeOrThrow(inner))
      add("block_tokens", c.n_tokens)
    }
    val docIds = section(c.meta, 3)
    val out = tracer.span("codec.fsst_decode")(
      if (dict == null) Fsst.decode(docIds)
      else Fsst.decodeShared(dict.fsst, dict.o1Model, dict.fingerprint, docIds))
    add("fsst_bytes", out.length)
  }

  /** The i-th varint-framed section of a chunk's meta blob. */
  private def section(meta: Array[Byte], i: Int): Array[Byte] = {
    val r = new Varint.Reader(meta)
    var k = 0
    while (k < i) { val len = r.read().toInt; r.pos += len; k += 1 }
    val len = r.read().toInt
    java.util.Arrays.copyOfRange(meta, r.pos, r.pos + len)
  }

  /** Per-block codec census of one payload, found by walking its frames. */
  private def census(frame: Array[Byte]): Unit = frame(2) match {
    case CodecId.HPack =>
      census(Huffman.decode(frame, TokenCodec.HeaderLen, frame.length - TokenCodec.CrcLen))
    case CodecId.Blocks =>
      val r = new Varint.Reader(frame, TokenCodec.HeaderLen, frame.length - TokenCodec.CrcLen)
      val n = r.read().toInt
      var b = 0
      while (b < n) {
        val len = r.read().toInt
        tracer.count(s"codec.blocks.${CodecId.name(frame(r.pos + 2))}", 1)
        r.pos += len
        b += 1
      }
    case other => tracer.count(s"codec.blocks.${CodecId.name(other)}", 1)
  }

  private def perMs(k: String, span: String, scale: Double): Double = {
    val ms = tracer.durationsMs(span).sum
    if (ms <= 0) 0.0 else sums.getOrElse(k, 0.0) / scale / (ms / 1e3)
  }
  private def med(span: String): Double = {
    val d = tracer.durationsMs(span)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  def metrics(): Seq[(String, String, Double)] = {
    val c = tracer.counts
    val spanOps = Seq("lookup", "range", "contains", "group", "rollup", "scan", "hot_contains")
    val planned = ctx.ops.planned("contains").map(_._2).sum.toDouble
    Seq(
      ("codec.encode_mtok_s", "Mtok/s", perMs("encode_tokens", "codec.encode", 1e6)),
      ("codec.decode_mtok_s", "Mtok/s", perMs("decode_tokens", "codec.decode", 1e6)),
      ("codec.hpack_decode_mb_s", "MB/s", perMs("hpack_bytes", "codec.hpack_decode", 1 << 20)),
      ("codec.block_decode_mtok_s", "Mtok/s", perMs("block_tokens", "codec.block_decode", 1e6)),
      ("codec.fsst_decode_mb_s", "MB/s", perMs("fsst_bytes", "codec.fsst_decode", 1 << 20)),
      ("codec.payload_bytes", "bytes", c.getOrElse("codec.payload_bytes", 0.0)),
      ("codec.meta_bytes", "bytes", c.getOrElse("codec.meta_bytes", 0.0))) ++
      Seq("bitpack", "varint", "rle", "dict", "delta", "raw").map(s =>
        (s"codec.blocks.$s", "count", c.getOrElse(s"codec.blocks.$s", 0.0))) ++
      Seq(
        ("chunk.build_ms", "ms", med("chunk.build")),
        ("chunk.open_tokens_ms", "ms", med("chunk.open_tokens")),
        ("chunk.open_meta_ms", "ms", med("chunk.open_meta")),
        ("lineage.manifest_read_ms", "ms", med("lineage.manifest_read")),
        ("lineage.listing_ms", "ms", med("lineage.listing")),
        ("lineage.read_chunk_ms", "ms", med("lineage.read_chunk")),
        ("lineage.vacuum_ms", "ms", med("lineage.vacuum")),
        ("lineage.chunks", "count", c.getOrElse("lineage.chunks", 0.0)),
        ("lineage.manifest_bytes", "bytes", c.getOrElse("lineage.manifest_bytes", 0.0)),
        ("lineage.files", "count", c.getOrElse("lineage.files", 0.0))) ++
      spanOps.flatMap { op =>
        val p = ctx.ops.planned(op)
        def m(xs: Seq[Int]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.toDouble))
        Seq((s"spark.$op.plan_ms", "ms", med(s"spark.$op.plan")),
          (s"spark.$op.exec_ms", "ms", med(s"spark.$op.exec")),
          (s"spark.$op.partitions_planned", "count", m(p.map(_._1))),
          (s"spark.$op.chunks_planned", "count", m(p.map(_._2))))
      } ++
      Seq(
        ("spark.contains.planned_per_match", "ratio",
          if (containsTruthChunks == 0) 0.0 else planned / containsTruthChunks),
        ("spark.delete.parts_rewritten", "count", delete.partsRewritten.toDouble),
        ("spark.delete.chunks_rewritten", "count", delete.chunksRewritten.toDouble),
        ("spark.delete.chunks_copied", "count", delete.chunksCopied.toDouble),
        ("spark.delete.rows_per_rewritten_chunk", "rows",
          if (delete.chunksRewritten == 0) 0.0
          else delete.rowsDeleted.toDouble / delete.chunksRewritten),
        ("spark.update.files_added", "count",
          if (updateFilesAdded.isEmpty) 0.0 else updateFilesAdded.sum / updateFilesAdded.size),
        ("spark.floor_ms", "ms", med("floor.empty_job")))
  }
}
