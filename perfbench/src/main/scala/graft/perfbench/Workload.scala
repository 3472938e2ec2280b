package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoders}

import graft.engine.{Lineage, SeqRow}
import graft.io.Corpus
import graft.spark.GraftDelete

/** A workload: the table it builds and the ops one round runs on it. Every
  * workload runs every op type, so every end-to-end metric is measured on
  * every table; the mix decides which ops dominate.
  *
  * @param corpusSeed fixed corpus seed, or None to take the run's `--seed`
  * @param rewrite    each round writes a fresh table from the corpus and
  *                   runs the round's ops on it (else one table serves all,
  *                   and each round writes the corpus to a scratch dir)
  * @param reads      read ops per round, besides one write and one DML
  *                   triple (append, delete, update)
  * @param dmlInitial DML targets rows of the initial table's first partition
  *                   (else only rows this run appended). One region takes
  *                   every change, so after its first rewrite the table
  *                   keeps its shape however many rounds a run holds; the
  *                   seed picks the rows within it.
  *
  * Each DML op is followed by a `verify` read of the row it touched. It pays
  * the manifest-cache miss the commit caused, so it is kept apart from the
  * `lookup` figures, which stay those of the cache-hit path.
  */
final case class Workload(name: String, corpusSeed: Option[Long], rows: Int,
                          chunkTokens: Int, rewrite: Boolean,
                          reads: Seq[(String, Int)], dmlInitial: Boolean)

object Workload {
  val AppendRows = 100
  val DeleteIds = 20
  val DeleteWindow = 200
  val RangeRows = 20
  val SetupWrites = 3
  /** Seconds of uncounted rounds before timing starts (JIT warm-up). */
  val WarmupSeconds = 4.0
  /** golden/ppmd_sizes.json: the seed-42, 50,000-row corpus. */
  val GoldenRaw = 156950088L
  val GoldenPpmdI = 46452423L

  val bulk = Workload("bulk", Some(42L), 50000, 1 << 20, rewrite = true,
    reads = Seq("scan" -> 1, "hot_contains" -> 1, "lookup" -> 4, "range" -> 2,
      "contains" -> 1, "group" -> 2, "rollup" -> 2),
    dmlInitial = false)
  val probe = Workload("probe", None, 10000, 1 << 13, rewrite = false,
    reads = Seq("lookup" -> 14, "range" -> 2, "contains" -> 2, "group" -> 2,
      "rollup" -> 2, "scan" -> 1, "hot_contains" -> 1),
    dmlInitial = true)

  val all: Map[String, Workload] = Seq(bulk, probe).map(w => w.name -> w).toMap
}

/** Runs one workload: set-up, one uncounted warm-up round, timed rounds for
  * the run's seconds, then vacuum and a full-table check. */
final class Runner(ctx: Ctx, w: Workload) {
  import Workload._
  import ctx.{log, reads, spark, tracer}

  private val corpusSeed = w.corpusSeed.getOrElse(ctx.seed)
  /** The corpus `golden/ppmd_sizes.json` was measured on. */
  private val golden = w.corpusSeed.contains(42L) && w.rows == 50000
  private val partitions = 2 * ctx.cores
  private val seqRowEnc = Encoders.product[SeqRow]
  private var tableNo = 0
  private var dir: String = _
  private var table: String = _
  private var model: TableModel = _
  private var nextId: Long = w.rows
  private var appended = Vector.empty[String]
  private var hot = 0
  private var containsCands = IndexedSeq.empty[Int]
  private val layers = new Layers(ctx)

  private def write(ds: Dataset[SeqRow], to: String, mode: String): Unit =
    ds.write.format("graft").option("chunkTokens", w.chunkTokens.toString)
      .mode(mode).save(to)

  private def register(d: String): Unit = {
    tableNo += 1
    dir = d
    table = s"bench.w.t$tableNo"
    spark.sql(s"CREATE TABLE $table USING graft LOCATION '$d'")
  }

  def run(): Result = {
    val t0 = System.nanoTime()
    val idx = new InputIndex(corpusSeed, w.rows, ctx.cores)
    val corpus = Corpus.table(spark, w.rows, corpusSeed, partitions).cache()
    corpus.count()
    val base = new TableModel(idx.rows.iterator)
    val genS = (System.nanoTime() - t0) / 1e9
    if (golden) log.check(Checks.equal("corpus raw bytes", 4 * base.tokens, GoldenRaw))

    // set-up: the initial write, several times; its median enters setup_s
    val writeS = (0 until SetupWrites).map { k =>
      val s0 = System.nanoTime()
      write(corpus, ctx.dir(s"setup$k"), "overwrite")
      (System.nanoTime() - s0) / 1e9
    }
    (0 until SetupWrites - 1).foreach(k => Files.delete(ctx.dir(s"setup$k")))
    val setupS = ctx.startupS + genS + Stats.median(writeS)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.w")
    register(ctx.dir(s"setup${SetupWrites - 1}"))
    model = base.copy()

    val m0 = Files.manifest(spark, dir)
    val initialChunks = m0.length
    val initialManifestBytes = Files.manifestBytes(dir)
    val encBytes = m0.map(_.enc_bytes).sum
    if (golden)
      log.check(Checks.atMost("summed chunk enc_bytes vs PPMd var.I", encBytes, GoldenPpmdI))
    val rowNo = (id: String) => id.stripPrefix("doc-").toInt
    // the hot token: one every chunk holds (bulk), else one of the three
    // low tokens the most chunks hold
    val ranges = m0.toSeq.map(m => rowNo(m.min_doc_id) -> rowNo(m.max_doc_id))
    val inChunks = idx.lowTokenRanges(ranges)
    val everywhere = (0 until 64).filter(inChunks(_) == ranges.size)
    val hotCands = if (everywhere.nonEmpty) everywhere else (0 until 64).sortBy(-inChunks(_)).take(3)
    hot = hotCands((math.abs(ctx.seed) % hotCands.length).toInt)
    // selective tokens: the 64 rarest tokens the corpus holds
    containsCands = (0 until Corpus.V).filter(idx.docFreq(_) > 0)
      .sortBy(t => (idx.docFreq(t), t)).take(64)
    require(containsCands.nonEmpty, "no selective token in the corpus")

    // warm-up: uncounted rounds of the same ops, so the JIT has compiled
    // the read, write and DML paths before timing starts
    val tw = System.nanoTime()
    ctx.rounds(WarmupSeconds)(r => round(corpus, base, -1 - r))
    val tm = System.nanoTime()
    val rounds = ctx.timedRounds(r => round(corpus, base, r))
    val te = System.nanoTime()

    log.counting = true
    log.run("vacuum")(tracer.span("lineage.vacuum")(Lineage.vacuum(ctx.hadoopConf, dir, 0L)))
    reads.scan(dir, model.digestSrc, withSource = true, op = "final_scan")
    log.counting = false
    val stored = Files.tableBytes(dir).toDouble
    log.check(Checks.atMost("stored bytes vs raw bytes", stored.toLong, 4 * model.tokens))
    if (tracer.on) layers.table(dir)

    val e2e = Seq(
      ("setup_s", "s", setupS),
      ("write_mtok_s", "Mtok/s", rate("write", base.tokens)),
      ("scan_mtok_s", "Mtok/s", rate("scan", Double.NaN)),
      ("hot_contains_mtok_s", "Mtok/s", rate("hot_contains", Double.NaN)),
      ("stored_bytes", "bytes", stored)) ++
      Seq("lookup", "range", "contains", "group", "rollup", "append", "delete",
        "update").map(op => (s"${op}_p50_ms", "ms", q(op, 0.5))) :+
      (("lookup_p90_ms", "ms", q("lookup", 0.9)))
    corpus.unpersist(blocking = true)
    Result(e2e, if (tracer.on) layers.metrics() else Nil, Seq(
      "rounds" -> rounds.toString, "rows" -> w.rows.toString,
      "tokens" -> base.tokens.toString, "chunks" -> initialChunks.toString,
      "manifest_bytes" -> initialManifestBytes.toString,
      "enc_bytes" -> encBytes.toString, "hot_token" -> hot.toString,
      "final_rows" -> model.size.toString,
      "phases_s" -> (f"startup ${ctx.startupS}%.1f gen $genS%.1f setup-writes ${writeS.sum}%.1f " +
        f"warmup ${(tm - tw) / 1e9}%.1f timed ${(te - tm) / 1e9}%.1f final ${(System.nanoTime() - te) / 1e9}%.1f"),
      "setup_write_s" -> writeS.map(s => f"$s%.3f").mkString(",")))
  }

  // table tokens per second of op time, over every timed op of that kind;
  // a scan's tokens are the table's at the time it ran
  private val scanned = scala.collection.mutable.HashMap("scan" -> 0.0, "hot_contains" -> 0.0)
  private def rate(op: String, perOp: Double): Double = {
    val ts = log.times(op)
    val toks = if (perOp.isNaN) scanned(op) else perOp * ts.size
    toks / (ts.sum / 1e3) / 1e6
  }
  private def q(op: String, p: Double): Double = {
    val ts = log.times(op)
    if (ts.isEmpty) Double.NaN else Stats.quantile(ts, p)
  }

  private def round(corpus: Dataset[SeqRow], base: TableModel, r: Int): Unit = {
    val rng = new Random(ctx.seed * 1000003L + r)
    if (w.rewrite) {
      val prev = dir
      val d = ctx.dir(s"round$r")
      log.run("write")(write(corpus, d, "overwrite"))
      spark.sql(s"DROP TABLE IF EXISTS $table")
      Files.delete(prev)
      register(d)
      model = base.copy()
      nextId = w.rows
      appended = Vector.empty
      checkWritten(d, base)
    }
    val ops = w.reads.flatMap { case (op, n) => Seq.fill(n)(op) } ++
      (if (w.rewrite) Nil else Seq("write")) :+ "dml"
    rng.shuffle(ops).foreach {
      case "lookup" => lookup(model.pick(rng), "lookup")
      case "range" =>
        val ids = model.run(model.pick(rng), RangeRows)
        reads.range(dir, ids.head, ids.last, model.range(ids.head, ids.last))
      case "contains" =>
        val t = containsCands(rng.nextInt(containsCands.length))
        val want = model.postings(t)
        reads.contains(dir, t, want)
        if (tracer.on) layers.containsTruth(dir, want)
      case "group" => reads.group(dir, model.bySource)
      case "rollup" => reads.rollup(dir, model.bySource)
      case "scan" =>
        if (reads.scan(dir, model.digest, withSource = false) && log.counting)
          scanned("scan") += model.tokens
      case "hot_contains" =>
        if (reads.hotContains(dir, hot, model.postings(hot).size) && log.counting)
          scanned("hot_contains") += model.tokens
      case "write" =>
        val d = ctx.dir("scratch-write")
        log.run("write")(write(corpus, d, "overwrite"))
        checkWritten(d, base)
        Files.delete(d)
      case "dml" =>
        // on appended rows, the append has to come first
        val order =
          if (w.dmlInitial) rng.shuffle(Seq("append", "delete", "update"))
          else "append" +: rng.shuffle(Seq("delete", "update"))
        order.foreach {
          case "append" => append()
          case "delete" => delete(rng)
          case "update" => update(rng)
        }
    }
  }

  private def checkWritten(d: String, base: TableModel): Unit = {
    val m = Files.manifest(spark, d)
    log.check(Checks.equal(s"write to $d: manifest (rows, tokens)",
      (m.map(_.n_rows.toLong).sum, m.map(_.n_tokens).sum), (base.size.toLong, base.tokens)))
  }

  private def lookup(id: String, op: String = "verify"): Unit =
    reads.lookup(dir, id, model.get(id), op)

  private def append(): Unit = {
    val (a, b, s) = (nextId, nextId + AppendRows, corpusSeed)
    nextId = b
    val ds = spark.range(a, b, 1, 1).map((i: java.lang.Long) => Corpus.row(s, i))(seqRowEnc)
    if (log.run("append")(write(ds, dir, "append")).isDefined) {
      val rows = (a until b).map(i => Corpus.row(s, i))
      rows.foreach(model.add)
      appended ++= rows.map(_.doc_id)
    }
    lookup(appended(appended.length - 1 - (b - a).toInt / 2))
  }

  private def targets(rng: Random): IndexedSeq[String] =
    if (w.dmlInitial) {
      val from = rng.nextInt(w.rows / partitions - DeleteWindow)
      model.run(f"doc-$from%012d", DeleteWindow).toIndexedSeq
    } else appended.filter(id => model.get(id).isDefined)

  private def delete(rng: Random): Unit = {
    val ids = rng.shuffle(targets(rng)).take(DeleteIds)
    if (ids.isEmpty) return
    import spark.implicits._
    log.run("delete")(GraftDelete.deleteIds(spark, dir, ids.toDS())).foreach { st =>
      log.check(Checks.equal("deleteIds rows deleted", st.rowsDeleted, ids.size.toLong))
      ids.foreach(model.remove)
      if (tracer.on) layers.deleteStats(st)
    }
    lookup(ids.head)
  }

  private def update(rng: Random): Unit = {
    val cands = targets(rng)
    if (cands.isEmpty) return
    val id = cands(rng.nextInt(cands.length))
    val before = if (tracer.on) Files.tableFiles(dir) else 0
    if (log.run("update")(spark.sql(
        s"UPDATE $table SET source = 'curated' WHERE doc_id = '$id'")).isDefined) {
      model.setSource(id, "curated")
      if (tracer.on) layers.updateFiles(Files.tableFiles(dir) - before)
    }
    lookup(id)
  }
}
