package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.engine.SeqRow
import graft.io.Corpus

/** Row hash and table digest computed by the benchmark itself, never by the
  * engine: the order-independent sum of per-row hashes plus row and token
  * counts. A lost, duplicated or altered row changes it. */
object Digest {
  final case class D(rows: Long, tokens: Long, sum: Long) {
    def +(o: D): D = D(rows + o.rows, tokens + o.tokens, sum + o.sum)
    def add(h: Long, nTok: Int): D = D(rows + 1, tokens + nTok, sum + h)
  }
  val Empty: D = D(0, 0, 0)

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Hasher {
    private var h = 0xcbf29ce484222325L
    def bytes(b: Array[Byte]): this.type = {
      var i = 0
      while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 1099511628211L; i += 1 }
      h = (h ^ b.length) * 1099511628211L
      this
    }
    def int(v: Int): this.type = { h = (h ^ (v & 0xffffffffL)) * 1099511628211L; this }
    def result: Long = mix(h)
  }

  /** Hash of (doc_id, tokens[, source]); `source` null leaves it out. */
  def row(docId: Array[Byte], tokens: Array[Int], source: Array[Byte]): Long = {
    val hs = new Hasher().bytes(docId)
    var i = 0
    while (i < tokens.length) { hs.int(tokens(i)); i += 1 }
    hs.int(tokens.length)
    if (source != null) hs.bytes(source)
    hs.result
  }

  def of(r: SeqRow, withSource: Boolean): Long =
    row(r.doc_id.getBytes(UTF_8), r.tokens,
      if (withSource) r.source.getBytes(UTF_8) else null)
}

/** Per-source aggregates, the expected answer of the grouped probes. */
final case class SrcAgg(rows: Long, tokens: Long, minId: String, maxId: String) {
  def +(o: SrcAgg): SrcAgg = SrcAgg(rows + o.rows, tokens + o.tokens,
    if (o.minId < minId) o.minId else minId,
    if (o.maxId > maxId) o.maxId else maxId)
}

/** A generated input, built on the driver from `Corpus.row` (a pure
  * function of seed and row number) with no engine code in the loop: the
  * rows, each token's document frequency, and a per-row bitmask of which of
  * tokens 0..63 the row holds. */
final class InputIndex(seed: Long, val n: Int, threads: Int) {
  val rows: Array[SeqRow] = new Array[SeqRow](n)
  val lowMask: Array[Long] = new Array[Long](n)
  val docFreq: Array[Int] = new Array[Int](Corpus.V)

  locally {
    final class Part(from: Int, until: Int) extends Runnable {
      val df = new Array[Int](Corpus.V)
      def run(): Unit = {
        val seen = new Array[Int](Corpus.V)
        java.util.Arrays.fill(seen, -1)
        var k = from
        while (k < until) {
          val r = Corpus.row(seed, k)
          rows(k) = r
          var m = 0L
          var j = 0
          while (j < r.tokens.length) {
            val t = r.tokens(j)
            if (seen(t) != k) { seen(t) = k; df(t) += 1 }
            if (t < 64) m |= 1L << t
            j += 1
          }
          lowMask(k) = m
          k += 1
        }
      }
    }
    val parts = (0 until threads).map(t =>
      new Part((t.toLong * n / threads).toInt, ((t + 1).toLong * n / threads).toInt))
    val ts = parts.map(p => new Thread(p))
    ts.foreach(_.start()); ts.foreach(_.join())
    parts.foreach { p =>
      var t = 0
      while (t < docFreq.length) { docFreq(t) += p.df(t); t += 1 }
    }
  }

  /** For each token below 64, how many of the row ranges [a, b] (row
    * numbers) hold it. */
  def lowTokenRanges(ranges: Seq[(Int, Int)]): Array[Int] = {
    val out = new Array[Int](64)
    ranges.foreach { case (a, b) =>
      var m = 0L
      var k = a
      while (k <= b) { m |= lowMask(k); k += 1 }
      var t = 0
      while (t < 64) { if ((m & (1L << t)) != 0) out(t) += 1; t += 1 }
    }
    out
  }
}

/** The benchmark's model of a table's current content: every write the
  * benchmark makes is applied here too, and every read is checked against
  * it. Digests are kept incrementally; the rest is computed on demand. */
final class TableModel(initial: Iterator[SeqRow]) {
  def copy(): TableModel = {
    val c = new TableModel(Iterator.empty)
    c.byId.putAll(byId); c.live ++= live; c.pos ++= pos
    c.digest = digest; c.digestSrc = digestSrc
    c
  }

  private val byId = new java.util.TreeMap[String, SeqRow]()
  private val live = scala.collection.mutable.ArrayBuffer.empty[String]
  private val pos = scala.collection.mutable.HashMap.empty[String, Int]
  var digest: Digest.D = Digest.Empty          // (doc_id, tokens)
  var digestSrc: Digest.D = Digest.Empty       // (doc_id, tokens, source)
  initial.foreach(add)

  def size: Int = live.length
  def tokens: Long = digest.tokens

  def add(r: SeqRow): Unit = {
    require(!byId.containsKey(r.doc_id), s"duplicate doc_id ${r.doc_id}")
    byId.put(r.doc_id, r)
    pos(r.doc_id) = live.length
    live += r.doc_id
    digest = digest.add(Digest.of(r, withSource = false), r.n_tok)
    digestSrc = digestSrc.add(Digest.of(r, withSource = true), r.n_tok)
  }

  def remove(id: String): Unit = {
    val r = byId.remove(id)
    require(r != null, s"remove of absent $id")
    val p = pos.remove(id).get
    val last = live.remove(live.length - 1)
    if (last != id) { live(p) = last; pos(last) = p }
    digest = Digest.D(digest.rows - 1, digest.tokens - r.n_tok,
      digest.sum - Digest.of(r, withSource = false))
    digestSrc = Digest.D(digestSrc.rows - 1, digestSrc.tokens - r.n_tok,
      digestSrc.sum - Digest.of(r, withSource = true))
  }

  def setSource(id: String, source: String): Unit = {
    val r = byId.get(id)
    remove(id)
    add(r.copy(source = source))
  }

  def get(id: String): Option[SeqRow] = Option(byId.get(id))
  def pick(rng: scala.util.Random): String = live(rng.nextInt(live.length))

  /** `n` consecutive live ids (doc_id order) starting at `from`. */
  def run(from: String, n: Int): Seq[String] = {
    val it = byId.tailMap(from, true).keySet().iterator()
    val out = Seq.newBuilder[String]
    var k = 0
    while (k < n && it.hasNext) { out += it.next(); k += 1 }
    out.result()
  }

  def range(lo: String, hi: String): Seq[SeqRow] = {
    val out = Seq.newBuilder[SeqRow]
    byId.subMap(lo, true, hi, true).values().forEach(r => out += r)
    out.result()
  }

  def postings(t: Int): Set[String] = {
    val out = Set.newBuilder[String]
    byId.values().forEach(r => if (r.tokens.contains(t)) out += r.doc_id)
    out.result()
  }

  def bySource: Map[String, SrcAgg] = {
    val m = scala.collection.mutable.HashMap.empty[String, SrcAgg]
    byId.values().forEach { r =>
      val a = SrcAgg(1, r.n_tok, r.doc_id, r.doc_id)
      m(r.source) = m.get(r.source).fold(a)(_ + a)
    }
    m.toMap
  }
}
