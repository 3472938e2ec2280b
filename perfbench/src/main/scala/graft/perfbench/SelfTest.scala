package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.SeqRow
import graft.io.Corpus

/** Shows that every check passes on the right answer and fails on a
  * deliberately wrong one, and that the digest the scan computes inside
  * Spark tasks equals the one the model computes. Needs no Spark session. */
object SelfTest {
  def run(): Boolean = {
    val rows = (0L until 40L).map(i => Corpus.row(7L, i))
    val model = new TableModel(rows.iterator)
    val r0 = rows.head
    val bad = r0.copy(tokens = r0.tokens.updated(0, r0.tokens(0) ^ 1))
    val agg = model.bySource
    val (s0, a0) = agg.head
    val t = r0.tokens(0)
    val posting = model.postings(t)

    // the digest as a scan task computes it, from Spark's internal rows
    def scanDigest(rs: Seq[SeqRow], withSource: Boolean): Digest.D =
      rs.foldLeft(Digest.Empty) { (d, r) =>
        val ir = new GenericInternalRow(Array[Any](UTF8String.fromString(r.doc_id),
          new GenericArrayData(r.tokens.map(x => x: Any)), UTF8String.fromString(r.source)))
        d.add(Reads.rowHash(ir, withSource), r.n_tok)
      }

    // (name, check on the right answer, check on a wrong answer)
    val cases: Seq[(String, Option[String], Option[String])] = Seq(
      ("scan digest (doc_id, tokens)",
        Checks.equal("d", scanDigest(rows, withSource = false), model.digest),
        Checks.equal("d", scanDigest(bad +: rows.tail, withSource = false), model.digest)),
      ("scan digest, lost row",
        Checks.equal("d", scanDigest(rows, withSource = false), model.digest),
        Checks.equal("d", scanDigest(rows.tail, withSource = false), model.digest)),
      ("scan digest, duplicated row",
        Checks.equal("d", scanDigest(rows, withSource = false), model.digest),
        Checks.equal("d", scanDigest(rows :+ r0, withSource = false), model.digest)),
      ("final digest (with source)",
        Checks.equal("d", scanDigest(rows, withSource = true), model.digestSrc),
        Checks.equal("d", scanDigest(r0.copy(source = "curated") +: rows.tail,
          withSource = true), model.digestSrc)),
      ("lookup row", Checks.rows("l", Seq(r0), model.get(r0.doc_id).toSeq),
        Checks.rows("l", Seq(bad), model.get(r0.doc_id).toSeq)),
      ("lookup of a deleted row", Checks.rows("l", Nil, Nil), Checks.rows("l", Seq(r0), Nil)),
      ("range rows", Checks.rows("r", rows.take(5).reverse, model.range(rows(0).doc_id, rows(4).doc_id)),
        Checks.rows("r", rows.take(4), model.range(rows(0).doc_id, rows(4).doc_id))),
      ("contains ids", Checks.ids("c", posting.toSeq, model.postings(t)),
        Checks.ids("c", posting.toSeq :+ posting.head, model.postings(t))),
      ("hot count", Checks.equal("h", posting.size.toLong, model.postings(t).size.toLong),
        Checks.equal("h", posting.size + 1L, model.postings(t).size.toLong)),
      ("group", Checks.group(agg.toSeq.map { case (s, a) => (s, a.rows, a.tokens) }, agg),
        Checks.group(agg.toSeq.map { case (s, a) => (s, if (s == s0) a.rows - 1 else a.rows, a.tokens) }, agg)),
      ("rollup", Checks.rollup(agg.toSeq.map { case (s, a) => (s, a.minId, a.maxId) }, agg),
        Checks.rollup(agg.toSeq.map { case (s, a) => (s, if (s == s0) a.maxId else a.minId, a.maxId) }, agg)),
      ("stored <= raw", Checks.atMost("s", 4 * model.tokens, 4 * model.tokens),
        Checks.atMost("s", 4 * model.tokens + 1, 4 * model.tokens)),
      ("enc_bytes <= PPMd var.I", Checks.atMost("p", Workload.GoldenPpmdI, Workload.GoldenPpmdI),
        Checks.atMost("p", Workload.GoldenPpmdI + 1, Workload.GoldenPpmdI)),
      ("deleteIds rows", Checks.equal("d", 20L, 20L), Checks.equal("d", 19L, 20L)),
      ("re-encoded payload", Checks.sameBytes("b", Array[Byte](1, 2), Array[Byte](1, 2)),
        Checks.sameBytes("b", Array[Byte](1, 3), Array[Byte](1, 2))))
    var ok = true
    cases.foreach { case (name, right, wrong) =>
      val pass = right.isEmpty && wrong.isDefined
      ok &&= pass
      println(s"${if (pass) "ok  " else "FAIL"} $name: right answer ${right.fold("accepted")(m => s"REJECTED ($m)")}" +
        s", wrong answer ${wrong.fold("ACCEPTED")(m => s"rejected ($m)")}")
    }
    println(if (ok) s"self-test passed (${cases.size} checks)" else "self-test FAILED")
    ok
  }
}
