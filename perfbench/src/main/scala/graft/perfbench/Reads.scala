package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{array_contains, col, count, lit, max, min, sum}

import graft.engine.SeqRow

/** The read ops, each run through the public `format("graft")` reader and
  * checked against an expected answer the caller takes from its own model. */
final class Reads(ops: SparkOps, log: OpLog) {
  private def t(dir: String): DataFrame = ops.read(dir)

  private def asSeqRow(r: Row): SeqRow =
    SeqRow(r.getString(0), r.getSeq[Int](1).toArray, r.getInt(2), r.getString(3))

  def lookup(dir: String, id: String, want: Option[SeqRow], op: String): Unit =
    log.run(op) {
      val rows = ops.collectRows(op, t(dir).filter(col("doc_id") === id))
      log.check(Checks.rows(s"$op $id", rows.toSeq.map(asSeqRow), want.toSeq))
    }

  def range(dir: String, lo: String, hi: String, want: Seq[SeqRow]): Unit =
    log.run("range") {
      val rows = ops.collectRows("range",
        t(dir).filter(col("doc_id").between(lo, hi)))
      log.check(Checks.rows(s"range [$lo, $hi]", rows.toSeq.map(asSeqRow), want))
    }

  def contains(dir: String, tok: Int, want: Set[String]): Unit =
    log.run("contains") {
      val rows = ops.collectRows("contains",
        t(dir).filter(array_contains(col("tokens"), tok)).select(col("doc_id")))
      log.check(Checks.ids(s"contains $tok", rows.toSeq.map(_.getString(0)), want))
    }

  def group(dir: String, want: Map[String, SrcAgg]): Unit =
    log.run("group") {
      val rows = ops.collectRows("group", t(dir).groupBy(col("source"))
        .agg(count(lit(1)), sum(col("n_tok"))))
      log.check(Checks.group(rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))), want))
    }

  def rollup(dir: String, want: Map[String, SrcAgg]): Unit =
    log.run("rollup") {
      val rows = ops.collectRows("rollup", t(dir).groupBy(col("source"))
        .agg(min(col("doc_id")), max(col("doc_id"))))
      log.check(Checks.rollup(rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))), want))
    }

  /** Full scan of (doc_id, tokens[, source]) folded into the benchmark's
    * digest inside the tasks. True when the op ran (and was timed if
    * counted). */
  def scan(dir: String, want: Digest.D, withSource: Boolean,
           op: String = "scan"): Boolean =
    log.run(op) {
      val cols = Seq("doc_id", "tokens") ++ (if (withSource) Seq("source") else Nil)
      val q = t(dir).select(cols.map(col): _*)
      val got = ops.query(op, q)(q => Reads.digestOf(q, withSource))
      log.check(Checks.equal(s"$op digest", got, want))
    }.isDefined

  def hotContains(dir: String, tok: Int, want: Long): Boolean =
    log.run("hot_contains") {
      val rows = ops.collectRows("hot_contains",
        t(dir).filter(array_contains(col("tokens"), tok)).agg(count(lit(1))))
      log.check(Checks.equal(s"hot_contains $tok rows", rows(0).getLong(0), want))
    }.isDefined
}

object Reads {
  def digestOf(q: DataFrame, withSource: Boolean): Digest.D =
    q.queryExecution.toRdd.mapPartitions { it =>
      var d = Digest.Empty
      it.foreach((r: InternalRow) => d = d.add(rowHash(r, withSource), r.getArray(1).numElements()))
      Iterator.single(d)
    }.fold(Digest.Empty)(_ + _)

  private[perfbench] def rowHash(r: InternalRow, withSource: Boolean): Long = {
    val h = new Digest.Hasher().bytes(r.getUTF8String(0).getBytes)
    val a = r.getArray(1)
    val n = a.numElements()
    var j = 0
    while (j < n) { h.int(a.getInt(j)); j += 1 }
    h.int(n)
    if (withSource) h.bytes(r.getUTF8String(2).getBytes)
    h.result
  }
}
