package graft.perfbench

import graft.engine.SeqRow

/** The correctness checks, as pure comparisons of an answer with the
  * expected one: None when they agree, else what differs. Kept apart from
  * the ops so `SelfTest` can feed each one a wrong answer. */
object Checks {
  def equal[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def atMost(what: String, got: Long, limit: Long): Option[String] =
    if (got <= limit) None else Some(s"$what: $got exceeds $limit")

  def sameBytes(what: String, got: Array[Byte], want: Array[Byte]): Option[String] =
    if (java.util.Arrays.equals(got, want)) None
    else Some(s"$what: ${got.length} bytes differ from the expected ${want.length}")

  private def same(a: SeqRow, b: SeqRow): Boolean =
    a.doc_id == b.doc_id && a.n_tok == b.n_tok && a.source == b.source &&
      java.util.Arrays.equals(a.tokens, b.tokens)

  /** Same rows, in any order. */
  def rows(what: String, got: Seq[SeqRow], want: Seq[SeqRow]): Option[String] = {
    val g = got.sortBy(_.doc_id); val w = want.sortBy(_.doc_id)
    if (g.length == w.length && g.zip(w).forall { case (a, b) => same(a, b) }) None
    else Some(s"$what: got ${g.length} rows ${g.take(3).map(_.doc_id)}, " +
      s"want ${w.length} rows ${w.take(3).map(_.doc_id)}")
  }

  /** Same doc_ids, each once. */
  def ids(what: String, got: Seq[String], want: Set[String]): Option[String] =
    if (got.length == want.size && got.toSet == want) None
    else Some(s"$what: got ${got.length} ids, want ${want.size}")

  def group(got: Seq[(String, Long, Long)], want: Map[String, SrcAgg]): Option[String] =
    equal("group (rows, tokens) by source",
      got.map { case (s, r, t) => s -> (r, t) }.toMap,
      want.map { case (s, a) => s -> (a.rows, a.tokens) })

  def rollup(got: Seq[(String, String, String)], want: Map[String, SrcAgg]): Option[String] =
    equal("rollup (min, max) doc_id by source",
      got.map { case (s, lo, hi) => s -> (lo, hi) }.toMap,
      want.map { case (s, a) => s -> (a.minId, a.maxId) })
}
