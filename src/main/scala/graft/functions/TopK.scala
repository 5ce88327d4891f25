package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k aggregate over (score, id) pairs — "k best per group" as
  * an `Aggregator`, which participates in PARTIAL aggregation: each map
  * task reduces its slice of a group to at most k pairs before the
  * shuffle, so the exchange carries O(partitions × k) rows per group
  * instead of every scored row, and no task sorts a whole group. Ties
  * break toward the smaller id.
  *
  * The buffer is kept sorted best-first and capped at k, so `reduce` is an
  * O(k) insert (with an O(1) reject of sub-threshold rows — the common
  * case once the buffer fills) and `merge` an O(k) sorted merge. Output is
  * the sorted (score desc, id asc) pair list; explode it for per-row
  * results.
  */
class TopKByScore(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, s"k must be positive, got $k")

  // total over NaN (java.lang.Double ordering ranks NaN greatest, matching
  // Spark SQL's sort order for double, so the result agrees with an
  // `ORDER BY score DESC, id` ranking even on NaN cosines from zero vectors)
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
    if (buf.length >= k && better(buf.last, x)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      ((pre :+ x) ++ post).take(k)
    }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val out = Vector.newBuilder[(Double, Long)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && better(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
}

/** One per-document tf-idf keyword row — the payload
  * [[TopKTermsByScore]] carries through the aggregation (term plus the
  * tf/df/score evidence columns the report exposes).
  */
case class TfIdfTerm(term: String, tf: Long, df: Long, score: Double)

/** Payload-carrying bounded top-k over (score desc, term asc) — the
  * aggregation-side replacement for the tf-idf per-document rank window
  * (r22, guide §2.3/§2.4): an `Aggregator` participates in partial
  * aggregation, so each map task reduces its slice of a document's terms
  * to at most k rows before any exchange and nothing ever sorts the full
  * (doc, term) stream — where the window form paid a per-partition sort
  * of every scored pair (plus its exchange) just to keep k of them.
  *
  * Ordering parity with the replaced window (`score DESC, term ASC`):
  * doubles compare via `java.lang.Double.compare` (NaN greatest — Spark's
  * sort order for double) and terms via CODE-POINT order, which equals
  * Spark's UTF8String binary sort order; JVM `String.compareTo` is UTF-16
  * code-unit order and diverges on supplementary characters.
  */
class TopKTermsByScore(k: Int)
    extends Aggregator[TfIdfTerm, Seq[TfIdfTerm], Seq[TfIdfTerm]] {
  require(k > 0, s"k must be positive, got $k")

  private def cpCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      // code points align at identical prefixes, so one cursor suffices
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(la - i, lb - i)
  }

  private def better(a: TfIdfTerm, b: TfIdfTerm): Boolean = {
    val c = java.lang.Double.compare(a.score, b.score)
    c > 0 || (c == 0 && cpCompare(a.term, b.term) < 0)
  }

  override def zero: Seq[TfIdfTerm] = Vector.empty

  override def reduce(buf: Seq[TfIdfTerm], x: TfIdfTerm): Seq[TfIdfTerm] =
    if (buf.length >= k && better(buf.last, x)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      ((pre :+ x) ++ post).take(k)
    }

  override def merge(a: Seq[TfIdfTerm], b: Seq[TfIdfTerm]): Seq[TfIdfTerm] = {
    val out = Vector.newBuilder[TfIdfTerm]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && better(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[TfIdfTerm]): Seq[TfIdfTerm] = r

  override def bufferEncoder: Encoder[Seq[TfIdfTerm]] =
    ExpressionEncoder[Seq[TfIdfTerm]]()
  override def outputEncoder: Encoder[Seq[TfIdfTerm]] =
    ExpressionEncoder[Seq[TfIdfTerm]]()
}
