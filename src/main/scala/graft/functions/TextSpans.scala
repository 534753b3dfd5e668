package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** One doc's span-cut result. Public and top-level: as a private case
  * class nested in [[TextSpans]], the whole-stage codegen that encodes
  * it fails to compile ("No applicable constructor/method found for zero
  * actual parameters") and Spark falls back to interpreted evaluation. */
final case class SpanCut(clean_text: String, n_tokens_kept: Long)

/** Span-cut as a compiled per-row UDF — the map-only form of the
  * doc_span_cut token reconstruction (r21, guide §2.4).
  *
  * The explode → anti-join → ordered listagg shape pays one full
  * exchange of every corpus TOKEN row (string payloads) plus a
  * sort-based aggregate, only to re-assemble each doc's surviving
  * tokens in position order. Spans per doc are few and
  * [[graft.ext.Dedup.repeatedSpans]] emits them MERGED AND DISJOINT, so
  * the cut is a per-row sweep once the spans are collected per doc
  * (one tiny span-sized aggregate + a broadcast-able join): no token
  * ever crosses the wire.
  *
  * Output is bit-identical to
  * `string_agg(t, ' ' ORDER BY pos)` over the anti-joined tokens plus
  * the kept-token count, including the edge cases: no spans → the
  * whitespace-normalized full text; every token covered → ("", 0).
  * Spans are re-sorted by start defensively; the sweep assumes they do
  * not overlap (the repeatedSpans contract — overlapping input would
  * need the O(n·s) membership test instead). */
object TextSpans {

  private val cutUdf = udf { (toks0: Seq[String],
      spans: Seq[org.apache.spark.sql.Row]) =>
    val toks = if (toks0 == null) Array.empty[String] else toks0.toArray
    if (spans == null || spans.isEmpty)
      SpanCut(toks.mkString(" "), toks.length.toLong)
    else {
      val iv = spans.map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toArray
      val sb = new StringBuilder
      var kept = 0L
      var si = 0
      var i = 0
      while (i < toks.length) {
        while (si < iv.length && iv(si)._2 < i) si += 1
        val covered = si < iv.length && iv(si)._1 <= i && i <= iv(si)._2
        if (!covered) {
          if (kept > 0) sb.append(' ')
          sb.append(toks(i))
          kept += 1
        }
        i += 1
      }
      SpanCut(sb.toString, kept)
    }
  }

  /** struct(clean_text, n_tokens_kept): `tokens` with every 0-based
    * position covered by a [span_start, span_end] interval removed,
    * joined by ' ' in position order. `spans` is an
    * array<struct<span_start: long, span_end: long>> (null/empty =
    * keep everything). */
  def cutSpans(tokens: Column, spans: Column): Column = cutUdf(tokens, spans)
}
