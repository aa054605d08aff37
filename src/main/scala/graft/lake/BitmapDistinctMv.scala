package graft.lake

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** BITMAP distinct-count MVs — exact `COUNT(DISTINCT x)` for BOUNDED
  * INTEGRAL keys in [0, `domain`), a [[SketchStateMv]] law. A cell is
  * one 64-key word: `_widx = x div 64` holds bit `x mod 64` in `_word`;
  * cells fold by bit_or and the distinct measure sums bit counts.
  * State is O(groups × domain / 8) BYTES instead of the exact kind's
  * O(groups × live keys) rows — a 10^7-key domain is ~1.2 MB per group
  * (unbounded domains stay with [[DistinctMv]]). A key outside the
  * domain would alias another key's bit, so it fails pointedly.
  *
  * The rewrite rule's BITMAP tiers serve from this state directly:
  * bit_or is associative across grouped-away dimensions and across
  * state ∪ delta, so a group-subset COUNT(DISTINCT) re-aggregates the
  * words and an append-only-stale view compensates exactly at read
  * time ([[graft.plans.MvRewrite]], pinned through
  * [[SketchStateMv.Layout.stateBasisPinned]]).
  */
object BitmapDistinctMv extends SketchStateMv.Layout(
    "_bstate", "_widx", "_word", "bmvs") {

  /** Word-index column (key >> 6; -1 = the row-count sentinel). */
  val WidxCol: String = idxCol

  /** Word column: a 64-key bitset, or the sentinel's row count. */
  val WordCol: String = valCol
}

final case class BitmapDistinctMv(domain: Long) extends SketchStateMv.Law {
  import BitmapDistinctMv.{WidxCol, WordCol}
  require(domain > 0, "bitmap distinct kind needs distinct_domain > 0")

  def layout: SketchStateMv.Layout = BitmapDistinctMv

  def cellOf(keyCol: String): (Column, Column) = {
    val k = col(keyCol)
    (SketchStateMv.reject(k < 0L || k >= domain,
        concat(lit("bitmap distinct kind: key "), k.cast("string"),
          lit(s" outside [0, $domain) — widen distinct_domain or use " +
            "the exact distinct kind")))
      .otherwise(k.cast("long") / 64L),
      expr(s"shiftleft(1L, int(`$keyCol` % 64))"))
  }

  def foldCell(v: Column): Column = bit_or(v)

  def derive(cells: RelationalGroupedDataset, n: Column,
      distinctName: String): DataFrame =
    cells.agg(n, sum(when(col(WidxCol) >= 0L, bit_count(col(WordCol)))
      .otherwise(0L)).cast("bigint").as(distinctName))
}
