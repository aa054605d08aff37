package graft.lake

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** HLL distinct-count MVs — APPROXIMATE `COUNT(DISTINCT x)` for
  * UNBOUNDED key domains, a [[SketchStateMv]] law: state is bounded at
  * O(groups × 2^p) registers whatever the key type or cardinality, at
  * the price of an estimate (±~1.04/√2^p relative error, Flajolet et
  * al. 2007's HyperLogLog). A cell is one register: `_ridx` is the top
  * p bits of the engine's md5-derived 60-bit hash (the convention
  * [[LakeTable]]'s bloom/NDV sketches share), `_rval` the max rank —
  * the leading-zero count + 1 of the remaining (60-p)-bit suffix.
  * Registers fold by max (the sketch union). Integer/string ops only,
  * so the register CONTENTS replay exactly in any engine with md5 (the
  * DuckDB oracle checks occupancy and rank sums verbatim; only the
  * float estimate is tolerance-gated).
  *
  * The estimate (the view's distinct column): raw E = α_m·m²/(Σ 2^(−M_j)
  * + V), with V = m − occupied registers, switching to linear counting
  * m·ln(m/V) when E ≤ 2.5m and V > 0. No large-range branch: a 60-bit
  * hash space collides ~never below 2^30 distincts. The rewrite rule
  * never serves an HLL MV for an exact aggregate
  * ([[graft.plans.MvRewrite]] vetoes it); the view answers by name.
  */
object HllDistinctMv extends SketchStateMv.Layout(
    "_hstate", "_ridx", "_rval", "hmvs") {

  /** Register-index column (top p hash bits; -1 = the row-count
    * sentinel).
    */
  val RidxCol: String = idxCol

  /** Register value: the max observed rank, or the sentinel's row
    * count.
    */
  val RvalCol: String = valCol

  /** Hash width: 15 md5 hex chars = 60 bits, positive in a signed
    * long — the repo's oracle-determinism convention.
    */
  val HashBits = 60
}

final case class HllDistinctMv(p: Int) extends SketchStateMv.Law {
  import HllDistinctMv.{HashBits, RidxCol, RvalCol}
  require(p >= 8 && p <= 16,
    "hll distinct kind needs distinct_precision in [8, 16]")

  def layout: SketchStateMv.Layout = HllDistinctMv

  def cellOf(keyCol: String): (Column, Column) = {
    val b = HashBits - p
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = h.bitwiseAND(lit((1L << b) - 1L))
    val rank = when(w === 0L, lit((b + 1).toLong))
      .otherwise(lit((b + 1).toLong) - length(bin(w)).cast("long"))
    (shiftright(h, b), rank)
  }

  def foldCell(v: Column): Column = max(v)

  def derive(cells: RelationalGroupedDataset, n: Column,
      distinctName: String): DataFrame = {
    val m = (1L << p).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m) // valid for m >= 128 (p >= 8)
    cells.agg(n,
        count(when(col(RidxCol) >= 0L, lit(1))).cast("double").as("_occ"),
        sum(when(col(RidxCol) >= 0L,
          pow(lit(0.5), col(RvalCol).cast("double"))).otherwise(lit(0.0)))
          .as("_z"))
      .withColumn("_v", lit(m) - col("_occ"))
      .withColumn("_eraw",
        lit(alpha * m * m) / (col("_z") + col("_v")))
      .withColumn(distinctName,
        round(when(col("_v") > lit(0.0) && col("_eraw") <= lit(2.5 * m),
          lit(m) * log(lit(m) / col("_v"))).otherwise(col("_eraw")))
          .cast("bigint"))
      .drop("_occ", "_z", "_v", "_eraw")
  }
}
