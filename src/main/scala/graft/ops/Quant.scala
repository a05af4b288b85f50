package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** HALF-UP decimal quantization via floor — the HOT-PATH form of
  * `F.round` for per-row/per-edge expressions.
  *
  * Spark's `Round` expression routes every DOUBLE through
  * `BigDecimal.setScale` (exact binary expansion, HALF_UP) — correct,
  * but it dominated the profile of ops that quantize at corpus scale
  * (measured 4× on the CKA O(n·d²) path, r16). `floor(t·10^dp + ½)`
  * is pure FP codegen producing the same grid value except when
  * `t·10^dp` sits within one ulp of a `.5` boundary AND the float
  * error crosses it — for data-derived doubles this is vanishingly
  * rare, and every swapped call site is re-pinned hash-green against
  * its DuckDB oracle at all three SFs (the same Spark-vs-DuckDB
  * rounding-semantics agreement the 9-dp house convention already
  * rests on; DuckDB's own round is the float path, not BigDecimal).
  *
  * Use `F.round` for bounded tables (rollups, readouts — cost is
  * nothing there); use this for expressions evaluated once per corpus
  * row, per edge, or per generated term.
  */
object Quant {
  def halfUp(c: Column, dp: Int): Column = {
    val p = math.pow(10.0, dp)
    val t = c * F.lit(p)
    F.when(c >= 0, F.floor(t + F.lit(0.5)))
      .otherwise(-F.floor(-t + F.lit(0.5))).cast("double") / F.lit(p)
  }

  /** Sign-of-zero canonicalization: `-0.0 + 0.0 = +0.0` (IEEE), every
    * other value (incl. NULL) passes through unchanged.
    *
    * The ENTRY-AUTHORING CONTRACT (SURVEY §8): any rounded output that
    * can be a near-zero ratio/difference (r², correlations,
    * divergences, slopes) must apply this on BOTH engines — Spark side
    * via this helper, oracle side as a trailing `+ 0.0` after the
    * `round(...)`. The driver's hash distinguishes `+0.0` from `-0.0`
    * (adjudicated on x222, r16): DuckDB's float-path `round` of a tiny
    * negative yields `-0.0`, while Spark's `Round` routes through
    * BigDecimal and normalizes to `+0.0` — identical values, different
    * hash, red row. Canonicalizing on both sides closes the class.
    */
  def noNegZero(c: Column): Column = c + F.lit(0.0)

  /** Round to 9 dp, then cast to DECIMAL(38,9): the exact-sum summand.
    * A decimal `sum` is exact, so it reads the same whatever order the
    * partitions add up in — unlike a DOUBLE sum. */
  def dec9(c: Column): Column = F.round(c, 9).cast("decimal(38,9)")
}
