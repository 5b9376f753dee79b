package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Robust per-key outlier detection — median/MAD z-score (SURVEY.md §2.3
 * X14, the selective-brightness outlier detector's text analog:
 * /root/reference/ai_pdf_panel_duplicate_check_AUTO.py:2226-2342 computes
 * per-tile median/MAD exposure stats and flags |z| anomalies).
 *
 * Two engines with identical output contract:
 *  - exact = true: `percentile` — bit-exact vs a SQL oracle, but buffers
 *    every group's values in one task; correct for CI/oracle use, unsafe
 *    for a hot key with 10⁸ rows at 100-TB scale.
 *  - exact = false: `approx_percentile` (Greenwald-Khanna sketch, bounded
 *    memory per group regardless of group size) — the scale path. At the
 *    default accuracy the sketch is exact for groups smaller than the
 *    accuracy parameter, so small-group results match the exact engine
 *    bit-for-bit (gated in RobustStatsSpec).
 */
object RobustStats {

  /** Per-key (median, MAD) sketch surface — the engine's only non-SQL-
    * replayable step. Exposed separately so Verify can dump it and the
    * DuckDB oracle can replay the downstream gating math over it (the
    * sketch is deterministic: below `accuracy` observations per group the
    * GK summary retains every value, so a re-run reproduces it bit-exact).
    */
  def stats(events: DataFrame,
            keyCol: String = "user_id",
            valCol: String = "value",
            exact: Boolean = true,
            accuracy: Int = 10000): DataFrame = {
    def median(c: String) =
      if (exact) expr(s"percentile($c, 0.5)")
      else expr(s"approx_percentile($c, 0.5, $accuracy)")
    val med = events.groupBy(col(keyCol).as("k1"))
      .agg(median(valCol).as("med"))
    events.join(med, events(keyCol) === col("k1"))
      .withColumn("adev", abs(col(valCol) - col("med")))
      .groupBy(col(keyCol).as("k"))
      .agg(first("med").as("med"), median("adev").as("mad"))
  }

  def madOutliers(events: DataFrame,
                  keyCol: String = "user_id",
                  valCol: String = "value",
                  idCol: String = "event_id",
                  zThreshold: Double = 3.5,
                  exact: Boolean = true,
                  accuracy: Int = 10000): DataFrame = {
    // MAD = 0 happens whenever >50% of a key's values are identical — a
    // very common per-user shape — and the old filter(mad > 1e-9) granted
    // exactly those groups blanket immunity: [5,5,5,5,5,1e9] reported NO
    // outlier. Any deviation from the median of a zero-MAD group is
    // infinitely many MADs out, so flag it with a sentinel z (9999.0 — a
    // finite value keeps the driver's float-exact oracle compare trivially
    // portable) instead of dropping the group.
    //
    // Shape (optimization r06, guide §2.4): med and mad attach as window
    // aggregates over ONE partitionBy(key) exchange — the former
    // stats()+two-joins chain shuffled the event table three times (median
    // groupBy, adev join+groupBy, final join). Values are identical:
    // `percentile` sorts internally (order-independent), and the GK sketch
    // of `approx_percentile` retains every value below `accuracy`
    // observations per group, so both engines reproduce the joined
    // version bit-for-bit (small-group exactness gated in RobustStatsSpec).
    // The isNotNull guard replicates the old inner join's null-key drop.
    import org.apache.spark.sql.expressions.Window
    def median(c: String) =
      if (exact) expr(s"percentile($c, 0.5)")
      else expr(s"approx_percentile($c, 0.5, $accuracy)")
    val w = Window.partitionBy(col(keyCol))
    events.filter(col(keyCol).isNotNull)
      .withColumn("med", median(valCol).over(w))
      .withColumn("adev", abs(col(valCol) - col("med")))
      .withColumn("mad", median("adev").over(w))
      .withColumn("robust_z",
        when(col("mad") > 1e-9, col("adev") / (lit(1.4826) * col("mad")))
          .otherwise(when(col("adev") > 1e-9, lit(9999.0)).otherwise(lit(0.0))))
      .filter(col("robust_z") > zThreshold)
      .select(col(idCol), col(keyCol), round(col("robust_z"), 4).as("robust_z"))
  }
}
