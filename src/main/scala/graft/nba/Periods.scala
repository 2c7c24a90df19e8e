package graft.nba

import graft.ops.TimeKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Periods pipeline — the reference's `MERGE_PERIODS` + `load_periods`
  * (`/root/reference/src/queries/game.py:11-51`,
  * `/root/reference/src/managers/game.py:126-135`): derive each period's
  * bounds from its PBP period events (A1: first event clock = start,
  * second/last = end), label Q1-Q4 vs OT, chain periods with NEXT edges
  * (W1), and roll game start/end/duration up from the period bounds (A2).
  *
  * The game end clock is DERIVED here — never a fixture input — which is
  * what lets every downstream stint tile close correctly on real feeds.
  * One groupBy on `(game_id, period)` + one window on `game_id`: linear,
  * partitioned by game, no cross-game state.
  */
object Periods {

  /** Period bounds + labels + NEXT chain from raw PBP period rows.
    * Output: (game_id, period, start_clock, end_clock, period_id, label,
    * is_overtime, next_period_id, time_delta). */
  def fromPbp(pbp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("game_id")).orderBy(col("period"))
    val periodId = TimeKernel.compositeKey(col("game_id"), col("period"))
    pbp
      .filter(col("action_type") === "period")
      .groupBy(col("game_id"), col("period"))
      .agg(
        min(col("global_clock")).as("start_clock"),
        max(col("global_clock")).as("end_clock"))
      .select(col("*"),
        periodId.as("period_id"),
        when(col("period") <= 4, concat(lit("Q"), col("period")))
          .otherwise(lit("OT")).as("label"),
        (col("period") > 4).as("is_overtime"),
        lead(periodId, 1).over(w).as("next_period_id"),
        (lead(col("start_clock"), 1).over(w) - col("start_clock")).as("time_delta"))
  }

  /** Game roll-up (A2, game.py:35-40): start = min period start, end =
    * max period end, duration = end - start. */
  def gameBounds(periods: DataFrame): DataFrame =
    periods
      .groupBy(col("game_id"))
      .agg(
        min(col("start_clock")).as("game_start_clock"),
        max(col("end_clock")).as("game_end_clock"))
      .withColumn("game_duration",
        col("game_end_clock") - col("game_start_clock"))
}
