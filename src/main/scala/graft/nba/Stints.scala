package graft.nba

import graft.nba.Model._
import graft.ops.TimeKernel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The stint engine — the reference's flagship computation
  * (`/root/reference/src/managers/game.py:139-199` +
  * `src/queries/game.py:54-206`): reconstruct, from starters plus the
  * substitution stream, which 5 players were on court for every instant of
  * the game; then derive per-player on-court runs.
  *
  * Spark shape: the stateful set-fold (SURVEY W4) is a typed
  * `flatMapGroups` over `(game_id, team_id)` — one shuffle on the group
  * key, then a pure in-memory replay of that team's subs (a few hundred
  * rows per group). Groups are independent games, so a 1,230-game season —
  * or a 100 TB season archive — parallelizes embarrassingly across
  * executors; no state crosses group boundaries. Downstream interval
  * tiling (W2) and player-run sessionization (W3) are single-window passes
  * partitioned by the same keys.
  */
object Stints {

  /** The reference's fold (`src/managers/game.py:147-193`), faithfully:
    * iterate substitutions in clock order keeping a running player set;
    * same-clock events are applied as one batch BEFORE the emit check
    * (the double-substitution rule, manager:173-181); emit a snapshot
    * whenever the set has exactly 5 players and differs from the last
    * emitted lineup. Starters seed the set at clock 0.
    */
  def lineupSnapshots(
      spark: SparkSession,
      starters: Dataset[Starter],
      subs: Dataset[SubEvent]): Dataset[LineupSnapshot] = {
    import spark.implicits._
    starters
      .groupByKey(s => (s.game_id, s.team_id))
      .cogroup(subs.groupByKey(s => (s.game_id, s.team_id))) {
        case ((gameId, teamId), starterRows, subRows) =>
          var cur = starterRows.map(_.person_id).toSet
          val out = Seq.newBuilder[LineupSnapshot]
          if (cur.size == 5)
            out += LineupSnapshot(gameId, teamId, 0.0, cur.toSeq.sorted)
          var lastEmitted = cur
          // same-clock batch rule: group by clock, apply whole batch, then check
          val batches = subRows.toSeq
            .sortBy(s => (s.global_clock, s.person_id))
            .groupBy(_.global_clock).toSeq.sortBy(_._1)
          for ((clock, batch) <- batches) {
            batch.foreach { s =>
              cur = if (s.is_in) cur + s.person_id else cur - s.person_id
            }
            if (cur.size == 5 && cur != lastEmitted) {
              out += LineupSnapshot(gameId, teamId, clock, cur.toSeq.sorted)
              lastEmitted = cur
            }
          }
          out.result().iterator
      }
  }

  /** Snapshots → tiling lineup stints (reference W2,
    * `src/queries/game.py:110-125`): each stint ends where the next
    * snapshot starts, the last at `gameEndClock`. Stint identity follows
    * the reference (§1.4): `lineup_id` = sorted ids joined by `_`
    * (game.py:69-70), `stint_id` = game_period-free `game_team_index`
    * composite. */
  def lineupStints(snapshots: Dataset[LineupSnapshot], gameEndClock: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("game_id"), col("team_id")).orderBy(col("global_clock"))
    snapshots.toDF()
      .select(col("*"),
        (row_number().over(w) - 1).as("stint_index"),
        lead(col("global_clock"), 1).over(w).as("next_start"))
      .join(gameEndClock, Seq("game_id")) // (game_id, game_end_clock)
      .select(
        col("game_id"), col("team_id"),
        TimeKernel.compositeKey(col("game_id"), col("team_id"), col("stint_index"))
          .as("stint_id"),
        TimeKernel.setKey(col("player_ids")).as("lineup_id"),
        col("stint_index"),
        col("global_clock").as("start_clock"),
        coalesce(col("next_start"), col("game_end_clock")).as("end_clock"),
        col("player_ids"))
  }

  /** Per-player on-court runs (PlayerStints — reference W3 sessionization,
    * `src/queries/game.py:144-168`): explode stint membership, then merge
    * contiguous intervals per (game, player): a new run starts when this
    * stint's start is strictly after the previous stint's end. */
  def playerStints(lineupStints: DataFrame): DataFrame = {
    val exploded = lineupStints.select(
      col("game_id"), col("team_id"),
      explode(col("player_ids")).as("person_id"),
      col("start_clock"), col("end_clock"), col("stint_id"))
    val w = Window.partitionBy(col("game_id"), col("person_id"))
      .orderBy(col("start_clock"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a run id is the running count of run starts, so it is a window over
    // the lagged window: two projections (window functions do not nest)
    val isNew =
      when(col("prev_end").isNull || col("start_clock") > col("prev_end"), 1L)
        .otherwise(0L)
    exploded
      .select(col("*"), lag(col("end_clock"), 1).over(w).as("prev_end"))
      .select(col("*"), sum(isNew).over(cum).as("run_id"))
      .groupBy(col("game_id"), col("team_id"), col("person_id"), col("run_id"))
      .agg(
        min(col("start_clock")).as("start_clock"),
        max(col("end_clock")).as("end_clock"),
        count(lit(1)).as("n_lineup_stints"),
        collect_list(col("stint_id")).as("stint_ids"))
      .select(col("*"),
        TimeKernel.compositeKey(col("game_id"), col("person_id"), col("run_id"))
          .as("player_stint_id"))
  }

  /** The `ON_COURT_NEXT` / stint `NEXT` chains (reference W1,
    * `game.py:127-129, 184-205`) with their clock-delta edge property. */
  def stintChains(lineupStints: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("game_id"), col("team_id")).orderBy(col("stint_index"))
    lineupStints.select(
      col("game_id"), col("team_id"), col("stint_id"),
      lead(col("stint_id"), 1).over(w).as("next_stint_id"),
      (lead(col("start_clock"), 1).over(w) - col("start_clock")).as("clock_delta"))
      .filter(col("next_stint_id").isNotNull)
  }

  /** Extract the substitution stream from raw PBP (reference F2 filter,
    * `src/managers/game.py:84-87`): `sub_type` in/out → is_in. */
  def subEvents(spark: SparkSession, pbp: Dataset[PbpAction]): Dataset[SubEvent] = {
    import spark.implicits._
    pbp.filter(a => a.action_type == "substitution" &&
        a.team_id.isDefined && a.person_id.isDefined)
      .map(a => SubEvent(a.game_id, a.team_id.get, a.person_id.get,
        a.global_clock, a.sub_type.contains("in")))
  }
}
