package graft.nba

import graft.ops.AsOf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event attribution — every non-substitution action attributed to the
  * lineup stints live at its clock (the reference's interval-join
  * workhorse J5/J6, `/root/reference/src/queries/game.py:233-235` and
  * siblings), plus the special attributions: rebounds to the missed shot
  * they recover (J10, game.py:506-513), free-throw attempt parsing (C3,
  * game.py:435-439), and the priority-ordered action timeline (W6,
  * game.py:749-759).
  *
  * All single-pass: one extraction with flag columns replaces the
  * reference's 8 per-family round trips (SURVEY §3.2), and each
  * attribution is one as-of window pass on `(game_id, team_id)` — no
  * range-join explosion at any scale.
  *
  * §2.11 defect fixes folded in: rebounds and turnovers/timeouts are
  * always game-scoped (the reference leaked across games); the rebound
  * `REBOUND_OF` link is implemented as documented rather than as the
  * broken shipped query.
  */
object Events {

  /** The reference's 14 shot-style labels (F9, multi-label subtyping —
    * `/root/reference/src/queries/game.py:378-397`): descriptor CONTAINS
    * tests, one boolean flag column each. Vocabulary matches the MERGE
    * rules exactly ('alley-oop' hyphenated, 'bank' — there is no hook
    * label in the reference). */
  val shotStyleLabels: Seq[(String, String)] = Seq(
    "style_driving" -> "driving", "style_pullup" -> "pullup",
    "style_fadeaway" -> "fadeaway", "style_step_back" -> "step back",
    "style_alley_oop" -> "alley-oop", "style_reverse" -> "reverse",
    "style_turnaround" -> "turnaround", "style_bank" -> "bank",
    "style_floating" -> "floating", "style_finger_roll" -> "finger roll",
    "style_putback" -> "putback", "style_tip" -> "tip",
    "style_cutting" -> "cutting", "style_running" -> "running")

  /** One multi-label rule: `flag` is set when the family matches and
    * sub_type equals any of `subEq` OR descriptor equals any of `descEq`
    * — the reference's FOREACH-SET label semantics (EQUALITY on both
    * fields; some labels, e.g. turnover LostBall, fire from either
    * field, game.py:532-541). */
  final case class LabelRule(
      flag: String, family: String,
      subEq: Seq[String] = Nil, descEq: Seq[String] = Nil)

  /** The complete non-shot label inventory of the reference's MERGE
    * rules (game.py:221-228 jumpballs, 275-284 violations, 315-329
    * fouls, 488-489 rebounds, 532-541 turnovers — incl. the 'bas pass'
    * typo fixed to 'bad pass' per SURVEY §2.11 — and 585-586 timeouts):
    * 31 labels across 6 families. */
  val labelRules: Seq[LabelRule] = Seq(
    LabelRule("foul_personal", "foul", subEq = Seq("personal")),
    LabelRule("foul_offensive", "foul", subEq = Seq("offensive")),
    LabelRule("foul_technical", "foul", subEq = Seq("technical")),
    LabelRule("foul_flagrant", "foul", subEq = Seq("flagrant")),
    LabelRule("foul_shooting", "foul", descEq = Seq("shooting")),
    LabelRule("foul_loose_ball", "foul", descEq = Seq("loose ball")),
    LabelRule("foul_take", "foul", descEq = Seq("take")),
    LabelRule("foul_def_3_sec", "foul", descEq = Seq("defensive-3-second")),
    LabelRule("foul_charge", "foul", descEq = Seq("charge")),
    LabelRule("rebound_offensive", "rebound", subEq = Seq("offensive")),
    LabelRule("rebound_defensive", "rebound", subEq = Seq("defensive")),
    LabelRule("violation_kicked_ball", "violation", subEq = Seq("kicked ball")),
    LabelRule("violation_delay_of_game", "violation", subEq = Seq("delay-of-game")),
    LabelRule("violation_lane", "violation", subEq = Seq("lane")),
    LabelRule("violation_goaltending", "violation", subEq = Seq("goaltending")),
    LabelRule("violation_defensive_goaltending", "violation",
      subEq = Seq("defensive goaltending")),
    LabelRule("violation_double_dribble", "violation", subEq = Seq("double dribble")),
    LabelRule("violation_jump_ball", "violation", subEq = Seq("jump ball")),
    LabelRule("turnover_bad_pass", "turnover",
      subEq = Seq("bad pass"), descEq = Seq("bad pass")),
    LabelRule("turnover_lost_ball", "turnover",
      subEq = Seq("lost ball"), descEq = Seq("lost ball")),
    LabelRule("turnover_traveling", "turnover", subEq = Seq("traveling")),
    LabelRule("turnover_out_of_bounds", "turnover", subEq = Seq("out-of-bounds")),
    LabelRule("turnover_offensive_foul", "turnover", subEq = Seq("offensive foul")),
    LabelRule("turnover_shot_clock", "turnover", subEq = Seq("shot clock")),
    LabelRule("turnover_step", "turnover", descEq = Seq("step")),
    LabelRule("timeout_full", "timeout", subEq = Seq("full")),
    LabelRule("timeout_short", "timeout", subEq = Seq("short")),
    LabelRule("jumpball_recovered", "jumpball", subEq = Seq("recovered")),
    LabelRule("jumpball_startperiod", "jumpball", descEq = Seq("startperiod")),
    LabelRule("jumpball_heldball", "jumpball", descEq = Seq("heldball")),
    LabelRule("jumpball_unclearpass", "jumpball", descEq = Seq("unclearpass")))


  /** Single-pass typed extraction (replaces reference F5's 8 dispatch
    * masks): flag columns per family, the full multi-label type system
    * (shot styles + subtype labels), FT attempt parse, points. One
    * projection over the filter — 8 base columns, then the 14 style
    * flags, then the 31 label flags, in that order — so the plan stays
    * two nodes deep however many labels there are. Derived columns are
    * referenced as expressions (a projection cannot see its own
    * aliases); codegen's subexpression elimination evaluates each shared
    * one once per row. */
  def enriched(pbp: DataFrame): DataFrame = {
    val t = col("action_type")
    val subType = coalesce(col("sub_type"), lit(""))
    val descriptor = coalesce(col("descriptor"), lit(""))
    val isShot = t.isin("2pt", "3pt")
    val isMade = col("shot_result") === "Made"
    val isFreethrow = t === "freethrow"
    val ftAttempt = when(isFreethrow, split(subType, " ").getItem(0).cast("int"))
    // "1 of 2" parse (C3, game.py:435-439): total attempts + last-attempt
    val ftTotal = when(isFreethrow && subType.contains(" of "),
      split(col("sub_type"), " ").getItem(2).cast("int"))
    val base = Seq(
      isShot.as("is_shot"),
      isMade.as("is_made"),
      isFreethrow.as("is_freethrow"),
      ftAttempt.as("ft_attempt"),
      ftTotal.as("ft_total"),
      coalesce(isFreethrow && ftAttempt === ftTotal, lit(false)).as("is_last_ft"),
      when(t === "2pt" && isMade, 2)
        .when(t === "3pt" && isMade, 3)
        .when(isFreethrow && isMade, 1)
        .otherwise(0).as("points"),
      // FT synthetic +100ms-per-attempt tie-break (reference game.py:446)
      (col("global_clock") +
        when(ftAttempt.isNotNull, ftAttempt * 0.1).otherwise(0.0)).as("order_clock"))
    val styles = shotStyleLabels.map { case (flag, needle) =>
      (isShot && descriptor.contains(needle)).as(flag)
    }
    val labels = labelRules.map { r =>
      val subHit = r.subEq.foldLeft(lit(false))((acc, v) => acc || subType === v)
      val descHit = r.descEq.foldLeft(lit(false))((acc, v) => acc || descriptor === v)
      (t === r.family && (subHit || descHit)).as(r.flag)
    }
    pbp
      .filter(t =!= "substitution" && t =!= "period")
      .select(col("*") +: (base ++ styles ++ labels): _*)
  }

  /** Timeline priority (reference W6 table, game.py:749-759). */
  val typePriority: org.apache.spark.sql.Column =
    when(col("action_type") === "jumpball", 1)
      .when(col("action_type") === "foul", 2)
      .when(col("action_type") === "violation", 3)
      .when(col("action_type").isin("2pt", "3pt"), 4)
      .when(col("action_type") === "freethrow", 5)
      .when(col("action_type") === "rebound", 6)
      .when(col("action_type") === "turnover", 7)
      .when(col("action_type") === "timeout", 8)
      .otherwise(9)

  /** Priority-ordered action timeline with NEXT links (W6 + W1,
    * game.py:744-769), per game. */
  def timeline(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("game_id"))
      .orderBy(col("order_clock"), typePriority, col("action_id"))
    events.select(col("*"),
      row_number().over(w).as("seq"),
      lead(col("action_id"), 1).over(w).as("next_action_id"))
  }

  /** Attribute events to the acting team's live lineup stint (J5): as-of
    * on `(game_id, team_id)` — stints tile the clock, so every event lands
    * in exactly one. Events before the first stint (shouldn't exist) keep
    * null. */
  def attributeToStints(events: DataFrame, lineupStints: DataFrame): DataFrame = {
    val state = lineupStints.select(
      col("game_id"), col("team_id"),
      col("start_clock"), col("stint_id").as("lineup_stint_id"))
    AsOf.join(
      events.filter(col("team_id").isNotNull), state,
      keys = Seq("game_id", "team_id"),
      eventTime = "global_clock", stateTime = "start_clock",
      payload = Seq("lineup_stint_id"), tieBreak = Seq("lineup_stint_id"))
  }

  /** Opponent-stint attribution (J6, game.py:349-352 etc.): same as-of,
    * keyed on the *other* team (2 teams per game — derived from the game's
    * team pair, not a theta join). */
  def attributeToOpponentStints(
      events: DataFrame, lineupStints: DataFrame, gameTeams: DataFrame): DataFrame = {
    // gameTeams: (game_id, home_team_id, away_team_id)
    val withOpp = events
      .join(gameTeams, Seq("game_id"))
      .withColumn("opp_team_id",
        when(col("team_id") === col("home_team_id"), col("away_team_id"))
          .otherwise(col("home_team_id")))
      .drop("home_team_id", "away_team_id")
    val state = lineupStints.select(
      col("game_id"), col("team_id").as("opp_team_id"),
      col("start_clock"), col("stint_id").as("opp_lineup_stint_id"))
    AsOf.join(
      withOpp.filter(col("team_id").isNotNull), state,
      keys = Seq("game_id", "opp_team_id"),
      eventTime = "global_clock", stateTime = "start_clock",
      payload = Seq("opp_lineup_stint_id"), tieBreak = Seq("opp_lineup_stint_id"))
  }

  /** Rebound → missed-shot attribution (J10, fixed per §2.11): the latest
    * missed shot in the same game within 10 s before the rebound; each
    * shot claimed by at most one rebound (the earliest — the batch form of
    * the reference's `NOT EXISTS` claim check). */
  def reboundOf(events: DataFrame): DataFrame = {
    val rebounds = events.filter(col("action_type") === "rebound")
      .select(col("game_id"), col("action_id").as("rebound_id"), col("global_clock"))
    val missedShots = events.filter(col("is_shot") && !col("is_made"))
      .select(col("game_id"), col("global_clock").as("shot_clock"),
        col("action_id").as("shot_id"))
    val attributed = AsOf.join(
      rebounds, missedShots,
      keys = Seq("game_id"),
      eventTime = "global_clock", stateTime = "shot_clock",
      payload = Seq("shot_id", "shot_clock"), tieBreak = Seq("shot_id"),
      tolerance = Some(10.0))
    // one claim per shot: earliest rebound wins; keyed (game_id, shot_id)
    // so the claim holds even under per-game (non-global) action ids
    val w = Window.partitionBy(col("game_id"), col("shot_id"))
      .orderBy(col("global_clock"), col("rebound_id"))
    attributed
      .filter(col("shot_id").isNotNull)
      .withColumn("claim_rank", row_number().over(w))
      .filter(col("claim_rank") === 1)
      .select(col("game_id"), col("rebound_id"), col("shot_id"))
  }
}
