package graft.nba

import graft.SparkTestSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests of the domain engine on the hand-built fixture game
  * (Fixture.scala documents the script; expectations below are computed by
  * hand), plus the reference-implied invariants from SURVEY §5.2.3.
  */
class GamePipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val result = GamePipeline.run(
    spark,
    Fixture.pbp(spark),
    Fixture.starters(spark),
    Fixture.gameTeams(spark))

  test("lineup stints: counts, tiling, same-clock batch rule") {
    val stints = result.lineupStints
      .select("team_id", "lineup_id", "start_clock", "end_clock")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val home = stints.filter(_._1 == Fixture.home).sortBy(_._3)
    val away = stints.filter(_._1 == Fixture.away).sortBy(_._3)

    // double sub at t=300 is one transition (batch rule), not two
    assert(home.map(s => (s._2, s._3, s._4)).toSeq == Seq(
      ("1_2_3_4_5", 0.0, 300.0),
      ("3_4_5_6_7", 300.0, 900.0),
      ("1_3_4_5_7", 900.0, 1440.0)))
    assert(away.map(s => (s._2, s._3, s._4)).toSeq == Seq(
      ("11_12_13_14_15", 0.0, 600.0),
      ("12_13_14_15_16", 600.0, 1440.0)))

    // tiling invariant: per team, stints cover [0, 1440) exactly
    Seq(home, away).foreach { side =>
      assert(side.head._3 == 0.0 && side.last._4 == 1440.0)
      side.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"gap between $a and $b")
        case _ =>
      }
      assert(side.map(s => s._4 - s._3).sum == 1440.0)
    }
  }

  test("every emitted lineup has exactly 5 players; same 5 => same id") {
    val rows = result.lineupStints.select("player_ids", "lineup_id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).size == 5)
      assert(r.getSeq[Long](0).sorted.mkString("_") == r.getString(1))
    }
  }

  test("player stints: runs merge across contiguous lineup changes") {
    val ps = result.playerStints
      .select("person_id", "start_clock", "end_clock", "n_lineup_stints")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // player 3 stays on for all three home stints -> one run spanning the game
    assert(ps.filter(_._1 == 3L).toSeq == Seq((3L, 0.0, 1440.0, 3L)))
    // player 1 sits from 300 to 900 -> two runs
    assert(ps.filter(_._1 == 1L).sortBy(_._2).toSeq ==
      Seq((1L, 0.0, 300.0, 1L), (1L, 900.0, 1440.0, 1L)))
    // player 6 plays only the middle home stint
    assert(ps.filter(_._1 == 6L).toSeq == Seq((6L, 300.0, 900.0, 1L)))
  }

  test("score chain: totals, monotonicity, linear NEXT chain") {
    val chain = result.scoreChain
      .orderBy("clock")
      .select("home_score", "away_score", "margin", "next_score_id", "score_id")
      .collect()
    val last = chain.last
    assert(last.getLong(0) == 9L && last.getLong(1) == 8L && last.getLong(2) == 1L)
    // monotone totals
    chain.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(0) <= b.getLong(0) && a.getLong(1) <= b.getLong(1))
      case _ =>
    }
    // linear chain: each next_score_id is the following row's score_id
    chain.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) == b.getLong(4))
      case _ =>
    }
    assert(last.isNullAt(3))
  }

  test("per-period partials reset at the period boundary") {
    val p2 = result.scoreChain.filter(col("period") === 2)
      .orderBy("clock")
      .select("period_home_score", "period_away_score").collect()
    // P2 scoring: home 2 (t800), away 3 (t950), home 2 (t1300)
    assert(p2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 0L), (2L, 3L), (4L, 3L)))
  }

  test("stint plus-minus: golden values and sum-equals-margin invariant") {
    val pm = result.stintPlusMinus
      .select("team_id", "start_clock", "plus_minus")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val byKey = pm.map { case (t, s, v) => (t, s) -> v }.toMap
    assert(byKey((Fixture.home, 0.0)) == -1L)
    assert(byKey((Fixture.home, 300.0)) == 3L)
    assert(byKey((Fixture.home, 900.0)) == -1L)
    assert(byKey((Fixture.away, 0.0)) == -2L)
    assert(byKey((Fixture.away, 600.0)) == 1L)
    // invariant: sum of stint +- per team == final margin (antisymmetric)
    val homeSum = pm.filter(_._1 == Fixture.home).map(_._3).sum
    val awaySum = pm.filter(_._1 == Fixture.away).map(_._3).sum
    assert(homeSum == 1L && awaySum == -1L)
  }

  test("player plus-minus rolls up lineup stints") {
    val pm = result.playerPlusMinus
      .select("person_id", "plus_minus").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    assert(pm(3L) == 1L)  // on for all home stints: -1 + 3 - 1
    assert(pm(6L) == 3L)  // only the +3 stint
    assert(pm(1L) == -2L) // -1 and -1 stints
  }

  test("rebound attribution: within 10s linked, stale and FT misses not") {
    val links = result.reboundLinks
      .select("rebound_id", "shot_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(links == Set((3L, 2L), (12L, 11L)))
  }

  test("free-throw attempt parse and timeline tie-break ordering") {
    val fts = result.attributedEvents
      .filter(col("is_freethrow"))
      .select("action_id", "ft_attempt").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(fts == Map(6L -> 1, 7L -> 2))
    val seq280 = result.timeline
      .filter(col("global_clock") === 280.0)
      .orderBy("seq").select("action_id").collect().map(_.getLong(0)).toSeq
    assert(seq280 == Seq(5L, 6L, 7L)) // foul before FT1 before FT2
  }

  test("event attribution: as-of lands events in the live stint") {
    val stints = result.lineupStints
      .select("stint_id", "team_id", "start_clock").collect()
      .map(r => (r.getLong(1), r.getDouble(2)) -> r.getString(0)).toMap
    // action 9 (home, t=400) -> home stint starting 300, opp stint starting 0
    val a9 = result.attributedEvents.filter(col("action_id") === 9)
      .select("lineup_stint_id", "opp_lineup_stint_id").head()
    assert(a9.getString(0) == stints((Fixture.home, 300.0)))
    assert(a9.getString(1) == stints((Fixture.away, 0.0)))
    // action 13 (away, t=700) -> away stint starting 600
    val a13 = result.attributedEvents.filter(col("action_id") === 13)
      .select("lineup_stint_id").head()
    assert(a13.getString(0) == stints((Fixture.away, 600.0)))
  }

  test("idempotency: re-running the pipeline reproduces identical stints") {
    val again = GamePipeline.run(spark, Fixture.pbp(spark), Fixture.starters(spark),
      Fixture.gameTeams(spark))
    val a = result.lineupStints.select("stint_id", "lineup_id", "start_clock", "end_clock")
      .collect().map(_.toSeq).toSet
    val b = again.lineupStints.select("stint_id", "lineup_id", "start_clock", "end_clock")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("cached Result frames are InMemoryRelation leaves, not their lineage") {
    // every later DataFrame call analyzes the frame's whole logical tree;
    // a leaf keeps that one node however deep the pipeline beneath it
    Seq("periods" -> result.periods, "lineupStints" -> result.lineupStints,
      "playerStints" -> result.playerStints,
      "attributedEvents" -> result.attributedEvents,
      "scoreChain" -> result.scoreChain).foreach { case (name, df) =>
      val analyzed = df.queryExecution.analyzed
      assert(analyzed.isInstanceOf[InMemoryRelation] && analyzed.children.isEmpty,
        s"$name is not a cached leaf:\n${analyzed.treeString}")
    }
  }

  test("enriched events: pinned schema, one projection over the filter") {
    val pbp = Fixture.pbp(spark).toDF()
    val e = Events.enriched(pbp)
    val base = Seq("is_shot" -> "boolean", "is_made" -> "boolean",
      "is_freethrow" -> "boolean", "ft_attempt" -> "int", "ft_total" -> "int",
      "is_last_ft" -> "boolean", "points" -> "int", "order_clock" -> "double")
    val flags = Seq("style_driving", "style_pullup", "style_fadeaway",
      "style_step_back", "style_alley_oop", "style_reverse", "style_turnaround",
      "style_bank", "style_floating", "style_finger_roll", "style_putback",
      "style_tip", "style_cutting", "style_running",
      "foul_personal", "foul_offensive", "foul_technical", "foul_flagrant",
      "foul_shooting", "foul_loose_ball", "foul_take", "foul_def_3_sec",
      "foul_charge", "rebound_offensive", "rebound_defensive",
      "violation_kicked_ball", "violation_delay_of_game", "violation_lane",
      "violation_goaltending", "violation_defensive_goaltending",
      "violation_double_dribble", "violation_jump_ball", "turnover_bad_pass",
      "turnover_lost_ball", "turnover_traveling", "turnover_out_of_bounds",
      "turnover_offensive_foul", "turnover_shot_clock", "turnover_step",
      "timeout_full", "timeout_short", "jumpball_recovered",
      "jumpball_startperiod", "jumpball_heldball", "jumpball_unclearpass")
    val expected = pbp.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ++
      base ++ flags.map(_ -> "boolean")
    assert(e.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq == expected)
    e.queryExecution.analyzed match {
      case Project(_, Filter(_, child)) =>
        assert(child == pbp.queryExecution.analyzed,
          s"enrichment is more than one projection:\n${e.queryExecution.analyzed.treeString}")
      case other => fail(s"expected one Project over the Filter:\n${other.treeString}")
    }
  }

  test("clearCache -> rebuild cycles neither leak nor strand persisted RDDs") {
    // the leaves keep their lineage in the relation, so `clearCache()`
    // still frees every block, and a rebuilt pipeline persists the same
    // number of RDDs as the last one. clearCache() empties the cache of
    // every session in the JVM, so this suite runs in a JVM of its own
    // (build.sbt's testGrouping).
    val sc = spark.sparkContext
    val perPass = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      val s = spark.newSession()
      // built as Domain.pipeline builds it, game->teams dim a leaf too;
      // forcing the stint plus-minus (q60's frame) fills the leaves it reads
      val p = GamePipeline.run(s, Fixture.pbp(s), Fixture.starters(s),
        org.apache.spark.sql.GraftBridge.cachedLeaf(Fixture.gameTeams(s)))
      graft.Force(p.stintPlusMinus)
      sc.getPersistentRDDs.size
    }
    assert(perPass.head > 0, "forcing the plus-minus filled no cached frame")
    assert(perPass.forall(_ == perPass.head), s"persisted RDDs grew: $perPass")
    spark.catalog.clearCache()
    assert(sc.getPersistentRDDs.isEmpty,
      s"${sc.getPersistentRDDs.size} persisted RDDs survive clearCache()")
  }
}
