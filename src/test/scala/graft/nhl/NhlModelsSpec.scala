package graft.nhl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Golden-output tests of the model graph on the hand-written fixtures —
  * the engine's analog of the reference's dbt test suite plus end-to-end
  * checks (SURVEY §5).
  */
class NhlModelsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val out = NhlPipeline.run(spark,
    NhlFixtures.boxscoreBronze(spark),
    NhlFixtures.pbpBronze(spark),
    NhlFixtures.oddsBronze(spark),
    runDate = "2024-10-11", persist = false)

  test("stgGames: latest snapshot wins (W1) — g1 shows the final 4-2, not the partial") {
    val g1 = out.stgGames.filter($"game_id" === 2024020001L).collect()
    assert(g1.length === 1)
    assert(g1(0).getAs[Int]("home_team_score") === 4)
    assert(g1(0).getAs[Int]("home_team_sog") === 32)
    assert(g1(0).getAs[String]("game_state") === "OFF")
  }

  test("factGameResults: winner/OT/differential; future game filtered (P2)") {
    val rows = out.factGameResults.collect().map(r => r.getAs[Long]("game_id") -> r).toMap
    assert(rows.keySet === Set(2024020001L, 2024020002L)) // g3 FUT excluded
    val g1 = rows(2024020001L)
    assert(g1.getAs[Long]("winning_team_id") === 6L)
    assert(g1.getAs[String]("winning_side") === "home")
    assert(g1.getAs[Int]("goal_differential") === 2)
    assert(!g1.getAs[Boolean]("went_to_overtime"))
    val g2 = rows(2024020002L)
    assert(g2.getAs[String]("winning_side") === "away")
    assert(g2.getAs[Int]("goal_differential") === 4)
    assert(g2.getAs[Boolean]("went_to_overtime"))
  }

  test("stgPlayerGameStats: 4-way explode+union, toi parsing, null faceoff pct") {
    val pastrnakG1 = out.factPlayerGameStats
      .filter($"player_id" === NhlFixtures.Pastrnak && $"game_id" === 2024020001L)
      .collect()(0)
    assert(pastrnakG1.getAs[String]("home_away") === "home")
    assert(pastrnakG1.getAs[String]("position_type") === "F")
    assert(pastrnakG1.getAs[Int]("sog") === 5)
    assert(pastrnakG1.getAs[Int]("toi_seconds") === 18 * 60 + 42)
    assert(pastrnakG1.getAs[Any]("faceoff_winning_pctg") === null) // winger
    // defense rows flow through the D combos
    val mcavoy = out.factPlayerGameStats
      .filter($"player_id" === NhlFixtures.McAvoy && $"game_id" === 2024020001L).collect()(0)
    assert(mcavoy.getAs[String]("position_type") === "D")
  }

  test("dimPlayer: latest-team ranking — traded player lands on newest team") {
    val trade = out.dimPlayer.filter($"player_id" === NhlFixtures.TradeGuy).collect()
    assert(trade.length === 1)
    assert(trade(0).getAs[String]("current_team_abbrev") === "CAR") // g2 later than g1
  }

  test("dimPlayer: a null game_date row can never win the recency pick") {
    // the min_by rewrite must keep the row_number(date DESC)-form's
    // nulls-last semantics: a corrupt unparseable-date row loses
    val rows = Seq(
      (99L, "Good Row", "C", "F", 6L, "BOS", java.sql.Date.valueOf("2024-10-09"), 2024020001L),
      (99L, "Corrupt Row", "C", "F", 12L, "CAR", null.asInstanceOf[java.sql.Date], 2024020099L)
    ).toDF("player_id", "player_name", "position", "position_type",
      "team_id", "team_abbrev", "game_date", "game_id")
    val dim = Models.dimPlayer(rows).collect()
    assert(dim.length === 1)
    assert(dim(0).getAs[String]("current_team_abbrev") === "BOS")
  }

  test("dimTeam: union-distinct of home and away sides") {
    val teams = out.dimTeam.select("team_id", "team_abbrev").as[(Long, String)].collect().toSet
    assert(teams === Set((6L, "BOS"), (10L, "TOR"), (12L, "CAR")))
  }

  test("dimDate: spine bounds, season/phase/dow derivations") {
    val d = out.dimDate
    assert(d.filter($"date_day" === "2020-01-01").count() === 1)
    val oct9 = d.filter($"date_day" === "2024-10-09").collect()(0)
    assert(oct9.getAs[Int]("nhl_season") === 20242025)
    assert(oct9.getAs[String]("season_phase") === "Early Season")
    assert(oct9.getAs[Int]("day_of_week") === 3) // a Wednesday
    val aug = d.filter($"date_day" === "2024-08-01").collect()(0)
    assert(aug.getAs[Any]("nhl_season") === null)
    assert(aug.getAs[String]("season_phase") === "Off Season")
  }

  test("dimDate: a run date whose end precedes the 2020 spine start yields no rows") {
    // Synthetic.RunDate: runDate+3y = 2004-09-01 < 2020-01-01
    val d = Models.dimDate(spark, "2001-09-01")
    assert(d.count() === 0)
    assert(d.columns.toSeq === out.dimDate.columns.toSeq)
  }

  test("factTeamGameStats: union sides + multi-key join + player aggregates + pct") {
    val bosG1 = out.factTeamGameStats
      .filter($"game_id" === 2024020001L && $"team_abbrev" === "BOS").collect()(0)
    assert(bosG1.getAs[Int]("goals") === 4)
    assert(bosG1.getAs[Int]("sog") === 32)
    assert(bosG1.getAs[Int]("goals_against") === 2)
    assert(bosG1.getAs[Long]("hits") === 7L) // 3 + 4 from the two BOS skaters
    assert(bosG1.getAs[Double]("shooting_pct") === 12.5) // 100*4/32
    val torG1 = out.factTeamGameStats
      .filter($"game_id" === 2024020001L && $"team_abbrev" === "TOR").collect()(0)
    assert(torG1.getAs[String]("home_away") === "away")
    assert(torG1.getAs[Long]("hits") === 6L)
  }

  test("factShotEvents: explode+filter+coalesce shooter; faceoff dropped") {
    val shots = out.factShotEvents.filter($"game_id" === 2024020001L).collect()
    assert(shots.length === 4) // sog, goal, missed, coordless sog; faceoff filtered
    val goal = shots.find(_.getAs[String]("event_type") === "goal").get
    assert(goal.getAs[Long]("shooter_player_id") === NhlFixtures.Pastrnak) // via COALESCE
    assert(goal.getAs[Boolean]("is_goal"))
    assert(goal.getAs[Boolean]("is_home_shot"))
    val missed = shots.find(_.getAs[String]("event_type") === "missed-shot").get
    assert(missed.getAs[Long]("defending_team_id") === 6L)
  }

  test("teamShotMetrics: rolling and season-to-date averages, game sequence") {
    val bos = out.teamShotMetrics.filter($"team_abbrev" === "BOS")
      .orderBy($"game_date").collect()
    assert(bos.map(_.getAs[Int]("games_played_in_season")).toSeq === Seq(1, 2))
    assert(bos(1).getAs[Double]("sog_avg_last3") === 31.0) // (32+30)/2
    assert(bos(1).getAs[Double]("sog_avg_season") === 31.0)
  }

  test("playerShotMetrics: totals, per-game, shooting pct, rank-gated last-N") {
    val p = out.playerShotMetrics.filter($"player_id" === NhlFixtures.Pastrnak).collect()(0)
    assert(p.getAs[Long]("games_played") === 2L)
    assert(p.getAs[Long]("total_sog") === 8L)
    assert(p.getAs[Double]("sog_per_game") === 4.0)
    assert(p.getAs[Double]("shooting_pct") === 37.5) // 3 goals / 8 sog
    assert(p.getAs[Double]("sog_avg_last3_team_games") === 4.0) // gate: LEAST(3,2)-1=1 ≤ 2 appearances
  }

  test("teamShotLocations: 5-ft binning, offense/defense contexts, null coords dropped") {
    val loc = out.teamShotLocations.collect()
    // coordless shot (eventId 350) excluded; 3 shots remain × 2 contexts
    assert(loc.map(_.getAs[Long]("shot_attempts")).sum === 6L)
    val bosOff = loc.filter(r => r.getAs[Long]("team_id") == 6L &&
      r.getAs[String]("shot_context") == "offense")
    assert(bosOff.map(r => (r.getAs[Int]("x_bin"), r.getAs[Int]("y_bin"))).toSet
      === Set((60, 20), (75, 5))) // |61|→60, |−18.5|→20; |−75|→75, |4|→5
    val goalCell = bosOff.find(_.getAs[Int]("x_bin") == 75).get
    assert(goalCell.getAs[Long]("goals") === 1L)
    assert(goalCell.getAs[Double]("shooting_pct") === 100.0)
  }

  test("playerShotLocations: per-shooter heatmap cells with binned coords") {
    val loc = out.playerShotLocations.collect()
    assert(loc.map(_.getAs[Long]("shot_attempts")).sum === 3L) // coordless excluded
    val pastrnak = loc.filter(_.getAs[Long]("shooter_player_id") == NhlFixtures.Pastrnak)
    assert(pastrnak.map(r => (r.getAs[Int]("x_bin"), r.getAs[Int]("y_bin"))).toSet
      === Set((60, 20), (75, 5)))
  }

  test("crosswalk: exact, normalized-accent, last-name-initial; ambiguity gate") {
    val xw = out.crosswalk.collect()
      .map(r => r.getAs[String]("odds_player_name") ->
        (r.getAs[Long]("player_id"), r.getAs[String]("match_method"))).toMap
    assert(xw("David Pastrnak") === ((NhlFixtures.Pastrnak, "exact")))
    assert(xw("J.T. Miller") === ((NhlFixtures.Miller, "exact")))
    assert(xw("Leon Draisaitl") === ((NhlFixtures.Draisaitl, "normalized")))
    assert(xw("D. Pastrnak") === ((NhlFixtures.Pastrnak, "last_name_initial")))
    assert(!xw.contains("M. Marner"), "ambiguous Marner must be dropped by the W3 gate")
    assert(!xw.contains("Nobody Unknown"))
  }

  test("stgOddsPlayerProps: triple explode yields one row per outcome") {
    val rows = out.stgOddsPlayerProps.collect()
    assert(rows.length === 15) // (8+1) + 4 + 2 outcomes across the three events
    assert(rows.forall(_.getAs[String]("market_key") === "player_shots_on_goal"))
  }

  test("factPlayerSogPropsV2: bookmaker preference, pivot, outcomes, implied prob") {
    val v2 = out.factPlayerSogPropsV2.collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("odds_player_name")) -> r).toMap

    val pastE1 = v2(("e1", "David Pastrnak"))
    assert(pastE1.getAs[String]("bookmaker_key") === "draftkings") // preferred over fanduel
    assert(pastE1.getAs[Double]("line_value") === 3.5)
    assert(pastE1.getAs[Int]("over_odds") === -115)
    assert(pastE1.getAs[String]("outcome") === "over") // actual 5 > 3.5
    assert(pastE1.getAs[Boolean]("hit_over"))
    assert(pastE1.getAs[Double]("beat_line_by") === 1.5)
    assert(math.abs(pastE1.getAs[Double]("over_implied_prob") - 115.0 / 215.0) < 1e-12)

    assert(v2(("e2", "David Pastrnak")).getAs[String]("outcome") === "under") // 3 < 3.5
    assert(v2(("e2", "Leon Draisaitl")).getAs[String]("outcome") === "under") // 2 < 2.5
    assert(v2(("e1", "J.T. Miller")).getAs[String]("outcome") === "push") // 3 == 3.0
    assert(v2(("e1", "D. Pastrnak")).getAs[String]("outcome") === "over") // 5 > 4.5 via initial match
    assert(v2(("e1", "Nobody Unknown")).getAs[String]("outcome") === "unmatched")
    // ambiguous for the crosswalk gate, but the in-pipeline fuzzy candidate
    // rank (v2.sql:115-144) picks the deterministic best: Mitch (lower id),
    // actual 4 SOG > 2.5
    val marner = v2(("e1", "M. Marner"))
    assert(marner.getAs[String]("match_method") === "fuzzy_fallback")
    assert(marner.getAs[Long]("player_id") === NhlFixtures.Marner)
    assert(marner.getAs[String]("outcome") === "over")
    assert(v2(("e3", "David Pastrnak")).getAs[String]("outcome") === "pending")
  }

  test("factPlayerSogPropsV1: LIKE-containment matcher fans out on shared surnames; v2 does not") {
    val v1 = out.factPlayerSogPropsV1.collect()

    // v1's `LIKE '%'||last_name||'%'` matcher (fact_player_sog_props.sql:121-127)
    // matches BOTH Marner brothers for "M. Marner" → two rows, conflicting outcomes
    val marnerV1 = v1.filter(_.getAs[String]("odds_player_name") == "M. Marner")
    assert(marnerV1.length === 2)
    assert(marnerV1.map(_.getAs[String]("nhl_player_name")).toSet
      === Set("Mitch Marner", "Marco Marner"))
    assert(marnerV1.map(_.getAs[String]("outcome")).toSet === Set("over", "under"))

    // v2's ranked-candidate matcher resolves the same name to ONE row
    val marnerV2 = out.factPlayerSogPropsV2
      .filter($"odds_player_name" === "M. Marner").collect()
    assert(marnerV2.length === 1)
    assert(marnerV2(0).getAs[Long]("player_id") === NhlFixtures.Marner)

    // v1 quirk kept faithful: unmatched name falls into CASE ELSE → 'push'
    val nobody = v1.filter(_.getAs[String]("odds_player_name") == "Nobody Unknown")
    assert(nobody.length === 1)
    assert(nobody(0).getAs[Any]("nhl_player_name") === null)
    assert(nobody(0).getAs[String]("outcome") === "push")

    // clean exact match agrees with v2: DK preferred, over (5 > 3.5)
    val past = v1.find(r => r.getAs[String]("odds_player_name") == "David Pastrnak" &&
      r.getAs[String]("event_id") == "e1").get
    assert(past.getAs[String]("bookmaker_key") === "draftkings")
    assert(past.getAs[String]("outcome") === "over")
    assert(past.getAs[Double]("sog_vs_line") === 1.5)

    // accent name matches via containment (LEON ⊃ DRAISAITL), no crosswalk needed
    val leon = v1.find(_.getAs[String]("odds_player_name") == "Leon Draisaitl").get
    assert(leon.getAs[String]("nhl_player_name") === "Léon Draisaitl")
    assert(leon.getAs[String]("outcome") === "under")
  }

  test("rpt overall: settled props only, over-hit pct excludes pushes") {
    val r = out.rptOverall.collect()(0)
    // settled: Pastrnak over, Pastrnak under, Draisaitl under, Miller push,
    // D. Pastrnak over, M. Marner over (fuzzy fallback)
    assert(r.getAs[Long]("n_props") === 6L)
    assert(r.getAs[Long]("n_over") === 3L)
    assert(r.getAs[Long]("n_under") === 2L)
    assert(r.getAs[Long]("n_push") === 1L)
    assert(r.getAs[Double]("over_hit_pct") === 60.0) // 3 of 5 non-push
  }

  test("extracts: final-game selection and next-opponent derivation") {
    val finals = Extracts.extractFinalGameIds(NhlFixtures.scheduleBronze(spark))
      .as[Long].collect().toSet
    assert(finals === Set(2024020001L)) // 9-digit id rejected, FUT excluded
    val next = Extracts.nextOpponent(NhlFixtures.scheduleBronze(spark)).collect()(0)
    assert(next.getAs[Long]("game_id") === 2024020050L) // from LATEST snapshot
    assert(next.getAs[String]("opponent_abbrev") === "CAR")
    assert(!next.getAs[Boolean]("is_home"))
  }

  test("typed facade: Dataset[GameResult] round-trips with compile-time fields") {
    val ds = Typed.gameResults(spark, out.factGameResults)
    val g1 = ds.collect().find(_.game_id == 2024020001L).get
    assert(g1.winning_team_id === Some(6L))
    assert(!g1.went_to_overtime)
    // typed transformations work (filter on case-class fields)
    assert(ds.filter(_.goal_differential >= 4).count() === 1)
    val lines = Typed.playerGameLines(spark, out.factPlayerGameStats)
    assert(lines.filter(_.player_id == NhlFixtures.Pastrnak).map(_.sog).collect().sum === 8)
  }

  test("quality: dbt-equivalent assertions pass on the silver outputs") {
    Quality.checkUnique(out.factGameResults, Seq("game_id"))
    Quality.checkUnique(out.factPlayerGameStats, Seq("game_id", "player_id"))
    Quality.checkNotNull(out.factGameResults, Seq("game_id", "game_date", "home_team_id"))
    Quality.checkAcceptedValues(out.factShotEvents, "event_type",
      Seq("shot-on-goal", "goal", "missed-shot"))
    Quality.checkReferentialIntegrity(
      out.factPlayerGameStats, "player_id", out.dimPlayer, "player_id")
    assert(Quality.countOutOfRange(out.factTeamGameStats, "shooting_pct", 0, 100) === 0)
  }
}
