package graft.nhl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.SparkTestBase

/** The pipeline's materialization contract: persisting changes no row,
  * each bronze input is derived once per run, and the one-pass player
  * flatten keeps the four-combo semantics on null and missing groups.
  */
class NhlPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val RunDate = "2024-10-11"

  private def run(box: DataFrame, pbp: DataFrame, odds: DataFrame, persist: Boolean) =
    NhlPipeline.run(spark, box, pbp, odds, RunDate, persist)

  private def outputs(o: NhlOutputs): Seq[(String, DataFrame)] =
    o.productElementNames.zip(o.productIterator.map(_.asInstanceOf[DataFrame])).toSeq

  /** `df` with every row it yields counted in `acc`: a pass-through whose
    * counter shows how many times the input was evaluated.
    */
  private def counted(df: DataFrame, acc: LongAccumulator): DataFrame =
    spark.createDataFrame(df.rdd.map { r => acc.add(1); r }, df.schema)

  test("run(persist = true) returns the same rows as run(persist = false) for every output") {
    try {
      // the view-only run first, cut from any cache: the persisted run
      // caches bronze plans that equal these fixtures' plans
      val views = outputs(run(NhlFixtures.boxscoreBronze(spark), NhlFixtures.pbpBronze(spark),
        NhlFixtures.oddsBronze(spark), persist = false))
        .map { case (n, df) => n -> df.localCheckpoint() }
      val tables = outputs(run(NhlFixtures.boxscoreBronze(spark), NhlFixtures.pbpBronze(spark),
        NhlFixtures.oddsBronze(spark), persist = true)).toMap
      assert(views.map(_._1).toSet === tables.keySet)
      views.foreach { case (n, v) =>
        val t = tables(n)
        assert(t.count() === v.count(), s"$n row count")
        assert(t.exceptAll(v).isEmpty && v.exceptAll(t).isEmpty, s"$n rows differ")
      }
    } finally spark.catalog.clearCache()
  }

  test("each bronze input is evaluated once when every output is consumed") {
    def evaluations(persist: Boolean): Seq[(String, Long, Long)] = {
      val inputs = Seq("boxscore" -> NhlFixtures.boxscoreBronze(spark),
        "pbp" -> NhlFixtures.pbpBronze(spark), "odds" -> NhlFixtures.oddsBronze(spark))
      val accs = inputs.map { case (n, _) => spark.sparkContext.longAccumulator(n) }
      val Seq(box, pbp, odds) = inputs.zip(accs).map { case ((_, df), a) => counted(df, a) }
      try outputs(run(box, pbp, odds, persist)).foreach { case (_, df) => df.collect() }
      finally spark.catalog.clearCache()
      inputs.zip(accs).map { case ((n, df), a) => (n, df.count(), a.sum) }
    }
    evaluations(persist = true).foreach { case (n, rows, seen) =>
      assert(seen === rows, s"$n: $seen rows evaluated for $rows input rows")
    }
    // the counter is live: as views, the boxscore is re-derived per consumer
    val (_, boxRows, boxSeen) = evaluations(persist = false).head
    assert(boxSeen > boxRows)
  }

  private def player(id: String): String =
    s"""{"playerId": $id, "name": {"default": "P$id"}, "position": "C", "sog": 1, "toi": "10:00"}"""

  private def snapshot(gameId: Long, state: String, groups: String): String =
    s"""{"id": $gameId, "season": 20242025, "gameType": 2, "gameDate": "2024-10-09",
       |"gameState": "$state",
       |"homeTeam": {"id": 6, "abbrev": "BOS"}, "awayTeam": {"id": 10, "abbrev": "TOR"},
       |"playerByGameStats": $groups}""".stripMargin

  test("stgPlayerGameStats: a null or missing group adds no rows; a null playerId drops one row") {
    val stale = snapshot(1, "LIVE",
      s"""{"homeTeam": {"forwards": [${player("99")}], "defense": [${player("98")}]},
         | "awayTeam": {"forwards": [], "defense": []}}""".stripMargin)
    val nullDefense = snapshot(1, "OFF",
      s"""{"homeTeam": {"forwards": [${player("1")}, ${player("2")}], "defense": null},
         | "awayTeam": {"forwards": [${player("3")}, ${player("null")}],
         |              "defense": [${player("4")}]}}""".stripMargin)
    val missingDefense = snapshot(2, "OFF",
      s"""{"homeTeam": {"forwards": [], "defense": [${player("5")}]},
         | "awayTeam": {"forwards": [${player("6")}]}}""".stripMargin)
    val bronze = Seq(
      (stale, "g1/a.json", "2024-10-09"),
      (nullDefense, "g1/b.json", "2024-10-10"),
      (missingDefense, "g2/b.json", "2024-10-10"))
      .toDF("json", "s3_key", "pd")
      .select(from_json($"json", Schemas.boxscore).as("payload"), $"s3_key",
        to_date($"pd").as("partition_date"))
      .withColumn("game_id", $"payload.id")

    val rows = Models.stgPlayerGameStats(bronze)
      .select("game_id", "player_id", "home_away", "team_id", "team_abbrev", "position_type")
      .as[(Long, Long, String, Long, String, String)].collect()
    assert(rows.sortBy(_._2).toSeq === Seq(
      (1L, 1L, "home", 6L, "BOS", "F"),
      (1L, 2L, "home", 6L, "BOS", "F"),
      (1L, 3L, "away", 10L, "TOR", "F"),
      (1L, 4L, "away", 10L, "TOR", "D"),
      (2L, 5L, "home", 6L, "BOS", "D"),
      (2L, 6L, "away", 10L, "TOR", "F")))
  }
}
