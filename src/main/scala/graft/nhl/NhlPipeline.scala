package graft.nhl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole model graph as one run — the Spark-native replacement for the
  * reference's Airflow DAG → COPY INTO → dbt Cloud chain (SURVEY §3.1):
  * bronze reads → staging → dims → facts → metrics → props → report, in
  * dependency order.
  *
  * Materialization mirrors the reference's COPY INTO → dbt split
  * (`dbt_project.yml:18-31`). With `persist` on (the default):
  *   - bronze is a loaded table: each bronze input is `persist()`ed once,
  *     the analog of the COPY INTO load, so its derivation (a multiLine
  *     JSON parse in [[RunPipeline]], a nesting aggregate in
  *     [[Synthetic]]) runs once however many models read it;
  *   - staging models are views over the loaded bronze, except
  *     `stgPlayerGameStats`, which feeds four consumers and is persisted
  *     so its latest-snapshot shuffle and explode run once;
  *   - fact tables that fan out to several consumers
  *     (`factPlayerGameStats`, `factShotEvents`) are persisted; dims,
  *     metrics and the report stay views.
  * Every persist is lazy: the first action that reads a frame fills it.
  * The props models cut lineage themselves with `localCheckpoint` (the
  * crosswalk's two name tables, eagerly, during `run`; v2's shared
  * pivot, lazily); those are not governed by `persist`.
  * `persist = false` leaves the whole graph as views (same rows, every
  * consumer re-derives its inputs). On a cluster the persist points
  * become written bronze and silver parquet.
  */
final case class NhlOutputs(
    stgGames: DataFrame,
    dimTeam: DataFrame,
    dimPlayer: DataFrame,
    dimDate: DataFrame,
    factGameResults: DataFrame,
    factPlayerGameStats: DataFrame,
    factTeamGameStats: DataFrame,
    factShotEvents: DataFrame,
    teamShotMetrics: DataFrame,
    playerShotMetrics: DataFrame,
    teamShotsAgainstByPosition: DataFrame,
    teamShotLocations: DataFrame,
    playerShotLocations: DataFrame,
    stgOddsPlayerProps: DataFrame,
    crosswalk: DataFrame,
    factPlayerSogPropsV1: DataFrame,
    factPlayerSogPropsV2: DataFrame,
    rptOverall: DataFrame)

object NhlPipeline {

  /** Run the graph from bronze inputs. `runDate` replaces CURRENT_DATE
    * everywhere (SURVEY §7.4.5).
    */
  def run(spark: SparkSession,
          boxscoreBronze: DataFrame,
          pbpBronze: DataFrame,
          oddsBronze: DataFrame,
          runDate: String,
          persist: Boolean = true): NhlOutputs = {

    def tbl(df: DataFrame): DataFrame = if (persist) df.persist() else df

    // bronze (loaded once)
    val boxscore = tbl(boxscoreBronze)
    val pbp = tbl(pbpBronze)
    val odds = tbl(oddsBronze)

    // staging (views)
    val stgGames = Models.stgGames(boxscore)
    val stgPgs = tbl(Models.stgPlayerGameStats(boxscore)) // feeds 4 consumers

    // dims
    val dimTeam = Models.dimTeam(stgGames)
    val dimPlayer = Models.dimPlayer(stgPgs)
    val dimDate = Models.dimDate(spark, runDate)

    // facts (tables)
    val factGameResults = Models.factGameResults(stgGames)
    val factPgs = tbl(Models.factPlayerGameStats(stgPgs, dimPlayer))
    val factTgs = Models.factTeamGameStats(stgGames, stgPgs)
    val factShots = tbl(Models.factShotEvents(pbp))

    // window metrics (views over facts)
    val teamShotMetrics = Metrics.teamShotMetrics(factTgs)
    val playerShotMetrics = Metrics.playerShotMetrics(factPgs)
    val shotsAgainst = Metrics.teamShotsAgainstByPosition(factPgs)
    val teamLoc = Metrics.teamShotLocations(factShots)
    val playerLoc = Metrics.playerShotLocations(factShots)

    // props pipeline
    val stgOdds = Props.stgOddsPlayerProps(odds)
    val crosswalk = Props.stgPlayerNameCrosswalk(
      stgOdds.select("odds_player_name"), factPgs.select("player_id", "player_name"))
    val v1 = Props.factPlayerSogPropsV1(stgOdds, factPgs)
    val v2 = Props.factPlayerSogPropsV2(stgOdds, crosswalk, factPgs, runDate)
    val rpt = Props.Report.overall(v2)

    NhlOutputs(stgGames, dimTeam, dimPlayer, dimDate, factGameResults, factPgs,
      factTgs, factShots, teamShotMetrics, playerShotMetrics, shotsAgainst,
      teamLoc, playerLoc, stgOdds, crosswalk, v1, v2, rpt)
  }
}
