package graft.nhl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Ingestion round-trip: raw one-doc-per-file JSON under Hive-style keys →
  * bronze with filename-extracted metadata (S4) → partitioned parquet sink
  * (S6) → idempotent overwrite (S5) → incremental anti-join (S7) → drift
  * metrics (S10).
  */
class BronzeSpec extends SparkTestBase {
  import spark.implicits._

  private def writeRaw(root: String): Unit = {
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("raw/nhl/game_boxscore/date=2024-10-10/hour=03/game_id=2024020001/snapshot_2024_10_10_03.json",
      NhlFixtures.g1Final)
    put("raw/nhl/game_boxscore/date=2024-10-09/hour=23/game_id=2024020001/snapshot_2024_10_09_23.json",
      NhlFixtures.g1Partial)
    put("raw/nhl/game_boxscore/date=2024-10-11/hour=03/game_id=2024020002/snapshot_2024_10_11_03.json",
      NhlFixtures.g2Final)
  }

  test("readRawSnapshots extracts partition_date and game_id from the key (S4)") {
    val root = Files.createTempDirectory("graft_bronze").toString
    writeRaw(root)
    val bronze = Bronze.readRawSnapshots(spark,
      s"$root/raw/nhl/game_boxscore/*/*/*/*.json", Schemas.boxscore)
    val rows = bronze.select("game_id", "partition_date").collect()
      .map(r => (r.getAs[Long]("game_id"), r.getAs[java.sql.Date]("partition_date").toString))
    assert(rows.length === 3)
    assert(rows.toSet === Set(
      (2024020001L, "2024-10-10"), (2024020001L, "2024-10-09"),
      (2024020002L, "2024-10-11")))
    // the full model graph runs off files exactly as off fixtures
    val games = Models.stgGames(bronze)
    assert(games.count() === 2)
    assert(games.filter($"game_id" === 2024020001L).collect()(0)
      .getAs[Int]("home_team_score") === 4) // latest snapshot won
  }

  test("readRawSnapshots: a malformed date or game_id segment loads as null, not a failed read") {
    val root = Files.createTempDirectory("graft_bronze_bad").toString
    val p = Paths.get(root, "raw/nhl/game_boxscore/date=2024-10-00/hour=03/game_id=/snap.json")
    Files.createDirectories(p.getParent)
    Files.writeString(p, NhlFixtures.g2Final)
    val row = Bronze.readRawSnapshots(spark,
      s"$root/raw/nhl/game_boxscore/*/*/*/*.json", Schemas.boxscore).collect()
    assert(row.length === 1)
    assert(row(0).isNullAt(row(0).fieldIndex("partition_date")))
    assert(row(0).isNullAt(row(0).fieldIndex("game_id")))
    assert(row(0).getAs[org.apache.spark.sql.Row]("payload").getAs[Long]("id") === 2024020002L)
  }

  test("partitioned sink + dynamic partition overwrite is idempotent (S5/S6)") {
    val root = Files.createTempDirectory("graft_sink").toString
    val df = Seq((1L, "2024-10-09", "a"), (2L, "2024-10-10", "b"))
      .toDF("id", "partition_date", "v")
    Bronze.writePartitioned(df, s"$root/t", Seq("partition_date"))
    assert(Files.exists(Paths.get(s"$root/t/partition_date=2024-10-09")))
    // re-load day 2 with corrected data: only that partition is replaced
    val fixed = Seq((2L, "2024-10-10", "b2")).toDF("id", "partition_date", "v")
    Bronze.overwritePartitions(fixed, s"$root/t", Seq("partition_date"))
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() === 2)
    assert(back.filter($"partition_date" === "2024-10-10").select("v").as[String].collect()
      === Array("b2"))
  }

  test("raw JSON sink writes Hive-partitioned documents (S3)") {
    val root = Files.createTempDirectory("graft_rawjson").toString
    val df = Seq(("2024-10-09", "03", """{"id": 1}"""), ("2024-10-10", "04", """{"id": 2}"""))
      .toDF("date", "hour", "doc")
    Bronze.writeRawJson(df, s"$root/raw", Seq("date", "hour"))
    assert(Files.exists(Paths.get(s"$root/raw/date=2024-10-09/hour=03")))
    val back = spark.read.json(s"$root/raw")
    assert(back.count() === 2)
    assert(back.columns.toSet === Set("doc", "date", "hour"))
  }

  test("quality gates reject violations (negative cases)") {
    val dup = Seq((1, "a"), (1, "b")).toDF("k", "v")
    intercept[IllegalArgumentException](Quality.checkUnique(dup, Seq("k")))
    val withNull = Seq((Some(1), "a"), (None, "b")).toDF("k", "v")
    intercept[IllegalArgumentException](Quality.checkNotNull(withNull, Seq("k")))
    intercept[IllegalArgumentException](
      Quality.checkAcceptedValues(dup, "v", Seq("a")))
    val child = Seq(1, 2, 99).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    intercept[IllegalArgumentException](
      Quality.checkReferentialIntegrity(child, "fk", parent, "pk"))
    assert(Quality.countOutOfRange(Seq(5.0, 150.0).toDF("pct"), "pct", 0, 100) === 1)
  }

  test("incremental anti-join load skips already-present ids (S7)") {
    val existing = Seq(("e1", 1), ("e2", 2)).toDF("event_id", "x")
    val incoming = Seq(("e2", 20), ("e3", 30)).toDF("event_id", "x")
    val fresh = Bronze.incrementalNew(incoming, existing, "event_id")
    assert(fresh.select("event_id").as[String].collect().toSeq === Seq("e3"))
  }

  test("drift metrics + threshold check (S10, time_travel_validator semantics)") {
    val base = Seq((1, Some("a")), (2, Some("b")), (3, None))
      .toDF("id", "v")
    val cur = Seq((1, Some("a"))).toDF("id", "v") // row count collapsed 3→1
    val drift = Bronze.driftCheck(
      Bronze.driftMetrics(cur, Seq("v")), Bronze.driftMetrics(base, Seq("v")))
      .collect()(0)
    assert(drift.getAs[Boolean]("row_breach")) // |1-3|/3 ≈ 0.67 > 0.5
    val stable = Bronze.driftCheck(
      Bronze.driftMetrics(base, Seq("v")), Bronze.driftMetrics(base, Seq("v")))
      .collect()(0)
    assert(!stable.getAs[Boolean]("row_breach"))
    assert(!stable.getAs[Boolean]("v_nulls_breach"))
  }
}
