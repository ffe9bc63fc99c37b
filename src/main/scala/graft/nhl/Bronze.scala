package graft.nhl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze layer: raw-JSON ingestion with filename-metadata extraction, the
  * latest-snapshot dedup primitive, partitioned columnar sinks, and
  * incremental (anti-join) loads.
  *
  * Spark-native replacements for the reference's S3 + Snowflake COPY INTO +
  * PyIceberg machinery (SURVEY §2.1): partition columns replace key-string
  * building; `input_file_name()` + regex replaces METADATA$FILENAME; dynamic
  * partition overwrite replaces `_SUCCESS`-marker idempotency; `left_anti`
  * replaces the event-id membership scan.
  */
object Bronze {

  /** Read a directory of raw one-document-per-file JSON snapshots into a
    * bronze DataFrame `(payload struct, s3_key, partition_date, game_id)`,
    * extracting partition metadata from the Hive-style path exactly as the
    * reference's COPY INTO does (`nhl_daily_ingestion_dag.py:152-190`):
    * `.../date=2025-12-25/hour=03/game_id=2025020575/snapshot_*.json`.
    */
  def readRawSnapshots(spark: SparkSession, path: String, schema: StructType): DataFrame =
    // one JSON document per file (possibly pretty-printed) → multiLine
    spark.read.schema(schema).option("multiLine", "true")
      .option("mode", "PERMISSIVE").json(path)
      .withColumn("s3_key", input_file_name())
      // bad/missing segment → null (not a failed load), NOT an all-null
      // regex like the reference once shipped (.context/DECISIONS.md:611-642)
      .withColumn("partition_date",
        try_to_date(regexp_extract(col("s3_key"), "date=([0-9]{4}-[0-9]{2}-[0-9]{2})", 1)))
      .withColumn("game_id",
        nullif(regexp_extract(col("s3_key"), "game_id=([0-9]+)", 1), lit("")).cast("long"))
      .select(struct(schema.fieldNames.map(col): _*).as("payload"),
        col("s3_key"), col("partition_date"), col("game_id"))

  /** W1, THE core idiom: latest-wins snapshot dedup
    * (`QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY ... DESC) = 1`,
    * stg_games.sql:32 et al.). Single implementation reused by every
    * staging/fact model so the semantics can't drift (SURVEY §7.4.1).
    * One hash shuffle on `keys`; at scale this is the batch-upsert that
    * makes snapshot-append storage queryable.
    */
  def latestSnapshot(df: DataFrame, keys: Seq[String], orderDesc: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** S6: columnar sink with identity partitioning
    * (`iceberg/bronze_game_boxscore.py:189-199`) — parquet + snappy,
    * partitioned so downstream partition_date/market predicates prune files.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "append"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** S3: raw JSON sink under Hive-style keys — partition columns replace
    * the reference's hand-built `date=/hour=` key strings
    * (`utils/paths.py:36-117`); one JSON line per row.
    */
  def writeRawJson(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*).json(path)

  /** S5: idempotent re-load — dynamic partition overwrite replaces only the
    * partitions present in `df` (the `_SUCCESS`-marker / FORCE=FALSE analog).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S7: incremental anti-join load — keep only rows whose id is not yet in
    * the target (`iceberg/bronze_odds_player_props.py:274-291`).
    */
  def incrementalNew(incoming: DataFrame, existing: DataFrame, idCol: String): DataFrame =
    incoming.join(existing.select(idCol).distinct(), Seq(idCol), "left_anti")

  /** S10: drift comparator — the Snowflake Time Travel validator
    * (`time_travel_validator.py:28-149`) re-expressed over snapshot metric
    * rows: compare current row/null counts against a stored history row and
    * flag breaches of the relative thresholds.
    */
  def driftMetrics(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("row_count"),
      cols.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls")): _*)

  def driftCheck(current: DataFrame, baseline: DataFrame,
                 rowThreshold: Double = 0.5, nullThreshold: Double = 0.05): DataFrame = {
    val cur = current.columns.foldLeft(current)((d, c) => d.withColumnRenamed(c, s"cur_$c"))
    val base = baseline.columns.foldLeft(baseline)((d, c) => d.withColumnRenamed(c, s"base_$c"))
    val joined = cur.crossJoin(base)
    val rowDrift = abs(col("cur_row_count") - col("base_row_count")).cast("double") /
      greatest(col("base_row_count"), lit(1L))
    val nullChecks: Seq[Column] = current.columns.filter(_.endsWith("_nulls")).map { c =>
      val drift = abs(col(s"cur_$c") - col(s"base_$c")).cast("double") /
        greatest(col("base_row_count"), lit(1L))
      (drift > nullThreshold).as(s"${c}_breach")
    }
    joined.select(
      (Seq(col("cur_row_count"), col("base_row_count"),
        rowDrift.as("row_drift"), (rowDrift > rowThreshold).as("row_breach")) ++ nullChecks): _*)
  }
}
