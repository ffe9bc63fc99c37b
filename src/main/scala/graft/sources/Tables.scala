package graft.sources

import java.util.WeakHashMap
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType}
import org.apache.spark.sql.Column

/** Readers for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Each reader is a bare parquet scan: no transformation is applied here, so
  * Catalyst's column pruning and predicate pushdown always reach the file
  * scan (`PushedFilters` / `ReadSchema` in `.explain("formatted")`). At
  * cluster scale these would be catalog tables partitioned on their natural
  * keys; the API surface (DataFrame in, DataFrame out) is identical.
  *
  * `table` infers a path's schema once per session and then reads with it
  * supplied. A bare `spark.read.parquet(path)` infers the schema from the
  * footers on every call, which in Spark 4.1 is one Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) even with `mergeSchema` off:
  * a warm read of an sf0.01 TPC-H table cost 62–99 ms that way and 5–9 ms
  * with the schema supplied (`local[4]`, 4-core host), and a TPC-H query
  * function does several reads while it builds its plan.
  * The memo's key:
  *  - the session, because inferred types depend on session conf
  *    (`spark.sql.legacy.parquet.nanosAsLong`,
  *    `spark.sql.parquet.inferTimestampNTZ.enabled`; `events` relies on
  *    them). Sessions are held weakly, so a dropped session's entries go.
  *  - the path's qualified name, modification time and length, so a file
  *    rewritten in place is inferred again. For a directory this is the
  *    directory's own status, which changes when entries are added, removed
  *    or renamed in it, as an overwrite by Spark does.
  * Every call still returns a fresh relation (fresh expression IDs, fresh
  * file listing), so self-joins of one table resolve as before.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  // session -> qualified path -> (modification time, length, schema); a
  // rewritten path replaces its entry instead of adding one
  private val schemas =
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, (Long, Long, StructType)]]

  // Inference runs outside any lock: the warm-up reads from several
  // threads, and two threads inferring the same path at once is harmless.
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val status = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    val (key, mtime, len) = (status.getPath.toString, status.getModificationTime, status.getLen)
    val memo = schemas.synchronized(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap))
    memo.get(key) match {
      case (`mtime`, `len`, schema) => schema
      case _ =>
        val inferred = spark.read.parquet(path).schema
        memo.put(key, (mtime, len, inferred))
        inferred
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (rejected by the vectorized
    * reader — the session sets `spark.sql.legacy.parquet.nanosAsLong=true`
    * and we truncate `ts DIV 1000` to microseconds, integral, no double
    * round-trip) and plain TIMESTAMP(µs) with isAdjustedToUTC=false, which
    * Spark reads as TIMESTAMP_NTZ. Both normalize to the session-TZ
    * TIMESTAMP the query surface was written for (sessions run UTC, so the
    * NTZ→LTZ cast is value-identical and matches DuckDB's TIMESTAMP).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.withColumn("ts", normalizeTs(col("ts"), raw.schema("ts").dataType))
  }

  /** The ts normalization above as a reusable column transform — streaming
    * readers (which must re-declare the file schema) apply the same rule.
    */
  def normalizeTs(c: Column, physical: DataType): Column = physical match {
    // `div` is SQL integral division — epoch-nanos (~1.7e18) exceed double's
    // 53-bit mantissa, so Column./ (double division) would silently lose up
    // to ~128 ns and shift the truncated µs by one.
    case LongType         => timestamp_micros(call_function("div", c.cast(LongType), lit(1000L)))
    case TimestampNTZType => c.cast("timestamp")
    case _                => c
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
