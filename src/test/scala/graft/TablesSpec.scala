package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.sources.Tables

/** `Tables.table` infers a path's schema once per session: later reads start
  * no Spark job, a rewritten path is inferred again, sessions do not share
  * inferred types, and every read is still a fresh relation.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  /** Spark jobs started by `body`, counted after the listener bus drains. */
  private def jobsStarted(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("a second read of the same path starts no Spark job") {
    val dir = tmp("tables_jobs")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsStarted(Tables.table(spark, dir, "t")) === 1)
    assert(jobsStarted(Tables.table(spark, dir, "t")) === 0)
  }

  test("a path overwritten with a new schema is inferred again") {
    val dir = tmp("tables_overwrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((1L, "a", 2.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq === Seq("k", "v", "w"))
    assert(again.as[(Long, String, Double)].collect().toSeq === Seq((1L, "a", 2.5)))
  }

  test("inferred types follow each session's conf, not the first session's") {
    // written without Spark's schema metadata, which would fix the type
    // whatever the reading session's conf, as the pyarrow-written events are
    val dir = tmp("tables_ntz")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(MICROS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet")).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704164645000000L))
    finally writer.close()
    assert(Tables.table(spark, dir, "t").schema("ts").dataType === TimestampNTZType)
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.table(ltz, dir, "t").schema("ts").dataType === TimestampType)
  }

  test("a self-join of one table sees two relations, as a plain read does") {
    val dir = sf("sf0.01")
    val (a, b) = (Tables.nation(spark, dir), Tables.nation(spark, dir))
    val (pa, pb) = (spark.read.parquet(s"$dir/nation.parquet"),
      spark.read.parquet(s"$dir/nation.parquet"))
    val plain = pa.join(pb, pa("n_regionkey") === pb("n_regionkey")).count()
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() === plain)
    assert(plain === 125L)
  }
}
