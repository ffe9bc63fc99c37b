package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.nhl.{Models, NhlOutputs, NhlPipeline, Synthetic}

/** One timed unit of a pass. `build` calls into the program and returns the
  * frame the action consumes (null: nothing to consume). An output's
  * expected result is its DuckDB twin, `<twins>/<name>.parquet`.
  */
final case class Op(name: String, layer: String, kind: String, build: () => DataFrame)

/** The three workloads: which tables they read and the ops of one pass. */
object Workloads {
  val names = Seq("sql_analytics", "corpus_dedup", "nhl_pipeline")

  val tables: Map[String, Seq[String]] = Map(
    "sql_analytics" -> Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "corpus_dedup" -> Seq("documents", "embeddings"),
    "nhl_pipeline" -> Seq("orders", "lineitem"))

  /** The odd-numbered TPC-H queries: scan-aggregate (q1), join with top-N
    * (q3), five- and six-way joins (q5, q7, q9), HAVING and correlated
    * subqueries (q11, q17), outer join (q13), view with max (q15),
    * disjunctive predicates (q19), EXISTS/NOT EXISTS (q21). Half of the 22,
    * so that every workload fits the run budget.
    */
  val tpchOps = Seq(1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21).map(q => s"tpch_q$q")

  /** The dedup ops whose work is candidate self-joins (prefix-filtered and
    * LSH-banded), the SortedDot kernel and single-use `localCheckpoint`
    * barriers (connected-component rounds included): the part of the 27
    * `dd_*` queries that fits the run budget. All have DuckDB twins;
    * `dd_simhash_recall`, whose check fails on generated corpora, is not
    * among them.
    */
  val dedupOps = Seq("dd_ngram_prefix", "dd_minhash_lsh", "dd_tf_cosine_prefix", "dd_cluster_cc")

  private def queryNames(workload: String): Seq[String] =
    if (workload == "corpus_dedup") dedupOps else tpchOps

  /** NHL outputs consumed per pass: name, dbt layer, upstream outputs, the
    * `nhl_*` query whose oracle is its twin (dim_team and rpt_overall have
    * theirs in perfbench/run.py), and the accessor. `dimDate` is
    * left out (it throws under `Synthetic.RunDate`; probed once per run),
    * and so is `factPlayerSogPropsV1`, whose LIKE matcher is quadratic by
    * design over the full odds input.
    */
  val nhlOutputs: Seq[(String, String, Seq[String], Option[String], NhlOutputs => DataFrame)] = Seq(
    ("stg_games", "staging", Nil, Some("nhl_stg_games"), _.stgGames),
    ("stg_odds_player_props", "staging", Nil, Some("nhl_stg_odds"), _.stgOddsPlayerProps),
    ("dim_team", "dims", Seq("stg_games"), None, _.dimTeam),
    ("dim_player", "dims", Nil, Some("nhl_dim_player"), _.dimPlayer),
    ("fact_game_results", "facts", Seq("stg_games"), Some("nhl_fact_game_results"), _.factGameResults),
    ("fact_player_game_stats", "facts", Seq("dim_player"), Some("nhl_fact_player_game_stats"), _.factPlayerGameStats),
    ("fact_team_game_stats", "facts", Seq("stg_games"), Some("nhl_fact_team_game_stats"), _.factTeamGameStats),
    ("fact_shot_events", "facts", Nil, Some("nhl_fact_shot_events"), _.factShotEvents),
    ("team_shot_metrics", "metrics", Seq("fact_team_game_stats"), Some("nhl_team_shot_metrics"), _.teamShotMetrics),
    ("player_shot_metrics", "metrics", Seq("fact_player_game_stats"), Some("nhl_player_shot_metrics"), _.playerShotMetrics),
    ("team_shots_against_by_position", "metrics", Seq("fact_player_game_stats"), Some("nhl_team_shots_against_pos"), _.teamShotsAgainstByPosition),
    ("team_shot_locations", "metrics", Seq("fact_shot_events"), Some("nhl_team_shot_locations"), _.teamShotLocations),
    ("player_shot_locations", "metrics", Seq("fact_shot_events"), Some("nhl_player_shot_locations"), _.playerShotLocations),
    ("stg_player_name_crosswalk", "props", Seq("stg_odds_player_props", "fact_player_game_stats"), Some("nhl_crosswalk"), _.crosswalk),
    ("fact_player_sog_props_v2", "props", Seq("stg_player_name_crosswalk"), Some("nhl_sog_props_v2"), _.factPlayerSogPropsV2),
    ("rpt_overall", "report", Seq("fact_player_sog_props_v2"), None, _.rptOverall))

  /** Op names of one pass, in the seed's order (dependencies respected). */
  def order(workload: String, seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    workload match {
      case "nhl_pipeline" =>
        val done = mutable.LinkedHashSet.empty[String]
        while (done.size < nhlOutputs.size) {
          val ready = nhlOutputs.filter(o => !done(o._1) && o._3.forall(done)).map(_._1)
          done += ready(rnd.nextInt(ready.size))
        }
        ("pipeline_run" +: done.toSeq) :+ "release"
      case w => rnd.shuffle(queryNames(w))
    }
  }

  /** Oracle query per op, for the oracle dump. */
  def twins(workload: String): Map[String, String] = workload match {
    case "nhl_pipeline" => nhlOutputs.flatMap(o => o._4.map(o._1 -> _)).toMap
    case w => queryNames(w).filter(SparkEntry.oracleSql.contains).map(n => n -> n).toMap
  }

  /** Fresh ops for one pass. NHL ops share the pass's pipeline outputs. */
  def pass(workload: String, spark: SparkSession, dir: String, names: Seq[String]): Seq[Op] =
    workload match {
      case "nhl_pipeline" =>
        var out: NhlOutputs = null
        val byName = nhlOutputs.map(o => o._1 -> o).toMap
        names.map {
          case "pipeline_run" => Op("pipeline_run", "build", "pipeline", () => {
            out = NhlPipeline.run(spark, Synthetic.bronzeBoxscore(spark, dir),
              Synthetic.bronzePbp(spark, dir), Synthetic.bronzeOdds(spark, dir), Synthetic.RunDate)
            null
          })
          case "release" => Op("release", "release", "release", () => null)
          case n =>
            val (_, layer, _, _, get) = byName(n)
            Op(n, layer, "output", () => get(out))
        }
      case _ => names.map(n => Op(n, "query", "output", () => SparkEntry.queries(n)(spark, dir)))
    }

  /** The query families get one warm-up pass, run with `cores` client
    * threads, which fills the code-generation caches and gives the isolation
    * check a pass to compare with; the NHL pipeline is a daily batch job, so
    * its first pass (what it pays) is timed.
    */
  def warmUpPasses(workload: String): Int = if (workload == "nhl_pipeline") 0 else 1

  /** Runs once per run outside the timed passes: the dimDate defect. */
  def probeDefects(workload: String, spark: SparkSession): Seq[(String, Option[String])] =
    if (workload != "nhl_pipeline") Nil
    else Seq("dim_date" -> Fingerprint.attempt(Fingerprint(Models.dimDate(spark, Synthetic.RunDate), Nil)).left.toOption)
}

/** Order-independent fingerprint of a frame: its row count and the sum of a
  * 64-bit hash of every row over all columns (summed as two 32-bit halves so
  * the sum cannot overflow). One aggregate action that reads every output
  * column, so Catalyst cannot prune what a user would receive. When the
  * oracle twin covers only some columns, the same action also sums the row
  * hash over those columns.
  */
object Fingerprint {
  final case class Fp(rows: Long, all: String, twin: String)

  def apply(df: DataFrame, twinCols: Seq[String]): Fp = {
    val names = df.columns.toSeq
    val d = df.toDF(names.indices.map(i => s"c$i"): _*)
    def hashable(i: Int): Column = d.schema(i).dataType match {
      case _: MapType => array_sort(map_entries(col(s"c$i")))
      case _ => col(s"c$i")
    }
    def halves(idx: Seq[Int]): Seq[Column] = {
      val h = xxhash64(idx.map(hashable): _*)
      Seq(coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
    }
    val twinIdx = twinCols.map(names.indexOf(_)).sorted
    require(!twinIdx.contains(-1), s"twin columns ${twinCols.mkString(",")} not all in ${names.mkString(",")}")
    val all = names.indices
    val partial = twinIdx.nonEmpty && twinIdx != all
    val aggs = Seq(count(lit(1))) ++ halves(all) ++ (if (partial) halves(twinIdx) else Nil)
    val r = d.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = r.getLong(0)
    val fa = s"$rows:${r.getLong(1)}:${r.getLong(2)}"
    Fp(rows, fa, if (partial) s"$rows:${r.getLong(3)}:${r.getLong(4)}" else fa)
  }

  /** An error as "class: first line of message". */
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(400)}"

  def attempt[T](f: => T): Either[String, T] =
    try Right(f) catch { case NonFatal(e) => Left(describe(e)) }
}

/** Task, stage and job counters summed by a SparkListener the benchmark
  * registers in every run; read at pass boundaries for the isolation check
  * and, in traced passes, at op boundaries.
  */
final class Counters extends SparkListener {
  private val c = mutable.LinkedHashMap[String, Long](
    Seq("jobs", "stages", "tasks", "task_failures", "task_run_ms", "task_gc_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_write_records", "shuffle_read_records",
      "fetch_wait_ms", "spill_mem_bytes", "spill_disk_bytes", "scan_bytes", "scan_rows").map(_ -> 0L): _*)
  private def add(k: String, v: Long): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(add("stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle_read_records", m.shuffleReadMetrics.recordsRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_mem_bytes", m.memoryBytesSpilled)
      add("spill_disk_bytes", m.diskBytesSpilled)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("scan_rows", m.inputMetrics.recordsRead)
    }
  }
  def snapshot(): Map[String, Long] = synchronized(c.toMap)
}

/** Planning time and largest-join output per query, from the
  * QueryExecution of every action that runs in a traced pass.
  */
final class Plans extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[(Double, Long)]

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    val joinRows = nodes(qe.executedPlan)
      .filter(n => n.nodeName.contains("Join") || n.nodeName.contains("Cartesian"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).maxOption.getOrElse(-1L)
    synchronized(seen += (planning -> joinRows))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Queries seen since the last call: (planning seconds, largest join rows or -1). */
  def take(): Seq[(Double, Long)] = synchronized { val r = seen.toSeq; seen.clear(); r }
}

/** In-memory span log, written once at the end of the run. */
final class Spans(t0: Long) {
  val rows = mutable.ArrayBuffer.empty[(Int, Int, String, String, Double, Double)]
  private var next = 0
  def apply[T](parent: Int, kind: String, name: String)(f: Int => T): T = {
    val id = next; next += 1
    val s = System.nanoTime()
    try f(id) finally rows += ((id, parent, kind, name, (s - t0) / 1e9, (System.nanoTime() - t0) / 1e9))
  }
}

object PerfBench {
  private def arg(args: Array[String], k: String, d: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else d
  }

  def main(args: Array[String]): Unit = {
    val dump = arg(args, "--dump-oracles", "")
    if (dump.nonEmpty) {
      val m = Workloads.names.map(w => w -> Workloads.twins(w).map { case (op, q) =>
        op -> Map("query" -> q, "sql" -> SparkEntry.oracleSql(q)) })
      Files.write(Paths.get(dump), Json(m.toMap).getBytes(StandardCharsets.UTF_8))
      return
    }
    val workload = arg(args, "--workload", "")
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    new Run(workload, arg(args, "--data", ""), arg(args, "--seed", "0").toLong,
      arg(args, "--seconds", "10").toDouble, arg(args, "--trace", "0") == "1", arg(args, "--twins", ""),
      arg(args, "--corrupt", ""), arg(args, "--work", ".")).execute(arg(args, "--out", "perfbench-run.json"))
  }
}

/** One benchmark run: set-up three times (the last session is kept), a
  * warm-up pass where the workload has one, timed passes until `seconds`
  * have passed (at least one), then the check against expected fingerprints.
  * The session is `local[k]` with k = min(4, available processors).
  */
final class Run(workload: String, dir: String, seed: Long, seconds: Double, trace: Boolean,
                twinDir: String, corrupt: String, work: String) {
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors)
  private val t0 = System.nanoTime()
  private val spans = new Spans(t0)
  private val counters = new Counters
  private val plans = new Plans
  private var spark: SparkSession = _
  private def sc = spark.sparkContext
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS = osBean.getProcessCpuTime / 1e9
  private def gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def now = (System.nanoTime() - t0) / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session creation plus fixed priming; returns the workload's input rows. */
  private def setUp(): Long = {
    spark = session()
    sc.addSparkListener(counters)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Workloads.tables(workload).map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
  }

  private val baseline = mutable.Set.empty[Int]
  private def storageMb(only: Int => Boolean = _ => true): Double =
    sc.getRDDStorageInfo.filter(i => only(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
  private def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, r) => if (!baseline(id)) r.unpersist(blocking = true) }
  }

  final class OpRec(val op: Op) {
    var buildS, actionS, releaseS, totalS, planningS, traceS = 0.0
    var eagerJobs = 0L
    var joinRows = -1L
    var fp: Option[Fingerprint.Fp] = None
    var error: Option[String] = None
    var ok = true
  }

  private val twinCols = mutable.Map.empty[String, Seq[String]]
  private val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]
  private def twinFile(op: Op) = Some(Paths.get(twinDir, s"${op.name}.parquet"))
    .filter(p => twinDir.nonEmpty && Files.exists(p))

  private def columnsFor(op: Op): Seq[String] =
    twinFile(op).map(p => twinCols.synchronized(twinCols.getOrElseUpdate(op.name,
      spark.read.parquet(p.toString).columns.toSeq))).getOrElse(Nil)

  /** Build, consume and (per-op release) release one op. In a traced pass,
    * the time the client thread spends in tracing (listener-bus drains, which
    * also wait for the QueryExecutionListener, and counter reads) is kept as
    * the op's `traceS`: what an untraced pass does not pay.
    */
  private def runOp(op: Op, passSpan: Int, traced: Boolean, releaseAfter: Boolean,
                    points: mutable.Set[Int], peak: Array[Double]): OpRec = {
    val r = new OpRec(op)
    def span[T](kind: String, name: String, parent: Int)(f: Int => T): T =
      if (traced) spans(parent, kind, name)(f) else f(-1)
    def tracing[T](f: => T): T = {
      val t = System.nanoTime()
      try f finally r.traceS += (System.nanoTime() - t) / 1e9
    }
    def jobs() = tracing { PerfBenchBridge.drain(sc); counters.snapshot()("jobs") }
    val s0 = System.nanoTime()
    span("op", op.name, passSpan) { opSpan =>
      val j0 = if (traced) jobs() else 0L
      val b0 = System.nanoTime()
      val df = span("build", op.name, opSpan)(_ => Fingerprint.attempt(op.build()))
      r.buildS = (System.nanoTime() - b0) / 1e9
      if (traced) r.eagerJobs = jobs() - j0
      df match {
        case Left(e) => r.error = Some(e)
        case Right(null) =>
        case Right(frame) =>
          schemas.getOrElseUpdate(op.name, frame.schema)
          val a0 = System.nanoTime()
          span("action", op.name, opSpan)(_ => Fingerprint.attempt(Fingerprint(frame, columnsFor(op)))) match {
            case Left(e) => r.error = Some(e)
            case Right(fp) => r.fp = Some(fp)
          }
          r.actionS = (System.nanoTime() - a0) / 1e9
      }
      points ++= sc.getPersistentRDDs.keys.filterNot(baseline)
      peak(0) = peak(0).max(storageMb())
      if (releaseAfter || op.kind == "release") {
        val r0 = System.nanoTime()
        span("release", op.name, opSpan)(_ => release())
        r.releaseS = (System.nanoTime() - r0) / 1e9
      }
    }
    r.totalS = (System.nanoTime() - s0) / 1e9
    if (traced) tracing {
      PerfBenchBridge.drain(sc)
      val qs = plans.take()
      r.planningS = qs.map(_._1).sum
      r.joinRows = qs.map(_._2).maxOption.getOrElse(-1L)
    }
    r.ok = r.error.isEmpty
    r
  }

  final class PassRec(val idx: Int, val traced: Boolean) {
    var wallS, cpu, gc, peakMb, retainedMb = 0.0
    var points = 0
    var counts: Map[String, Long] = Map.empty
    val ops = mutable.ArrayBuffer.empty[OpRec]
  }

  private def timedPass(idx: Int, names: Seq[String], traced: Boolean): PassRec = {
    val p = new PassRec(idx, traced)
    val ops = Workloads.pass(workload, spark, dir, names)
    val perOpRelease = workload != "nhl_pipeline"
    if (traced) spark.listenerManager.register(plans)
    PerfBenchBridge.drain(sc)
    val c0 = counters.snapshot()
    val (cpu0, gc0) = (cpuS, gcS)
    val points = mutable.Set.empty[Int]
    val peak = Array(0.0)
    val w0 = System.nanoTime()
    def all(ps: Int): Unit = ops.foreach(op => p.ops += runOp(op, ps, traced, perOpRelease, points, peak))
    if (traced) spans(-1, "pass", s"pass$idx")(all) else all(-1)
    p.wallS = (System.nanoTime() - w0) / 1e9
    p.cpu = cpuS - cpu0
    p.gc = gcS - gc0
    PerfBenchBridge.drain(sc)
    val c1 = counters.snapshot()
    p.counts = c1.map { case (k, v) => k -> (v - c0(k)) }
    if (traced) spark.listenerManager.unregister(plans)
    p.points = points.size
    p.peakMb = peak(0)
    p.retainedMb = storageMb(id => !baseline(id))
    p
  }

  private var warmCounts: Map[String, Long] = Map.empty
  private var warmPoints = 0

  /** All ops of one pass with `cores` threads: fills code-generation caches
    * and warms the JIT.
    */
  private def warmUp(names: Seq[String]): (Double, Map[String, Either[String, Fingerprint.Fp]]) = {
    PerfBenchBridge.drain(sc)
    val c0 = counters.snapshot()
    val w0 = System.nanoTime()
    val ops = Workloads.pass(workload, spark, dir, names)
    val points = mutable.Set.empty[Int]
    val pool = Executors.newFixedThreadPool(cores)
    val res = try {
      ops.filter(_.kind == "output").map { op =>
        op.name -> pool.submit(new Callable[Either[String, Fingerprint.Fp]] {
          def call() = {
            val fp = Fingerprint.attempt(Fingerprint(op.build(), columnsFor(op)))
            val ids = sc.getPersistentRDDs.keys.filterNot(baseline)
            points.synchronized(points ++= ids)
            fp
          }
        })
      }.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
    warmPoints = (points ++ sc.getPersistentRDDs.keys.filterNot(baseline)).size
    val dt = (System.nanoTime() - w0) / 1e9
    release()
    PerfBenchBridge.drain(sc)
    warmCounts = counters.snapshot().map { case (k, v) => k -> (v - c0(k)) }
    (dt, res)
  }

  /** An op's DuckDB twin result, cast to the op's schema (columns the twin lacks are left out). */
  private def twinFrame(name: String): DataFrame = {
    val schema = schemas(name)
    val t = spark.read.parquet(Paths.get(twinDir, s"$name.parquet").toString)
    val cols = schema.fieldNames.filter(t.columns.contains)
    require(cols.length == t.columns.length, s"twin columns ${t.columns.mkString(",")} not in ${schema.fieldNames.mkString(",")}")
    t.select(cols.map(c => t.col(s"`$c`").cast(schema(c).dataType).as(c)): _*)
  }

  def execute(out: String): Unit = {
    val setups = (1 to 3).map { i =>
      val s0 = System.nanoTime()
      val rows = setUp()
      val dt = (System.nanoTime() - s0) / 1e9
      if (i < 3) spark.stop()
      (dt, rows)
    }
    val inputRows = setups.last._2
    val phases = mutable.LinkedHashMap("setup" -> now)
    baseline ++= sc.getPersistentRDDs.keys
    val names = Workloads.order(workload, seed)
    val warm = (1 to Workloads.warmUpPasses(workload)).map(_ => warmUp(names))
    val warmFps = warm.lastOption.map(_._2).getOrElse(Map.empty[String, Either[String, Fingerprint.Fp]])
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val timed0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timed0) / 1e9 < seconds)
      passes += timedPass(passes.size, names, trace)
    val timedS = (System.nanoTime() - timed0) / 1e9
    phases("timed") = now

    // expected fingerprints: the DuckDB twin; an op without one (the twin
    // failed or is missing) has none and counts as failed
    val outputs = Workloads.pass(workload, spark, dir, names).filter(_.kind == "output")
    val pool = Executors.newFixedThreadPool(cores)
    def twinError(name: String) = Some(Paths.get(twinDir, s"$name.error")).filter(Files.exists(_))
      .map(p => "DuckDB twin failed: " + new String(Files.readAllBytes(p), StandardCharsets.UTF_8).take(400))
      .getOrElse("no DuckDB twin")
    val twinFps = try outputs.map(op => op.name -> pool.submit(new Callable[Either[String, String]] {
      def call() =
        if (twinFile(op).isEmpty) Left(twinError(op.name))
        else if (!schemas.contains(op.name)) Left("op built no frame")
        else Fingerprint.attempt(Fingerprint(twinFrame(op.name), Nil).all)
    })).map { case (n, f) => n -> f.get() }.toMap finally pool.shutdown()
    val expected = twinFps.map { case (n, fp) => n -> fp.map(f => if (n == corrupt) f + "-corrupted" else f) }
    for (p <- passes; r <- p.ops; exp <- expected.get(r.op.name) if r.ok) exp match {
      case Left(e) =>
        r.ok = false
        r.error = Some(s"no expected fingerprint: $e")
      case Right(fp) if !r.fp.map(_.twin).contains(fp) =>
        r.ok = false
        r.error = Some(s"fingerprint mismatch: got ${r.fp.map(_.twin).getOrElse("-")}, expected $fp")
      case _ =>
    }
    phases("verify") = now
    val defects = Workloads.probeDefects(workload, spark)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "config" -> Map(
        "master" -> sc.master, "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6, "log_level" -> "WARN",
        "spark_version" -> spark.version, "java" -> System.getProperty("java.version"),
        "warmup_passes" -> warm.size, "warmup_threads" -> cores, "timed_passes" -> passes.size,
        "timed_s" -> timedS, "op_order" -> names, "phase_end_s" -> phases),
      "setup_s" -> setups.map(_._1), "input_rows" -> inputRows, "warmup_s" -> warm.map(_._1),
      "warmup" -> (if (warmCounts.isEmpty) None else Some(Map("counters" -> warmCounts, "points" -> warmPoints,
        "rows" -> warmFps.values.flatMap(_.toOption).map(_.rows).sum))),
      "passes" -> passes.map { p => Map(
        "idx" -> p.idx, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpu,
        "gc_s" -> p.gc, "peak_mb" -> p.peakMb, "retained_mb" -> p.retainedMb,
        "points" -> p.points, "counters" -> p.counts,
        "ops" -> p.ops.map { r => Map(
          "name" -> r.op.name, "layer" -> r.op.layer, "kind" -> r.op.kind,
          "build_s" -> r.buildS, "action_s" -> r.actionS, "release_s" -> r.releaseS,
          "total_s" -> r.totalS, "planning_s" -> r.planningS, "eager_jobs" -> r.eagerJobs,
          "join_rows" -> r.joinRows, "trace_s" -> r.traceS, "rows" -> r.fp.map(_.rows).getOrElse(-1L),
          "fp" -> r.fp.map(_.all).getOrElse(""), "ok" -> r.ok, "error" -> r.error.getOrElse(""))
        })
      },
      "expected" -> expected.map { case (n, fp) => n -> Map("fp" -> fp.getOrElse(""), "error" -> fp.left.getOrElse("")) },
      "defects" -> defects.map { case (n, e) => Map("op" -> n, "error" -> e.getOrElse("")) },
      "spans" -> spans.rows.map { case (id, parent, kind, name, s, e) =>
        Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name, "start_s" -> s, "end_s" -> e) })
    Files.write(Paths.get(out), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON encoder for the run record (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
