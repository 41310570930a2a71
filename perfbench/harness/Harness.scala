package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, max, struct, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{HousingEtl, HousingEtlMain, SparkEntry}
import graft.ops._
import graft.sources.{CsvSniffSource, Sinks}

/** One benchmark run in one JVM: set up a session, run a cold pass and
  * timed warm passes of one workload, optionally a traced block, and write
  * one JSON record at the end. Launched by `perfbench/run.py`, which owns
  * input generation and the output checks.
  *
  * Arguments are `key=value` pairs:
  *   workload=<name>  launch=<epoch seconds of the launch>
  *   work=<scratch dir>  out=<record path>  cores=<n>  trace=0|1
  *   seconds=<warm window>  minWarm=<fewest warm passes>
  *   data=<table dir> queries=a,b,c            (graded workloads)
  *   csv=<price-paid csv> lookup=<lookup csv>  (housing_etl)
  */
object Harness {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    def int(k: String): Int = apply(k).toInt
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** Bench.force: hash every output column so no projection is pruned. */
  def force(df: DataFrame): Long = {
    val r = df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
      .as("__h")).agg(max("__h")).collect().head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = now()
    val a = f
    (a, now() - t0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- session

  def session(a: Args): SparkSession = {
    val work = a("work")
    val cores = a("cores")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      // the status store keeps finished jobs, stages and SQL executions up
      // to these limits; at the defaults the retained history grows with
      // the number of passes and would leak into heap_live_peak_mb
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    // the entry objects' initializers are set-up work too
    require(SparkEntry.queries.nonEmpty && SparkEntry.memoFamilies.nonEmpty)
    require(HousingEtlMain.Config().windows.nonEmpty)
    s
  }

  // ------------------------------------------------------------ heap / GC

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .getOrElse(throw new IllegalStateException("no old-generation pool"))

  private lazy val jit = ManagementFactory.getCompilationMXBean

  /** Full GC, then wait for the ContextCleaner to drop the blocks the GC
    * released (the settle loop Bench uses) and for the JIT to go idle, then
    * read the live old gen. The next pass then starts without compilations
    * queued by the previous one.
    */
  def settle(s: SparkSession): Double = {
    System.gc()
    var last = -1
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 3000) {
      val n = s.sparkContext.getRDDStorageInfo.length
      if (n == last) stable += 1 else { stable = 0; last = n }
      Thread.sleep(50)
      waited += 50
    }
    var compiled = -1L
    waited = 0
    while (jit.getTotalCompilationTime != compiled && waited < 5000) {
      compiled = jit.getTotalCompilationTime
      Thread.sleep(200)
      waited += 200
    }
    System.gc()
    oldGen.getUsage.getUsed / 1048576.0
  }

  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def dropStreamSinks(s: SparkSession): Unit =
    s.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => s.catalog.dropTempView(t.name))

  // --------------------------------------------------------------- tracing

  /** Everything the traced block records, kept in memory until the end. */
  final class Trace extends SparkListener {
    val jobsByQuery = mutable.Map.empty[String, Int].withDefaultValue(0)
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, gcMs, schedMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var planMs = 0L
    var batches = 0L
    val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var stateCommitMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val q = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.query"))).getOrElse("<none>")
      jobs += 1
      jobsByQuery(q) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    /** RDD block storage: what is stored at attach (memos) plus the
      * blocks updated since, tracked from block updates.
      */
    private val blocks = mutable.Map.empty[String, Long]
    private var stored = 0L
    var storagePeak = 0L
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val id = b.blockId.name
          stored -= blocks.getOrElse(id, 0L)
          val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          if (size > 0) blocks(id) = size else blocks.remove(id)
          stored += size
          storagePeak = math.max(storagePeak, stored)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        taskMs += e.taskInfo.duration
        gcMs += m.jvmGCTime
        schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
        planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      }
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        Trace.this.synchronized {
          batches += 1
          e.progress.durationMs.asScala.foreach { case (k, v) =>
            streamMs(k) += v.longValue
          }
          stateCommitMs += e.progress.stateOperators.map(_.commitTimeMs).sum
        }
    }

    def attach(s: SparkSession): Unit = {
      stored = storageBytes(s)
      storagePeak = stored
      s.sparkContext.addSparkListener(this)
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }

    def detach(s: SparkSession): Unit = {
      quiesce()
      s.sparkContext.removeSparkListener(this)
      s.listenerManager.unregister(qeListener)
      s.streams.removeListener(streamListener)
    }

    /** Listener delivery is asynchronous: wait until the counts stop moving. */
    def quiesce(): Unit = {
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val n = synchronized(tasks + jobs + batches + planMs)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    }

    /** Wall time inside `windows` that no running task covers. */
    def nonTaskS(windows: Seq[(Long, Long)]): Double = synchronized {
      val spans = taskSpans.sortBy(_._1)
      windows.map { case (w0, w1) =>
        var covered = 0L
        var cur = w0
        spans.foreach { case (a, b) =>
          val lo = math.max(a, cur)
          val hi = math.min(b, w1)
          if (hi > lo) { covered += hi - lo; cur = hi }
        }
        (w1 - w0 - covered) / 1000.0
      }.sum
    }
  }

  // ------------------------------------------------------------- workloads

  /** A pass-level operation. `run` returns the force hash; `check`, when
    * present, also writes the result for the oracle compare.
    */
  final case class Op(name: String, run: () => Long,
                      check: Option[() => Long] = None)

  def gradedOps(s: SparkSession, a: Args): Seq[Op] = {
    val data = a("data")
    a("queries").split(",").toSeq.map { q =>
      val fn = SparkEntry.queries(q)
      Op(q, () => force(fn(s, data)), Some(() => {
        val df = fn(s, data).localCheckpoint(true)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"${a("work")}/check/$q")
        force(df)
      }))
    }
  }

  def housingCfg(a: Args, tag: String): HousingEtlMain.Config =
    HousingEtlMain.Config(input = a("csv"), lookup = Some(a("lookup")),
      cacheDir = s"${a("work")}/landing-$tag", outDir = s"${a("work")}/out/$tag",
      forceDownload = true)

  /** The push tabs are collected and stringified, then dropped. */
  val pushSink = new Sinks.StringifiedPushSink((_, _) => ())

  def housingOps(s: SparkSession, a: Args): Seq[Op] = {
    var n = 0
    Seq(Op("runCli", () => {
      n += 1
      HousingEtlMain.runCli(s, housingCfg(a, s"p$n"), pushSink,
        _ => pushSink, _ => ())  // the warehouse sink needs --bq-table
      0L
    }))
  }

  /** Stage forcing for the traced housing run: each stage re-composed from
    * the public functions HousingEtl.run uses, forced with no cache, timed;
    * a stage's self time is its forced time minus its upstream's.
    */
  def housingStages(s: SparkSession, a: Args): Map[String, Double] = {
    val tag = "stages"
    val cfg = housingCfg(a, tag)
    val (_, landing) = timed {
      new Sinks.LandingZone(cfg.cacheDir).fetch(dest =>
        Files.copy(Paths.get(cfg.input), dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING), force = true)
    }
    val raw = Paths.get(cfg.cacheDir, "landing.csv").toString
    val (canon, parse) = timed {
      val (df, rc) = CsvSniffSource.sniffCsv(s, raw)
      val c = CsvSniffSource.toCanonical(df, rc).drop("local_authority")
      force(c); c
    }
    val lookup = CsvSniffSource.readLookup(s, cfg.lookup.get)
      .fold(e => throw new IllegalStateException(e), identity)
    val withLa = Joins.lookupJoin(canon, lookup,
      canon("postcode") === lookup("pc_nospace")).drop("pc_nospace")
    val (_, lookupT) = timed(force(withLa))
    val grouped = withLa.where(col("local_authority").isNotNull)
    val weekly = WeeklyAgg.weeklyStatsCore(grouped, col("date"),
      col("local_authority"), col("transaction_id"), col("price"))
    val (_, weeklyT) = timed(force(weekly))
    val weekDim = grouped.select(CoreOps.weekStart(col("date")).as("week"),
      col("local_authority").as("dim"))
    val rolled = Rolling.rollingWindows(Densify.densify(
      weekly.select("week", "dim", "transactions", "price_mean"),
      fillZero = Seq("transactions"), gridFrom = Some(weekDim)),
      cfg.windows)
    val (_, rolledT) = timed(force(rolled))
    val (_, anomalyT) = timed(force(Anomaly.detectAnomalies(rolled)))
    val (_, snapT) = timed(force(
      Snapshot.latestWeek(rolled, latestFrom = Some(weekDim))))
    val (out, planT) = timed(HousingEtl.run(s, raw, cfg.lookup,
      windows = cfg.windows, log = _ => ()))
    out.weekly.persist(); out.windows.persist(); out.qa.persist()
    val (_, csvT) = timed(HousingEtl.writeArtifacts(out,
      new Sinks.CsvDirSink(cfg.outDir)))
    val (_, pushT) = timed {
      pushSink.write("weekly_by_la", out.weekly)
      pushSink.write("windows", out.windows)
      pushSink.write("latest", out.snapshot)
      pushSink.write("anomalies", out.anomalies)
      out.typeBreakdown.foreach(pushSink.write("type_breakdown", _))
      pushSink.write("qa", out.qa)
    }
    out.weekly.unpersist(); out.windows.unpersist(); out.qa.unpersist()
    Map(
      "sources.landing_s" -> landing,
      "sources.parse_s" -> parse,
      "HousingEtl.plan_s" -> planT,
      "ops.lookup_s" -> (lookupT - parse),
      "ops.weekly_s" -> (weeklyT - lookupT),
      "ops.densify_rolling_s" -> (rolledT - weeklyT),
      "ops.anomaly_s" -> (anomalyT - rolledT),
      "ops.snapshot_s" -> (snapT - rolledT),
      "sources.csv_sink_s" -> csvT,
      "sources.push_sink_s" -> pushT)
  }

  // ------------------------------------------------------------------ run

  /** The run's record: one flat JSON object, written once at the end. */
  type Record = mutable.LinkedHashMap[String, Any]

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: java.nio.file.Path, r: Record): Unit =
    Files.writeString(path, mapper.writeValueAsString(r))

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap)
    val rec: Record = mutable.LinkedHashMap.empty
    val s = session(a)
    rec("setup_s") = System.currentTimeMillis() / 1000.0 -
      a("launch").toDouble
    try run(s, a, rec)
    finally {
      write(Paths.get(a("out")), rec)
      s.stop()
    }
  }

  /** Passes of the traced block; the untraced warm passes precede it. */
  val TracedPasses = 2

  def run(s: SparkSession, a: Args, rec: Record): Unit = {
    val housing = a("workload") == "housing_etl"
    val ops = if (housing) housingOps(s, a) else gradedOps(s, a)
    val sc = s.sparkContext
    var attempted, failed = 0
    val checks = mutable.Map.empty[String, mutable.Set[Long]]
    val opTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var heapPeak = 0.0

    /** One pass over the workload's operations; failures are counted. */
    def pass(label: String, check: Boolean = false): Double = {
      val t0 = now()
      ops.foreach { op =>
        sc.setLocalProperty("perfbench.query", op.name)
        attempted += 1
        val (r, dt) = timed {
          try Some(if (check) op.check.get() else op.run())
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e"); None
          }
        }
        r match {
          case Some(h) => checks.getOrElseUpdate(op.name, mutable.Set()) += h
          case None => failed += 1
        }
        opTimes.getOrElseUpdate(s"$label:${op.name}",
          mutable.ArrayBuffer()) += dt
        dropStreamSinks(s)
      }
      val wall = now() - t0
      sc.setLocalProperty("perfbench.query", null)
      wall
    }

    def between(): Unit = {
      s.catalog.clearCache()
      heapPeak = math.max(heapPeak, settle(s))
    }

    val cold = pass("cold")
    between()
    val memoStorage = storageBytes(s) / 1048576.0
    // The JIT is still compiling through the two passes after the cold one
    // of query_mix (its warm passes fall by ~10% until then), so the
    // oracle-check pass and one more untimed pass warm it up.
    if (!housing) {
      pass("check", check = true)
      between()
      val r: Record = mutable.LinkedHashMap.empty
      ops.foreach(op => r(op.name) = SparkEntry.oracleSql.getOrElse(op.name, ""))
      val dir = Files.createDirectories(Paths.get(a("work"), "check"))
      write(dir.resolve("oracle_sql.json"), r)
      pass("warmup")
      between()
    }
    val budget = a("seconds").toDouble
    val minWarm = a.int("minWarm")
    val warm = mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    while (warm.size < minWarm || now() - t0 + median(warm.toSeq) < budget) {
      warm += pass("warm")
      between()
    }
    rec("cold_s") = cold
    rec("warm_s") = warm.toSeq
    rec("heap_live_peak_mb") = heapPeak

    if (a("trace") == "1") {
      val trace = new Trace
      trace.attach(s)
      val traced = mutable.ArrayBuffer.empty[Double]
      val windows = mutable.ArrayBuffer.empty[(Long, Long)]
      (1 to TracedPasses).foreach { _ =>
        val w0 = System.currentTimeMillis()
        traced += pass("traced")
        windows += ((w0, System.currentTimeMillis()))
        between()
      }
      trace.detach(s)
      if (housing) housingStages(s, a).foreach { case (k, v) => rec(k) = v }
      val n = traced.size.toDouble
      val wall = traced.sum
      val cores = a.int("cores")
      val L = rec
      L("trace.overhead_s") = median(traced.toSeq) - median(warm.toSeq)
      L("spark.jobs") = trace.jobs / n
      L("spark.stages") = trace.stages / n
      L("spark.tasks") = trace.tasks / n
      L("spark.failed_tasks") = trace.failedTasks / n
      L("spark.task_s") = trace.taskMs / 1000.0 / n
      L("spark.slot_util") = trace.taskMs / 1000.0 / (wall * cores)
      L("spark.gc_s") = trace.gcMs / 1000.0 / n
      L("spark.non_task_s") = trace.nonTaskS(windows.toSeq) / n
      L("spark.sched_delay_s") = trace.schedMs / 1000.0 / n
      L("spark.plan_s") = trace.planMs / 1000.0 / n
      L("spark.shuffle_write_mb") = trace.shuffleWrite / 1048576.0 / n
      L("spark.shuffle_read_mb") = trace.shuffleRead / 1048576.0 / n
      L("spark.spill_mb") = trace.spill / 1048576.0 / n
      L("spark.storage_peak_mb") = trace.storagePeak / 1048576.0
      L("streaming.batches") = trace.batches / n
      Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
        "walCommit" -> "wal_commit_s", "commitOffsets" -> "commit_offsets_s",
        "queryPlanning" -> "query_planning_s").foreach { case (k, m) =>
        L(s"streaming.$m") = trace.streamMs(k) / 1000.0 / n
      }
      L("streaming.state_commit_s") = trace.stateCommitMs / 1000.0 / n
      if (!housing) {
        val memoUsers = SparkEntry.memoFamilies.flatMap(_._2).toSet
        var coldExtra = 0.0
        ops.foreach { op =>
          val c = opTimes(s"cold:${op.name}").head
          val w = median(opTimes(s"traced:${op.name}").toSeq)
          L(s"${op.name}.cold_s") = c
          L(s"${op.name}.warm_s") = w
          L(s"${op.name}.jobs") = trace.jobsByQuery(op.name) / n
          if (memoUsers(op.name)) coldExtra += c - w
        }
        L("memo.cold_extra_s") = coldExtra
        L("memo.storage_mb") = memoStorage
      }
    }

    // every execution of a query, timed or checked, must hash the same
    checks.foreach { case (q, hs) =>
      if (hs.size > 1) rec(s"unstable.$q") = hs.mkString(",")
    }
    ops.foreach { op =>
      rec(s"runs.${op.name}") = opTimes.collect {
        case (k, v) if k.endsWith(s":${op.name}") => v.size
      }.sum
    }
    rec("attempted") = attempted
    rec("failed") = failed
  }
}
