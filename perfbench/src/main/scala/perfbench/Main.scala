package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one run of one workload. Started by run.py, which
  * builds the program, fixes the heap and the core count, and prints the
  * final result line; this process writes its full record (and, in a
  * traced run, its spans) to the files named on the command line.
  *
  *   --workload spatial_join|geoparquet_rw|streaming
  *   --seed N --seconds S --trace 0|1 --cores N
  *   --data DIR (the sf0.1 tables) --golden FILE --work DIR
  *   --record FILE --spans FILE
  *   --capture FILE   (instead of a workload: write golden gate digests)
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, cores: Int = 1, data: String = "", golden: String = "",
      work: String = "", record: String = "", spans: String = "", capture: String = "")

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--golden" :: v :: t => parse(t, a.copy(golden = v))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--record" :: v :: t => parse(t, a.copy(record = v))
    case "--spans" :: v :: t => parse(t, a.copy(spans = v))
    case "--capture" :: v :: t => parse(t, a.copy(capture = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  val Workloads = Seq("spatial_join", "geoparquet_rw", "streaming")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Set-ups timed for setup_s, after the cold one. */
  val SetupRepeats = 4

  /** One set-up: creates the session, installs graft and runs a warm-up
    * query. Returns the session and the time spent in install. */
  def setUp(a: Args, tracer: Tracer): (SparkSession, Double) = {
    val spark = tracer.span("session.create") {
      SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName("perfbench")
        .config("spark.sql.extensions", "graft.GraftSparkSessionExtensions")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val i0 = System.nanoTime()
    tracer.span("session.install")(graft.GraftExtensions.install(spark))
    val installSeconds = (System.nanoTime() - i0) / 1e9
    // Warm-up: the first query of a JVM pays one-time class loading, JIT
    // and codegen set-up that a long-running session has paid already.
    tracer.span("session.warmup") {
      import org.apache.spark.sql.functions._
      spark.range(0, 10000).toDF("id")
        .withColumn("s", md5(col("id").cast("string")))
        .withColumn("a", split(col("s"), "[0-9]"))
        .groupBy(col("id") % 7).agg(count(lit(1)), sum(size(col("a")))).collect()
      spark.sql("SELECT st_astext(st_point(1.0, 2.0))").collect()
    }
    (spark, installSeconds)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.capture.nonEmpty || Workloads.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.mkString(", ")})")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = Tracer(a.trace)

    // ---- set-up: session, install, warm-up ----
    // The cold set-up runs from JVM start to ready. The repeats each stop
    // the SparkContext and set up again in the same JVM, as a restarted
    // application would; setup_s is their median. One cold sample spread
    // 13-26 % across runs; the median of the repeats is steadier. Work done
    // once per JVM (class loading, static initialisers) shows only in the
    // cold set-up, reported as session.cold_setup_s.
    val setupSpan = tracer.open("setup")
    var session = setUp(a, tracer)._1
    val coldSetupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val repeats = (1 to SetupRepeats).map { _ =>
      session.stop()
      val t0 = System.nanoTime()
      val (next, installSeconds) = setUp(a, tracer)
      session = next
      ((System.nanoTime() - t0) / 1e9, installSeconds)
    }
    tracer.close(setupSpan)
    val spark = session
    val setupSeconds = median(repeats.map(_._1))
    val installSeconds = median(repeats.map(_._2))

    if (a.capture.nonEmpty) {
      Gates.capture(spark, a.data, new java.io.File(a.capture))
      spark.stop()
      sys.exit(0)
    }

    val selfCheck = Ops.selfCheck()
    if (selfCheck.nonEmpty) {
      System.err.println(s"harness self-check failed: ${selfCheck.mkString("; ")}")
      spark.stop()
      sys.exit(3)
    }

    // ---- workload inputs (untimed, not part of set-up) ----
    val sc = spark.sparkContext
    val ops = new Ops(tracer)
    val gpStats = new GeoParquetRw.Stats
    var probe: Option[Probe] = None
    var pinnedMax = 0
    val afterOp: () => Unit =
      if (a.trace) () => pinnedMax = math.max(pinnedMax, sc.getPersistentRDDs.size)
      else () => ()
    // Retained heap: live data after a full GC at the end of the first
    // timed round. Every run completes that round, so the figure does not
    // depend on how many rounds a slow host fits in (each spatial join
    // query leaves about 11 MB live). Spark's ContextCleaner drops
    // broadcast and shuffle blocks asynchronously once a GC has found
    // their owners unreachable, so collect, let it run, collect. The time
    // and GC time this takes are kept out of the timed region's figures.
    var retainedMb = Double.NaN
    var heapProbeSeconds = 0.0
    var heapProbeGcSeconds = 0.0
    def measureRetained(): Unit = {
      val (h0, gc0) = (System.nanoTime(), Probe.gcMillis)
      System.gc(); Thread.sleep(500); System.gc()
      retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      heapProbeSeconds = (System.nanoTime() - h0) / 1e9
      heapProbeGcSeconds = (Probe.gcMillis - gc0) / 1e3
    }
    // Timed rounds: at most `max`, none started once --seconds have passed.
    def timedRounds(max: Int): Int => Boolean = {
      val more = Ops.upTo(max, a.seconds)
      n => { if (n == 1) measureRetained(); more(n) }
    }
    val prepSpan = tracer.open("prepare", a.workload)
    val (workload, warmupFailures): (() => Unit, Seq[(String, String)]) = a.workload match {
      case "streaming" =>
        val golden = Gates.loadGolden(new java.io.File(a.golden))
        (() => Gates.run(spark, ops, Gates.streaming, a.data, golden, afterOp), Nil)
      case "spatial_join" =>
        val answers = tracer.span("prepare.inputs")(
          SpatialJoin.prepare(spark, a.seed, s"${a.work}/spatial_join", a.cores))
        // untimed rounds first, so that planning, codegen and the JIT are
        // warm as in a long-running session
        val warm = new Ops(Tracer.off)
        tracer.span("prepare.warm_rounds")(
          SpatialJoin.run(spark, warm, answers, a.seed ^ 0x5a5a, _ < SpatialJoin.WarmRounds,
            () => ()))
        (() => SpatialJoin.run(spark, ops, answers, a.seed,
          timedRounds(SpatialJoin.roundsFor(a.seconds)), afterOp), warm.failures.toSeq)
      case "geoparquet_rw" =>
        val dir = s"${a.work}/geoparquet_rw"
        val inputs = tracer.span("prepare.inputs")(
          GeoParquetRw.prepare(spark, a.seed, dir, a.cores, GeoParquetRw.WindowCount))
        val (warmWindows, timedWindows) = inputs.windows.splitAt(GeoParquetRw.WarmWindows)
        val warm = new Ops(Tracer.off)
        tracer.span("prepare.warm_round")(
          GeoParquetRw.run(spark, warm, inputs, s"$dir/warm", Seq(warmWindows), a.seed,
            _ => false, Tracer.off, new GeoParquetRw.Stats, _ => (), () => ()))
        (() => GeoParquetRw.run(spark, ops, inputs, s"$dir/timed",
          timedWindows.grouped(GeoParquetRw.WindowsPerRound).toSeq, a.seed,
          timedRounds(GeoParquetRw.roundsFor(a.seconds)), tracer, gpStats,
          ds => probe.foreach(_.datasets = ds), afterOp), warm.failures.toSeq)
    }
    tracer.close(prepSpan)

    // ---- timed region ----
    probe = if (a.trace) Some(new Probe(spark, tracer)) else None
    probe.foreach(_.begin())
    val wlSpan = tracer.open("workload", a.workload)
    val t0 = System.nanoTime()
    workload()
    val timedSeconds = (System.nanoTime() - t0) / 1e9 - heapProbeSeconds
    val heapProbeGcInRegion = heapProbeGcSeconds
    tracer.close(wlSpan)
    probe.foreach(_.end())
    val pinnedEnd = sc.getPersistentRDDs.size
    if (retainedMb.isNaN) measureRetained() // a workload of one round

    // ---- metrics ----
    val queries = ops.querySeconds
    val endToEnd = Seq(
      "setup_s" -> (setupSeconds, "s"),
      "wall_s" -> (median(ops.roundSeconds), "s"),
      "query_p50_s" -> (median(queries), "s"),
      "retained_heap_mb" -> (retainedMb, "MB"))
    val perLayer: Seq[(String, (Double, String))] = probe.toSeq.flatMap { p =>
      def v(k: String) = p.value(k)
      // Counts and times that add up over the timed region are reported
      // per round: a run on a slow host may stop before its last round.
      def perRound(x: Double) = x / ops.rounds
      val taskS = v("exec.task_s")
      val coverIn = v("joins.cover_in_rows")
      val candidates = v("joins.candidates")
      Seq(
        "session.install_s" -> (installSeconds, "s"),
        "session.cold_setup_s" -> (coldSetupSeconds, "s"),
        "catalyst.analysis_s" -> (perRound(v("catalyst.analysis_s")), "s"),
        "catalyst.optimizer_s" -> (perRound(v("catalyst.optimizer_s")), "s"),
        "catalyst.planning_s" -> (perRound(v("catalyst.planning_s")), "s"),
        "catalyst.graft_rule_s" -> (perRound(v("catalyst.graft_rule_s")), "s"),
        "catalyst.graft_rule_runs" -> (perRound(v("catalyst.graft_rule_runs")), "count"),
        "catalyst.graft_rule_effective" -> (perRound(v("catalyst.graft_rule_effective")), "count"),
        "catalyst.codegen_compiles" -> (perRound(v("catalyst.codegen_compiles")), "count"),
        "exec.jobs" -> (perRound(v("exec.jobs")), "count"),
        "exec.stages" -> (perRound(v("exec.stages")), "count"),
        "exec.tasks" -> (perRound(v("exec.tasks")), "count"),
        "exec.task_s" -> (perRound(taskS), "s"),
        "exec.task_cpu_s" -> (perRound(v("exec.task_cpu_s")), "s"),
        "exec.busy_frac" -> (taskS / (timedSeconds * a.cores), "frac"),
        "exec.gc_s" -> (perRound(v("exec.gc_s")), "s"),
        "exec.shuffle_write_mb" -> (perRound(v("exec.shuffle_write_mb")), "MB"),
        "exec.shuffle_read_mb" -> (perRound(v("exec.shuffle_read_mb")), "MB"),
        "exec.spill_mb" -> (perRound(v("exec.spill_mb")), "MB"),
        "joins.replication" -> (if (coverIn > 0) v("joins.cover_out_rows") / coverIn else 0.0, "ratio"),
        "joins.candidates" -> (perRound(candidates), "count"),
        "joins.selectivity" -> (if (candidates > 0) v("joins.candidate_results") / candidates else 0.0, "ratio"),
        "joins.fallbacks" -> (perRound(v("joins.fallbacks")), "count"),
        "sources.open_frac" -> (gpStats.openSeconds / timedSeconds, "frac"),
        "sources.files_read" -> (perRound(v("sources.files_read")), "count"),
        "sources.files_total" -> (perRound(v("sources.files_total")), "count"),
        "sources.bytes_read_mb" -> (perRound(v("sources.bytes_read_mb")), "MB"),
        "sources.rows_scanned_per_result" -> (if (gpStats.resultRows > 0)
          v("sources.rows_scanned") / gpStats.resultRows else 0.0, "ratio"),
        "sources.write_frac" -> (gpStats.writeSeconds / timedSeconds, "frac"),
        "sources.files_written" -> (perRound(gpStats.filesWritten), "count"),
        "sources.bytes_written_mb" -> (perRound(gpStats.bytesWritten / 1048576.0), "MB"),
        "sources.bytes_per_row" -> (if (gpStats.rowsWritten > 0)
          gpStats.bytesWritten.toDouble / gpStats.rowsWritten else 0.0, "B"),
        "sources.write_jobs" -> (perRound(v("sources.write_jobs")), "count"),
        "streaming.batches" -> (perRound(v("streaming.batches")), "count"),
        "streaming.add_batch_frac" -> (v("streaming.add_batch_s") / timedSeconds, "frac"),
        "streaming.wal_commit_frac" -> (v("streaming.wal_commit_s") / timedSeconds, "frac"),
        "streaming.query_planning_frac" -> (v("streaming.query_planning_s") / timedSeconds, "frac"),
        "streaming.state_commit_frac" -> (v("streaming.state_commit_s") / timedSeconds, "frac"),
        "streaming.state_rows" -> (v("streaming.state_rows"), "count"),
        "streaming.state_mem_mb" -> (v("streaming.state_mem_mb"), "MB"),
        "cache.pinned_max" -> (pinnedMax.toDouble, "count"),
        "cache.pinned_end" -> (pinnedEnd.toDouble, "count"),
        "jvm.gc_s" -> (perRound(v("jvm.gc_s") - heapProbeGcInRegion), "s"),
        "ops.count" -> (ops.samples.size.toDouble, "count"),
        "ops.cpu_s" -> (median(ops.roundCpuSeconds), "s"),
        "ops.query_p90_s" -> (percentile(queries, 0.9), "s"),
        "ops.failed_frac" -> (ops.failed.toDouble / ops.attempted, "frac"),
        "trace.self_s" -> (tracer.selfSeconds, "s"),
        "trace.spans" -> (tracer.count.toDouble, "count"))
    }

    val rt = Runtime.getRuntime
    val record = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "correct" -> (ops.failed == 0 && warmupFailures.isEmpty),
      "attempted" -> ops.attempted, "failed" -> ops.failed, "wrong" -> ops.wrong,
      "failures" -> ops.failures.map { case (n, w) => Seq(n, w) },
      "warmup_failures" -> warmupFailures.map { case (n, w) => Seq(n, w) },
      "selfcheck" -> "passed",
      "setup_s_samples" -> repeats.map(_._1),
      "rounds" -> ops.rounds,
      "timed_region_s" -> timedSeconds,
      "query_samples" -> queries.size,
      "metrics" -> (endToEnd ++ perLayer).map { case (k, (x, u)) =>
        k -> Map("value" -> x, "unit" -> u) }.toMap,
      "operations" -> ops.samples.map(s => Seq(s.name, s.round, s.seconds, s.cpuSeconds)),
      "jvm" -> Map(
        "cores" -> a.cores,
        "max_heap_mb" -> rt.maxMemory / 1048576.0,
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version,
        "input_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(x => x.startsWith("-X")))))
    java.nio.file.Files.write(new java.io.File(a.record).toPath, record.getBytes("UTF-8"))
    if (a.trace) tracer.write(new java.io.File(a.spans))
    // Everything is recorded; the JVM ends here without Spark's shutdown
    // sequence, whose temporary files live in the run directory run.py
    // deletes.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
