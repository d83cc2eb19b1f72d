package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer observation for the traced run, from Spark's public
  * listeners only: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (QueryPlanningTracker phases and rule timings,
  * executed-plan SQL metrics) and a StreamingQueryListener (micro-batch
  * durations and state-store operator metrics). Counters cover the timed
  * region only: `begin` and `end` each run a marker query and wait until
  * every listener has seen it, so no event of the timed region is lost
  * and none from outside it is counted. */
final class Probe(spark: SparkSession, tracer: Tracer) {
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val maxima = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // one flag per listener queue: each queue stops counting when it sees
  // the end marker, independently of how far the other queues have got
  @volatile private var jobCounting = false
  @volatile private var qeCounting = false
  @volatile private var streamCounting = false
  private val markerSeenJob = new AtomicInteger(0)
  private val markerSeenQe = new AtomicInteger(0)
  private var marker = 0
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val markerJobs = mutable.Map.empty[Int, Int]
  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean])
  private val streamsStarted = new AtomicInteger(0)
  private val streamsEnded = new AtomicInteger(0)
  private val lastStateRows = mutable.Map.empty[String, Long]
  /** Dataset directory -> number of data files, for scan accounting. */
  @volatile var datasets: Map[String, Int] = Map.empty

  private def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) += v
  }
  private def max(k: String, v: Double): Unit = counters.synchronized {
    maxima(k) = math.max(maxima(k), v)
  }
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally tracer.addSelfNanos(System.nanoTime() - t0)
  }

  private val MarkerProp = "perfbench.marker"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val m = Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProp)))
      if (m.isDefined) {
        jobCounting = false
        markerJobs.synchronized(markerJobs(e.jobId) = m.get.toInt)
      } else if (jobCounting) {
        add("exec.jobs", 1)
        if (Option(e.properties).exists(_.getProperty(Probe.KindProp) == "write"))
          add("sources.write_jobs", 1)
        jobStarts.synchronized(jobStarts(e.jobId) = e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      markerJobs.synchronized(markerJobs.remove(e.jobId)).foreach(markerSeenJob.set)
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { t0 =>
        tracer.external("exec.job", s"job ${e.jobId}", t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      if (jobCounting) add("exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (jobCounting && m != null) {
        add("exec.tasks", 1)
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(observe(qe, succeeded = true))
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      timed(observe(qe, succeeded = false))
  }

  private def observe(qe: QueryExecution, succeeded: Boolean): Unit = {
    val text = qe.logical.toString
    val mk = "perfbench-marker-(\\d+)".r.findFirstMatchIn(text)
    if (mk.isDefined) {
      qeCounting = false
      markerSeenQe.set(mk.get.group(1).toInt)
      return
    }
    if (!qeCounting) return
    val tracker = qe.tracker
    if (seenTrackers.synchronized(seenTrackers.add(tracker))) {
      tracker.phases.foreach { case (phase, s) =>
        val key = phase match {
          case "analysis" => Some("catalyst.analysis_s")
          case "optimization" => Some("catalyst.optimizer_s")
          case "planning" => Some("catalyst.planning_s")
          case _ => None
        }
        key.foreach(k => add(k, s.durationMs / 1e3))
        tracer.external(s"catalyst.$phase", "", s.startTimeMs, s.endTimeMs)
      }
      tracker.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.")) {
          add("catalyst.graft_rule_s", s.totalTimeNs / 1e9)
          add("catalyst.graft_rule_runs", s.numInvocations.toDouble)
          add("catalyst.graft_rule_effective", s.numEffectiveInvocations.toDouble)
        }
      }
    }
    if (succeeded) planMetrics(qe.executedPlan)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Output rows of the nearest node at or below `p` that counts them. */
  private def inputRows(p: SparkPlan): Option[Long] =
    rows(p).orElse(p.children match {
      case Seq(only) => inputRows(only)
      case _ => None
    })

  private def planMetrics(plan: SparkPlan): Unit = {
    val all = nodes(plan)
    all.foreach {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec =>
        add("joins.fallbacks", 1)
      case g: GenerateExec if Probe.isCellCover(g.generator.toString) =>
        for (out <- rows(g); in <- inputRows(g.child)) {
          add("joins.cover_out_rows", out.toDouble)
          add("joins.cover_in_rows", in.toDouble)
        }
      case s: FileSourceScanExec =>
        val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
        datasets.find { case (dir, _) => roots.nonEmpty &&
          roots.forall(_.startsWith(dir)) }.foreach { case (_, total) =>
          add("sources.files_total", total.toDouble)
          s.metrics.get("numFiles").foreach(m => add("sources.files_read", m.value.toDouble))
          s.metrics.get("filesSize").foreach(m => add("sources.bytes_read_mb", m.value / 1048576.0))
          rows(s).foreach(r => add("sources.rows_scanned", r.toDouble))
        }
      case j if j.metrics.contains("candidatePairs") =>
        add("joins.candidates", j.metrics("candidatePairs").value.toDouble)
        rows(j).foreach(r => add("joins.candidate_results", r.toDouble))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      if (streamCounting) {
        add("streaming.batches", 1)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        add("streaming.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
        add("streaming.wal_commit_s", d.getOrElse("walCommit", 0L) / 1e3)
        add("streaming.query_planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
        p.stateOperators.foreach { s =>
          add("streaming.state_commit_s", s.commitTimeMs / 1e3)
          max("streaming.state_mem_mb", s.memoryUsedBytes / 1048576.0)
        }
        counters.synchronized {
          lastStateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli
        tracer.external("streaming.batch", s"${p.name} batch ${p.batchId}",
          end, end + d.getOrElse("triggerExecution", 0L))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs a marker query and waits until both listener queues saw it. */
  private def sync(): Unit = {
    marker += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerProp, marker.toString)
    try spark.range(1).selectExpr(s"'perfbench-marker-$marker' AS m").collect()
    finally sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while ((markerSeenJob.get < marker || markerSeenQe.get < marker ||
        streamsEnded.get < streamsStarted.get) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(markerSeenJob.get >= marker && markerSeenQe.get >= marker,
      "listener events did not drain within 30 s")
  }

  private var gc0 = 0L
  private var codegen0 = 0L
  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def begin(): Unit = {
    sync()
    counters.synchronized {
      counters.clear(); maxima.clear(); lastStateRows.clear()
    }
    gc0 = Probe.gcMillis
    codegen0 = codegenCount
    jobCounting = true; qeCounting = true; streamCounting = true
  }

  def end(): Unit = {
    sync()
    streamCounting = false
    add("jvm.gc_s", (Probe.gcMillis - gc0) / 1e3)
    add("catalyst.codegen_compiles", (codegenCount - codegen0).toDouble)
  }

  def value(k: String): Double = counters.synchronized {
    if (k == "streaming.state_rows") lastStateRows.values.sum.toDouble
    else if (maxima.contains(k)) maxima(k) else counters(k)
  }
}

object Probe {
  /** GC time of the whole JVM so far, from the collectors' MXBeans. */
  def gcMillis: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Local property naming the kind of operation a job belongs to. */
  val KindProp = "perfbench.kind"

  /** A generator that covers a geometry with grid cells (the explode
    * side of a partitioned spatial join). */
  def isCellCover(generator: String): Boolean = {
    val g = generator.toLowerCase
    g.contains("gridcell") || g.contains("cells") || g.contains("s2cell")
  }
}
