package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CI form of the plan guardrail: every gate query's physical plan is
  * built (not executed) against sf0.001 and asserted — no cartesian or
  * un-allowlisted BroadcastNestedLoopJoin anywhere, spatial joins pick
  * their dedicated operators, and GeoParquet scans carry pushed bbox
  * filters. A plan regression (like a rewrite rule silently not firing)
  * fails here instead of surfacing as bench archaeology. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private var entries: Map[String, PlanAudit.Entry] = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .appName("plan-audit")
      .config("spark.sql.extensions", "graft.GraftSparkSessionExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    entries = PlanAudit.audit(spark, dir).map(e => e.name -> e).toMap
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("every gate query plans without cartesian/BNLJ fallbacks") {
    val flagged = entries.values.filter(_.flagged).toSeq.sortBy(_.name)
    assert(flagged.isEmpty, flagged.map(e =>
      s"${e.name}: ${e.error.getOrElse(e.tags.mkString(","))}").mkString("; "))
  }

  test("spatial joins pick their dedicated physical operators") {
    assert(entries("sj01_intersects_join").plan.contains("BroadcastIndexSpatialJoin"),
      "sj01 lost the broadcast index join")
    assert(entries("sj03_dwithin_join").plan.contains("BroadcastIndexSpatialJoin"),
      "sj03 lost the broadcast index distance join")
    // sj04 drives the API-level knnJoin, which plans like SQL st_knn: the
    // broadcast KNN join, as sj06 (which also pins the pushdown capture)
    for (g <- Seq("sj04_knn_join", "sj06_knn_filter_barrier")) {
      val p = entries(g).plan
      assert(p.contains("KnnJoin") && !p.contains("PartitionedKnnJoin"),
        s"$g lost the broadcast KNN join")
    }
    // sj07 carries no conf window: at audit scale the broadcast index
    // spatial join is the right plan (the large-large grid rewrite's plan
    // AND execution are pinned in SpatialJoinSpec, set+collect in one
    // window); a BNLJ/cartesian would still flag in the blanket sweep
    val grid = entries("sj07_planner_grid_join").plan
    assert(grid.contains("BroadcastIndexSpatialJoin") ||
      grid.contains("SortMergeJoin") || grid.contains("ShuffledHashJoin") ||
      grid.contains("BroadcastHashJoin"), "sj07 lost its spatial join operator")
    // sj14/sj15: the gates carry NO conf windows, and at audit scale their
    // sphere sides fit the broadcast threshold, so every sphere join plans
    // the broadcast index join's spherical mode — never a BNLJ (which
    // PlanAudit.bnljJustified no longer admits for sphere predicates).
    // The large-large partitioned join is pinned in SphereJoinRuleSpec.
    for (g <- Seq("sj14_sphere_sql_join", "sj15_sphere_sql_semi_anti")) {
      val p = entries(g).plan
      assert(!entries(g).flagged && p.contains("BroadcastIndexSpatialJoin") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$g must plan BroadcastIndexSpatialJoin")
    }
  }

  test("analyzer KNN barrier survives constant folding of the query side") {
    // a literal query geometry makes st_knn one-sided after constant
    // folding; without the analysis-time capture Spark would push the
    // condition into the object side as a plain filter (the reference's
    // optimizer.rs:140-195 hazard). The extensions session must plan
    // KnnJoin regardless.
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.st
    spark.range(4).select(col("id").as("oid"),
      st.makeEnvelope(col("id") * 100.0, lit(0.0),
        col("id") * 100.0 + 10.0, lit(10.0)).as("og"))
      .createOrReplaceTempView("pa_knn_o")
    spark.range(3).select(col("id").as("qid"),
      st.point(lit(105.0), lit(5.0)).as("qg"))
      .createOrReplaceTempView("pa_knn_q")
    val df = spark.sql(
      "SELECT qid, oid FROM pa_knn_q JOIN pa_knn_o ON st_knn(qg, og, 2)")
    assert(df.queryExecution.executedPlan.toString.contains("KnnJoin"),
      "literal-query st_knn lost the analyzer capture")
    assert(df.count() == 3 * 2)
  }

  test("round-6 gates keep their intended plan shapes") {
    // sj12: semi/anti plan through the spatial join machinery, not BNLJ
    val sj12 = entries("sj12_semi_anti_join").plan
    assert(sj12.contains("BroadcastIndexSpatialJoin") ||
      sj12.contains("SortMergeJoin") || sj12.contains("ShuffledHashJoin"),
      "sj12 semi/anti lost its spatial join operators")
    // sj13: sphere intersects join plans the partitioned index join
    val sj13 = entries("sj13_sphere_intersects_join").plan
    assert(sj13.contains("PartitionedIndexSpatialJoin") &&
      !sj13.contains("BroadcastNestedLoopJoin"),
      "sj13 sphere join lost the partitioned index join")
    // pl18 PII redaction is map-only: no shuffle anywhere in the plan
    val pl18 = entries("pl18_pii_redact").plan
    assert(!pl18.contains("Exchange"), "pl18 redaction gained a shuffle")
    // pl03 exact dedup is one hash shuffle, never a join
    val pl03 = entries("pl03_exact_dedup").plan
    assert(!pl03.contains("Join"), "pl03 dedup should be join-free")
  }

  test("round-17 pipeline gates keep their intended plan shapes") {
    // pl33 line dedup: hash-key count shuffle + equi-joins, never BNLJ
    val pl33 = entries("pl33_remove_dup_lines").plan
    assert(pl33.contains("SortMergeJoin") || pl33.contains("ShuffledHashJoin") ||
      pl33.contains("BroadcastHashJoin"), "pl33 lost its equi-joins")
    // pl34 domain mixture: the rate join must BROADCAST the tiny
    // per-domain side (the hinted plan a 100 TB corpus needs)
    val pl34 = entries("pl34_domain_mixture").plan
    assert(pl34.contains("BroadcastHashJoin"), "pl34 rate join must broadcast")
    // pl35/pl36 feature extraction is map-only: no shuffle anywhere
    val pl35 = entries("pl35_audio_framestats").plan
    assert(!pl35.contains("Exchange"), "pl35 gained a shuffle")
    val pl36 = entries("pl36_image_tilestats").plan
    assert(!pl36.contains("Exchange"), "pl36 gained a shuffle")
  }

  test("round-7 gates keep their intended plan shapes") {
    // sj10 out-of-core KNN: objects hinted shuffle_hash plan the
    // partitioned KNN join; anything quadratic is a bug
    val sj10 = entries("sj10_knn_grid_join").plan
    assert(sj10.contains("PartitionedKnnJoin") && !sj10.contains("CartesianProduct") &&
      !sj10.contains("BroadcastNestedLoopJoin"), "sj10 must plan PartitionedKnnJoin, no BNLJ")
    // sj11: the planner must pick KnnJoinExec in spheroid mode (the
    // chord kd-tree branch-and-bound path, not the planar tree)
    val sj11df = SparkEntry.queries("sj11_knn_spheroid")(spark, dir)
    // unwrap AQE: the KNN node lives under AdaptiveSparkPlanExec
    def findKnn(p: org.apache.spark.sql.execution.SparkPlan): Seq[graft.joins.KnnJoinExec] =
      p.collect { case k: graft.joins.KnnJoinExec => k } ++
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
        }.flatMap(a => findKnn(a.executedPlan))
    val knn = findKnn(sj11df.queryExecution.executedPlan)
    assert(knn.nonEmpty, "sj11 lost the KNN operator")
    assert(knn.head.spheroid, "sj11 KNN not in spheroid (chord kd-tree) mode")
    // sj05, sj08 and sj13 (with its wrap/cap shapes) plan the
    // partitioned index join, no BNLJ
    for (g <- Seq("sj05_grid_join", "sj08_sphere_join", "sj13_sphere_intersects_join")) {
      val p = entries(g).plan
      assert(p.contains("PartitionedIndexSpatialJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$g must plan PartitionedIndexSpatialJoin, no BNLJ")
    }
  }

  test("round-8/9 gates keep their intended plan shapes") {
    // q21 as-of operator: the as-of join exec, its exchanges and sorts in
    // the plan (no RDD scan hiding them); no quadratic join may appear
    def asof(name: String, msg: String): Unit = {
      val p = entries(name).plan
      assert(p.contains("AsOfJoin") && !p.contains("ExistingRDD"), s"$msg:\n$p")
    }
    asof("q21_asof_join", "q21 lost the as-of join")
    // q22 banded interval join: explode-to-cells + cell equi-join +
    // reference-cell dedup (the greatest(...) filter)
    val q22 = entries("q22_interval_join").plan
    assert(q22.contains("Generate explode"), "q22 lost the cell explode")
    assert(q22.contains("SortMergeJoin") || q22.contains("ShuffledHashJoin") ||
      q22.contains("BroadcastHashJoin"), "q22 lost the cell equi-join")
    assert(q22.contains("greatest"), "q22 lost the reference-cell dedup")
    // q23 and q26 carry no conf window: their range joins plan an index
    // join at every size (the broadcast one while a non-preserved side
    // fits), never a BNLJ
    def rangeIndexed(name: String): Unit = {
      val p = entries(name).plan
      assert(p.contains("IndexSpatialJoin") && !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$name must plan an index join:\n$p")
    }
    rangeIndexed("q23_band_range_join")
    // q24: the SQL max-subquery as-of idiom must route its decorrelated
    // inequality aggregate through the as-of join
    asof("q24_asof_sql", "q24 as-of aggregate rewrite did not fire")
    // q25: the raw-TIMESTAMP strict as-of must route through the as-of
    // join, comparing TIMESTAMP micros — same signature as q24
    asof("q25_asof_timestamp", "q25 typed as-of rewrite did not fire")
    // q27: the DATE-bounded as-of (datediff staleness conjunct) must map
    // onto the DATE's day space — same signature
    asof("q27_asof_date", "q27 DATE as-of rewrite did not fire")
    // q26: the LEFT OUTER range join, on the same index joins (see q23)
    rangeIndexed("q26_range_left_outer")
    // gp02 geoarrow roundtrip: a hash equi-join over the two geoparquet
    // reads — never a nested loop
    val gp02 = entries("gp02_geoarrow_roundtrip").plan
    assert(gp02.contains("BroadcastHashJoin") || gp02.contains("SortMergeJoin") ||
      gp02.contains("ShuffledHashJoin"), "gp02 lost its equi-join")
    // pc06 COPC bbox queries: pruned node reads + partial aggregation.
    // Since opt r18 the grouped aggregate LEFT-joins back to the static
    // 25-row box list (empty-box arity invariance, ADVICE r17) — that
    // join must stay a broadcast of the tiny side, never a shuffle
    val pc06 = entries("pc06_copc_bbox").plan
    assert(pc06.contains("BroadcastHashJoin"),
      "pc06 box-list join must be a broadcast hash join")
    assert(!pc06.contains("SortMergeJoin") && !pc06.contains("ShuffledHashJoin"),
      "pc06 box-list join must not shuffle")
    assert(pc06.toLowerCase.contains("partial"),
      "pc06 lost map-side partial aggregation")
  }

  test("round-10 gates keep their intended plan shapes") {
    // q27: the DATE as-of now routes through rotation + the PROBE-side
    // as-of join — the exec is the signature, with the domain reduced to
    // a left-semi guard (no |d|x|keys| product anywhere)
    val q27 = entries("q27_asof_date").plan
    assert(q27.contains("AsOfJoin") && !q27.contains("ExistingRDD"),
      "q27 probe-side as-of join missing")
    // sj14: conf-window-free — plans the broadcast index join at audit
    // scale; the grid rewrite for large-large sides is pinned in
    // SphereJoinRuleSpec
    assert(!entries("sj14_sphere_sql_join").flagged &&
      entries("sj14_sphere_sql_join").plan.contains("BroadcastIndexSpatialJoin"),
      "sj14 must plan BroadcastIndexSpatialJoin")
    // gs01: dbscan's persisted intermediates re-enter as RDD leaves
    // (the anti-exponential-plan barrier) — joins run over those scans
    val gs = entries("gs01_dbscan").plan
    assert(gs.contains("ExistingRDD"), "gs01 lost the lineage barriers")
    // pl29: semantic dedup is ONE cluster-id equi-join plus the
    // survivor anti side — hash machinery, never a nested loop
    val pl29 = entries("pl29_semantic_dedup").plan
    assert(pl29.contains("SortMergeJoin") || pl29.contains("ShuffledHashJoin") ||
      pl29.contains("BroadcastHashJoin"), "pl29 lost the cluster equi-join")
    assert(!pl29.contains("BroadcastNestedLoopJoin"), "pl29 must hash-join")
  }

  test("streaming joins plan their streaming operators") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.GraftFunctions.st
    // stage tiny two-sided inputs, run the watermarked stream-stream
    // grid join under AvailableNow, and audit the executed streaming plan
    val base = s"/tmp/graft_plan_audit_stream"
    spark.range(64).select(col("id").as("l_event"),
        timestamp_micros(col("id") * 1000000L).as("lts"),
        (col("id") % 5).cast("double").as("lx"),
        (col("id") % 3).cast("double").as("ly"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/l")
    spark.range(64).select(col("id").as("r_event"),
        timestamp_micros(col("id") * 1000000L).as("rts"),
        (col("id") % 5).cast("double").as("rx"),
        (col("id") % 3).cast("double").as("ry"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/r")
    val lschema = StructType(Seq(StructField("l_event", LongType),
      StructField("lts", TimestampType), StructField("lx", DoubleType),
      StructField("ly", DoubleType)))
    val rschema = StructType(Seq(StructField("r_event", LongType),
      StructField("rts", TimestampType), StructField("rx", DoubleType),
      StructField("ry", DoubleType)))
    val l = spark.readStream.schema(lschema).parquet(s"$base/l")
      .withWatermark("lts", "0 seconds")
      .withColumn("lg", st.point(col("lx"), col("ly")))
    val r = spark.readStream.schema(rschema).parquet(s"$base/r")
      .withWatermark("rts", "0 seconds")
      .withColumn("rg", st.makeEnvelope(col("rx") - 0.25, col("ry") - 0.25,
        col("rx") + 0.25, col("ry") + 0.25))
    val joined = graft.streaming.StreamingOps.streamSpatialJoin(
      l, r, col("lg"), col("rg"), "st_intersects",
      bounds = (0.0, 0.0, 5.0, 3.0),
      timeCond = col("lts") >= col("rts") - expr("INTERVAL 10 SECONDS") &&
        col("lts") <= col("rts") + expr("INTERVAL 10 SECONDS"))
    val q = joined.select("l_event", "r_event").writeStream
      .format("memory").queryName("pa_ssj").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { q.explain() }
    val plan = out.toString
    assert(plan.contains("StreamingSymmetricHashJoin"),
      s"stream-stream grid join did not plan StreamingSymmetricHashJoin:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "stream-stream join fell back to a quadratic operator")
    assert(spark.table("pa_ssj").count() > 0)

    // stream-static: the point stream against a static box table must
    // plan a hash equi-join on the grid cell per micro-batch
    val pts = spark.readStream.schema(StructType(Seq(
        StructField("l_event", LongType), StructField("lts", TimestampType),
        StructField("lx", DoubleType), StructField("ly", DoubleType))))
      .parquet(s"$base/l")
      .withColumn("pt", st.point(col("lx"), col("ly")))
    val boxes = spark.range(8).select(col("id").as("bid"),
      st.makeEnvelope((col("id") % 5).cast("double") - 0.25,
        (col("id") % 3).cast("double") - 0.25,
        (col("id") % 5).cast("double") + 0.25,
        (col("id") % 3).cast("double") + 0.25).as("box"))
    val j2 = graft.operators.SpatialJoins.gridJoin(
      pts, boxes, col("pt"), col("box"), "st_intersects",
      bounds = (0.0, 0.0, 5.0, 3.0))
    val q2 = j2.select("l_event", "bid").writeStream
      .format("memory").queryName("pa_stst").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) { q2.explain() }
    val plan2 = out2.toString
    assert(plan2.contains("BroadcastHashJoin") || plan2.contains("SortMergeJoin") ||
      plan2.contains("ShuffledHashJoin"),
      s"stream-static grid join lost its equi-join:\n$plan2")
    assert(spark.table("pa_stst").count() > 0)

    // stream-stream banded range join (st07's shape): the cell explode
    // supplies the equi key, so the plan must be a symmetric hash join —
    // never a quadratic fallback
    val li = spark.readStream.schema(StructType(Seq(
        StructField("l_event", LongType), StructField("lts", TimestampType),
        StructField("lx", DoubleType), StructField("ly", DoubleType))))
      .parquet(s"$base/l")
      .withWatermark("lts", "0 seconds")
      .withColumn("ls", unix_micros(col("lts")))
      .withColumn("le", col("ls") + 3000000L)
      .select("l_event", "lts", "ls", "le")
    val ri = spark.readStream.schema(StructType(Seq(
        StructField("r_event", LongType), StructField("rts", TimestampType),
        StructField("rx", DoubleType), StructField("ry", DoubleType))))
      .parquet(s"$base/r")
      .withWatermark("rts", "0 seconds")
      .withColumn("rs", unix_micros(col("rts")))
      .withColumn("re", col("rs") + 2000000L)
      .select("r_event", "rts", "rs", "re")
    val jr = graft.streaming.StreamingOps.streamRangeJoin(li, ri,
      "ls", "le", "rs", "re",
      timeCond = col("lts") >= col("rts") - expr("INTERVAL 3 SECONDS") &&
        col("lts") <= col("rts") + expr("INTERVAL 3 SECONDS"),
      cellWidth = 2000000L)
    val qr = jr.select("l_event", "r_event").writeStream
      .format("memory").queryName("pa_srj").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    qr.awaitTermination()
    val outR = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outR)) { qr.explain() }
    val planR = outR.toString
    assert(planR.contains("StreamingSymmetricHashJoin"),
      s"stream-stream range join did not plan StreamingSymmetricHashJoin:\n$planR")
    assert(!planR.contains("CartesianProduct") &&
      !planR.contains("BroadcastNestedLoopJoin"),
      "stream-stream range join fell back to a quadratic operator")
    assert(spark.table("pa_srj").count() > 0)

    // watermarked tumbling-window aggregation (st05's shape): the
    // streaming agg must plan the state-store save path with a partial
    // (merge-capable) spatial aggregate, not a full-recompute per batch
    val aggStream = spark.readStream.schema(StructType(Seq(
        StructField("l_event", LongType), StructField("lts", TimestampType),
        StructField("lx", DoubleType), StructField("ly", DoubleType))))
      .parquet(s"$base/l")
      .withWatermark("lts", "0 seconds")
      .withColumn("pt", st.point(col("lx"), col("ly")))
      .groupBy(window(col("lts"), "10 seconds"), (col("lx") % 2).as("cell"))
      .agg(count(lit(1)).as("n"), st.envelopeAgg(col("pt")).as("env"))
      .select(col("cell"), col("n"), st.xmin(col("env")).as("exmin"))
    val q3 = aggStream.writeStream
      .format("memory").queryName("pa_winagg").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q3.awaitTermination()
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out3)) { q3.explain() }
    val plan3 = out3.toString
    assert(plan3.contains("StateStoreSave"),
      s"windowed streaming agg lost its state-store path:\n$plan3")
    assert(plan3.toLowerCase.contains("partial"),
      s"windowed streaming agg lost map-side partial aggregation:\n$plan3")
    assert(spark.table("pa_winagg").count() > 0)
  }

  test("GeoParquet scan carries pushed bbox filters and pruned files") {
    val gp = entries("gp01_geoparquet_prune").plan
    assert(gp.contains("PushedFilters") && gp.contains("_bbox"),
      "gp01 lost bbox filter pushdown")
  }

  test("relational gates keep pushdown to the parquet scans") {
    val q2 = entries("q02_top_revenue").plan
    assert(q2.contains("PushedFilters: ["), "q02 lost parquet filter pushdown")
  }

  test("round-13 gates keep their intended plan shapes") {
    // sj16 spheroid out-of-core KNN: the partitioned KNN join, nothing
    // broadcast-nested-loop — the plan that holds when the object side
    // is 100 TB
    val sj16 = entries("sj16_knn_spheroid_grid").plan
    assert(sj16.contains("PartitionedKnnJoin") && !sj16.contains("BroadcastNestedLoopJoin") &&
      !sj16.contains("CartesianProduct"), "sj16 must plan PartitionedKnnJoin, no BNLJ")
  }
}
