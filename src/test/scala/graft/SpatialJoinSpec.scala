package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions.st
import graft.operators.SpatialJoins

/** Join correctness: index join ≡ cross-join + filter on seeded random data
  * (ports the reference's test_sjoin.py differential pattern without
  * PostGIS), plan-shape assertions, and KNN determinism.
  */
class SpatialJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
  }
  override def afterAll(): Unit = spark.stop()

  // seeded pseudo-random boxes/points from spark.range — deterministic
  private def boxes(n: Int, seed: Int): DataFrame =
    spark.range(n).select(col("id").as("bid"),
      st.makeEnvelope(
        (pmod(hash(col("id") + seed), lit(1000)) / 10.0),
        (pmod(hash(col("id") * 7 + seed), lit(1000)) / 10.0),
        (pmod(hash(col("id") + seed), lit(1000)) / 10.0) + 3.0,
        (pmod(hash(col("id") * 7 + seed), lit(1000)) / 10.0) + 4.0).as("bgeom"))

  private def points(n: Int, seed: Int): DataFrame =
    spark.range(n).select(col("id").as("pid"),
      st.point(pmod(hash(col("id") * 3 + seed), lit(1000)) / 10.0,
        pmod(hash(col("id") * 11 + seed), lit(1000)) / 10.0).as("pgeom"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("driver contract: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("index join plans as BroadcastIndexSpatialJoinExec") {
    val j = points(100, 1).join(boxes(100, 2), st.intersects(col("pgeom"), col("bgeom")))
    val physical = j.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastIndexSpatialJoin"), physical.take(2000))
  }

  test("index join trees live only as long as their broadcasts") {
    // 8 distinct build sides (distinct seeds), each joined once and dropped
    (1 to 8).foreach { i =>
      val j = points(200, 10 + i).join(boxes(50, 20 + i),
        st.intersects(col("pgeom"), col("bgeom")))
      assert(j.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"))
      assert(j.collect().nonEmpty)
    }
    // the executor-local trees are weakly keyed by the broadcast values:
    // once the queries are gone, GC drops them (bounded retry — the
    // context cleaner removes broadcasts asynchronously)
    var cached = joins.BroadcastIndexSpatialJoinExec.cachedIndexes
    var tries = 0
    while (cached > 1 && tries < 40) {
      System.gc()
      Thread.sleep(250)
      cached = joins.BroadcastIndexSpatialJoinExec.cachedIndexes
      tries += 1
    }
    assert(cached <= 1, s"$cached index trees still cached after $tries GCs")
  }

  // raster side: small deterministic rasters over the same 0..100 plane
  private def rasters(n: Int, seed: Int): DataFrame =
    spark.range(n).select(col("id").as("rid"),
      st.f("rs_makeraster", lit(4), lit(3),
        pmod(hash(col("id") + seed), lit(1000)) / 10.0,
        pmod(hash(col("id") * 7 + seed), lit(1000)) / 10.0 + 6.0,
        lit(2.0), lit(-2.0),
        transform(sequence(lit(0), lit(11)), i => i.cast("double"))).as("rast"))

  test("raster-geometry join rewrites to the spatial join machinery") {
    val j = rasters(80, 3).join(points(200, 4),
      st.f("rs_intersects", col("rast"), col("pgeom")))
    val physical = j.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical.take(2000))
    val expected = rasters(80, 3).crossJoin(points(200, 4))
      .filter(st.f("rs_intersects", col("rast"), col("pgeom")))
      .select("rid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = j.select("rid", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // rs_contains / rs_within forms rewrite too
    val jc = rasters(80, 3).join(points(200, 4),
      st.f("rs_within", col("rast"), st.f("st_buffer", col("pgeom"), lit(30.0))))
    assert(!jc.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("equi-conjunct joins are left to Spark's hash joins") {
    val l = points(50, 1).withColumn("k", col("pid") % 5)
    val r = boxes(50, 2).withColumn("k", col("bid") % 5)
    val j = l.join(r, l("k") === r("k") && st.intersects(col("pgeom"), col("bgeom")))
    val physical = j.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastIndexSpatialJoin"), physical.take(2000))
  }

  test("index join ≡ cross join + filter for all predicates") {
    val p = points(300, 42)
    val b = boxes(200, 7)
    for (pred <- Seq("st_intersects", "st_contains", "st_within", "st_covers",
        "st_coveredby", "st_touches", "st_overlaps")) {
      val idx = p.join(b, st.f(pred, col("pgeom"), col("bgeom")))
        .select("pid", "bid")
      val ref = p.crossJoin(b)
        .filter(st.f(pred, col("pgeom"), col("bgeom")))
        .select("pid", "bid")
      assert(sortedRows(idx) == sortedRows(ref), s"mismatch for $pred")
    }
    // swapped argument order (build-side geometry first)
    val sw = b.join(p, st.f("st_contains", col("bgeom"), col("pgeom"))).select("pid", "bid")
    val swRef = b.crossJoin(p).filter(st.f("st_contains", col("bgeom"), col("pgeom")))
      .select("pid", "bid")
    assert(sortedRows(sw) == sortedRows(swRef))
  }

  test("distance join ≡ cross join + filter, literal and expression radius") {
    val a = points(200, 3)
    val c = points(150, 9).withColumnRenamed("pid", "qid").withColumnRenamed("pgeom", "qgeom")
    val idx = a.join(c, st.dwithin(col("pgeom"), col("qgeom"), lit(5.0))).select("pid", "qid")
    val ref = a.crossJoin(c).filter(st.dwithin(col("pgeom"), col("qgeom"), lit(5.0)))
      .select("pid", "qid")
    assert(sortedRows(idx) == sortedRows(ref))
    // radius from the stream (left) side
    val idx2 = a.withColumn("r", (col("pid") % 7).cast("double"))
      .join(c, st.dwithin(col("pgeom"), col("qgeom"), col("r"))).select("pid", "qid")
    val ref2 = a.withColumn("r", (col("pid") % 7).cast("double"))
      .crossJoin(c).filter(st.dwithin(col("pgeom"), col("qgeom"), col("r")))
      .select("pid", "qid")
    assert(sortedRows(idx2) == sortedRows(ref2))
  }

  test("left outer spatial join keeps unmatched stream rows") {
    val p = points(100, 5)
    val b = boxes(3, 11)
    val j = p.join(b, st.intersects(col("pgeom"), col("bgeom")), "left_outer")
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"))
    val matched = p.join(b, st.intersects(col("pgeom"), col("bgeom"))).select("pid")
    val expected = 100 - matched.distinct().count() + matched.count()
    assert(j.count() == expected)
    assert(j.filter(col("bid").isNull).count() == 100 - matched.distinct().count())
  }

  test("semi/anti/right-outer/mark spatial joins plan indexed and match set logic") {
    val p = points(200, 21)
    val b = boxes(40, 22)
    p.createOrReplaceTempView("sj_pts"); b.createOrReplaceTempView("sj_boxes")
    val innerPids = p.join(b, st.intersects(col("pgeom"), col("bgeom")))
      .select("pid").distinct().collect().map(_.getLong(0)).toSet

    // LEFT SEMI ≡ EXISTS (reference test_spatial_join_semi_anti)
    val semi = spark.sql("""SELECT pid FROM sj_pts LEFT SEMI JOIN sj_boxes
      ON st_intersects(pgeom, bgeom)""")
    assert(semi.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"),
      semi.queryExecution.executedPlan.toString.take(1500))
    assert(semi.collect().map(_.getLong(0)).toSet == innerPids)
    assert(semi.count() == innerPids.size) // exactly one row per match

    // LEFT ANTI ≡ NOT EXISTS
    val anti = spark.sql("""SELECT pid FROM sj_pts LEFT ANTI JOIN sj_boxes
      ON st_intersects(pgeom, bgeom)""")
    assert(anti.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"))
    assert(anti.collect().map(_.getLong(0)).toSet == (0L until 200L).toSet -- innerPids)

    // RIGHT OUTER: stream right, broadcast left; unmatched boxes padded
    val ro = spark.sql("""SELECT pid, bid FROM sj_pts RIGHT OUTER JOIN sj_boxes
      ON st_intersects(pgeom, bgeom)""")
    assert(ro.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"))
    val matchedPairs = p.join(b, st.intersects(col("pgeom"), col("bgeom")))
    val matchedBids = matchedPairs.select("bid").distinct().count()
    assert(ro.count() == matchedPairs.count() + (40 - matchedBids))
    assert(ro.filter(col("pid").isNull).count() == 40 - matchedBids)

    // mark join: EXISTS inside OR (reference
    // test_spatial_mark_join_via_correlated_exists) — ExistenceJoin
    val mark = spark.sql("""SELECT pid FROM sj_pts
      WHERE pid < 3 OR EXISTS (
        SELECT 1 FROM sj_boxes WHERE st_intersects(pgeom, bgeom))
      ORDER BY pid""")
    assert(mark.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"),
      mark.queryExecution.executedPlan.toString.take(1500))
    assert(mark.collect().map(_.getLong(0)).toSet ==
      (innerPids ++ Set(0L, 1L, 2L)))

    // semi with DWithin expression radius binds distance on the stream side
    val semiD = spark.sql("""SELECT pid FROM sj_pts LEFT SEMI JOIN sj_boxes
      ON st_dwithin(pgeom, bgeom, cast(pid % 5 AS DOUBLE))""")
    val bruteD = p.crossJoin(b)
      .filter(st.f("st_dwithin", col("pgeom"), col("bgeom"),
        (col("pid") % 5).cast("double")))
      .select("pid").distinct()
    assert(semiD.collect().map(_.getLong(0)).toSet ==
      bruteD.collect().map(_.getLong(0)).toSet)
  }

  test("grid join ≡ index join") {
    val p = points(400, 13)
    val b = boxes(300, 17)
    def q(l: DataFrame, r: DataFrame, pred: Column = st.intersects(col("pgeom"), col("bgeom"))) =
      l.hint("shuffle_hash").join(r.hint("shuffle_hash"), pred).select("pid", "bid")
    // the SHUFFLE_HASH hints leave no broadcast side: the partitioned join
    assert(partitionedRows(q(p, b)) == ruleOffRows(q(p, b)))
    // no envelope on either side (no rows, or only null geometries)
    val nullGeoms = p.select(col("pid"), when(col("pid") < 0, col("pgeom")).as("pgeom"))
    for ((l, r) <- Seq((p.filter(col("pid") < 0), b.filter(col("bid") < 0)),
        (nullGeoms, b.filter(col("bid") < 0))))
      assert(partitionedRows(q(l, r)).isEmpty)
    // hard cases: 500 identical points (a degenerate KDB split), one box
    // over every leaf, boxes touching along shared edges and at a corner
    // the identical points sit on, null and empty geometries, and a point
    // at exactly distance 5 from a box corner
    val hardPts = spark.range(500).select(col("id").as("pid"),
        st.point(lit(50.0), lit(50.0)).as("pgeom"))
      .unionAll(points(300, 19).select(col("pid") + 1000, col("pgeom")))
      .unionAll(spark.sql("""SELECT * FROM VALUES
        (9001L, CAST(NULL AS BINARY)), (9002L, st_geomfromwkt('POINT EMPTY')),
        (9003L, st_point(10.0D, 20.0D)) AS t(pid, pgeom)"""))
    val hardBoxes = boxes(200, 23).unionAll(spark.sql("""SELECT * FROM VALUES
        (8001L, st_makeenvelope(-10.0D, -10.0D, 110.0D, 110.0D)),
        (8002L, st_makeenvelope(10.0D, 10.0D, 20.0D, 20.0D)),
        (8003L, st_makeenvelope(20.0D, 10.0D, 30.0D, 20.0D)),
        (8004L, st_makeenvelope(10.0D, 20.0D, 20.0D, 30.0D)),
        (8005L, CAST(NULL AS BINARY)), (8006L, st_geomfromwkt('POLYGON EMPTY')),
        (8007L, st_makeenvelope(50.0D, 50.0D, 60.0D, 60.0D)),
        (8008L, st_makeenvelope(13.0D, 24.0D, 14.0D, 25.0D)) AS t(bid, bgeom)"""))
    def hard(pred: Column, l: DataFrame = hardPts, r: DataFrame = hardBoxes): Seq[String] = {
      val got = partitionedRows(q(l, r, pred))
      assert(got == ruleOffRows(q(l, r, pred)))
      got
    }
    val inter = hard(st.intersects(col("pgeom"), col("bgeom")))
    assert(inter.contains("[0,8007]") && inter.contains("[499,8001]") &&
      inter.contains("[9003,8004]"))
    val touch = hard(st.f("st_touches", col("pgeom"), col("bgeom")))
    assert(touch.contains("[0,8007]") && touch.contains("[9003,8002]"))
    hard(st.f("st_within", col("pgeom"), col("bgeom")))
    // the distance scalars take an empty geometry as within any distance
    // (JTS), the index joins drop it: the distance inputs leave empties out
    val (nonEmptyPts, nonEmptyBoxes) =
      (hardPts.filter(col("pid") =!= 9002), hardBoxes.filter(col("bid") =!= 8006))
    assert(hard(st.dwithin(col("pgeom"), col("bgeom"), lit(5.0)), nonEmptyPts, nonEmptyBoxes)
      .contains("[9003,8008]"))
    assert(!hard(st.distance(col("pgeom"), col("bgeom")) < lit(5.0), nonEmptyPts, nonEmptyBoxes)
      .contains("[9003,8008]"))
    // identical points alone: no split at all, one leaf
    val same = hardPts.filter(col("pid") < 500)
    assert(partitionedRows(q(same, hardBoxes.filter(col("bid") === 8007))).size == 500)
  }

  test("planner rewrites large-large spatial join to grid equi-join (SQL path)") {
    val p = points(300, 41)
    val b = boxes(250, 43)
    p.createOrReplaceTempView("gp")
    b.createOrReplaceTempView("gb")
    def q = spark.sql("SELECT pid, bid FROM gp JOIN gb ON st_intersects(pgeom, bgeom)")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val expected = try ruleOffRows(q)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(partitionedRows(q) == expected)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // the SQL hint asks for the partitioned join at any size
    assert(partitionedRows(spark.sql("SELECT /*+ SHUFFLE_HASH(gp, gb) */ pid, bid " +
      "FROM gp JOIN gb ON st_intersects(pgeom, bgeom)")) == expected)
  }

  test("planning a large-large spatial join starts no Spark job") {
    val p = points(300, 131)
    val b = boxes(250, 133)
    val planning = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var sentinel = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "sentinel") sentinel = true
        else planning.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      p.createOrReplaceTempView("nojob_p")
      b.createOrReplaceTempView("nojob_b")
      // every join type, and an EXISTS inside OR (a mark join), plans the
      // partitioned index join and pins no cache
      CacheRegistry.releaseAll() // count from zero
      val spatial = Seq("inner", "cross", "left_outer", "right_outer", "full_outer",
        "left_semi", "left_anti").map(p.join(b, st.intersects(col("pgeom"), col("bgeom")), _)) :+
        spark.sql("""SELECT pid FROM nojob_p WHERE pid < 3 OR EXISTS (
          SELECT 1 FROM nojob_b WHERE st_intersects(pgeom, bgeom))""")
      // large-large range joins (an interval overlap, no equi-conjunct)
      // plan the same exec: no cell explode, no cached side
      val lo = spark.range(20000).select(col("id").as("lid"),
        pmod(hash(col("id"), lit(1)), lit(50000)).as("ls"))
        .withColumn("le", col("ls") + pmod(hash(col("lid"), lit(2)), lit(300)))
      val ro = spark.range(20000).select(col("id").as("rid"),
        pmod(hash(col("id"), lit(3)), lit(50000)).as("rs"))
        .withColumn("re", col("rs") + pmod(hash(col("rid"), lit(4)), lit(300)))
      val range = Seq("inner", "left_outer", "full_outer").map(
        lo.join(ro, col("ls") <= col("re") && col("rs") <= col("le"), _))
      for (plan <- (spatial ++ range).map(_.queryExecution.executedPlan.toString)) {
        assert(plan.contains("PartitionedIndexSpatialJoin") && !plan.contains("Generate") &&
          !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("InMemory"), plan.take(2000))
        assert(CacheRegistry.pinnedCount == 0, plan.take(2000))
      }
      // KNN: SQL st_knn with no broadcast side, and building knnJoin(...)
      // with objects hinted shuffle_hash: the hint moves into the node, so
      // no ResolvedHint is left for the optimizer to report as unused
      val hinted =
        SpatialJoins.knnJoin(p, b.hint("shuffle_hash"), col("pgeom"), col("bgeom"), 3, col("bid"))
      assert(hinted.queryExecution.optimizedPlan.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.isEmpty)
      val knnPlans = Seq(
        spark.sql("SELECT pid, bid FROM nojob_p JOIN nojob_b ON st_knn(pgeom, bgeom, 3)"), hinted)
        .map(_.queryExecution.executedPlan.toString)
      for (plan <- knnPlans) assert(plan.contains("PartitionedKnnJoin"), plan.take(2000))
      // listener events arrive in order: once the sentinel job is seen,
      // any job the planning started has been counted
      spark.sparkContext.setJobGroup("sentinel", "sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinel)
      assert(planning.get == 0, s"${planning.get} jobs started while planning")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sparkContext.removeSparkListener(listener)
      CacheRegistry.releaseAll()
    }
  }

  test("partitioned index join reports numOutputRows and candidatePairs") {
    val j = points(300, 141).hint("shuffle_hash")
      .join(boxes(250, 143).hint("shuffle_hash"), st.intersects(col("pgeom"), col("bgeom")))
    assert(j.collect().nonEmpty)
    val execs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(j.queryExecution.executedPlan) {
        case e: joins.PartitionedIndexSpatialJoinExec => e
      }
    assert(execs.size == 1)
    for (m <- Seq("numOutputRows", "candidatePairs"))
      assert(execs.head.metrics(m).value > 0, m)
    // both KNN joins, broadcast and partitioned
    val q = points(50, 145).select(col("pid").as("qid"), col("pgeom").as("qg"))
    for (o <- Seq(points(200, 147), points(200, 147).hint("shuffle_hash"))) {
      val knn = SpatialJoins.knnJoin(q, o, col("qg"), col("pgeom"), 3, col("pid"))
      assert(knn.collect().length == 150)
      val knnExecs = aqe.collect(knn.queryExecution.executedPlan) {
        case e: joins.KnnJoinExec => e
        case e: joins.PartitionedKnnJoinExec => e
      }
      assert(knnExecs.size == 1)
      for (m <- Seq("numOutputRows", "candidatePairs"))
        assert(knnExecs.head.metrics(m).value > 0, s"${knnExecs.head.nodeName} $m")
    }
  }

  test("broadcast index joins report index build and wait time") {
    // four stream tasks share one broadcast: one builds the index, the
    // others find it built (after waiting on the build if they came early)
    val j = points(400, 151).repartition(4)
      .join(broadcast(boxes(250, 153)), st.intersects(col("pgeom"), col("bgeom")))
    val q = points(80, 155).repartition(4).select(col("pid").as("qid"), col("pgeom").as("qg"))
    val knn = SpatialJoins.knnJoin(q, broadcast(points(200, 157)), col("qg"), col("pgeom"), 3,
      col("pid"))
    for (df <- Seq(j, knn)) {
      assert(df.collect().nonEmpty)
      val execs = aqe.collect(df.queryExecution.executedPlan) {
        case e: joins.BroadcastIndexSpatialJoinExec => e
        case e: joins.KnnJoinExec => e
      }
      assert(execs.size == 1, df.queryExecution.executedPlan.toString)
      val m = execs.head.metrics
      assert(m("indexBuildTime").value > 0, execs.head.nodeName)
      assert(m("indexWaitTime").value >= 0, execs.head.nodeName)
    }
  }

  test("planner grid rewrite handles dwithin and distance< with constant radius") {
    val p = points(200, 51)
    val q = points(180, 53).toDF("qid", "qgeom")
    val expected = sortedRows(
      p.crossJoin(q).filter(st.distance(col("pgeom"), col("qgeom")) < 4.0)
        .select(col("pid"), col("qid")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j1 = p.join(q, st.dwithin(col("pgeom"), col("qgeom"), lit(4.0)))
        .select(col("pid"), col("qid"))
      val phys = j1.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"), phys.take(2000))
      assert(sortedRows(j1) == expected)
      val j2 = p.join(q, st.distance(col("pgeom"), col("qgeom")) < lit(4.0))
        .select(col("pid"), col("qid"))
      assert(sortedRows(j2) == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("planner grid rewrite: large-large LEFT OUTER keeps unmatched rows") {
    val p = points(250, 91).toDF("pid", "pgeom")
    val b = boxes(40, 93)
    val q = points(120, 95).toDF("qid", "qgeom")
    val expected = sortedRows(
      p.join(b, st.intersects(col("pgeom"), col("bgeom")), "left_outer")
        .select(col("pid"), col("bid")))
    val exp2 = sortedRows(
      p.join(q, st.dwithin(col("pgeom"), col("qgeom"), lit(3.0)), "left_outer")
        .select(col("pid"), col("qid")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = p.join(b, st.intersects(col("pgeom"), col("bgeom")), "left_outer")
        .select(col("pid"), col("bid"))
      assert(gridRewriteRows(j) == expected)
      // dwithin left outer through the same rewrite
      val j2 = p.join(q, st.dwithin(col("pgeom"), col("qgeom"), lit(3.0)), "left_outer")
        .select(col("pid"), col("qid"))
      assert(gridRewriteRows(j2) == exp2)
      // LEFT SEMI / LEFT ANTI, and a column name shared by both sides
      val shared = b.withColumnRenamed("bid", "pid")
      def q3(kind: String): DataFrame =
        p.join(shared, st.intersects(p("pgeom"), shared("bgeom")), kind).select(p("pid"))
      for (kind <- Seq("left_semi", "left_anti"))
        assert(gridRewriteRows(q3(kind)) == gridRuleOffRows(q3(kind)), kind)
      def q4(): DataFrame = p.join(shared, st.intersects(p("pgeom"), shared("bgeom")),
        "left_outer").select(p("pid"), shared("pid"))
      assert(gridRewriteRows(q4()) == gridRuleOffRows(q4()))
      // RIGHT OUTER: the right side preserved
      def q6(): DataFrame = b.join(p, st.intersects(col("pgeom"), col("bgeom")),
        "right_outer").select(col("pid"), col("bid"))
      assert(gridRewriteRows(q6()) == gridRuleOffRows(q6()))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // the preserved side alone fits the threshold: no broadcast side for
    // the LEFT OUTER, so it runs partitioned
    val big = boxes(2000, 97)
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(big) > 4 * size(p))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (2 * size(p)).toString)
    try {
      def q5(): DataFrame = p.join(big, st.intersects(col("pgeom"), col("bgeom")),
        "left_outer").select(col("pid"), col("bid"))
      assert(gridRewriteRows(q5()) == gridRuleOffRows(q5()))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  /** `q` with the grid rule off: Spark's own (BNLJ) plan. */
  private def gridRuleOffRows(q: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.join.grid.enabled", "false")
    try sortedRows(q) finally spark.conf.set("spark.graft.join.grid.enabled", "true")
  }

  /** Sorted rows of `q` with both spatial switches off: Spark's own
    * (BNLJ) plan. */
  private def ruleOffRows(q: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.join.sphere.enabled", "false")
    try gridRuleOffRows(q) finally spark.conf.set("spark.graft.join.sphere.enabled", "true")
  }

  /** Sorted rows of `q`, which must plan the partitioned index join and
    * no BNLJ. */
  private def partitionedRows(q: DataFrame): Seq[String] = {
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionedIndexSpatialJoin") &&
      !phys.contains("BroadcastNestedLoopJoin"), phys.take(2000))
    sortedRows(q)
  }

  /** [[partitionedRows]] of a join type with a preserved side: planning it
    * persists no cache. */
  private def gridRewriteRows(q: DataFrame): Seq[String] = {
    CacheRegistry.releaseAll() // count from zero
    q.queryExecution.executedPlan
    assert(CacheRegistry.pinnedCount == 0, "planning pinned a cache")
    partitionedRows(q)
  }

  test("FULL OUTER spatial join: broadcast and grid paths, no BNLJ") {
    val p = points(250, 71).toDF("pid", "pgeom")
    val b = boxes(40, 73)
    def q(): DataFrame =
      p.join(b, st.intersects(col("pgeom"), col("bgeom")), "full_outer")
        .select(col("pid"), col("bid"))
    // reference: Spark's native (quadratic BNLJ) full outer, rewrite off
    spark.conf.set("spark.graft.join.grid.enabled", "false")
    val expected = try sortedRows(q())
      finally spark.conf.set("spark.graft.join.grid.enabled", "true")
    // both sides are preserved, so neither broadcasts: the partitioned
    // index join at every size, broadcast-sized or with broadcast off
    assert(gridRewriteRows(q()) == expected)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(gridRewriteRows(q()) == expected)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // SQL surface + dwithin form, shared column names across sides
    p.createOrReplaceTempView("fo_p")
    b.createOrReplaceTempView("fo_b")
    val sqlExpected = {
      spark.conf.set("spark.graft.join.grid.enabled", "false")
      try sortedRows(spark.sql(
        """SELECT p.pid, b.bid FROM fo_p p FULL OUTER JOIN fo_b b
          |ON st_dwithin(p.pgeom, b.bgeom, 2.0)""".stripMargin))
      finally spark.conf.set("spark.graft.join.grid.enabled", "true")
    }
    val js = spark.sql(
      """SELECT p.pid, b.bid FROM fo_p p FULL OUTER JOIN fo_b b
        |ON st_dwithin(p.pgeom, b.bgeom, 2.0)""".stripMargin)
    assert(gridRewriteRows(js) == sqlExpected)
  }

  test("grid rewrite: empty sides degrade gracefully") {
    val p = points(50, 97).filter(col("pid") < 0) // empty
    val b = boxes(50, 99)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the extent pre-pass takes the non-empty side's envelopes; the
      // rewritten join is empty
      assert(p.join(b, st.intersects(col("pgeom"), col("bgeom"))).count() == 0)
      assert(p.join(b, st.intersects(col("pgeom"), col("bgeom")), "left_outer").count() == 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("stream-static spatial join with broadcast off runs as with the rule off") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sj_stream").toString
    val pts = points(300, 111)
    pts.write.mode("overwrite").parquet(dir)
    boxes(60, 113).createOrReplaceTempView("sj_stream_boxes")
    def run(name: String): Seq[String] = {
      spark.readStream.schema(pts.schema).parquet(dir).createOrReplaceTempView("sj_stream_pts")
      val q = spark.sql("""SELECT pid, bid FROM sj_stream_pts JOIN sj_stream_boxes
          ON st_intersects(pgeom, bgeom)""")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      sortedRows(spark.table(name))
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = run("sj_stream_rule_on")
      spark.conf.set("spark.graft.join.grid.enabled", "false")
      val expected = try run("sj_stream_rule_off")
        finally spark.conf.set("spark.graft.join.grid.enabled", "true")
      assert(got.nonEmpty && got == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("grid rewrite leaves small joins and equi-conjunct joins alone") {
    val p = points(100, 61)
    val b = boxes(80, 63)
    // broadcastable: strategy path, not the grid rewrite
    val j = p.join(b, st.intersects(col("pgeom"), col("bgeom")))
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastIndexSpatialJoin"))
    // equi-conjunct: Spark hash join even with broadcast off
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = p.withColumn("k", col("pid") % 5)
      val r = b.withColumn("k", col("bid") % 5)
      val je = l.join(r, l("k") === r("k") && st.intersects(col("pgeom"), col("bgeom")))
      val phys = je.queryExecution.executedPlan.toString
      assert(!phys.toLowerCase.contains("gridcells"), phys.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("spherical dwithin join ≡ cross join + haversine, incl. antimeridian + poles") {
    // lon spread over the full [-180,180) ring (wrap pairs at ±180), lat
    // up to ±89.5 (pole-adjacent full-ring path)
    def geo(n: Int, seed: Int, idc: String, gc: String): DataFrame =
      spark.range(n).select(col("id").as(idc),
        st.point(pmod(hash(col("id") * 3 + seed), lit(7200)) / 20.0 - 180.0,
          pmod(hash(col("id") * 11 + seed), lit(3580)) / 20.0 - 89.5).as(gc))
    val a = geo(250, 71, "aid", "ag")
    val b = geo(250, 73, "bid", "bg")
    val r = 300000.0 // 300 km
    val expected = sortedRows(
      a.crossJoin(b)
        .filter(st.f("st_distancesphere", col("ag"), col("bg")) <= r)
        .select(col("aid"), col("bid")))
    assert(expected.nonEmpty)
    assert(partitionedRows(a.hint("shuffle_hash").join(b.hint("shuffle_hash"),
        st.f("st_dwithinsphere", col("ag"), col("bg"), lit(r)))
      .select(col("aid"), col("bid"))) == expected)
  }

  test("SQL st_knn join plans as KnnJoinExec and matches brute force") {
    import org.apache.spark.sql.expressions.Window
    // tie-free: distinct coordinates per id
    val q = spark.range(30).select(col("id").as("qid"),
      st.point(col("id") * 7.13, col("id") * 3.37).as("qg"))
    val o = spark.range(200).select(col("id").as("oid"),
      st.point(pmod(hash(col("id")), lit(1000)) / 5.0 + 0.017,
        pmod(hash(col("id") * 3), lit(1000)) / 5.0 + 0.013).as("og"))
    q.createOrReplaceTempView("knn_q")
    o.createOrReplaceTempView("knn_o")
    val r = spark.sql(
      "SELECT qid, oid FROM knn_q JOIN knn_o ON st_knn(qg, og, 4)")
    assert(r.queryExecution.executedPlan.toString.contains("KnnJoin"))
    val w = Window.partitionBy("qid").orderBy(col("d"), col("oid"))
    val brute = q.crossJoin(o)
      .withColumn("d", st.distance(col("qg"), col("og")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .select("qid", "oid")
    assert(sortedRows(r) == sortedRows(brute))
    // stub errors outside a join
    val e = intercept[Exception](
      spark.sql("SELECT st_knn(st_point(0,0), st_point(1,1), 2)").collect())
    assert(e.getMessage.contains("join condition") ||
      e.getCause != null && e.getCause.getMessage.contains("join condition"))
    // 2-arg form defaults to k = 1 (test_knnjoin.py test_knn_join_default_k)
    val r1 = spark.sql(
      "SELECT qid, oid FROM knn_q JOIN knn_o ON st_knn(qg, og)")
    val rExplicit = spark.sql(
      "SELECT qid, oid FROM knn_q JOIN knn_o ON st_knn(qg, og, 1)")
    assert(sortedRows(r1) == sortedRows(rExplicit))
    assert(r1.count() == 30)
  }

  test("KNN edge cases: k > object count, polygon objects, query-side filter " +
      "(reference test_knnjoin.py)") {
    import org.apache.spark.sql.expressions.Window
    // k greater than the object side: every query returns ALL objects
    val q = spark.range(5).select(col("id").as("qid"),
      st.point(col("id") * 11.3, col("id") * 5.7).as("qg"))
    val o = spark.range(3).select(col("id").as("oid"),
      st.point(col("id") * 13.1 + 0.5, col("id") * 7.9 + 0.25).as("og"))
    q.createOrReplaceTempView("knn_eq")
    o.createOrReplaceTempView("knn_eo")
    val r = spark.sql("SELECT qid, oid FROM knn_eq JOIN knn_eo ON st_knn(qg, og, 5)")
    assert(r.count() == 5 * 3)
    // polygon object side: distance is to the polygon, zero when inside.
    // The query point stays column-derived (non-foldable): this spec's
    // session has no analyzer extensions, and a constant-folded st_knn
    // arg would let Spark push the condition before the physical capture
    // — the analyzer-time barrier for that case is asserted in
    // PlanAuditSpec (extensions session), matching every real entry point.
    val polys = spark.range(4).select(col("id").as("oid"),
      st.makeEnvelope(col("id") * 100.0, lit(0.0),
        col("id") * 100.0 + 10.0, lit(10.0)).as("og"))
    polys.createOrReplaceTempView("knn_ep")
    spark.range(1).select(
        st.point(lit(105.0) + col("id") * 0.0, lit(5.0) + col("id") * 0.0).as("qg"),
        col("id").as("qid"))
      .createOrReplaceTempView("knn_epq")
    val pr = spark.sql(
      """SELECT oid, st_distance(qg, og) AS d
        |FROM knn_epq JOIN knn_ep ON st_knn(qg, og, 2)""".stripMargin)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._2)
    assert(pr.map(_._1).toSeq == Seq(1L, 0L)) // inside box 1, then box 0
    assert(pr(0)._2 == 0.0 && pr(1)._2 == 95.0)
    // a query-side filter composes with the KNN (object set unfiltered)
    val w = Window.partitionBy("qid").orderBy(col("d"), col("oid"))
    val filtered = spark.sql(
      "SELECT qid, oid FROM knn_eq JOIN knn_eo ON st_knn(qg, og, 2) WHERE qid = 0")
    val brute = q.filter(col("qid") === 0).crossJoin(o)
      .withColumn("d", st.distance(col("qg"), col("og")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .select("qid", "oid")
    assert(sortedRows(filtered) == sortedRows(brute))
  }

  test("spheroid KNN join ranks by great-circle distance") {
    // near the pole, planar-nearest and geodesic-nearest differ: query at
    // lat 89, candidates at same latitude across longitudes
    import spark.implicits._
    val q = Seq((1L, 0.0, 89.0)).toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qpt"))
    val o = Seq((1L, 179.0, 89.0), (2L, 90.0, 89.0), (3L, 10.0, 89.0))
      .toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("opt"))
    q.createOrReplaceTempView("sphknn_q")
    o.createOrReplaceTempView("sphknn_o")
    val got = spark.sql(
      "SELECT oid FROM sphknn_q JOIN sphknn_o ON st_knn(qpt, opt, 3, true)")
      .collect().map(_.getLong(0)).toSeq
    // geodesic order: 10 deg away, then 90, then 179 (over-the-pole path
    // makes 179 deg still farthest here but much closer than planar)
    assert(got == Seq(3L, 2L, 1L))
    // planar order identical in this case for k ordering sanity; verify
    // the geodesic distances actually drove ranking via a 2-point case
    // where planar and geodesic orders DIFFER:
    val q2 = Seq((1L, 0.0, 89.5)).toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qpt"))
    val o2 = Seq((1L, 180.0, 89.8), (2L, 0.0, 88.6)).toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("opt"))
    q2.createOrReplaceTempView("sphknn_q2")
    o2.createOrReplaceTempView("sphknn_o2")
    val top = spark.sql(
      "SELECT oid FROM sphknn_q2 JOIN sphknn_o2 ON st_knn(qpt, opt, 1, true)")
      .collect().map(_.getLong(0)).toSeq
    // planar: (180, 89.8) is ~180 units away vs 0.9 for (0, 88.6);
    // geodesic: over the pole (180, 89.8) is 0.7 deg of arc (~78 km) vs
    // 0.9 deg (~100 km) — spheroid mode must pick oid=1
    assert(top == Seq(1L))
  }

  test("spheroid KNN chord kd-tree matches brute-force geodesic rank") {
    import spark.implicits._
    // 500 objects spread globally, with antimeridian and pole clusters;
    // the kd path must return exactly what a driver-side brute force
    // over haversine distances returns
    val rnd = new java.util.Random(7)
    val objPts = (0 until 500).map { i =>
      if (i % 10 == 0) (i.toLong, 179.5 + rnd.nextDouble(), -60 + rnd.nextInt(120) * 1.0)
      else if (i % 17 == 0) (i.toLong, rnd.nextDouble() * 360 - 180, 89.0 + rnd.nextDouble())
      else (i.toLong, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
    }
    val queries = Seq(
      (1L, -179.9, 0.0),   // antimeridian
      (2L, 0.0, 89.9),     // near pole
      (3L, 12.5, 48.1),    // mid-latitude
      (4L, 179.95, -45.0)) // antimeridian south
    val o = objPts.toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("opt"))
    val q = queries.toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qpt"))
    q.createOrReplaceTempView("sphkd_q")
    o.createOrReplaceTempView("sphkd_o")
    val k = 7
    val got = spark.sql(
      s"SELECT qid, oid FROM sphkd_q JOIN sphkd_o ON st_knn(qpt, opt, $k, true)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = queries.map { case (qid, qlon, qlat) =>
      qid -> objPts.map { case (oid, olon, olat) =>
        (graft.functions.Spherical.haversine(qlon, qlat, olon, olat), oid)
      }.sortBy(identity).take(k).map(_._2).toSet
    }.toMap
    queries.foreach { case (qid, _, _) =>
      assert(got(qid) == want(qid),
        s"query $qid: kd ${got(qid).toSeq.sorted} vs brute ${want(qid).toSeq.sorted}")
    }
  }

  // ---- KNN: the broadcast and the partitioned exec on the same input ----

  private val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The KNN execs of `df`'s plan, "broadcast" or "partitioned". */
  private def knnExecs(df: DataFrame): Seq[String] =
    aqe.collect(df.queryExecution.executedPlan) {
      case _: joins.PartitionedKnnJoinExec => "partitioned"
      case _: joins.KnnJoinExec => "broadcast"
    }

  /** Sorted rows of `df`, planned by the KNN exec `exec` with no BNLJ or
    * cartesian product. */
  private def knnRows(df: DataFrame, exec: String): Seq[String] = {
    val phys = df.queryExecution.executedPlan.toString
    assert(knnExecs(df) == Seq(exec), phys.take(3000))
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      phys.take(3000))
    sortedRows(df)
  }

  /** (qid, oid, knn_rank) of `knnJoin(q, o, k)` ranked by (distance, oid),
    * the objects hinted shuffle_hash on the partitioned exec and unhinted
    * on the broadcast exec, asserted equal to each other and to a window
    * over the cross join without null or empty geometries. On the sphere
    * the distance is great-circle meters between the query point and its
    * planar-nearest point of the object (point or axis-aligned box). */
  private def assertKnnPaths(q: DataFrame, o: DataFrame, k: Int,
      spheroid: Boolean = false): Unit = {
    import org.apache.spark.sql.expressions.Window
    def knn(objects: DataFrame) = SpatialJoins.knnJoin(q, objects, col("qg"), col("og"), k,
      col("oid"), spheroid).select("qid", "oid", "knn_rank")
    val partitioned = knnRows(knn(o.hint("shuffle_hash")), "partitioned")
    val broadcast = knnRows(knn(o), "broadcast")
    def valid(g: String) = col(g).isNotNull && !st.f("st_isempty", col(g))
    def clamp(lo: Column, v: Column, hi: Column) = greatest(lo, least(v, hi))
    val d =
      if (!spheroid) st.distance(col("qg"), col("og"))
      else st.f("st_distancesphere", col("qg"), st.point(
        clamp(st.xmin(col("og")), st.f("st_x", col("qg")), st.f("st_xmax", col("og"))),
        clamp(st.f("st_ymin", col("og")), st.f("st_y", col("qg")), st.f("st_ymax", col("og")))))
    // a duplicated query row is a query of its own
    val w = Window.partitionBy("qrow").orderBy(col("d"), col("oid"))
    val oracle = q.filter(valid("qg")).withColumn("qrow", monotonically_increasing_id())
      .crossJoin(o.filter(valid("og")))
      .withColumn("d", d).withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k).select("qid", "oid", "knn_rank")
    assert(partitioned.nonEmpty)
    assert(partitioned == broadcast)
    assert(partitioned == sortedRows(oracle))
  }

  private val nullGeom = lit(null).cast("binary")
  private def wkt(s: String): Column = st.f("st_geomfromtext", lit(s))

  /** Planted planar KNN inputs: an integer lattice (exact-distance ties
    * everywhere) with duplicate rows, a null and an empty geometry, and
    * one box over every leaf; queries on and between lattice points,
    * duplicated, outside the extent, null and empty. */
  private def plantedPlanar(): (DataFrame, DataFrame) = {
    val lattice = spark.range(400).select(col("id").as("oid"),
      st.point((col("id") % 20).cast("double"), floor(col("id") / 20).cast("double")).as("og"))
    val o = lattice
      .union(lattice.filter(col("oid") % 37 === 0))
      .union(spark.range(1).select(lit(1000L).as("oid"), nullGeom.as("og")))
      .union(spark.range(1).select(lit(1001L).as("oid"), wkt("POINT EMPTY").as("og")))
      .union(spark.range(1).select(lit(1002L).as("oid"),
        st.makeEnvelope(lit(-1.0), lit(-1.0), lit(20.0), lit(20.0)).as("og")))
    val onLattice = spark.range(40).select(col("id").as("qid"), st.point(
      (col("id") * 7 % 23).cast("double") - 1.0 + (col("id") % 2) * 0.5,
      (col("id") * 3 % 23).cast("double") - 1.0 + (col("id") % 3 === 0).cast("double") * 0.5)
      .as("qg"))
    val q = onLattice
      .union(onLattice.filter(col("qid") % 5 === 0))
      .union(spark.range(1).select(lit(100L).as("qid"), st.point(lit(-30.0), lit(5.0)).as("qg")))
      .union(spark.range(1).select(lit(101L).as("qid"), st.point(lit(50.0), lit(60.0)).as("qg")))
      .union(spark.range(1).select(lit(102L).as("qid"), nullGeom.as("qg")))
      .union(spark.range(1).select(lit(103L).as("qid"), wkt("POINT EMPTY").as("qg")))
    (q, o)
  }

  test("SQL KNN with large object side plans the partitioned grid path") {
    import org.apache.spark.sql.expressions.Window
    // unique coordinates + irrational offsets -> tie-free; the hint sends
    // the objects to the partitioned exec, which must return exactly the
    // broadcast exec's rows
    val q = points(60, 81).select(col("pid").as("qid"),
      st.f("st_translate", col("pgeom"), lit(1.0 / 3), lit(1.0 / 7)).as("qg"))
    val o = spark.range(3000).select(col("id").as("oid"),
      st.point(col("id") % 55 * 1.83 + col("id") * 1e-5,
        col("id") % 47 * 2.17 + col("id") * 1e-5).as("og"))
    q.createOrReplaceTempView("knngrid_q")
    o.createOrReplaceTempView("knngrid_o")
    def sql(hint: String) =
      s"SELECT $hint qid, oid FROM knngrid_q JOIN knngrid_o ON st_knn(qg, og, 4)"
    val partitioned = knnRows(spark.sql(sql("/*+ SHUFFLE_HASH(knngrid_o) */")), "partitioned")
    assert(partitioned == knnRows(spark.sql(sql("")), "broadcast"))
    val w = Window.partitionBy("qid").orderBy(col("d"))
    assert(partitioned == sortedRows(q.crossJoin(o)
      .withColumn("d", st.distance(col("qg"), col("og")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4).select("qid", "oid")))
    // planted lattice: SQL st_knn breaks exact-distance ties on the
    // object WKB, then on the object row
    val (pq, po) = plantedPlanar()
    pq.createOrReplaceTempView("knnlat_q")
    po.createOrReplaceTempView("knnlat_o")
    def latSql(hint: String) =
      s"SELECT $hint qid, oid FROM knnlat_q JOIN knnlat_o ON st_knn(qg, og, 6)"
    val latPartitioned = knnRows(spark.sql(latSql("/*+ SHUFFLE_HASH(knnlat_o) */")), "partitioned")
    assert(latPartitioned == knnRows(spark.sql(latSql("")), "broadcast"))
    val wkb = Window.partitionBy("qrow").orderBy(col("d"), col("og"))
    def valid(g: String) = col(g).isNotNull && !st.f("st_isempty", col(g))
    assert(latPartitioned == sortedRows(spark.table("knnlat_q").filter(valid("qg"))
      .withColumn("qrow", monotonically_increasing_id()).crossJoin(spark.table("knnlat_o").filter(valid("og")))
      .withColumn("d", st.distance(col("qg"), col("og")))
      .withColumn("rk", row_number().over(wkb)).filter(col("rk") <= 6).select("qid", "oid")))
  }

  test("partitioned grid KNN ≡ brute force, including sparse-cell fallback") {
    val q = points(60, 41).select(col("pid").as("qid"), col("pgeom").as("qg"))
    // clustered objects: most leaves far from most queries
    val o = spark.range(150).select(col("id").as("oid"),
      st.point(pmod(hash(col("id") + 5), lit(200)) / 10.0 + 40.0,
        pmod(hash(col("id") * 13 + 5), lit(200)) / 10.0 + 40.0).as("og"))
    assertKnnPaths(q, o, 4)
    // planted: lattice ties, duplicate rows, null and empty geometries,
    // a box over every leaf, queries outside the extent; k > object count
    val (pq, po) = plantedPlanar()
    assertKnnPaths(pq, po, 6)
    assertKnnPaths(pq, po.filter(col("oid") < 3), 5)
  }

  test("planar grid KNN: isolated queries take the mixed cover, stay exact") {
    import spark.implicits._
    // objects clustered in one corner of a large extent; 30% of queries
    // isolated far away — their round-1 leaf holds few objects, so their
    // radius spans most of the plane
    val rnd = new java.util.Random(23)
    val o = (0 until 300).map { i =>
      (i.toLong, rnd.nextDouble() * 60, rnd.nextDouble() * 60)
    }.toDF("oid", "ox", "oy")
      .select(col("oid"), st.point(col("ox"), col("oy")).as("og"))
    val q = (0 until 40).map { i =>
      if (i % 10 < 3) (i.toLong, 1500.0 + rnd.nextDouble() * 400, 700.0 + rnd.nextDouble() * 200)
      else (i.toLong, rnd.nextDouble() * 55, rnd.nextDouble() * 55)
    }.toDF("qid", "qx", "qy")
      .select(col("qid"), st.point(col("qx"), col("qy")).as("qg"))
    assertKnnPaths(q, o, 5)
  }

  /** Planted sphere KNN inputs: an integer lon/lat lattice (exact
    * great-circle ties) with duplicate rows, boxes along both sides of
    * the antimeridian and around both poles, a null and an empty
    * geometry; queries on the lattice, across the antimeridian from the
    * boxes, at the poles, null and empty. */
  private def plantedSphere(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val lattice = spark.range(121).select(col("id").as("oid"),
      st.point((col("id") % 11 - 5).cast("double"), (floor(col("id") / 11) - 5).cast("double"))
        .as("og"))
    val boxes = Seq(
      (500L, 178.5, -10.0, 179.5, -8.0), (501L, 176.0, 20.0, 179.9, 21.0),
      (502L, -179.6, 5.0, -178.8, 6.0), (503L, -180.0, -40.0, -177.0, -39.0),
      (504L, -10.0, 88.0, 10.0, 89.5), (505L, -180.0, 85.0, 180.0, 90.0),
      (506L, 100.0, -89.0, 140.0, -87.5), (507L, 170.0, -60.0, 179.0, -55.0))
      .toDF("oid", "x0", "y0", "x1", "y1")
      .select(col("oid"), st.makeEnvelope(col("x0"), col("y0"), col("x1"), col("y1")).as("og"))
    val o = lattice
      .union(lattice.filter(col("oid") % 17 === 0))
      .union(boxes)
      .union(spark.range(1).select(lit(600L).as("oid"), nullGeom.as("og")))
      .union(spark.range(1).select(lit(601L).as("oid"), wkt("POINT EMPTY").as("og")))
    val q = Seq((1L, 0.0, 0.0), (2L, 2.0, -3.0), (3L, -4.0, 4.0), (4L, 0.5, 0.5),
        (5L, -179.9, -9.0), (6L, -179.5, 20.5), (7L, 179.9, 5.5), (8L, 178.0, -39.5),
        (9L, 30.0, 89.9), (10L, -150.0, 86.0), (11L, 120.0, -89.9), (12L, -175.0, -57.0),
        (13L, 90.0, 0.0))
      .toDF("qid", "qx", "qy")
      .select(col("qid"), st.point(col("qx"), col("qy")).as("qg"))
    val withDup = q.union(q.filter(col("qid") % 4 === 0))
      .union(spark.range(1).select(lit(50L).as("qid"), nullGeom.as("qg")))
      .union(spark.range(1).select(lit(51L).as("qid"), wkt("POINT EMPTY").as("qg")))
    (withDup, o)
  }

  test("spheroid grid KNN ≡ brute-force geodesic rank incl. dateline + pole") {
    import spark.implicits._
    // same adversarial shape as the chord kd test: global spread with
    // antimeridian and pole clusters — the partitioned exec must not lose
    // candidates at the wrap or the caps
    val rnd = new java.util.Random(13)
    val objPts = (0 until 400).map { i =>
      if (i % 10 == 0) (i.toLong, 179.5 + rnd.nextDouble(), -60 + rnd.nextInt(120) * 1.0)
      else if (i % 17 == 0) (i.toLong, rnd.nextDouble() * 360 - 180, 89.0 + rnd.nextDouble())
      else (i.toLong, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
    }
    val queries = Seq((1L, -179.9, 0.0), (2L, 0.0, 89.9),
      (3L, 12.5, 48.1), (4L, 179.95, -45.0), (5L, -20.0, -89.7))
    // 179.5 + u can pass 180: wrap it back into [-180, 180)
    val o = objPts.toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(when(col("olon") >= 180.0, col("olon") - 360.0)
        .otherwise(col("olon")), col("olat")).as("og"))
    val q = queries.toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qg"))
    assertKnnPaths(q, o, 7, spheroid = true)
    // planted: lattice ties, duplicates, boxes across the antimeridian
    // and at the poles, null and empty geometries
    val (pq, po) = plantedSphere()
    assertKnnPaths(pq, po, 5, spheroid = true)
  }

  test("spheroid grid KNN: sparse neighbourhood falls back to the global cover") {
    import spark.implicits._
    // 3 objects on the whole globe, k=2: every query's round-1 leaf holds
    // fewer than k objects, so round 2 probes every leaf
    val o = Seq((1L, 10.0, 10.0), (2L, -120.0, 45.0), (3L, 100.0, -60.0))
      .toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("og"))
    val q = Seq((1L, -170.0, -5.0), (2L, 60.0, 80.0)).toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qg"))
    assertKnnPaths(q, o, 2, spheroid = true)
    // k > object count: every query gets all three
    assertKnnPaths(q, o, 5, spheroid = true)
  }

  test("spheroid grid KNN: isolated queries stay exact") {
    import spark.implicits._
    // sparse/clustered workload: 70% of queries sit inside the object
    // cluster, 30% are isolated (nearest object > 2000 km — mid-ocean
    // sensors vs coastal assets). The isolated tail gets a wide round-1
    // radius, and the result must still be the exact geodesic top-k.
    val rnd = new java.util.Random(41)
    val o = (0 until 300).map { i => // objects clustered in a ~15° patch
      (i.toLong, -5.0 + rnd.nextDouble() * 15, 40.0 + rnd.nextDouble() * 15)
    }.toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("og"))
    val q = (0 until 40).map { i =>
      if (i % 10 < 3) (i.toLong, -150.0 + rnd.nextDouble() * 40, -40.0 + rnd.nextDouble() * 30)
      else (i.toLong, -4.0 + rnd.nextDouble() * 13, 41.0 + rnd.nextDouble() * 13)
    }.toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qg"))
    assertKnnPaths(q, o, 5, spheroid = true)
  }

  test("sphere grid KNN plans no BNLJ or cartesian product") {
    import spark.implicits._
    // 3 objects on the whole globe: every query's radius spans nearly the
    // whole globe, and the plan must still hold no BroadcastNestedLoopJoin
    // or CartesianProduct, which the plan audit forbids (knnRows asserts)
    val o = Seq((1L, 10.0, 10.0), (2L, -120.0, 45.0), (3L, 100.0, -60.0))
      .toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("og"))
    val q = Seq((1L, -170.0, -5.0), (2L, 60.0, 80.0)).toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qg"))
    assertKnnPaths(q, o, 2, spheroid = true)
  }

  test("spheroid grid KNN: coarse-level cover wraps the antimeridian") {
    import spark.implicits._
    // isolated queries just WEST of the dateline; the object cluster sits
    // ~3500 km EAST of it (across the wrap): their radius and probe bound
    // must wrap the antimeridian
    val rnd = new java.util.Random(7)
    val o = (0 until 250).map { i =>
      (i.toLong, -168.0 + rnd.nextDouble() * 12, -50.0 + rnd.nextDouble() * 20)
    }.toDF("oid", "olon", "olat")
      .select(col("oid"), st.point(col("olon"), col("olat")).as("og"))
    val q = (0 until 12).map { i =>
      (i.toLong, 168.0 + rnd.nextDouble() * 11, -45.0 + rnd.nextDouble() * 10)
    }.toDF("qid", "qlon", "qlat")
      .select(col("qid"), st.point(col("qlon"), col("qlat")).as("qg"))
    assertKnnPaths(q, o, 4, spheroid = true)
  }

  test("SQL spheroid KNN with large object side plans the geodesic grid path") {
    import org.apache.spark.sql.expressions.Window
    // tie-free coordinates (per-key epsilons): the partitioned exec must
    // return exactly the broadcast chord-kd path's rows
    val q = spark.range(40).select(col("id").as("qid"),
      st.point(col("id") % 340 / 2.0 - 85.0 + 1.0 / 3,
        col("id") % 160 / 2.0 - 40.0 + 1.0 / 7).as("qg"))
    val o = spark.range(2500).select(col("id").as("oid"),
      st.point(col("id") % 680 / 4.0 - 85.0 + col("id") * 1e-6,
        col("id") % 320 / 4.0 - 40.0 + col("id") * 1e-6).as("og"))
    q.createOrReplaceTempView("sphgrid_q")
    o.createOrReplaceTempView("sphgrid_o")
    def sql(hint: String) =
      s"SELECT $hint qid, oid FROM sphgrid_q JOIN sphgrid_o ON st_knn(qg, og, 3, true)"
    val partitioned = knnRows(spark.sql(sql("/*+ SHUFFLE_HASH(sphgrid_o) */")), "partitioned")
    assert(partitioned == knnRows(spark.sql(sql("")), "broadcast"))
    val w = Window.partitionBy("qid").orderBy(col("d"))
    assert(partitioned == sortedRows(q.crossJoin(o)
      .withColumn("d", st.f("st_distancesphere", col("qg"), col("og")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3).select("qid", "oid")))
  }

  test("knn join: exactly k per query, ranked by distance") {
    val q = points(50, 23).withColumnRenamed("pid", "qid").withColumnRenamed("pgeom", "qgeom")
    val o = points(200, 29)
    val r = SpatialJoins.knnJoin(q, o, col("qgeom"), col("pgeom"), 4, col("pid"))
    assert(r.groupBy("qid").count().filter(col("count") =!= 4).count() == 0)
    // rank ordering consistent with distance
    val bad = r.as("a").join(r.as("b"),
      col("a.qid") === col("b.qid") && (col("a.knn_rank") < col("b.knn_rank"))
        && (col("a.knn_distance") > col("b.knn_distance")))
    assert(bad.count() == 0)
    // matches brute force top-k
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("d"), col("pid"))
    val brute = q.crossJoin(o)
      .withColumn("d", st.distance(col("qgeom"), col("pgeom")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .select("qid", "pid")
    assert(sortedRows(r.select("qid", "pid")) == sortedRows(brute))
  }

  test("spherical rect bounder: geodesic latitude bulge covered, join stays exact") {
    import graft.functions.Spherical
    // sampled geodesic always inside the bound, for a spread of edges
    val edges = Seq((-60.0, 60.0, 60.0, 60.0), (-40.0, -70.0, 50.0, -65.0),
      (10.0, 0.0, 80.0, 45.0), (-120.0, 55.0, -30.0, 55.0), (0.0, 10.0, 0.1, 80.0))
    for ((lo1, la1, lo2, la2) <- edges) {
      val g = graft.geom.GeomIO.readWkt(s"LINESTRING ($lo1 $la1, $lo2 $la2)")
      val env = Spherical.latLngBound(g)
      var f = 0.0
      while (f <= 1.0) {
        val (lon, lat) = Spherical.slerp(lo1, la1, lo2, la2, f)
        assert(lat <= env.getMaxY + 1e-9 && lat >= env.getMinY - 1e-9,
          s"($lo1 $la1)-($lo2 $la2) at f=$f: lat $lat outside $env")
        f += 0.01
      }
    }
    // the east-west 60N edge bulges to ~69.4N — chart envelope misses it
    val bulged = Spherical.latLngBound(
      graft.geom.GeomIO.readWkt("LINESTRING (-60 60, 60 60)"))
    assert(bulged.getMaxY > 69.0, s"bulge missing: $bulged")
    // join correctness: high-lat edge geometries near the bulge apex must
    // pair with points there even though chart envelopes are disjoint
    val lines = spark.sql(
      "SELECT * FROM VALUES (0L, st_geomfromwkt('LINESTRING (-60 60, 60 60)')) AS t(lid, lg)")
    val pts = spark.sql("SELECT * FROM VALUES (0L, st_point(0.0D, 73.5D)) AS t(pid, pg)")
    val j = lines.hint("shuffle_hash").join(pts.hint("shuffle_hash"),
      st.f("st_dwithinsphere", col("lg"), col("pg"), lit(100000.0)))
    assert(partitionedRows(j).size == 1, "bulge-apex pair lost by the partitioned join")
  }

  test("geography intersects: predicate semantics + sphere intersects join") {
    // reference geography predicate pins (test_geog_predicates.py):
    // point/polygon membership judged on geodesic edges
    def b(expr: String): Any =
      spark.sql(s"SELECT $expr").collect()(0).get(0)
    def g(w: String) = s"st_geomfromwkt('$w')"
    assert(b(s"st_intersectssphere(${g("POLYGON ((0 0, 2 0, 0 2, 0 0))")}, " +
      s"${g("POINT (0.25 0.25)")})") == true)
    assert(b(s"st_intersectssphere(${g("POLYGON ((0 0, 2 0, 0 2, 0 0))")}, " +
      s"${g("POINT (-30 -30)")})") == false)
    assert(b(s"st_intersectssphere(${g("POINT (0 0)")}, " +
      s"${g("POLYGON ((0 0, 2 0, 0 2, 0 0))")})") == true) // boundary point
    assert(b(s"st_intersectssphere(${g("LINESTRING (0.25 0.25, 3 3)")}, " +
      s"${g("POLYGON ((0 0, 2 0, 0 2, 0 0))")})") == true) // crossing line
    assert(b(s"st_intersectssphere(${g("LINESTRING (3 3, 4 4)")}, " +
      s"${g("POLYGON ((0 0, 2 0, 0 2, 0 0))")})") == false)
    assert(b(s"st_intersectssphere(${g("POINT EMPTY")}, ${g("POINT (0 0)")})") == false)
    assert(b(s"st_intersectssphere(NULL, ${g("POINT (0 0)")})") == null)
    // the geodesic-vs-chart case: a long 60N edge passes ~74N at lon 0;
    // a chart segment test would say false
    assert(b(s"st_intersectssphere(${g("LINESTRING (-60 60, 60 60)")}, " +
      s"${g("LINESTRING (0 60, 0 80)")})") == true)

    // join: the partitioned index join == brute-force over the predicate.
    // The two polar caps are full-ring bounds (every leaf in their
    // latitude band); the dateline quad's bound wraps mod 360.
    val caps = spark.sql("""SELECT aid, st_geomfromwkt(w) AS ag FROM VALUES
      (1000L, 'POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, -150 71, -120 71, -90 71, -60 71, -30 71, 0 71))'),
      (1001L, 'POLYGON ((0 -71, 30 -71, 60 -71, 90 -71, 120 -71, 150 -71, 180 -71, -150 -71, -120 -71, -90 -71, -60 -71, -30 -71, 0 -71))'),
      (1002L, 'POLYGON ((175 -20, -175 -20, -175 20, 175 20, 175 -20))')
      AS t(aid, w)""")
    val polys = spark.range(40).selectExpr("id AS aid",
      """st_makeenvelope(CAST(pmod(hash(id), 300) AS DOUBLE) - 150.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 60.0,
         CAST(pmod(hash(id), 300) AS DOUBLE) - 145.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 55.0) AS ag""")
      .unionAll(caps)
    val pts = spark.range(300).selectExpr("id AS bid",
      """st_point(CAST(pmod(hash(id*3), 340) AS DOUBLE) - 170.0,
         CAST(pmod(hash(id*11), 160) AS DOUBLE) - 80.0) AS bg""")
    val j = polys.hint("shuffle_hash").join(pts.hint("shuffle_hash"),
      st.f("st_intersectssphere", col("ag"), col("bg"))).select("aid", "bid")
    assert(j.queryExecution.executedPlan.toString.contains("PartitionedIndexSpatialJoin"))
    val ref = polys.crossJoin(pts)
      .filter(st.f("st_intersectssphere", col("ag"), col("bg")))
      .select("aid", "bid")
    assert(sortedRows(j) == sortedRows(ref))
    assert(j.count() > 0)
  }
  test("dbscan: cores/borders/noise on a hand-verified fixture, deterministic ids") {
    import graft.functions.GraftFunctions.st
    import spark.implicits._
    // blob A (6 mutually-within-eps points), blob B (4 in a line, ends at
    // exactly eps), one border hanging off A, two isolated noise points
    val pts = Seq(
      (1L, 10.0, 10.0), (2L, 11.0, 10.0), (3L, 10.0, 11.0),
      (4L, 11.0, 11.0), (5L, 12.0, 10.0), (6L, 12.0, 11.0),
      (11L, 50.0, 50.0), (12L, 51.0, 50.0), (13L, 52.0, 50.0), (14L, 53.0, 50.0),
      (20L, 13.0, 13.0),
      (30L, 90.0, 90.0), (31L, 0.0, 99.0)
    ).toDF("pid", "x", "y").withColumn("pt", st.point(col("x"), col("y")))
    val out = graft.operators.Dbscan.dbscan(pts, col("pid"), col("pt"), eps = 3.0, minPts = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    for (i <- Seq(1L, 2L, 3L, 4L, 5L, 6L))
      assert(out(i) == ("core", 1L), s"$i: ${out(i)}")
    // B: endpoints sit at distance exactly eps from the far end -> the
    // <= boundary keeps all four core in one cluster
    for (i <- Seq(11L, 12L, 13L, 14L))
      assert(out(i) == ("core", 11L), s"$i: ${out(i)}")
    assert(out(20L) == ("border", 1L), s"20: ${out(20L)}")
    assert(out(30L) == ("noise", -1L) && out(31L) == ("noise", -1L))
    assert(out.size == 13)
  }

  test("dbscan: local finish ≡ distributed path on a dense random fixture") {
    import graft.functions.GraftFunctions.st
    // a few hundred points with mixed dense blobs and scattered noise;
    // spark.graft.dbscan.localLimit=0 forces the distributed plan on the
    // same input — outputs must be row-identical
    val pts = spark.range(400).select(col("id").as("pid"),
      st.point(
        (pmod(hash(col("id"), lit(1)), lit(400)).cast("double") / 4.0),
        (pmod(hash(col("id"), lit(2)), lit(300)).cast("double") / 4.0)).as("pt"))
    def run(): Seq[(Long, String, Long)] = graft.operators.Dbscan
      .dbscan(pts, col("pid"), col("pt"), eps = 4.0, minPts = 4)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val local = run()
    spark.conf.set("spark.graft.dbscan.localLimit", "0")
    val dist = try run()
      finally spark.conf.unset("spark.graft.dbscan.localLimit")
    assert(local.nonEmpty && local.exists(_._2 == "core"))
    assert(local.exists(_._2 == "border") || local.exists(_._2 == "noise"))
    assert(local == dist, "local finish diverged from the distributed plan")
  }
}
