package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Range joins and the range-join rewrites on plain SQL: the 1-D range
  * join planned on the index joins (a band, `SpatialPredicate.extractBand`)
  * and the decorrelated as-of aggregate (AsOfAggregateRule) keep exact
  * theta-join semantics and purge BNLJ/cartesian from the executed plan.
  * The range joins' oracle is the same query with
  * `spark.graft.join.band.enabled=false`, a BNLJ. */
class RangeJoinRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** `body` with range joins left to Spark's plan. */
  private def bandOff[T](body: => T): T = {
    spark.conf.set("spark.graft.join.band.enabled", "false")
    try body finally spark.conf.set("spark.graft.join.band.enabled", "true")
  }

  /** The plan runs the range join on the partitioned index join: no BNLJ,
    * no cartesian product, no cell explode. */
  private def assertPartitioned(p: String): Unit =
    assert(p.contains("PartitionedIndexSpatialJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("Generate"), p)

  private def events(n: Int) = spark.range(n).select(
    col("id").as("eid"),
    (pmod(hash(col("id"), lit(7)), lit(100000)).cast("long")).as("ts"))

  private def windows(n: Int) = spark.range(n).select(
    col("id").as("wid"),
    (pmod(hash(col("id"), lit(8)), lit(100000)).cast("long")).as("ws"))
    // ~1/8 of the windows are inverted (we > ws is violated): raw SQL
    // theta semantics must survive the rewrite for those rows too
    .withColumn("we", col("ws") +
      pmod(hash(col("wid"), lit(9)), lit(400)) - lit(48))

  test("banded rewrite: BETWEEN point-in-interval SQL ≡ reference, no BNLJ") {
    events(3000).createOrReplaceTempView("brj_ev")
    windows(600).createOrReplaceTempView("brj_win")
    val sql = "SELECT eid, wid FROM brj_ev JOIN brj_win " +
      "ON ts BETWEEN ws AND we"
    val (gotDf, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (df, df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(planString(gotDf))
    // reference: same SQL with range joins left to Spark (broadcast BNLJ
    // is fine at test scale)
    val expect = bandOff(spark.sql(sql).collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
  }

  test("banded rewrite: interval-overlap SQL incl. inverted rows and strict bound") {
    val l = spark.range(800).select(col("id").as("lid"),
      (pmod(hash(col("id"), lit(1)), lit(50000)).cast("long")).as("ls"))
      .withColumn("le", col("ls") + pmod(hash(col("lid"), lit(2)), lit(300)) - lit(20))
    val r = spark.range(800).select(col("id").as("rid"),
      (pmod(hash(col("id"), lit(3)), lit(50000)).cast("long")).as("rs"))
      .withColumn("re", col("rs") + pmod(hash(col("rid"), lit(4)), lit(300)) - lit(20))
    l.createOrReplaceTempView("brj_l")
    r.createOrReplaceTempView("brj_r")
    // one strict bound: stays in the refine, the span boxes still meet
    val sql = "SELECT lid, rid FROM brj_l JOIN brj_r " +
      "ON ls <= re AND rs < le"
    val (gotDf, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (df, df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(planString(gotDf))
    val expect = bandOff(l.join(r, col("ls") <= col("re") && col("rs") < col("le"))
      .select("lid", "rid").collect())
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
    assert(got.distinct.size == got.size, "reference-point dedup emits pairs once")
  }

  test("banded rewrite: LEFT OUTER range join keeps unmatched rows, no BNLJ") {
    events(1200).createOrReplaceTempView("brj_lo_ev")
    windows(80).createOrReplaceTempView("brj_lo_win")
    val sql = "SELECT eid, wid FROM brj_lo_ev LEFT JOIN brj_lo_win " +
      "ON ts BETWEEN ws AND we"
    val (gotDf, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (df, df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(planString(gotDf))
    val expect = bandOff(spark.sql(sql).collect()).map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(got == expect)
    assert(got.exists(_._2 == -1L) && got.exists(_._2 >= 0L),
      "fixture must exercise matched AND unmatched left rows")
    // a column name shared by both sides (`id`), against the rule-off run
    events(1200).withColumnRenamed("eid", "id").createOrReplaceTempView("brj_lo_ev2")
    windows(80).withColumnRenamed("wid", "id").createOrReplaceTempView("brj_lo_win2")
    val shared = "SELECT e.id, w.id FROM brj_lo_ev2 e LEFT JOIN brj_lo_win2 w " +
      "ON ts BETWEEN ws AND we"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    CacheRegistry.releaseAll() // count from zero
    val gotShared = withBroadcastOff {
      val df = spark.sql(shared)
      assertPartitioned(planString(df))
      df.collect().map(key).sorted.toSeq
    }
    // the release runs on the listener bus, after collect() returns
    val deadline = System.nanoTime() + 10000000000L
    while (CacheRegistry.pinnedCount > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(CacheRegistry.pinnedCount == 0, "a range join pins no cache")
    val expectShared = bandOff(spark.sql(shared).collect()).map(key).sorted.toSeq
    assert(gotShared == expectShared && gotShared == got)
  }

  test("banded rewrite fires under broadcast when no side is tiny") {
    // a broadcast BNLJ is quadratic in the pair count even when one side
    // "fits broadcast": with broadcast on, the side that fits builds the
    // broadcast index join, large or tiny
    val big1 = events(20000)
    val big2 = windows(12000)
    val joined = big1.join(big2,
      col("ts") >= col("ws") && col("ts") <= col("we"))
    val p = planString(joined)
    assert(p.contains("BroadcastIndexSpatialJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("Generate"),
      s"sides that fit broadcast plan the broadcast index join:\n$p")
    val tiny = windows(500)
    val pt = planString(big1.join(tiny,
      col("ts") >= col("ws") && col("ts") <= col("we")))
    assert(pt.contains("BroadcastIndexSpatialJoin") && !pt.contains("BroadcastNestedLoopJoin"),
      s"a tiny side builds the broadcast index join:\n$pt")
    // correctness under broadcast vs the BNLJ reference
    val got = joined.select("eid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = bandOff(big1.join(big2,
        col("ts") >= col("ws") && col("ts") <= col("we"))
      .select("eid", "wid").collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
  }

  test("as-of aggregate rewrite: STRICT bound (<) sweeps on d-1, exact") {
    val l = spark.range(600).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(31)), lit(20)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(32)), lit(100)).cast("long") * 10L).as("lts"))
    val r = spark.range(600).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(33)), lit(20)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(34)), lit(100)).cast("long") * 10L).as("rts"))
    l.createOrReplaceTempView("asr_sl")
    r.createOrReplaceTempView("asr_sr")
    // coarse times guarantee plenty of EXACT ties where < and <= differ
    val sql = """
      SELECT l.lid, r.rid FROM asr_sl l JOIN asr_sr r ON l.k = r.k
      WHERE r.rts = (SELECT max(r2.rts) FROM asr_sr r2
                     WHERE r2.k = l.k AND r2.rts < l.lts)"""
    val df = spark.sql(sql)
    assert(planString(df).contains("AsOfJoin"),
      "strict as-of shape must route through the as-of join")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(got.nonEmpty && got == expect)
  }

  test("as-of aggregate rewrite: WHERE max-subquery idiom ≡ rule-off run") {
    val l = spark.range(1500).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(11)), lit(30)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(12)), lit(200)).cast("long") * 10L).as("lts"))
    val r = spark.range(1500).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(13)), lit(30)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(14)), lit(200)).cast("long") * 10L).as("rts"))
    l.createOrReplaceTempView("asr_l")
    r.createOrReplaceTempView("asr_r")
    val sql = """
      SELECT l.lid, l.k, l.lts, r.rid, r.rts
      FROM asr_l l JOIN asr_r r ON l.k = r.k
      WHERE r.rts = (SELECT max(r2.rts) FROM asr_r r2
                     WHERE r2.k = l.k AND r2.rts <= l.lts)"""
    val df = spark.sql(sql)
    val p = planString(df)
    assert(p.contains("AsOfJoin"),
      s"the as-of join must replace the inequality join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no quadratic join may remain in the outer plan:\n$p")
    val got = df.collect()
      .map(x => (x.getLong(0), x.getLong(3))).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(3))).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(got.nonEmpty && got == expect)
  }

  test("as-of aggregate rewrite: tolerance idiom in its surface spellings") {
    // the natural production as-of carries a staleness bound:
    // WHERE r.ts = (SELECT max(ts) ... WHERE ts <= l.ts AND l.ts - ts <= tol)
    // — decorrelates to a two-conjunct inequality join whose second
    // conjunct maps onto the sweep's tolerance parameter
    val l = spark.range(800).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(51)), lit(25)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(52)), lit(150)).cast("long") * 10L).as("lts"))
    val r = spark.range(800).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(53)), lit(25)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(54)), lit(150)).cast("long") * 10L).as("rts"))
    l.createOrReplaceTempView("asr_tl")
    r.createOrReplaceTempView("asr_tr")
    // tolerance 40 with 10-tick quantization: plenty of rows where the
    // latest-within-tolerance differs from the unconditional latest
    for (tolPred <- Seq("l.lts - r2.rts <= 40", "r2.rts >= l.lts - 40",
        "l.lts - r2.rts < 40")) {
      val sql = s"""
        SELECT l.lid, r.rid FROM asr_tl l JOIN asr_tr r ON l.k = r.k
        WHERE r.rts = (SELECT max(r2.rts) FROM asr_tr r2
                       WHERE r2.k = l.k AND r2.rts <= l.lts AND $tolPred)"""
      val df = spark.sql(sql)
      assert(planString(df).contains("AsOfJoin"),
        s"tolerance shape '$tolPred' must route through the as-of join")
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      spark.conf.set("spark.graft.join.asof.enabled", "false")
      val expect = try spark.sql(sql).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      finally spark.conf.set("spark.graft.join.asof.enabled", "true")
      assert(got.nonEmpty && got == expect, s"tolerance spelling '$tolPred'")
    }
  }

  test("as-of aggregate rewrite: null keys form a SQL group (struct-key path)") {
    // GROUP BY treats null keys as one group; the rewrite carries the
    // key as a struct so the sweep's null-key drop contract cannot eat
    // the group. Observed on the raw aggregate shape (no outer equi-join
    // to mask it).
    val l = spark.range(200).select(
      (pmod(hash(col("id"), lit(41)), lit(50)).cast("long") * 4L).as("lts"))
    val r = spark.range(300).select(col("id").as("rid"),
      when(col("id") % 5 === 0, lit(null).cast("long"))
        .otherwise(pmod(hash(col("id"), lit(43)), lit(8)).cast("long")).as("k"),
      (pmod(hash(col("id"), lit(44)), lit(50)).cast("long") * 4L).as("rts"))
    l.createOrReplaceTempView("asr_nl")
    r.createOrReplaceTempView("asr_nr")
    val sql = """
      SELECT d.lts, r.k, max(r.rts) AS m
      FROM (SELECT DISTINCT lts FROM asr_nl) d JOIN asr_nr r
      ON r.rts <= d.lts GROUP BY d.lts, r.k"""
    val df = spark.sql(sql)
    assert(planString(df).contains("AsOfJoin"), "shape must route through the as-of join")
    def key(x: org.apache.spark.sql.Row) =
      (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1), x.getLong(2))
    val got = df.collect().map(key).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect().map(key).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(got == expect)
    assert(got.exists(_._2 == -1L), "fixture must produce null-key groups")
  }

  test("banded rewrite differential fuzz: random ranges, strictness, inversions") {
    val rnd = new scala.util.Random(0xBEEF)
    for (it <- 0 until 8) {
      val span = 1000 + rnd.nextInt(50000)
      val maxLen = 1 + rnd.nextInt(800)
      val off = rnd.nextInt(2000) - 1000 // negative starts exercised
      val nl = 100 + rnd.nextInt(200)
      val nr = 100 + rnd.nextInt(200)
      val strictA = rnd.nextBoolean()
      val strictB = rnd.nextBoolean()
      val l = spark.range(nl).select(col("id").as("lid"),
        (pmod(hash(col("id"), lit(it * 7 + 1)), lit(span)).cast("long") + off).as("ls"))
        // ~1/6 inverted (le < ls): raw theta semantics must hold
        .withColumn("le", col("ls") +
          pmod(hash(col("lid"), lit(it * 7 + 2)), lit(maxLen)) - lit(maxLen / 6))
      val r = spark.range(nr).select(col("id").as("rid"),
        (pmod(hash(col("id"), lit(it * 7 + 3)), lit(span)).cast("long") + off).as("rs"))
        .withColumn("re", col("rs") +
          pmod(hash(col("rid"), lit(it * 7 + 4)), lit(maxLen)) - lit(maxLen / 6))
      l.createOrReplaceTempView("brj_fz_l")
      r.createOrReplaceTempView("brj_fz_r")
      val opA = if (strictA) "<" else "<="
      val opB = if (strictB) "<" else "<="
      // every third iteration also fuzzes the LEFT OUTER form against
      // Spark's own outer BNLJ
      val joinKind = if (it % 3 == 2) "LEFT JOIN" else "JOIN"
      val sql = s"SELECT lid, rid FROM brj_fz_l $joinKind brj_fz_r " +
        s"ON ls $opA re AND rs $opB le"
      def key(x: org.apache.spark.sql.Row) =
        (x.getLong(0), if (x.isNullAt(1)) Long.MinValue else x.getLong(1))
      val got = withBroadcastOff {
        val df = spark.sql(sql)
        assertPartitioned(planString(df))
        df.collect().map(key).sorted.toSeq
      }
      val expect = bandOff(spark.sql(sql).collect()).map(key).sorted.toSeq
      assert(got == expect, s"iter $it ($joinKind): ${got.size} vs ${expect.size} pairs")
    }
  }

  test("as-of aggregate rewrite: TIMESTAMP and DATE time columns") {
    // the natural production as-of is over TIMESTAMP — the sweep runs in
    // long space via unix_micros/unix_date and converts the extremum back
    // losslessly (never SQL CAST, whose long<->timestamp unit is seconds)
    val l = spark.range(500).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(61)), lit(15)).cast("long").as("k"),
      timestamp_micros(pmod(hash(col("id"), lit(62)), lit(500)).cast("long")
        * 1000001L).as("lts"))
    val r = spark.range(500).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(63)), lit(15)).cast("long").as("k"),
      timestamp_micros(pmod(hash(col("id"), lit(64)), lit(500)).cast("long")
        * 1000001L).as("rts"))
    l.createOrReplaceTempView("asr_ts_l")
    r.createOrReplaceTempView("asr_ts_r")
    val sql = """
      SELECT l.lid, r.rid, unix_micros(r.rts) AS m
      FROM asr_ts_l l JOIN asr_ts_r r ON l.k = r.k
      WHERE r.rts = (SELECT max(r2.rts) FROM asr_ts_r r2
                     WHERE r2.k = l.k AND r2.rts <= l.lts)"""
    val df = spark.sql(sql)
    assert(planString(df).contains("AsOfJoin"),
      "timestamp as-of shape must route through the as-of join")
    def row3(x: org.apache.spark.sql.Row) = (x.getLong(0), x.getLong(1), x.getLong(2))
    val got = df.collect().map(row3).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect().map(row3).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(got.nonEmpty && got == expect)

    // DATE columns sweep on unix_date days; strict (<) shifts a day
    val dl = spark.range(300).select(col("id").as("lid"),
      date_from_unix_date(pmod(hash(col("id"), lit(65)), lit(400))
        .cast("int")).as("ld"))
    val dr = spark.range(300).select(col("id").as("rid"),
      date_from_unix_date(pmod(hash(col("id"), lit(66)), lit(400))
        .cast("int")).as("rd"))
    dl.createOrReplaceTempView("asr_dt_l")
    dr.createOrReplaceTempView("asr_dt_r")
    val dsql = """
      SELECT d.ld, min(r.rd) AS nxt
      FROM (SELECT DISTINCT ld FROM asr_dt_l) d JOIN asr_dt_r r
      ON r.rd > d.ld GROUP BY d.ld"""
    val ddf = spark.sql(dsql)
    assert(planString(ddf).contains("AsOfJoin"),
      "date as-of shape must route through the as-of join")
    def row2(x: org.apache.spark.sql.Row) =
      (x.getDate(0).toString, x.getDate(1).toString)
    val dgot = ddf.collect().map(row2).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val dexpect = try spark.sql(dsql).collect().map(row2).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(dgot.nonEmpty && dgot == dexpect)
  }

  test("as-of aggregate rewrite: TIMESTAMP tolerance via INTERVAL literals") {
    // second-aligned times so `<= INTERVAL '40' SECOND` has exact ties
    // and the strict (<) spelling provably differs
    val l = spark.range(600).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(71)), lit(12)).cast("long").as("k"),
      timestamp_micros(pmod(hash(col("id"), lit(72)), lit(120)).cast("long")
        * 10000000L).as("lts"))
    val r = spark.range(600).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(73)), lit(12)).cast("long").as("k"),
      timestamp_micros(pmod(hash(col("id"), lit(74)), lit(120)).cast("long")
        * 10000000L).as("rts"))
    l.createOrReplaceTempView("asr_it_l")
    r.createOrReplaceTempView("asr_it_r")
    for (tolPred <- Seq("l.lts - r2.rts <= INTERVAL '40' SECOND",
        "l.lts - r2.rts < INTERVAL '40' SECOND",
        "INTERVAL '40' SECOND >= l.lts - r2.rts")) {
      val sql = s"""
        SELECT l.lid, r.rid FROM asr_it_l l JOIN asr_it_r r ON l.k = r.k
        WHERE r.rts = (SELECT max(r2.rts) FROM asr_it_r r2
                       WHERE r2.k = l.k AND r2.rts <= l.lts AND $tolPred)"""
      val df = spark.sql(sql)
      assert(planString(df).contains("AsOfJoin"),
        s"interval tolerance '$tolPred' must route through the as-of join")
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      spark.conf.set("spark.graft.join.asof.enabled", "false")
      val expect = try spark.sql(sql).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      finally spark.conf.set("spark.graft.join.asof.enabled", "true")
      assert(got.nonEmpty && got == expect, s"interval spelling '$tolPred'")
    }
    // the strict and non-strict spellings really differ on this fixture
    def run(p: String): Long = spark.sql(s"""
      SELECT count(*) AS n FROM (
        SELECT l.lid, r.rid FROM asr_it_l l JOIN asr_it_r r ON l.k = r.k
        WHERE r.rts = (SELECT max(r2.rts) FROM asr_it_r r2
                       WHERE r2.k = l.k AND r2.rts <= l.lts AND $p))""")
      .head.getLong(0)
    assert(run("l.lts - r2.rts <= INTERVAL '40' SECOND") !=
      run("l.lts - r2.rts < INTERVAL '40' SECOND"),
      "fixture must distinguish strict from inclusive interval bounds")
  }

  test("as-of aggregate rewrite: DATE tolerance in its surface spellings") {
    // DATE staleness decorrelates through datediff/int arithmetic,
    // date_sub/date_add nodes, or SubtractDates vs interval literals —
    // all must map onto the sweep's unix_date day space
    val l = spark.range(500).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(81)), lit(10)).cast("long").as("k"),
      date_from_unix_date(pmod(hash(col("id"), lit(82)), lit(200))
        .cast("int")).as("ld"))
    val r = spark.range(500).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(83)), lit(10)).cast("long").as("k"),
      date_from_unix_date(pmod(hash(col("id"), lit(84)), lit(200))
        .cast("int")).as("rd"))
    l.createOrReplaceTempView("asr_dd_l")
    r.createOrReplaceTempView("asr_dd_r")
    for (tolPred <- Seq(
        "datediff(l.ld, r2.rd) <= 7",
        "datediff(l.ld, r2.rd) < 7",
        "7 >= datediff(l.ld, r2.rd)",
        "r2.rd >= l.ld - 7",
        "r2.rd >= date_sub(l.ld, 7)",
        "l.ld - r2.rd <= INTERVAL '7' DAY",
        // 36h floors to 1 day — exact because date diffs are whole days
        "l.ld - r2.rd <= INTERVAL '36' HOUR")) {
      val sql = s"""
        SELECT l.lid, r.rid FROM asr_dd_l l JOIN asr_dd_r r ON l.k = r.k
        WHERE r.rd = (SELECT max(r2.rd) FROM asr_dd_r r2
                      WHERE r2.k = l.k AND r2.rd <= l.ld AND $tolPred)"""
      val df = spark.sql(sql)
      assert(planString(df).contains("AsOfJoin"),
        s"DATE tolerance '$tolPred' must route through the as-of join")
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      spark.conf.set("spark.graft.join.asof.enabled", "false")
      val expect = try spark.sql(sql).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      finally spark.conf.set("spark.graft.join.asof.enabled", "true")
      assert(got.nonEmpty && got == expect, s"DATE spelling '$tolPred'")
    }
    // strict and inclusive datediff bounds really differ on this fixture
    def run(p: String): Long = spark.sql(s"""
      SELECT count(*) AS n FROM (
        SELECT l.lid, r.rid FROM asr_dd_l l JOIN asr_dd_r r ON l.k = r.k
        WHERE r.rd = (SELECT max(r2.rd) FROM asr_dd_r r2
                      WHERE r2.k = l.k AND r2.rd <= l.ld AND $p))""")
      .head.getLong(0)
    assert(run("datediff(l.ld, r2.rd) <= 7") != run("datediff(l.ld, r2.rd) < 7"),
      "fixture must distinguish strict from inclusive day bounds")
  }

  test("as-of aggregate rewrite: forward (min/>=) direction and no-key shape") {
    val l = spark.range(400).select(col("id").as("lid"),
      (pmod(hash(col("id"), lit(21)), lit(5000)).cast("long")).as("lts"))
    val r = spark.range(400).select(col("id").as("rid"),
      (pmod(hash(col("id"), lit(22)), lit(5000)).cast("long")).as("rts"))
    l.createOrReplaceTempView("asr_fl")
    r.createOrReplaceTempView("asr_fr")
    // keyless forward: earliest rts at-or-after each distinct lts
    val sql = """
      SELECT lts, min(rts) AS nxt
      FROM (SELECT DISTINCT lts FROM asr_fl) d JOIN asr_fr
      ON rts >= lts GROUP BY lts"""
    val df = spark.sql(sql)
    assert(planString(df).contains("AsOfJoin"),
      "forward shape must route through the as-of join")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(got.nonEmpty && got == expect)
  }

  test("banded rewrite declines TIMESTAMP_NTZ (no BIGINT cast exists) but SQL still runs") {
    // TIMESTAMP_NTZ is not a bandable type: the span reader does not read
    // it, so the join keeps Spark's plan and must still run.
    val l = spark.range(40).select(col("id").as("lid"),
      timestamp_seconds(col("id") * 60).cast("timestamp_ntz").as("lts"))
    val r = spark.range(20).select(col("id").as("rid"),
      timestamp_seconds(col("id") * 120).cast("timestamp_ntz").as("rs"))
      .withColumn("re", col("rs") + expr("INTERVAL 3 MINUTES"))
    l.createOrReplaceTempView("brj_ntz_l")
    r.createOrReplaceTempView("brj_ntz_r")
    val sql = "SELECT lid, rid FROM brj_ntz_l JOIN brj_ntz_r " +
      "ON lts >= rs AND lts <= re"
    // must not throw (execution included), with or without broadcast
    val got = withBroadcastOff {
      spark.sql(sql).collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    }
    val expect = spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
  }

  test("banded rewrite declines DECIMAL(precision > 18): overflow-to-null would drop rows") {
    // bandable() keeps decimals of at most 18 digits: a wider decimal keeps
    // Spark's plan, and its rows must all survive.
    val big = BigDecimal("92233720368547758080000") // > Long.MaxValue
    val l = spark.range(30).select(col("id").as("lid"),
      (col("id").cast("decimal(38,0)") * lit(1000) + lit(big)).as("lv"))
    val r = spark.range(10).select(col("id").as("rid"),
      (col("id").cast("decimal(38,0)") * lit(3000) + lit(big)).as("rs"))
      .withColumn("re", col("rs") + lit(2500))
    l.createOrReplaceTempView("brj_dec_l")
    r.createOrReplaceTempView("brj_dec_r")
    val sql = "SELECT lid, rid FROM brj_dec_l JOIN brj_dec_r " +
      "ON lv >= rs AND lv <= re"
    val got = withBroadcastOff {
      spark.sql(sql).collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    }
    val expect = spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
    // and a decimal of 18 digits plans the range join
    val l18 = spark.range(200).select(col("id").as("lid"),
      (pmod(hash(col("id"), lit(5)), lit(9000)).cast("decimal(18,0)")).as("lv"))
    val r18 = spark.range(100).select(col("id").as("rid"),
      (pmod(hash(col("id"), lit(6)), lit(9000)).cast("decimal(18,0)")).as("rs"))
      // decimal + literal widens to precision 19 — cast back so the
      // bound expression itself stays bandable
      .withColumn("re", (col("rs") + lit(BigDecimal(40))).cast("decimal(18,0)"))
    l18.createOrReplaceTempView("brj_d18_l")
    r18.createOrReplaceTempView("brj_d18_r")
    val sql18 = "SELECT lid, rid FROM brj_d18_l JOIN brj_d18_r " +
      "ON lv >= rs AND lv <= re"
    withBroadcastOff {
      val df = spark.sql(sql18)
      assertPartitioned(planString(df))
      assert(df.collect().nonEmpty)
    }
  }

  test("as-of domain pruning: unmatchable keys drop before the sweep, results exact") {
    // 40 keys, but only keys 0..3 have any rts at or below the lts range:
    // the domain product is 40x the live one, and the per-key min(v)
    // bound must prune the dead 90% without changing results. Mixed
    // strict/tolerance spellings keep the pruning honest under the d-1
    // sweep shift.
    val l = spark.range(500).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(41)), lit(40)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(42)), lit(100)).cast("long") * 10L).as("lts"))
    // keys >= 4 start 1e6 above every lts: min(rts) > max(lts) -> prunable
    val r = spark.range(500).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(43)), lit(40)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(44)), lit(100)).cast("long") * 10L +
        when(pmod(hash(col("id"), lit(43)), lit(40)) >= 4, lit(1000000L))
          .otherwise(lit(0L))).as("rts"))
    l.createOrReplaceTempView("asr_pr_l")
    r.createOrReplaceTempView("asr_pr_r")
    for (bound <- Seq("r2.rts <= l.lts", "r2.rts < l.lts",
        "r2.rts <= l.lts AND l.lts - r2.rts <= 70")) {
      val sql = s"""
        SELECT l.lid, r.rid FROM asr_pr_l l JOIN asr_pr_r r ON l.k = r.k
        WHERE r.rts = (SELECT max(r2.rts) FROM asr_pr_r r2
                       WHERE r2.k = l.k AND $bound)"""
      val df = spark.sql(sql)
      assert(planString(df).contains("AsOfJoin"),
        s"rewrite must still fire with domain pruning ($bound)")
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      spark.conf.set("spark.graft.join.asof.enabled", "false")
      val expect = try spark.sql(sql).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      finally spark.conf.set("spark.graft.join.asof.enabled", "true")
      assert(got.nonEmpty && got == expect, s"pruned sweep diverged ($bound)")
      // the surviving keys really are only the live ones
      assert(spark.sql(sql).select("rid").distinct().collect().nonEmpty)
    }
    // forward/min mirror: keys >= 4 END 1e6 BELOW every lts -> max(rts)
    // < min(lts) prunes under the max-extremum bound
    val rf = spark.range(500).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(45)), lit(40)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(46)), lit(100)).cast("long") * 10L +
        when(pmod(hash(col("id"), lit(45)), lit(40)) >= 4, lit(-1000000L))
          .otherwise(lit(0L))).as("rts"))
    rf.createOrReplaceTempView("asr_pr_rf")
    val sqlF = """
      SELECT l.lid, r.rid FROM asr_pr_l l JOIN asr_pr_rf r ON l.k = r.k
      WHERE r.rts = (SELECT min(r2.rts) FROM asr_pr_rf r2
                     WHERE r2.k = l.k AND r2.rts >= l.lts)"""
    val dfF = spark.sql(sqlF)
    assert(planString(dfF).contains("AsOfJoin"))
    val gotF = dfF.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expectF = try spark.sql(sqlF).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(gotF.nonEmpty && gotF == expectF)
  }

  /** `sql`'s rows as (lid, rid) pairs, with the as-of rewrites on and off. */
  private def asofOnOff(sql: String): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    def run() = spark.sql(sql).collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val on = run()
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    try (on, run()) finally spark.conf.set("spark.graft.join.asof.enabled", "true")
  }

  test("as-of SQL tolerance: the gap is exact across the whole long range") {
    import spark.implicits._
    // l.lts - r2.rts is 2^63, past Long.MaxValue: long arithmetic wraps
    // it to a negative gap that the tolerance 10 admits
    Seq((1L, 1L, Long.MaxValue), (2L, 1L, 5L)).toDF("lid", "k", "lts")
      .createOrReplaceTempView("asr_ov_l")
    Seq((10L, 1L, -1L)).toDF("rid", "k", "rts").createOrReplaceTempView("asr_ov_r")
    val sql = """
      SELECT l.lid, r.rid FROM asr_ov_l l JOIN asr_ov_r r ON l.k = r.k
      WHERE r.rts = (SELECT max(r2.rts) FROM asr_ov_r r2
                     WHERE r2.k = l.k AND r2.rts <= l.lts AND r2.rts >= l.lts - 10)"""
    assert(planString(spark.sql(sql)).contains("AsOfJoin"))
    val (got, expect) = asofOnOff(sql)
    assert(got == expect && got == Seq((2L, 10L)))
  }

  test("forward as-of SQL over a right time of Long.MinValue") {
    import spark.implicits._
    Seq((1L, 1L, 10L), (2L, 1L, 20L)).toDF("lid", "k", "lts").createOrReplaceTempView("asr_mn_l")
    Seq((11L, 1L, 15L), (12L, 1L, 25L), (13L, 1L, Long.MinValue)).toDF("rid", "k", "rts")
      .createOrReplaceTempView("asr_mn_r")
    val sql = """
      SELECT l.lid, r.rid FROM asr_mn_l l JOIN asr_mn_r r ON l.k = r.k
      WHERE r.rts = (SELECT min(r2.rts) FROM asr_mn_r r2
                     WHERE r2.k = l.k AND r2.rts >= l.lts)"""
    assert(planString(spark.sql(sql)).contains("AsOfJoin"))
    val (got, expect) = asofOnOff(sql)
    assert(got == expect && got == Seq((1L, 11L), (2L, 12L)))
  }

  test("planning an as-of join starts no Spark job") {
    val l = spark.range(2000).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(91)), lit(30)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(92)), lit(500)).cast("long") * 10L).as("lts"))
    val r = spark.range(2000).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(93)), lit(30)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(94)), lit(500)).cast("long") * 10L).as("rts"))
    l.createOrReplaceTempView("asr_nj_l")
    r.createOrReplaceTempView("asr_nj_r")
    val planning = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var sentinel = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "sentinel") sentinel = true
        else planning.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the probe-shape idiom (q24), the bare max-over-<= aggregate, and
      // the Scala API
      val probe = spark.sql("""
        SELECT l.lid, r.rid FROM asr_nj_l l JOIN asr_nj_r r ON l.k = r.k
        WHERE r.rts = (SELECT max(r2.rts) FROM asr_nj_r r2
                       WHERE r2.k = l.k AND r2.rts <= l.lts AND l.lts - r2.rts <= 400)""")
      val bare = spark.sql("""
        SELECT d.lts, r.k, max(r.rts) AS m
        FROM (SELECT DISTINCT lts FROM asr_nj_l) d JOIN asr_nj_r r
        ON r.rts <= d.lts GROUP BY d.lts, r.k""")
      val api = graft.operators.AsOfJoin.asofBackward(l, r, "k", "lts", "rts", "rid", 400L)
      for (df <- Seq(probe, bare, api)) {
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("AsOfJoin") && !p.contains("ExistingRDD"), p)
      }
      // listener events arrive in order: once the sentinel job is seen,
      // any job the planning started has been counted
      spark.sparkContext.setJobGroup("sentinel", "sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinel)
      assert(planning.get == 0, s"${planning.get} jobs started while planning")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("aggregate join reorder: key-unique sweep joins the probe side before the wide sibling") {
    // 4-key correlation: l JOIN r ON k first is |l||r|/4 — the rotation
    // must join l to the key-unique aggregate (<= |l| rows) first
    val l = spark.range(3000).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(51)), lit(4)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(52)), lit(300)).cast("long") * 10L).as("lts"))
    val r = spark.range(3000).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(53)), lit(4)).cast("long").as("k"),
      (pmod(hash(col("id"), lit(54)), lit(300)).cast("long") * 10L).as("rts"))
    l.createOrReplaceTempView("ajr_l")
    r.createOrReplaceTempView("ajr_r")
    val sql = """
      SELECT l.lid, r.rid FROM ajr_l l JOIN ajr_r r ON l.k = r.k
      WHERE r.rts = (SELECT max(r2.rts) FROM ajr_r r2
                     WHERE r2.k = l.k AND r2.rts <= l.lts)"""
    val df = spark.sql(sql)
    // after rotation, AsOfProbeJoinRule absorbs the probe INTO the as-of
    // join: its left child carries the probe's columns directly (no
    // domain product), under a left-semi on the original domain's d values
    val opt = df.queryExecution.optimizedPlan
    val p = opt.toString
    val guard = opt.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    val asof = guard.toSeq.flatMap(_.left.collect { case a: graft.plans.AsOfJoinPlan => a })
    assert(asof.size == 1 && asof.head.left.output.exists(_.name == "lid"),
      s"probe columns must ride the as-of join's left side under a domain semi guard:\n$p")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.join.aggreorder.enabled", "false")
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val expect = try spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    finally {
      spark.conf.set("spark.graft.join.aggreorder.enabled", "true")
      spark.conf.set("spark.graft.join.asof.enabled", "true")
    }
    assert(got.nonEmpty && got == expect, "rotated plan diverged from stock Spark")
    // rotation alone (sweep off) must also be result-neutral
    spark.conf.set("spark.graft.join.asof.enabled", "false")
    val rotOnly = try spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    finally spark.conf.set("spark.graft.join.asof.enabled", "true")
    assert(rotOnly == expect)
  }

  test("distinct over a one-sided inner join becomes a semi join; aggregates decline") {
    val a = spark.range(200).select(col("id").as("aid"),
      pmod(hash(col("id"), lit(61)), lit(10)).cast("long").as("k"),
      pmod(hash(col("id"), lit(62)), lit(40)).cast("long").as("x"))
    val b = spark.range(300).select(col("id").as("bid"),
      pmod(hash(col("id"), lit(63)), lit(10)).cast("long").as("k"))
    a.createOrReplaceTempView("sud_a")
    b.createOrReplaceTempView("sud_b")
    val dq = "SELECT DISTINCT a.x FROM sud_a a JOIN sud_b b ON a.k = b.k"
    val df = spark.sql(dq)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("LeftSemi"), s"distinct must turn the join semi:\n$p")
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    spark.conf.set("spark.graft.semidistinct.enabled", "false")
    val expect = try spark.sql(dq).collect().map(_.getLong(0)).sorted.toSeq
    finally spark.conf.set("spark.graft.semidistinct.enabled", "true")
    assert(got.nonEmpty && got == expect)
    // a multiplicity-observing aggregate must NOT be rewritten
    val cq = "SELECT a.x, count(*) AS n FROM sud_a a JOIN sud_b b ON a.k = b.k GROUP BY a.x"
    val cp = spark.sql(cq).queryExecution.optimizedPlan.toString
    assert(!cp.contains("LeftSemi"), s"count observes multiplicity:\n$cp")
    // distinct reading BOTH sides must not be rewritten
    val bq = "SELECT DISTINCT a.x, b.bid FROM sud_a a JOIN sud_b b ON a.k = b.k"
    val bp = spark.sql(bq).queryExecution.optimizedPlan.toString
    assert(!bp.contains("LeftSemi"), s"two-sided distinct keeps the join:\n$bp")
  }

  test("a strongly inverted row is one box: no fanout, rows exact") {
    // normal rows have length <= 50; one row is inverted by ~1e9. Its span
    // is one box, [min(lo, hi), max(lo, hi)], routed to the KDB leaves it
    // meets, and the condition refines its candidates.
    val l = spark.range(300).select(col("id").as("lid"),
      (pmod(hash(col("id"), lit(11)), lit(5000)).cast("long")).as("ls"))
      .withColumn("le",
        when(col("lid") === 7, col("ls") - lit(1000000000L))
          .otherwise(col("ls") + pmod(hash(col("lid"), lit(12)), lit(50))))
    val r = spark.range(200).select(col("id").as("rid"),
      (pmod(hash(col("id"), lit(13)), lit(5000)).cast("long")).as("rs"))
      .withColumn("re", col("rs") + pmod(hash(col("rid"), lit(14)), lit(50)))
    l.createOrReplaceTempView("brj_inv_l")
    r.createOrReplaceTempView("brj_inv_r")
    val sql = "SELECT lid, rid FROM brj_inv_l JOIN brj_inv_r " +
      "ON ls <= re AND rs <= le"
    val t0 = System.nanoTime()
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df),
        df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assertPartitioned(p)
    assert(secs < 60, s"inverted-row fanout blew up: $secs s")
    val expect = bandOff(spark.sql(sql).collect())
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == expect)
  }

  test("DOUBLE spans with NaN, ±∞ and values past the long range ≡ rule-off run") {
    // Spark orders NaN above every value: NaN maps to +∞ on the index's
    // double line. Planning casts no value (a NaN cast to BIGINT fails
    // under ANSI mode), and the rows equal Spark's BNLJ
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      9.4e18, -9.4e18, 1e300, -1e300)
    def side(n: Int, seed: Int, id: String, s: String, e: String) = {
      val start = pmod(hash(col("id"), lit(seed)), lit(20000)).cast("double") - 10000.0
      // every 11th row planted: a special start, or a special end
      val special = element_at(typedLit(specials), (col("id") % 7 + 1).cast("int"))
      spark.range(n).select(col("id").as(id),
        when(col("id") % 22 === 0, special).otherwise(start).as(s),
        when(col("id") % 22 === 11, special)
          .otherwise(start + pmod(hash(col("id"), lit(seed + 1)), lit(300)) - 20.0).as(e))
    }
    side(600, 41, "lid", "ls", "le").createOrReplaceTempView("brj_nan_l")
    side(500, 43, "rid", "rs", "re").createOrReplaceTempView("brj_nan_r")
    def key(x: org.apache.spark.sql.Row) =
      (x.getLong(0), if (x.isNullAt(1)) Long.MinValue else x.getLong(1))
    for (kind <- Seq("JOIN", "LEFT JOIN")) {
      val sql = s"SELECT lid, rid FROM brj_nan_l $kind brj_nan_r ON ls <= re AND rs <= le"
      val got = withBroadcastOff {
        val df = spark.sql(sql)
        assertPartitioned(planString(df))
        df.collect().map(key).sorted.toSeq
      }
      val expect = withBroadcastOff(bandOff(spark.sql(sql).collect())).map(key).sorted.toSeq
      assert(got == expect, s"$kind: ${got.diff(expect).take(5)} vs ${expect.diff(got).take(5)}")
      assert(got.exists { case (l, _) => l % 22 == 0 } && got.exists { case (l, _) => l % 22 == 11 },
        "the planted rows match")
    }
  }
}
