package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions.st

/** SQL planner surface for geography (spherical) joins: a SQL user writing
  * `JOIN ON st_dwithinsphere(a, b, r)` must get the broadcast index join
  * when a side fits the broadcast threshold and the partitioned index
  * join when none does — never a quadratic BroadcastNestedLoopJoin. */
class SphereJoinRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def ruleOff[T](body: => T): T = {
    spark.conf.set("spark.graft.join.sphere.enabled", "false")
    try body finally spark.conf.set("spark.graft.join.sphere.enabled", "true")
  }

  /** lon over the full ring (wrap pairs at ±180), lat to ±89.5. */
  private def pts(n: Int, seed: Int, idc: String, gc: String): DataFrame =
    spark.range(n).select(col("id").as(idc),
      st.point(pmod(hash(col("id") * 3 + seed), lit(7200)) / 20.0 - 180.0,
        pmod(hash(col("id") * 11 + seed), lit(3580)) / 20.0 - 89.5).as(gc))

  private def assertPartitioned(p: String): Unit =
    assert(p.contains("PartitionedIndexSpatialJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"large-large sphere join must plan the partitioned index join, no BNLJ:\n${p.take(3000)}")

  private def assertIndex(p: String): Unit =
    assert(p.contains("BroadcastIndexSpatialJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"broadcast-sized sphere join must plan the index join, no BNLJ:\n${p.take(3000)}")

  private def pair(r: org.apache.spark.sql.Row): (Long, Long) = (r.getLong(0), r.getLong(1))

  /** With broadcast on: `sql` plans the broadcast index join, and its
    * sorted rows ≡ the rule-off BNLJ's. */
  private def indexRows[T: Ordering: scala.reflect.ClassTag](sql: String)(key: org.apache.spark.sql.Row => T): Seq[T] = {
    val df = spark.sql(sql)
    assertIndex(planString(df))
    val got = df.collect().map(key).sorted.toSeq
    val expect = ruleOff { spark.sql(sql).collect().map(key).sorted.toSeq }
    assert(got == expect)
    got
  }

  test("SQL st_dwithinsphere join: grid plan, results ≡ rule-off BNLJ") {
    // null and empty geometries match nothing on either side
    val nulls = spark.sql("""SELECT * FROM VALUES (9001L, CAST(NULL AS BINARY)),
      (9002L, st_geomfromwkt('POINT EMPTY')) AS t(id, g)""")
    pts(220, 71, "aid", "ag").unionAll(nulls).createOrReplaceTempView("sph_a")
    pts(220, 73, "bid", "bg").unionAll(nulls).createOrReplaceTempView("sph_b")
    val sql = "SELECT aid, bid FROM sph_a JOIN sph_b " +
      "ON st_dwithinsphere(ag, bg, 300000.0)"
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df), df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(p)
    val expect = ruleOff {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(got.nonEmpty && got == expect)
  }

  test("SQL st_distancesphere < d: strict boundary survives the inclusive candidates") {
    // place one pair at EXACTLY distance d (same meridian, d = R * dLat):
    // <= admits it, < must not
    spark.sql("""SELECT * FROM VALUES
        (1L, st_point(10.0D, 0.0D)), (2L, st_point(50.0D, 30.0D))
      AS t(aid, ag)""").createOrReplaceTempView("sphs_a")
    spark.sql("""SELECT * FROM VALUES
        (10L, st_point(10.0D, 1.0D)), (20L, st_point(-120.0D, -70.0D))
      AS t(bid, bg)""").createOrReplaceTempView("sphs_b")
    val d = spark.sql(
      "SELECT st_distancesphere(st_point(10.0D, 0.0D), st_point(10.0D, 1.0D))")
      .collect().head.getDouble(0)
    val strict = s"SELECT aid, bid FROM sphs_a JOIN sphs_b " +
      s"ON st_distancesphere(ag, bg) < CAST($d AS DOUBLE)"
    val incl = s"SELECT aid, bid FROM sphs_a JOIN sphs_b " +
      s"ON st_distancesphere(ag, bg) <= CAST($d AS DOUBLE)"
    withBroadcastOff {
      assert(spark.sql(strict).collect().isEmpty, "strict must exclude the boundary pair")
      val inclRows = spark.sql(incl).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(inclRows.toSeq == Seq((1L, 10L)), "inclusive must admit exactly the boundary pair")
    }
  }

  test("SQL st_intersectssphere join incl. polar caps + dateline: grid plan ≡ rule-off") {
    // both polar caps (full-ring bounds), an antimeridian ring and chart
    // 179…181 quads (bounds wrapping mod 360)
    val caps = spark.sql("""SELECT aid, st_geomfromwkt(w) AS ag FROM VALUES
      (1000L, 'POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, -150 71, -120 71, -90 71, -60 71, -30 71, 0 71))'),
      (1001L, 'POLYGON ((175 -20, -175 -20, -175 20, 175 20, 175 -20))'),
      (1002L, 'POLYGON ((0 -71, 30 -71, 60 -71, 90 -71, 120 -71, 150 -71, 180 -71, -150 -71, -120 -71, -90 -71, -60 -71, -30 -71, 0 -71))'),
      (1003L, 'POLYGON ((179 -12, 181 -12, 181 -10, 179 -10, 179 -12))'),
      (1004L, 'POLYGON ((179 30, 181 30, 181 32, 179 32, 179 30))')
      AS t(aid, w)""")
    val polys = spark.range(40).selectExpr("id AS aid",
      """st_makeenvelope(CAST(pmod(hash(id), 300) AS DOUBLE) - 150.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 60.0,
         CAST(pmod(hash(id), 300) AS DOUBLE) - 145.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 55.0) AS ag""")
      .unionAll(caps)
    polys.createOrReplaceTempView("sphi_a")
    // plus points within 2° of ±180, at every 3° of latitude
    spark.range(250).selectExpr("id AS bid",
      """st_point(CAST(pmod(hash(id*3), 340) AS DOUBLE) - 170.0,
         CAST(pmod(hash(id*11), 160) AS DOUBLE) - 80.0) AS bg""")
      .unionAll(spark.range(480).selectExpr("id + 1000 AS bid",
        """st_point(CASE WHEN id % 8 < 4 THEN 178.25 + CAST(id % 8 AS DOUBLE) * 0.5
             ELSE -181.75 + CAST(id % 8 AS DOUBLE) * 0.5 END,
           CAST(id DIV 8 AS DOUBLE) * 3.0 - 88.75) AS bg"""))
      .createOrReplaceTempView("sphi_b")
    val sql = "SELECT aid, bid FROM sphi_a JOIN sphi_b ON st_intersectssphere(ag, bg)"
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df), df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(p)
    val expect = ruleOff {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(got.nonEmpty && got == expect)
    for (id <- 1000L to 1004L)
      assert(got.exists(_._1 == id), s"special shape $id must match some point")
  }

  test("SQL st_containssphere with swapped args inverts to within, ≡ rule-off") {
    spark.range(30).selectExpr("id AS aid",
      """st_makeenvelope(CAST(pmod(hash(id), 300) AS DOUBLE) - 150.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 60.0,
         CAST(pmod(hash(id), 300) AS DOUBLE) - 140.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 50.0) AS ag""")
      .createOrReplaceTempView("sphc_a")
    spark.range(250).selectExpr("id AS bid",
      """st_point(CAST(pmod(hash(id*3), 340) AS DOUBLE) - 170.0,
         CAST(pmod(hash(id*11), 160) AS DOUBLE) - 80.0) AS bg""")
      .createOrReplaceTempView("sphc_b")
    // polygon side is the SECOND table: pred args arrive (right, left)
    val sql = "SELECT aid, bid FROM sphc_b JOIN sphc_a ON st_containssphere(ag, bg)"
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df), df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    assertPartitioned(p)
    val expect = ruleOff {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(got.nonEmpty && got == expect)
  }

  test("SQL LEFT OUTER st_dwithinsphere join keeps unmatched left rows") {
    pts(150, 81, "laid", "lag").createOrReplaceTempView("spho_a")
    pts(60, 83, "rbid", "rbg").createOrReplaceTempView("spho_b")
    val sql = "SELECT laid, rbid FROM spho_a LEFT JOIN spho_b " +
      "ON st_dwithinsphere(lag, rbg, 200000.0)"
    def key(x: org.apache.spark.sql.Row) =
      (x.getLong(0), if (x.isNullAt(1)) Long.MinValue else x.getLong(1))
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df), df.collect().map(key).sorted.toSeq)
    }
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"outer sphere rewrite must purge BNLJ:\n${p.take(3000)}")
    val expect = ruleOff {
      spark.sql(sql).collect().map(key).sorted.toSeq
    }
    assert(got.nonEmpty && got == expect)
    assert(got.exists(_._2 == Long.MinValue), "some left rows must be unmatched")
    // FULL OUTER has no broadcast side: the partitioned index join at
    // every size, and planning it pins no cache
    val full = "SELECT laid, rbid FROM spho_a FULL OUTER JOIN spho_b " +
      "ON st_dwithinsphere(lag, rbg, 200000.0)"
    def fkey(x: org.apache.spark.sql.Row) =
      (if (x.isNullAt(0)) Long.MinValue else x.getLong(0),
        if (x.isNullAt(1)) Long.MinValue else x.getLong(1))
    val fullExpect = ruleOff { spark.sql(full).collect().map(fkey).sorted.toSeq }
    assert(fullExpect.exists(_._1 == Long.MinValue) && fullExpect.exists(_._2 == Long.MinValue),
      "both sides must have unmatched rows")
    def fullRows(): Seq[(Long, Long)] = {
      CacheRegistry.releaseAll() // count from zero
      val df = spark.sql(full)
      assertPartitioned(planString(df))
      assert(CacheRegistry.pinnedCount == 0, "planning pinned a cache")
      df.collect().map(fkey).sorted.toSeq
    }
    assert(fullRows() == fullExpect)
    assert(withBroadcastOff(fullRows()) == fullExpect)
    // RIGHT OUTER with no broadcast side: the right side preserved
    val rightSql = "SELECT laid, rbid FROM spho_b RIGHT JOIN spho_a " +
      "ON st_dwithinsphere(lag, rbg, 200000.0)"
    val (rp, rightGot) = withBroadcastOff {
      val df = spark.sql(rightSql)
      (planString(df), df.collect().map(key).sorted.toSeq)
    }
    assertPartitioned(rp)
    assert(rightGot == ruleOff { spark.sql(rightSql).collect().map(key).sorted.toSeq })
    assert(rightGot == expect)
  }

  test("SQL LEFT SEMI / LEFT ANTI st_dwithinsphere joins: grid plan ≡ rule-off") {
    pts(150, 91, "said", "sag").createOrReplaceTempView("sphsa_a")
    pts(60, 93, "sbid", "sbg").createOrReplaceTempView("sphsa_b")
    for (kind <- Seq("SEMI", "ANTI")) {
      val sql = s"SELECT said FROM sphsa_a LEFT $kind JOIN sphsa_b " +
        "ON st_dwithinsphere(sag, sbg, 200000.0)"
      val (p, got) = withBroadcastOff {
        val df = spark.sql(sql)
        (planString(df), df.collect().map(_.getLong(0)).sorted.toSeq)
      }
      assertPartitioned(p)
      val expect = ruleOff {
        spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq
      }
      assert(got.nonEmpty && got == expect, s"$kind results differ")
      assert(got == got.distinct, s"$kind must emit each left row at most once")
    }
  }

  test("SQL LEFT OUTER with SAME-NAMED columns on both sides rewrites positionally") {
    pts(150, 95, "id", "g").createOrReplaceTempView("sphn_a")
    pts(60, 97, "id", "g").createOrReplaceTempView("sphn_b")
    val sql = "SELECT a.id AS aid, b.id AS bid FROM sphn_a a LEFT JOIN sphn_b b " +
      "ON st_dwithinsphere(a.g, b.g, 200000.0)"
    def key(x: org.apache.spark.sql.Row) =
      (x.getLong(0), if (x.isNullAt(1)) Long.MinValue else x.getLong(1))
    val (p, got) = withBroadcastOff {
      val df = spark.sql(sql)
      (planString(df), df.collect().map(key).sorted.toSeq)
    }
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"same-named outer sphere rewrite must purge BNLJ:\n${p.take(3000)}")
    val expect = ruleOff { spark.sql(sql).collect().map(key).sorted.toSeq }
    assert(got.nonEmpty && got == expect)
    assert(got.exists(_._2 == Long.MinValue), "some left rows must be unmatched")
  }

  test("tiny side takes the broadcast index join; extra conjuncts survive as remainder") {
    // a 3-row side with broadcast on: the index join builds it
    pts(3, 91, "aid", "ag").createOrReplaceTempView("spht_a")
    pts(200, 93, "bid", "bg").createOrReplaceTempView("spht_b")
    val tiny = spark.sql("SELECT aid, bid FROM spht_a JOIN spht_b " +
      "ON st_dwithinsphere(ag, bg, 500000.0)")
    assertIndex(planString(tiny))
    // remainder conjunct (aid % 2 = bid % 2) filters pairs identically
    val sql = "SELECT aid, bid FROM spht_a JOIN spht_b " +
      "ON st_dwithinsphere(ag, bg, 500000.0) AND aid % 2 = bid % 2"
    val got = withBroadcastOff {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val expect = ruleOff {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(got == expect)
    // a remainder that is no equi-conjunct rides the index join (an
    // equi-conjunct one is Spark's hash join, the sphere call its filter)
    val mixed = indexRows("SELECT aid, bid FROM spht_a JOIN spht_b " +
      "ON st_dwithinsphere(ag, bg, 500000.0) AND (aid + bid) % 2 = 0")(pair)
    assert(mixed == expect.filter { case (a, b) => (a + b) % 2 == 0 })
    // one small side does NOT excuse a BNLJ when the pair PRODUCT is
    // large — 1k x 30k is 30M geodesic refines
    pts(1000, 95, "cid", "cg").createOrReplaceTempView("spht_c")
    pts(30000, 97, "did", "dg").createOrReplaceTempView("spht_d")
    val prod = spark.sql("SELECT cid, did FROM spht_c JOIN spht_d " +
      "ON st_dwithinsphere(cg, dg, 500000.0)")
    val pp = planString(prod)
    assert(!pp.contains("BroadcastNestedLoopJoin"),
      s"large pair product must not plan a BNLJ even with one small side:\n$pp")
  }

  test("index path: st_dwithinsphere across the antimeridian and poles ≡ rule-off") {
    pts(1000, 171, "aid", "ag").createOrReplaceTempView("sphx_a")
    pts(1000, 173, "bid", "bg").createOrReplaceTempView("sphx_b")
    val got = indexRows("SELECT aid, bid, st_x(ag), st_x(bg), st_y(ag) FROM sphx_a " +
      "JOIN sphx_b ON st_dwithinsphere(ag, bg, 300000.0)") { r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    assert(got.exists { case (_, _, xa, xb, _) => math.abs(xa - xb) > 180.0 },
      "some pair must match across ±180")
    // 300 km is 2.7° of latitude: from above 87.3° the radius reaches the pole
    assert(got.exists { case (_, _, _, _, ya) => math.abs(ya) > 87.3 },
      "some pair must sit within the radius of a pole")
  }

  test("index path: strict st_distancesphere < d drops the boundary pair") {
    spark.sql("""SELECT * FROM VALUES
        (1L, st_point(10.0D, 0.0D)), (2L, st_point(50.0D, 30.0D))
      AS t(aid, ag)""").createOrReplaceTempView("sphxs_a")
    spark.sql("""SELECT * FROM VALUES
        (10L, st_point(10.0D, 1.0D)), (20L, st_point(-120.0D, -70.0D))
      AS t(bid, bg)""").createOrReplaceTempView("sphxs_b")
    val d = spark.sql(
      "SELECT st_distancesphere(st_point(10.0D, 0.0D), st_point(10.0D, 1.0D))")
      .collect().head.getDouble(0)
    val strict = indexRows(s"SELECT aid, bid FROM sphxs_a JOIN sphxs_b " +
      s"ON st_distancesphere(ag, bg) < CAST($d AS DOUBLE)")(pair)
    assert(strict.isEmpty, "strict must exclude the boundary pair")
    val incl = indexRows(s"SELECT aid, bid FROM sphxs_a JOIN sphxs_b " +
      s"ON st_distancesphere(ag, bg) <= CAST($d AS DOUBLE)")(pair)
    assert(incl == Seq((1L, 10L)), "inclusive must admit exactly the boundary pair")
  }

  test("index path: st_intersectssphere with polar caps, dateline ring, chart 179…181 quads") {
    val special = spark.sql("""SELECT aid, st_geomfromwkt(w) AS ag FROM VALUES
      (1000L, 'POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, -150 71, -120 71, -90 71, -60 71, -30 71, 0 71))'),
      (1001L, 'POLYGON ((0 -71, 30 -71, 60 -71, 90 -71, 120 -71, 150 -71, 180 -71, -150 -71, -120 -71, -90 -71, -60 -71, -30 -71, 0 -71))'),
      (1002L, 'POLYGON ((175 -20, -175 -20, -175 20, 175 20, 175 -20))'),
      (1003L, 'POLYGON ((179 -12, 181 -12, 181 -10, 179 -10, 179 -12))'),
      (1004L, 'POLYGON ((179 30, 181 30, 181 32, 179 32, 179 30))')
      AS t(aid, w)""")
    spark.range(40).selectExpr("id AS aid",
      """st_makeenvelope(CAST(pmod(hash(id), 300) AS DOUBLE) - 150.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 60.0,
         CAST(pmod(hash(id), 300) AS DOUBLE) - 145.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 55.0) AS ag""")
      .unionAll(special).createOrReplaceTempView("sphxi_a")
    // sj13's point lattice: 3° steps at 0.25° offsets, both sides of ±180
    spark.range(6720).selectExpr("id AS bid",
      """st_point(CAST(id % 120 AS DOUBLE) * 3.0 - 179.75,
         CAST(id / 120 AS DOUBLE) * 3.0 - 83.75) AS bg""")
      .createOrReplaceTempView("sphxi_b")
    val got = indexRows(
      "SELECT aid, bid FROM sphxi_a JOIN sphxi_b ON st_intersectssphere(ag, bg)")(pair)
    for (id <- 1000L to 1004L)
      assert(got.exists(_._1 == id), s"special shape $id must match some point")
  }

  test("index path: st_containssphere with swapped args inverts to within, ≡ rule-off") {
    spark.range(30).selectExpr("id AS aid",
      """st_makeenvelope(CAST(pmod(hash(id), 300) AS DOUBLE) - 150.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 60.0,
         CAST(pmod(hash(id), 300) AS DOUBLE) - 140.0,
         CAST(pmod(hash(id*7), 120) AS DOUBLE) - 50.0) AS ag""")
      .createOrReplaceTempView("sphxc_a")
    spark.range(250).selectExpr("id AS bid",
      """st_point(CAST(pmod(hash(id*3), 340) AS DOUBLE) - 170.0,
         CAST(pmod(hash(id*11), 160) AS DOUBLE) - 80.0) AS bg""")
      .createOrReplaceTempView("sphxc_b")
    // polygon side is the SECOND table: pred args arrive (right, left)
    val got = indexRows(
      "SELECT bid, aid FROM sphxc_b JOIN sphxc_a ON st_containssphere(ag, bg)")(pair)
    assert(got.nonEmpty)
  }

  test("index path: LEFT OUTER / SEMI / ANTI build the right side, same-named columns") {
    pts(150, 181, "id", "g").createOrReplaceTempView("sphxl_a")
    pts(60, 183, "id", "g").createOrReplaceTempView("sphxl_b")
    val on = "ON st_dwithinsphere(a.g, b.g, 200000.0)"
    val outer = indexRows("SELECT a.id AS aid, b.id AS bid FROM sphxl_a a " +
      s"LEFT JOIN sphxl_b b $on") { r =>
      (r.getLong(0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1))
    }
    assert(outer.exists(_._2 == Long.MinValue), "some left rows must be unmatched")
    assert(outer.exists(_._2 != Long.MinValue), "some left rows must match")
    for (kind <- Seq("SEMI", "ANTI")) {
      val got = indexRows(s"SELECT a.id FROM sphxl_a a LEFT $kind JOIN sphxl_b b $on")(
        _.getLong(0))
      assert(got.nonEmpty && got == got.distinct, s"$kind must emit each left row once")
    }
  }

  test("sj14-shaped 2,000 quads × 15,000 points plan the index join, ≡ grid path") {
    spark.range(2000).selectExpr("id AS qid",
      """st_makeenvelope(CAST(id % 60 AS DOUBLE) * 6.0 - 180.0,
         CAST(id * 7 % 28 AS DOUBLE) * 6.0 - 84.0,
         CAST(id % 60 AS DOUBLE) * 6.0 - 178.0,
         CAST(id * 7 % 28 AS DOUBLE) * 6.0 - 82.0) AS quad""")
      .createOrReplaceTempView("sphq_q")
    spark.range(15000).selectExpr("id AS pid",
      """st_point(CAST(id % 120 AS DOUBLE) * 3.0 - 179.75,
         CAST(id * 13 % 56 AS DOUBLE) * 3.0 - 83.75) AS pt""")
      .createOrReplaceTempView("sphq_p")
    val sql = "SELECT qid, pid FROM sphq_q JOIN sphq_p ON st_intersectssphere(quad, pt)"
    val df = spark.sql(sql)
    assertIndex(planString(df))
    val got = df.collect().map(pair).sorted.toSeq
    val (p, expect) = withBroadcastOff {
      val g = spark.sql(sql)
      (planString(g), g.collect().map(pair).sorted.toSeq)
    }
    assertPartitioned(p)
    assert(got.nonEmpty && got == expect)
  }

  test("LEFT OUTER with a user __tj_ column plans the partitioned index join") {
    // a user column named like an internal tag (`__tj_`) is a column like
    // any other to a spatial join, which runs on the partitioned index join
    pts(150, 301, "aid", "ag")
      .withColumn("__tj_mid", col("aid") * 1000)
      .createOrReplaceTempView("sphr_a")
    pts(150, 303, "bid", "bg").createOrReplaceTempView("sphr_b")
    val sql = "SELECT aid, __tj_mid, bid FROM sphr_a LEFT JOIN sphr_b " +
      "ON st_dwithinsphere(ag, bg, 400000.0)"
    // broadcast off: no broadcast side, so the partitioned index join
    val got = withBroadcastOff {
      val df = spark.sql(sql)
      assertPartitioned(planString(df))
      df.collect()
    }.map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted.toSeq
    val expect = ruleOff {
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sorted.toSeq
    }
    assert(got.nonEmpty && got == expect)
    assert(got.forall { case (aid, sid, _) => sid == aid * 1000 },
      "user __tj_mid column must survive untouched")
  }
}
