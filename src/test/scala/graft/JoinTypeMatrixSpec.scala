package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions.st

/** Every spatial and range join type on both index joins against Spark's
  * own plan.
  *
  * One fixed-seed data set, seven join types (inner, left / right / full
  * outer, semi, anti, and the mark join that SQL's EXISTS inside OR plans
  * as an ExistenceJoin), seven predicates and two paths: the broadcast
  * index join where the join type lets a side build, and the partitioned
  * index join with broadcast off. The oracle is the same query with
  * `spark.graft.join.grid.enabled`, `spark.graft.join.sphere.enabled` and
  * `spark.graft.join.band.enabled` off, which Spark plans as a
  * BroadcastNestedLoopJoin.
  *
  * Planted rows: boxes across the antimeridian, polar caps (sphere
  * predicates), touching boxes, a pair at exactly the distance, null
  * geometries and null radii, 500 identical points (a KDB leaf that
  * cannot split), duplicate rows, and an empty side.
  *
  * The range slice runs two range predicates, `x BETWEEN lo AND hi` and a
  * two-sided overlap with one strict bound: both over LONG and DOUBLE
  * values, the overlap over TIMESTAMPs and BETWEEN over DECIMAL(18,4).
  * Planted rows: inverted spans (lo > hi), ties at both bounds, null
  * endpoints, longs 2^53+1 (which rounds to the double 2^53) and 2^53+2,
  * `Long.MinValue` and `Long.MaxValue`, NaN and ±∞, doubles past the long
  * range, decimals one unit apart that round to one double, 500 identical
  * values, and an empty side.
  *
  * Known cell, listed in `KnownCells` and checked to still differ: empty
  * geometries under the distance predicates. The index joins drop an
  * empty geometry, while JTS's distance from an empty geometry is 0, so
  * the BNLJ's `st_distance(empty, g) < d` and `st_dwithin(empty, g, d)`
  * hold for rows near the origin. The distance predicates run the matrix
  * without the empty rows.
  */
class JoinTypeMatrixSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    register()
  }
  override def afterAll(): Unit = spark.stop()

  private def wkt(rows: (Long, String, java.lang.Double)*): DataFrame = {
    val values = rows.map { case (id, w, r) =>
      s"(${id}L, ${if (w == null) "CAST(NULL AS STRING)" else s"'$w'"}, " +
        s"${if (r == null) "CAST(NULL AS DOUBLE)" else s"CAST($r AS DOUBLE)"})"
    }.mkString(", ")
    spark.sql(s"SELECT id, st_geomfromwkt(w) AS g, r FROM VALUES $values AS t(id, w, r)")
  }

  /** Seeded points (every third id) and boxes over [-30, 30]², radius 1–4,
    * null for every `nullEvery`th id. */
  private def random(n: Int, seed: Int, maxSide: Int, nullEvery: Int): DataFrame = {
    val x = pmod(hash(col("id") * 3 + seed), lit(600)) / 10.0 - 30.0
    val y = pmod(hash(col("id") * 7 + seed), lit(600)) / 10.0 - 30.0
    val w = pmod(hash(col("id") + seed), lit(maxSide * 10)) / 10.0 + 0.5
    val h = pmod(hash(col("id") * 5 + seed), lit(maxSide * 10)) / 10.0 + 0.5
    spark.range(n).select(col("id"),
      when(col("id") % 3 === 0, st.point(x, y))
        .otherwise(st.makeEnvelope(x, y, x + w, y + h)).as("g"),
      when(col("id") % nullEvery === 0, lit(null).cast("double"))
        .otherwise((col("id") % 4 + 1).cast("double")).as("r"))
  }

  private val NorthCap = "POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, " +
    "-150 71, -120 71, -90 71, -60 71, -30 71, 0 71))"
  private val SouthCap = NorthCap.replace(" 71", " -71")

  /** Views `l_<set>` (lid, lg, lr) and `r_<set>` (rid, rg, rr) for the sets
    * `plane` (no empties, no caps), `planee` (with empties) and `sphere`
    * (with caps, no empties). */
  private def register(): Unit = {
    val left = random(120, 11, 4, 17).unionAll(wkt(
      (1000L, "POLYGON ((179 10, 181 10, 181 12, 179 12, 179 10))", 2.0),
      (1001L, "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))", 1.0),
      (1002L, "POINT (50 50)", 1.0),
      (1003L, null, 1.0),
      (1005L, "POINT (0.5 0.5)", 1.0),
      (1005L, "POINT (0.5 0.5)", 1.0),
      (1006L, "POLYGON ((19 -31, 21 -31, 21 -29, 19 -29, 19 -31))", 1.0),
      (1007L, "POINT (20 -30)", null),
      (1008L, "POINT (100 60)", 1.0)))
    val right = random(100, 23, 2, 13).unionAll(wkt(
      (1000L, "POLYGON ((-180 10.5, -178.5 10.5, -178.5 11.5, -180 11.5, -180 10.5))", 1.0),
      (1001L, "POLYGON ((12 10, 14 10, 14 12, 12 12, 12 10))", 1.0),
      (1002L, "POINT (53 54)", 2.0),
      (1003L, null, 1.0),
      (1004L, "POLYGON ((180.5 11, 181.5 11, 181.5 11.5, 180.5 11.5, 180.5 11))", 1.0),
      (1007L, "POINT (-100 -60)", 1.0)))
      .unionAll(spark.range(2000, 2500).select(col("id"), st.point(lit(20.0), lit(-30.0)).as("g"),
        lit(1.0).as("r")))
    val leftEmpty = wkt((1004L, "POINT EMPTY", 1.0), (1009L, "POLYGON EMPTY", 1.0))
    val rightEmpty = wkt((1005L, "GEOMETRYCOLLECTION EMPTY", 1.0))
    val leftCaps = wkt((1100L, NorthCap, 1.0), (1101L, SouthCap, 1.0))
    val rightCaps = wkt((1100L, "POINT (45 80)", 1.0), (1101L, "POINT (-120 -75)", 1.0))
    // written once and read back: each view is one scan, which the
    // optimizer cannot push a join into (as it would into a union)
    val dir = java.nio.file.Files.createTempDirectory("graft_join_matrix").toString
    def view(df: DataFrame, side: String, set: String): Unit = {
      val path = s"$dir/${side}_$set"
      df.toDF(s"${side}id", s"${side}g", s"${side}r").coalesce(2).write.parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(s"${side}_$set")
    }
    view(left, "l", "plane"); view(right, "r", "plane")
    view(left.unionAll(leftEmpty), "l", "planee"); view(right.unionAll(rightEmpty), "r", "planee")
    view(left.unionAll(leftCaps), "l", "sphere"); view(right.unionAll(rightCaps), "r", "sphere")
    registerRange(dir)
  }

  /** Range rows (id, x, lo, hi) of one side: `n` seeded rows, every 7th
    * span inverted, every 19th x, 23rd lo and 29th hi null. */
  private def seededRange(n: Int, seed: Int): Seq[(Long, Option[Long], Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val lo = rnd.nextInt(4000) - 2000L
      val hi = if (i % 7 == 0) lo - 1 - rnd.nextInt(200) else lo + rnd.nextInt(300)
      val x = rnd.nextInt(4400) - 2200L
      (i.toLong, Some(x).filter(_ => i % 19 != 3), Some(lo).filter(_ => i % 23 != 5),
        Some(hi).filter(_ => i % 29 != 7))
    }
  }

  /** Views `l_<set>` (lid, lx, llo, lhi) and `r_<set>` (rid, rx, rlo, rhi)
    * for the range sets `long`, `double`, `ts` (micros) and `dec`
    * (DECIMAL(18,4)): the seeded rows and the planted ones, each set's
    * own extremes added in its own type. */
  private def registerRange(dir: String): Unit = {
    import spark.implicits._
    def view(df: DataFrame, side: String, set: String): Unit = {
      val path = s"$dir/${side}_$set"
      df.toDF(s"${side}id", s"${side}x", s"${side}lo", s"${side}hi").coalesce(2)
        .write.parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(s"${side}_$set")
    }
    val p53 = 1L << 53
    // (id, x, lo, hi): ties at both bounds, inverted spans that match,
    // 500 identical values on the right
    val left = seededRange(150, 31) ++ Seq(
      (900L, Some(100L), Some(100L), Some(200L)),
      (901L, Some(150L), Some(500L), Some(400L)),
      (902L, Some(300L), Some(300L), Some(500L)),
      (903L, None, None, None),
      (950L, Some(7L), Some(7L), Some(7L)),
      (951L, Some(8L), Some(0L), Some(8L)))
    val right = seededRange(120, 37) ++ Seq(
      (900L, Some(0L), Some(100L), Some(150L)),
      (901L, Some(0L), Some(50L), Some(100L)),
      (902L, Some(0L), Some(200L), Some(300L)),
      (903L, Some(0L), Some(300L), Some(600L)),
      (904L, Some(0L), Some(450L), Some(350L)),
      (905L, Some(0L), None, Some(10000L))) ++
      (2000L until 2500L).map(id => (id, Some(7L), Some(7L), Some(7L)))
    val longLeft = Seq(
      (1100L, Some(p53 + 1), Some(p53 + 1), Some(p53 + 1)),
      (1101L, Some(p53 + 2), Some(p53 + 1), Some(p53 + 2)),
      (1102L, Some(Long.MaxValue), Some(Long.MaxValue - 1), Some(Long.MaxValue)),
      (1103L, Some(Long.MinValue), Some(Long.MinValue), Some(Long.MinValue + 1)))
    val longRight = Seq(
      (1100L, Some(0L), Some(p53), Some(p53)),
      (1101L, Some(0L), Some(p53), Some(p53 + 1)),
      (1102L, Some(0L), Some(p53 + 1), Some(p53 + 2)),
      (1103L, Some(0L), Some(0L), Some(Long.MaxValue)),
      (1104L, Some(0L), Some(Long.MinValue), Some(Long.MinValue)))
    val doubleLeft = Seq(
      (1200L, Some(Double.NaN), Some(Double.NaN), Some(Double.NaN)),
      (1201L, Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
        Some(Double.PositiveInfinity)),
      (1202L, Some(9.4e18), Some(-9.4e18), Some(9.4e18)),
      (1203L, Some(Double.NegativeInfinity), Some(Double.NaN), Some(-9.4e18)))
    val doubleRight = Seq(
      (1200L, Some(0.0), Some(0.0), Some(Double.NaN)),
      (1201L, Some(0.0), Some(Double.NegativeInfinity), Some(Double.NegativeInfinity)),
      (1202L, Some(0.0), Some(9.3e18), Some(9.5e18)),
      (1203L, Some(0.0), Some(Double.NaN), Some(Double.NaN)),
      (1204L, Some(0.0), Some(-1e300), Some(-9.3e18)))
    // one unit apart at the top of DECIMAL(18,4): one double
    val decLeft = Seq((1300L, "99999999999999.9999", "99999999999999.9999", "99999999999999.9999"))
    val decRight = Seq(
      (1300L, "0", "99999999999999.9998", "99999999999999.9998"),
      (1301L, "0", "99999999999999.9999", "99999999999999.9999"))
    val cols = Seq("id", "x", "lo", "hi")
    def longs(rows: Seq[(Long, Option[Long], Option[Long], Option[Long])]) = rows.toDF(cols: _*)
    def typed(df: DataFrame, f: String => String) =
      df.select(col("id") +: Seq("x", "lo", "hi").map(c => expr(f(c)).as(c)): _*)
    for ((side, base, extra) <- Seq(("l", left, longLeft), ("r", right, longRight))) {
      view(longs(base ++ extra), side, "long")
      view(typed(longs(base), c => s"CAST($c AS DOUBLE) * 0.5").unionAll(
        (if (side == "l") doubleLeft else doubleRight).toDF(cols: _*)), side, "double")
      view(typed(longs(base), c => s"timestamp_micros($c)"), side, "ts")
      view(typed(longs(base), c => s"CAST($c / 8 AS DECIMAL(18,4))").unionAll(
        typed((if (side == "l") decLeft else decRight).toDF(cols: _*),
          c => s"CAST($c AS DECIMAL(18,4))")), side, "dec")
    }
  }

  /** A predicate: its SQL over (lg, rg), its data set, and the predicate
    * with a column radius on the side `t` does not preserve. */
  private case class Pred(name: String, set: String, sql: String => String)

  private val preds = Seq(
    Pred("st_intersects", "planee", _ => "st_intersects(lg, rg)"),
    Pred("st_contains", "planee", _ => "st_contains(lg, rg)"),
    Pred("st_dwithin literal", "plane", _ => "st_dwithin(lg, rg, 5.0)"),
    Pred("st_dwithin column", "plane", t => s"st_dwithin(lg, rg, ${
      if (t == "right") "lr" else "rr"})"),
    Pred("st_distance <", "plane", _ => "st_distance(lg, rg) < 5.0"),
    Pred("st_dwithinsphere", "sphere", _ => "st_dwithinsphere(lg, rg, 300000.0)"),
    Pred("st_intersectssphere", "sphere", _ => "st_intersectssphere(lg, rg)"))

  /** The range predicates, both over the long and double sets, one each
    * over the timestamp and decimal sets. */
  private val between = "lx BETWEEN rlo AND rhi"
  private val overlap = "llo <= rhi AND rlo < lhi"
  private val rangePreds = Seq("long" -> between, "long" -> overlap, "double" -> between,
      "double" -> overlap, "ts" -> overlap, "dec" -> between).map { case (set, sql) =>
    Pred(s"${if (sql == between) "x BETWEEN lo AND hi" else "strict overlap"} over $set",
      set, _ => sql)
  }

  private val types = Seq("inner", "left", "right", "full", "semi", "anti", "mark")

  /** Join type `t` of `l` and `r` on `pred`, as rows (t, lid, rid); the
    * semi, anti and mark joins leave rid null. */
  private def query(t: String, l: String, r: String, pred: String): String = {
    val pair = s"SELECT '$t' AS t, lid, rid FROM $l"
    val alone = s"SELECT '$t' AS t, lid, CAST(NULL AS BIGINT) AS rid FROM $l"
    t match {
      case "inner" => s"$pair JOIN $r ON $pred"
      case "left" => s"$pair LEFT JOIN $r ON $pred"
      case "right" => s"$pair RIGHT JOIN $r ON $pred"
      case "full" => s"$pair FULL OUTER JOIN $r ON $pred"
      case "semi" => s"$alone LEFT SEMI JOIN $r ON $pred"
      case "anti" => s"$alone LEFT ANTI JOIN $r ON $pred"
      case "mark" => s"$alone WHERE lid % 5 = 0 OR EXISTS (SELECT 1 FROM $r WHERE $pred)"
    }
  }

  /** Every join type of `l_set` and `r_set` on `pred(t)` in one query: the
    * index joins of the seven types plan and run side by side. */
  private def matrix(set: String, pred: String => String,
      sides: (String, String) = null): String = {
    val (l, r) = Option(sides).getOrElse((s"l_$set", s"r_$set"))
    types.map(t => query(t, l, r, pred(t))).mkString(" UNION ALL ")
  }

  /** Rows of `sql` by join type, each sorted, as "[lid,rid]". */
  private def rows(df: DataFrame): Map[String, Seq[String]] = {
    val byType = df.collect().toSeq.groupBy(_.getString(0)).map { case (t, rs) =>
      t -> rs.map(r => s"[${r.get(1)},${r.get(2)}]").sorted
    }
    types.map(t => t -> byType.getOrElse(t, Nil)).toMap
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val oracles = scala.collection.mutable.Map[String, Map[String, Seq[String]]]()

  /** Spark's own plan: the spatial and range switches off, and broadcast
    * off, so that no index join takes the query. Run once per query. */
  private def oracle(sql: String): Map[String, Seq[String]] = oracles.getOrElseUpdate(sql,
    withConf("spark.graft.join.grid.enabled" -> "false",
      "spark.graft.join.sphere.enabled" -> "false",
      "spark.graft.join.band.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("IndexSpatialJoin"), s"$sql\n$plan")
      rows(df)
    })

  private def count(plan: String, node: String): Int = plan.split(node, -1).length - 1

  /** The rows of `sql` with broadcast on (`broadcast`) or off: its plan has
    * no BNLJ and no `Generate`, and `joins` index joins, `broadcasts` of
    * them the broadcast index join. */
  private def indexed(sql: String, broadcast: Boolean, broadcasts: Int,
      joins: Int = types.size): Map[String, Seq[String]] =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (if (broadcast) "10485760" else "-1")) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct") &&
        !plan.contains("Generate") && count(plan, "BroadcastIndexSpatialJoin ") == broadcasts &&
        count(plan, "PartitionedIndexSpatialJoin ") == joins - broadcasts, s"$sql\n$plan")
      rows(df)
    }

  /** Whether the broadcast index join takes join type `t` with broadcast
    * on: it builds a non-preserved side, and its stream side evaluates
    * the radius. */
  private def broadcasts(t: String, p: Pred): Boolean =
    t == "inner" || (t != "full" && p.name != "st_dwithin column")

  /** The types whose rows differ, with the rows that differ. */
  private def wrong(path: String, got: Map[String, Seq[String]],
      expected: Map[String, Seq[String]]): Seq[String] =
    types.filter(t => got(t) != expected(t)).map(t =>
      s"$t, $path: only BNLJ ${expected(t).diff(got(t)).take(5)}, " +
        s"only index ${got(t).diff(expected(t)).take(5)}")

  for (p <- preds) test(s"join-type matrix: ${p.name}, broadcast and partitioned ≡ BNLJ") {
    check(p)
  }

  for (p <- rangePreds) test(s"range join-type matrix: ${p.name}, broadcast and partitioned ≡ BNLJ") {
    check(p)
  }

  /** Predicate `p` over every join type, broadcast on and off, against the
    * oracle. */
  private def check(p: Pred): Unit = {
    val sql = matrix(p.set, p.sql)
    val expected = oracle(sql)
    assert(expected("inner").nonEmpty)
    val bad = wrong("broadcast on", indexed(sql, broadcast = true, types.count(broadcasts(_, p))),
      expected) ++ wrong("broadcast off", indexed(sql, broadcast = false, 0), expected)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("join-type matrix: the planted rows reach every branch") {
    val planar = oracle(matrix("planee", _ => "st_intersects(lg, rg)"))
    val full = planar("full")
    // pads on both sides, the null geometries among them, and the 500
    // identical points matched by both left rows planted on them
    assert(full.contains("[1003,null]") && full.contains("[null,1003]"))
    assert(full.count(_.startsWith("[1006,")) == 500 && full.count(_.startsWith("[1007,")) == 500)
    assert(full.count(_ == "[1005,null]") == 2, "duplicate rows are two rows")
    assert(planar("anti").count(_ == "[1005,null]") == 2)
    assert(full.contains("[1000,1004]") && full.contains("[1001,1001]"), "touching boxes")
    val tie = oracle(query("inner", "l_plane", "r_plane", "st_dwithin(lg, rg, 5.0)"))
    assert(tie("inner").contains("[1002,1002]"))
    assert(!oracle(query("inner", "l_plane", "r_plane", "st_distance(lg, rg) < 5.0"))("inner")
      .contains("[1002,1002]"))
    val sphere = oracle(query("inner", "l_sphere", "r_sphere", "st_intersectssphere(lg, rg)"))
    assert(Seq("[1000,1000]", "[1100,1100]", "[1101,1101]").forall(sphere("inner").contains),
      "antimeridian and polar caps")
  }

  test("join-type matrix: an empty side") {
    // empty at run time: an optimizer-visible empty relation would fold
    // the join away
    for (set <- Seq("plane", "long")) {
      spark.table(s"l_$set").filter(col("lid") < -1).createOrReplaceTempView(s"l_${set}_none")
      spark.table(s"r_$set").filter(col("rid") < -1).createOrReplaceTempView(s"r_${set}_none")
    }
    for ((set, pred) <- Seq("plane" -> "st_intersects(lg, rg)", "long" -> between);
        sides <- Seq((s"l_$set", s"r_${set}_none"), (s"l_${set}_none", s"r_$set"))) {
      val sql = matrix(set, _ => pred, sides)
      val bad = wrong(s"$sides", indexed(sql, broadcast = false, 0), oracle(sql))
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("range join-type matrix: the planted rows reach every branch") {
    val betweenLong = oracle(matrix("long", _ => between))
    val inner = betweenLong("inner")
    // ties at both bounds, 2^53 + 1 against 2^53, the long extremes, and
    // the 500 identical values
    assert(Seq("[900,900]", "[900,901]", "[1100,1101]", "[1100,1102]", "[1101,1102]",
      "[1102,1103]", "[1103,1104]").forall(inner.contains), inner.take(20))
    assert(!inner.contains("[1100,1100]") && !inner.contains("[1101,1101]"),
      "one double apart is not equal")
    def identical(rows: Seq[String], lid: Int) = rows.count(_.matches(s"\\[$lid,2\\d{3}\\]"))
    assert(identical(inner, 950) == 500)
    assert(betweenLong("full").contains("[903,null]") && betweenLong("full").contains("[null,905]"),
      "null endpoints pad")
    val overlapLong = oracle(matrix("long", _ => overlap))("inner")
    assert(overlapLong.contains("[900,901]") && !overlapLong.contains("[900,902]"),
      "the inclusive bound keeps its tie, the strict one drops it")
    assert(overlapLong.contains("[901,903]") && overlapLong.contains("[902,904]"),
      "inverted spans match")
    assert(identical(overlapLong, 951) == 500 && identical(overlapLong, 950) == 0)
    val betweenDouble = oracle(matrix("double", _ => between))("inner")
    assert(Seq("[1200,1200]", "[1201,1200]", "[1202,1202]", "[1203,1201]")
      .forall(betweenDouble.contains), "NaN above every value, ±∞, past the long range")
    val betweenDec = oracle(matrix("dec", _ => between))("inner")
    assert(betweenDec.contains("[1300,1301]") && !betweenDec.contains("[1300,1300]"))
  }

  /** Cells where the index joins knowingly differ from the BNLJ, with the
    * reason. */
  private val KnownCells = Seq(
    "st_distance <" -> "an empty geometry is at distance 0 from every geometry in JTS; " +
      "the index joins drop it",
    "st_dwithin literal" -> "the same, through JTS isWithinDistance")

  test("join-type matrix: known cell, empty geometries under distance predicates") {
    for ((name, reason) <- KnownCells) {
      val sql = query("left", "l_planee", "r_planee", preds.find(_.name == name).get.sql("left"))
      assert(indexed(sql, broadcast = false, 0, joins = 1) != oracle(sql),
        s"$name no longer differs ($reason): update the matrix")
    }
  }
}
