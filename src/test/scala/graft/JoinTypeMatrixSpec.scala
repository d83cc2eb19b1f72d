package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions.st

/** Every spatial join type on both index joins against Spark's own plan.
  *
  * One fixed-seed data set, seven join types (inner, left / right / full
  * outer, semi, anti, and the mark join that SQL's EXISTS inside OR plans
  * as an ExistenceJoin), seven predicates and two paths: the broadcast
  * index join where the join type lets a side build, and the partitioned
  * index join with broadcast off. The oracle is the same query with
  * `spark.graft.join.grid.enabled` and `spark.graft.join.sphere.enabled`
  * off, which Spark plans as a BroadcastNestedLoopJoin.
  *
  * Planted rows: boxes across the antimeridian, polar caps (sphere
  * predicates), touching boxes, a pair at exactly the distance, null
  * geometries and null radii, 500 identical points (a KDB leaf that
  * cannot split), duplicate rows, and an empty side.
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

  /** Spark's own plan: both spatial switches off, and broadcast off, so
    * that no index join takes the query. */
  private def oracle(sql: String): Map[String, Seq[String]] =
    withConf("spark.graft.join.grid.enabled" -> "false",
      "spark.graft.join.sphere.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("IndexSpatialJoin"), s"$sql\n$plan")
      rows(df)
    }

  private def count(plan: String, node: String): Int = plan.split(node, -1).length - 1

  /** The rows of `sql` with broadcast on (`broadcast`) or off: its plan has
    * no BNLJ, and `joins` index joins, `broadcasts` of them the broadcast
    * index join. */
  private def indexed(sql: String, broadcast: Boolean, broadcasts: Int,
      joins: Int = types.size): Map[String, Seq[String]] =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (if (broadcast) "10485760" else "-1")) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct") &&
        count(plan, "BroadcastIndexSpatialJoin ") == broadcasts &&
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
    spark.table("l_plane").filter(col("lid") < -1).createOrReplaceTempView("l_none")
    spark.table("r_plane").filter(col("rid") < -1).createOrReplaceTempView("r_none")
    for (sides <- Seq(("l_plane", "r_none"), ("l_none", "r_plane"))) {
      val sql = matrix("plane", _ => "st_intersects(lg, rg)", sides)
      val bad = wrong(s"$sides", indexed(sql, broadcast = false, 0), oracle(sql))
      assert(bad.isEmpty, bad.mkString("\n"))
    }
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
