package perfbench

import org.apache.spark.sql.SparkSession

/** spatial_join: SQL spatial joins over seeded synthetic inputs, written
  * once per run as plain Parquet of ids and coordinates. Half the points
  * are uniform and half sit in a few dense clusters, so the grid
  * partitioning sees skew. Each query aggregates its join to a count and
  * an id checksum, which the harness recomputes in plain Scala from the
  * same generated coordinates. */
object SpatialJoin {
  val NPoints = 300000
  val NBoxes = 42000
  val DWithin = 3.2
  val KnnK = 4
  val KnnStride = 20
  val SphereStride = 4
  val SphereMeters = 5000.0

  final case class Answer(n: Long, h: Long)

  /** Untimed rounds before the timed ones: the second round still ran
    * a fifth faster than the first while the JIT caught up. */
  val WarmRounds = 2

  /** Timed rounds for a run of `seconds`: about 1.3 s each on 4 vCPUs. */
  def roundsFor(seconds: Int): Int = math.max(1, seconds * 3 / 5)

  private val IdShift = 131072L // > NBoxes: (a.id, b.id) -> a.id * IdShift + b.id

  private def agg(from: String): String =
    s"SELECT count(*) AS n, coalesce(sum(a.id * $IdShift + b.id), 0) AS h FROM $from"

  val queries: Seq[(String, String)] = Seq(
    "sj.intersects" -> agg("sj_pts a JOIN sj_boxes b ON st_intersects(a.geom, b.geom)"),
    "sj.dwithin" -> agg(s"sj_pts a JOIN sj_sites b ON st_dwithin(a.geom, b.geom, $DWithin)"),
    "sj.knn" -> agg(s"sj_knnq a JOIN sj_sites b ON st_knn(a.geom, b.geom, $KnnK)"),
    "sj.dwithinsphere" ->
      agg(s"sj_sphq a JOIN sj_sphs b ON st_dwithinsphere(a.geom, b.geom, $SphereMeters)"))

  /** Writes the inputs under `dir`, defines the SQL views and returns
    * the expected answer of every query. */
  def prepare(spark: SparkSession, seed: Long, dir: String, slices: Int): Map[String, Answer] = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.parallelize(0L until NPoints, slices).map { i =>
      val (x, y) = Synth.point(seed, i, NPoints, clustered = true, salt = 10)
      (i, x, y)
    }.toDF("id", "x", "y").write.mode("overwrite").parquet(s"$dir/points")
    sc.parallelize(0L until NBoxes, slices).map { i =>
      val (x0, y0, x1, y1) = Synth.box(seed, i, salt = 20)
      (i, x0, y0, x1, y1)
    }.toDF("id", "x0", "y0", "x1", "y1").write.mode("overwrite").parquet(s"$dir/boxes")
    spark.read.parquet(s"$dir/points").createOrReplaceTempView("sj_points_raw")
    spark.read.parquet(s"$dir/boxes").createOrReplaceTempView("sj_boxes_raw")
    Seq(
      "sj_pts" -> "SELECT id, st_point(x, y) AS geom FROM sj_points_raw",
      "sj_boxes" -> "SELECT id, st_makeenvelope(x0, y0, x1, y1) AS geom FROM sj_boxes_raw",
      "sj_sites" -> "SELECT id, st_point(x0, y0) AS geom FROM sj_boxes_raw",
      "sj_knnq" -> s"SELECT id, st_point(x, y) AS geom FROM sj_points_raw WHERE id % $KnnStride = 0",
      "sj_sphq" -> ("SELECT id, st_point(-10.0 + x * 0.02, 35.0 + y * 0.02) AS geom " +
        s"FROM sj_points_raw WHERE id % $SphereStride = 0"),
      "sj_sphs" -> ("SELECT id, st_point(-10.0 + x0 * 0.02, 35.0 + y0 * 0.02) AS geom " +
        "FROM sj_boxes_raw")
    ).foreach { case (v, q) => spark.sql(s"CREATE OR REPLACE TEMP VIEW $v AS $q") }
    reference(seed)
  }

  /** The expected answers, from plain Scala over the generated values;
    * the four queries are answered on parallel threads. */
  def reference(seed: Long): Map[String, Answer] = {
    val px = new Array[Double](NPoints)
    val py = new Array[Double](NPoints)
    (0 until NPoints).foreach { i =>
      val (x, y) = Synth.point(seed, i, NPoints, clustered = true, salt = 10)
      px(i) = x; py(i) = y
    }
    val boxes = Array.tabulate(NBoxes)(i => Synth.box(seed, i, salt = 20))
    val E = Synth.Extent
    val siteGrid = new Synth.Grid(3.5, 0, 0, (E / 3.5).toInt + 1, (E / 3.5).toInt + 1)
    boxes.indices.foreach { j => val (a, b, _, _) = boxes(j); siteGrid.insert(j, a, b, a, b) }

    def intersects(): Answer = {
      val boxGrid = new Synth.Grid(5.0, 0, 0, (E / 5).toInt, (E / 5).toInt)
      boxes.indices.foreach { j => val (a, b, c, d) = boxes(j); boxGrid.insert(j, a, b, c, d) }
      var n = 0L; var h = 0L
      px.indices.foreach { i =>
        val (x, y) = (px(i), py(i))
        boxGrid.near(x, y, x, y) { j =>
          val (a, b, c, d) = boxes(j)
          if (a <= x && x <= c && b <= y && y <= d) { n += 1; h += i * IdShift + j }
        }
      }
      Answer(n, h)
    }

    def dwithin(): Answer = {
      var n = 0L; var h = 0L
      px.indices.foreach { i =>
        val (x, y) = (px(i), py(i))
        siteGrid.near(x - DWithin, y - DWithin, x + DWithin, y + DWithin) { j =>
          val (a, b, _, _) = boxes(j)
          if (math.hypot(x - a, y - b) <= DWithin) { n += 1; h += i * IdShift + j }
        }
      }
      Answer(n, h)
    }

    def knn(): Answer = {
      var n = 0L; var h = 0L
      (0 until NPoints by KnnStride).foreach { i =>
        val (x, y) = (px(i), py(i))
        val best = scala.collection.mutable.PriorityQueue.empty[(Double, Int)] // max-heap
        var k = 0
        var done = false
        while (!done) {
          siteGrid.ring(x, y, k) { j =>
            val (a, b, _, _) = boxes(j)
            val d = math.hypot(x - a, y - b)
            if (best.size < KnnK) best.enqueue((d, j))
            else if (d < best.head._1) { best.dequeue(); best.enqueue((d, j)) }
          }
          // every site not yet visited is more than k cells away
          done = best.size == KnnK && best.head._1 <= k * siteGrid.cellSize
          k += 1
        }
        best.foreach { case (_, j) => n += 1; h += i * IdShift + j }
      }
      Answer(n, h)
    }

    def sphere(): Answer = {
      val cell = 0.1 // degrees; wider than SphereMeters in lon and lat up to 55 N
      val sphGrid = new Synth.Grid(cell, -10.0, 35.0, 200, 200)
      boxes.indices.foreach { j =>
        val (a, b, _, _) = boxes(j)
        val (lo, la) = (Synth.lon(a), Synth.lat(b))
        sphGrid.insert(j, lo, la, lo, la)
      }
      var n = 0L; var h = 0L
      (0 until NPoints by SphereStride).foreach { i =>
        val (lo, la) = (Synth.lon(px(i)), Synth.lat(py(i)))
        sphGrid.near(lo - cell, la - cell, lo + cell, la + cell) { j =>
          val (a, b, _, _) = boxes(j)
          if (haversine(lo, la, Synth.lon(a), Synth.lat(b)) <= SphereMeters) {
            n += 1; h += i * IdShift + j
          }
        }
      }
      Answer(n, h)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = Seq("sj.intersects" -> (() => intersects()), "sj.dwithin" -> (() => dwithin()),
        "sj.knn" -> (() => knn()), "sj.dwithinsphere" -> (() => sphere()))
        .map { case (name, f) =>
          name -> pool.submit(new java.util.concurrent.Callable[Answer] { def call(): Answer = f() })
        }
      tasks.map { case (name, fut) => name -> fut.get() }.toMap
    } finally pool.shutdown()
  }

  /** Great-circle distance in meters on the IUGG mean sphere. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dphi = math.toRadians(lat2 - lat1)
    val dlam = math.toRadians(lon2 - lon1)
    val a = math.sin(dphi / 2) * math.sin(dphi / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dlam / 2) * math.sin(dlam / 2)
    2 * 6371008.8 * math.asin(math.sqrt(a))
  }

  /** Rounds while `more(rounds done)` holds, at least one; each runs
    * every query once in a seed-permuted order. */
  def run(spark: SparkSession, ops: Ops, answers: Map[String, Answer], seed: Long,
      more: Int => Boolean, afterOp: () => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    Ops.loop(more) { _ =>
      ops.nextRound()
      rnd.shuffle(queries).foreach { case (name, sql) =>
        ops.run(name, "query")(spark.sql(sql).collect()) { rows =>
          val got = Answer(rows(0).getLong(0), rows(0).getLong(1))
          val want = answers(name)
          if (got == want) None else Some(s"$got != expected $want")
        }
        afterOp()
      }
    }
  }
}
