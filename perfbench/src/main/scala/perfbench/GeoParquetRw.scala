package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import graft.sources.GeoParquet

/** geoparquet_rw: the GeoParquet layer used both ways. Seeded points and
  * boxes are written with `GeoParquet.write` (bbox covering column,
  * Hilbert clustering), then seeded square windows at 0.1 %, 1 % and
  * 10 % of the extent are read back through `GeoParquet.read` plus an
  * `st_intersects` filter. Every window's ids are checked against the
  * plain-Scala answer over the generated coordinates. */
object GeoParquetRw {
  val NPoints = 150000
  val NBoxes = 25000
  val FilesPerDataset = 16
  val Selectivities = Seq(0.001, 0.01, 0.1)

  /** Windows read per timed round, and the number of distinct batches of
    * them the timed rounds cycle through. */
  val WindowsPerRound = 16
  val WindowBatches = 16

  /** Timed rounds for a run of `seconds`: about 2.9 s each on 4 vCPUs. */
  def roundsFor(seconds: Int): Int = math.max(1, seconds / 3)

  final case class Window(i: Int, dataset: String, sel: Double,
      x0: Double, y0: Double, x1: Double, y1: Double) {
    def wkt: String = {
      def p(x: Double, y: Double) = s"${java.lang.Double.toString(x)} ${java.lang.Double.toString(y)}"
      s"POLYGON((${p(x0, y0)}, ${p(x1, y0)}, ${p(x1, y1)}, ${p(x0, y1)}, ${p(x0, y0)}))"
    }
    def name: String = f"gp.read.$dataset.${sel * 100}%.1fpct"
  }

  final case class Answer(n: Long, sum: Long, xor: Long)

  def answer(ids: Iterator[Long]): Answer = {
    var n = 0L; var s = 0L; var x = 0L
    ids.foreach { id => n += 1; s += id; x ^= id * 0x9E3779B97F4A7C15L }
    Answer(n, s, x)
  }

  final class Inputs(val dir: String, val windows: Seq[Window],
      val answers: Map[Int, Answer])

  /** Writes the plain Parquet sources and computes every window's answer. */
  def prepare(spark: SparkSession, seed: Long, dir: String, slices: Int,
      windowCount: Int): Inputs = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.parallelize(0L until NPoints, slices).map { i =>
      val (x, y) = Synth.point(seed, i, NPoints, clustered = false, salt = 30)
      (i, x, y)
    }.toDF("id", "x", "y").write.mode("overwrite").parquet(s"$dir/plain_points")
    sc.parallelize(0L until NBoxes, slices).map { i =>
      val (x0, y0, x1, y1) = Synth.box(seed, i, salt = 40)
      (i, x0, y0, x1, y1)
    }.toDF("id", "x0", "y0", "x1", "y1").write.mode("overwrite").parquet(s"$dir/plain_boxes")

    val windows = (0 until windowCount).map { i =>
      val sel = Selectivities(i % Selectivities.size)
      val side = Synth.Extent * math.sqrt(sel)
      val x0 = Synth.u(seed, i, 50) * (Synth.Extent - side)
      val y0 = Synth.u(seed, i, 51) * (Synth.Extent - side)
      Window(i, if ((i / Selectivities.size) % 2 == 0) "points" else "boxes",
        sel, x0, y0, x0 + side, y0 + side)
    }
    val pts = Array.tabulate(NPoints)(i =>
      Synth.point(seed, i, NPoints, clustered = false, salt = 30))
    val bxs = Array.tabulate(NBoxes)(i => Synth.box(seed, i, salt = 40))
    val answers = windows.map { w =>
      val ids =
        if (w.dataset == "points") pts.indices.iterator.filter { i =>
          val (x, y) = pts(i)
          w.x0 <= x && x <= w.x1 && w.y0 <= y && y <= w.y1
        }
        else bxs.indices.iterator.filter { i =>
          val (a, b, c, d) = bxs(i)
          a <= w.x1 && c >= w.x0 && b <= w.y1 && d >= w.y0
        }
      w.i -> answer(ids.map(_.toLong))
    }.toMap
    new Inputs(dir, windows, answers)
  }

  /** Data files of a written dataset. */
  def dataFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Rows in a written dataset, from its Parquet footers (no Spark job). */
  def footerRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(path).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Per-run write/read accounting reported as per-layer metrics; the
    * times are those of successful operations only. */
  final class Stats {
    var writeSeconds = 0.0
    var openSeconds = 0.0
    var rowsWritten = 0L
    var filesWritten = 0
    var bytesWritten = 0L
    var resultRows = 0L
  }

  /** Windows read untimed, after an untimed write, before the timed
    * rounds: until then the JIT is still compiling the read path and read
    * times fall by a third over the run. */
  val WarmWindows = 12

  /** Windows generated per run: the warm-up's, then the timed batches. */
  val WindowCount: Int = WarmWindows + WindowsPerRound * WindowBatches

  /** Rounds while `more(rounds done)` holds, at least one. Round n writes
    * both datasets under `out`/rn, then reads the windows of batch
    * n mod batches.size back in a seed-permuted order. */
  def run(spark: SparkSession, ops: Ops, in: Inputs, out: String, batches: Seq[Seq[Window]],
      seed: Long, more: Int => Boolean, tracer: Tracer, stats: Stats,
      onWritten: Map[String, Int] => Unit, afterOp: () => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    val sources = Seq(
      "points" -> (NPoints.toLong, spark.read.parquet(s"${in.dir}/plain_points")
        .select(col("id"), expr("st_point(x, y)").as("geom"))),
      "boxes" -> (NBoxes.toLong, spark.read.parquet(s"${in.dir}/plain_boxes")
        .select(col("id"), expr("st_makeenvelope(x0, y0, x1, y1)").as("geom"))))
    Ops.loop(more) { n =>
      round(spark, ops, in, s"$out/r$n", sources, rnd.shuffle(batches(n % batches.size)),
        tracer, stats, onWritten, afterOp)
    }
  }

  private def round(spark: SparkSession, ops: Ops, in: Inputs, out: String,
      sources: Seq[(String, (Long, org.apache.spark.sql.DataFrame))], windows: Seq[Window],
      tracer: Tracer, stats: Stats, onWritten: Map[String, Int] => Unit,
      afterOp: () => Unit): Unit = {
    val sc = spark.sparkContext
    ops.nextRound()
    sources.foreach { case (ds, (rows, df)) =>
      val path = s"$out/gp_$ds"
      sc.setLocalProperty(Probe.KindProp, "write")
      ops.run(s"gp.write.$ds", "write")({
        val t0 = System.nanoTime()
        tracer.span("sources.write", ds) {
          GeoParquet.write(df, path, "geom", crs = "EPSG:3857",
            clusterPartitions = FilesPerDataset)
        }
        (System.nanoTime() - t0) / 1e9
      }) { seconds =>
        val n = footerRows(spark, path)
        if (n != rows) Some(s"$n rows written, expected $rows")
        else { stats.writeSeconds += seconds; None }
      }
      sc.setLocalProperty(Probe.KindProp, null)
      val files = dataFiles(path)
      stats.rowsWritten += rows
      stats.filesWritten += files.size
      stats.bytesWritten += files.map(_.length).sum
      afterOp()
    }
    onWritten(sources.map { case (ds, _) =>
      val path = new java.io.File(s"$out/gp_$ds").getAbsolutePath
      path -> dataFiles(path).size
    }.toMap)
    windows.foreach { w =>
      ops.run(w.name, "query")({
        val t0 = System.nanoTime()
        val df = tracer.span("sources.read", w.name)(
          GeoParquet.read(spark, s"$out/gp_${w.dataset}"))
        val openSeconds = (System.nanoTime() - t0) / 1e9
        (openSeconds, df.where(expr(s"st_intersects(geom, st_geomfromtext('${w.wkt}'))"))
          .select("id").collect().map(_.getLong(0)))
      }) { case (openSeconds, ids) =>
        val got = answer(ids.iterator)
        val want = in.answers(w.i)
        if (got != want) Some(s"$got != expected $want")
        else {
          stats.openSeconds += openSeconds
          stats.resultRows += ids.length
          None
        }
      }
      afterOp()
    }
  }
}
