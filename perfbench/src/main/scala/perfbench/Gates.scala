package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** The streaming workload: the program's own streaming gate queries
  * (`SparkEntry.queries`) run once each, cold, in name order, against the
  * TPC-H-like tables at sf0.1. Each gate is timed from calling its builder to the last row
  * collected on the driver; its answer is then checked, outside the
  * timing, against a golden digest captured from this code.
  *
  * The order is fixed, not drawn from the seed: the first gate of a
  * family pays the family's class loading and JIT, so a shuffled cold
  * order moves seconds between gates and the per-gate median with it.
  * The inputs are the fixed sf0.1 tables, so the seed changes nothing
  * here. */
object Gates {

  /** streaming: four of the nine streaming gates, one per kind of state:
    * session windows, a stream-stream spatial join, a windowed aggregate
    * and watermarked deduplication. */
  val streaming: Seq[String] = Seq(
    "st01_stream_sessionize", "st03_stream_stream_spatial_join",
    "st05_stream_window_agg", "st09_stream_dedup_bounded")

  final case class Digest(rows: Long, schema: String, hash: String) {
    def json: Seq[(String, Any)] =
      Seq("rows" -> rows, "schema" -> schema, "hash" -> hash)
  }

  def loadGolden(file: java.io.File): Map[String, Digest] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val root = org.json4s.jackson.JsonMethods.parse(file)
    (root \ "gates").asInstanceOf[JObject].obj.map { case (name, v) =>
      name -> Digest((v \ "rows").extract[Long],
        (v \ "schema").extract[String], (v \ "hash").extract[String])
    }.toMap
  }

  /** Order-insensitive digest: row count, schema, and the wrapping sum of
    * a 64-bit hash of each row's canonical rendering. Doubles are
    * rendered at 9 decimal places, as the program's oracle compare does. */
  def digest(schema: StructType, rows: Array[Row]): Digest = {
    var h = 0L
    rows.foreach { r =>
      val s = render(r)
      h += (MurmurHash3.stringHash(s, 0x5eed1).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x5eed2) & 0xffffffffL)
    }
    Digest(rows.length.toLong, schema.simpleString, f"$h%016x")
  }

  private def render(v: Any): String = v match {
    case null => "N"
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => render(d.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case s: String => s"${s.length}:$s"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** One gate, as its user would run it: build, then collect every row. */
  def execute(spark: SparkSession, name: String, dataDir: String): (StructType, Array[Row]) = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    val rows = df.collect()
    (df.schema, rows)
  }

  def run(spark: SparkSession, ops: Ops, names: Seq[String],
      dataDir: String, golden: Map[String, Digest], afterOp: () => Unit): Unit = {
    ops.nextRound()
    names.foreach { name =>
      ops.run(name, "query")(execute(spark, name, dataDir)) { case (schema, rows) =>
        val got = digest(schema, rows)
        golden.get(name) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"digest $got != golden $want")
          case None => Some("no golden digest for this gate")
        }
      }
      afterOp()
    }
  }

  /** Captures the golden digest of every gate a workload runs. */
  def capture(spark: SparkSession, dataDir: String, out: java.io.File): Unit = {
    val entries = streaming.map { name =>
      val (schema, rows) = execute(spark, name, dataDir)
      val d = digest(schema, rows)
      System.err.println(s"[capture] $name ${Json.obj(d.json)}")
      name -> d.json
    }
    val body = entries.map { case (n, v) => s"    ${Json.str(n)}: ${Json.obj(v)}" }
      .mkString("{\n  \"data\": \"sf0.1\",\n  \"gates\": {\n", ",\n", "\n  }\n}\n")
    java.nio.file.Files.write(out.toPath, body.getBytes("UTF-8"))
  }
}
