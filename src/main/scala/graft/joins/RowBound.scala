package graft.joins

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Unevaluable}
import org.apache.spark.sql.types._
import graft.geom.GeomIO

/** A range join's side bound ([[SpatialPredicate.extractBand]]): the
  * values `lo` and `hi`, read as the box [min(lo, hi), max(lo, hi)] ×
  * [0, 0]. It stands where a spatial join has its geometry; the index
  * joins read it through [[RowBound]] and never evaluate it. */
case class Span(lo: Expression, hi: Expression) extends BinaryExpression with Unevaluable {
  override def left: Expression = lo
  override def right: Expression = hi
  override def dataType: DataType =
    StructType(Seq(StructField("lo", DoubleType), StructField("hi", DoubleType)))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Span = copy(lo = newLeft, hi = newRight)
}

/** How an index join reads one side's row bounds: from a WKB geometry
  * (`GeomIO.bounds`), or from a [[Span]]. The build items, the probe's
  * `Shape` and the partitioned exec's routing each choose it once per side
  * and task ([[RowBound.apply]]), never per row. */
abstract class RowBound {

  /** `row`'s bound as minX, minY, maxX, maxY into `out` from `at`, and its
    * shape tag; `GeomIO.EmptyShape` (nothing written) when it has none. */
  def apply(row: InternalRow, out: Array[Double], at: Int): Int

  /** The WKB of the row read last, for JTS; null for a span. */
  def wkb: Array[Byte]
}

object RowBound {

  /** The reader of bound expression `e`: a [[Span]] or a WKB geometry. */
  def apply(e: Expression): RowBound = e match {
    case Span(lo, hi) => new SpanBound(lo, hi)
    case geom => new WkbBound(geom)
  }

  private final class WkbBound(geom: Expression) extends RowBound {
    var wkb: Array[Byte] = _

    def apply(row: InternalRow, out: Array[Double], at: Int): Int = {
      wkb = geom.eval(row).asInstanceOf[Array[Byte]]
      if (wkb == null) GeomIO.EmptyShape else GeomIO.bounds(wkb, out, at)
    }
  }

  /** A span's box, tagged a point or a rectangle, so the `st_intersects`
    * refine answers every pair from the boxes. A null endpoint gives no
    * bound: the condition cannot hold for it. */
  private final class SpanBound(lo: Expression, hi: Expression) extends RowBound {
    private val loValue = value(lo.dataType)
    private val hiValue = value(hi.dataType)

    def wkb: Array[Byte] = null

    def apply(row: InternalRow, out: Array[Double], at: Int): Int = {
      val a = lo.eval(row)
      val b = if (a == null) null else hi.eval(row)
      if (b == null) GeomIO.EmptyShape
      else {
        val x = loValue(a)
        val y = hiValue(b)
        out(at) = math.min(x, y); out(at + 1) = 0.0
        out(at + 2) = math.max(x, y); out(at + 3) = 0.0
        if (x == y) GeomIO.PointShape else GeomIO.RectShape
      }
    }
  }

  /** Values of type `t` (a `SpatialPredicate.bandable` type) on the
    * double line, by one monotone non-decreasing map: integral, decimal
    * and TIMESTAMP (micros) values rounded to the nearest double, floats
    * exactly, and NaN, which Spark orders above every value, to +∞. Both
    * values of a band conjunct have one type, so a pair that passes it
    * maps to boxes that meet. */
  def value(t: DataType): Any => Double = t match {
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case LongType | TimestampType => v => v.asInstanceOf[Long].toDouble
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case FloatType => v => orderedHigh(v.asInstanceOf[Float].toDouble)
    case DoubleType => v => orderedHigh(v.asInstanceOf[Double])
  }

  private def orderedHigh(d: Double): Double = if (d.isNaN) Double.PositiveInfinity else d
}
