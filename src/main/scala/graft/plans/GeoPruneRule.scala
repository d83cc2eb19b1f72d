package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.locationtech.jts.geom.Envelope
import graft.functions.GeomScalar
import graft.geom.GeomIO

/** Marker FileIndex for file-level geo pruning — its presence keeps the
  * fixpoint-batch rule idempotent (never re-prunes a pruned scan). */
class GeoPrunedFileIndex(
    spark: SparkSession,
    files: Seq[org.apache.hadoop.fs.Path],
    schema: Option[StructType])
  extends InMemoryFileIndex(spark, files, Map.empty[String, String], schema,
    FileStatusCache.getOrCreate(spark), None, None)

/** A DOUBLE literal whose generated code reads its value from the
  * references array, as Spark's `Literal` already does for NaN and ±∞,
  * instead of inlining it. Filters that differ only in such bounds then
  * generate the same Java, so a new query window hits the codegen cache
  * rather than compiling a new class. Still a `Literal`: filter pushdown
  * and the plan text see the plain value. */
class ReferencedLiteral(v: Double) extends Literal(v, DoubleType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Double.valueOf(v))
    ev.copy(code = code"final double ${ev.value} = (double) $ref;", isNull = FalseLiteral)
  }
}

/** Rewrites spatial filters against a geometry column that has a sibling
  * `<name>_bbox` covering column into additional bbox range conjuncts:
  *
  *   st_intersects(geom, <const>) ∧ ...
  *     ⇒ geom_bbox.xmin <= env.xmax ∧ ... ∧ st_intersects(geom, <const>) ∧ ...
  *
  * The range predicates are plain comparisons on struct fields, which
  * Spark's parquet source pushes down to row-group min/max pruning — this
  * one rewrite buys the reference's covering-column skip
  * (rust/sedona-geoparquet/src/file_opener.rs:315-340 and the ST-predicate
  * → bbox extraction of rust/sedona-expr/src/spatial_filter.rs:50-199).
  * The original ST predicate stays for exact refinement, after the
  * ranges: a scanned row outside the window fails on four comparisons
  * before any WKB is parsed. The bounds are [[ReferencedLiteral]]s, so
  * every window compiles to the same filter code.
  */
object GeoPruneRule extends Rule[LogicalPlan] {

  /** Predicates whose true-set is contained in envelope intersection. */
  private val prunable = Set("st_intersects", "st_within", "st_contains",
    "st_covers", "st_coveredby", "st_covered_by", "st_equals", "st_touches", "st_overlaps",
    "st_crosses")

  private def constEnvelope(e: Expression): Option[Envelope] =
    if (e.foldable) {
      e.eval() match {
        case b: Array[Byte] => Some(GeomIO.read(b).getEnvelopeInternal)
        case _ => None
      }
    } else None

  private def bboxFor(child: LogicalPlan, geom: Expression): Option[Attribute] =
    geom match {
      case a: Attribute => child.output.find(_.name == a.name + "_bbox")
      case _ => None
    }

  private def rangePreds(bbox: Attribute, env: Envelope): Expression = {
    def f(name: String) = GetStructField(bbox,
      bbox.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldIndex(name),
      Some(name))
    And(And(
      LessThanOrEqual(f("xmin"), new ReferencedLiteral(env.getMaxX)),
      GreaterThanOrEqual(f("xmax"), new ReferencedLiteral(env.getMinX))),
      And(
        LessThanOrEqual(f("ymin"), new ReferencedLiteral(env.getMaxY)),
        GreaterThanOrEqual(f("ymax"), new ReferencedLiteral(env.getMinY))))
  }

  /** Filter envelopes per geometry-attribute name: prunable-predicate
    * conjuncts against a constant, DWithin expanded by its radius;
    * multiple conjuncts on one attribute intersect. */
  private def filterEnvelopes(conjuncts: Seq[Expression]): Map[String, Envelope] = {
    def attrName(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    val pairs = conjuncts.flatMap {
      case GeomScalar(name, Seq(a, b), _, _, _) if prunable(name) =>
        (for { env <- constEnvelope(b); n <- attrName(a) } yield n -> env).toSeq ++
          (for { env <- constEnvelope(a); n <- attrName(b) } yield n -> env).toSeq
      case GeomScalar("st_dwithin", Seq(a, b, d), _, _, _) if d.foldable =>
        val dist = d.eval() match {
          case n: java.lang.Number => n.doubleValue()
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case _ => 0.0
        }
        def expanded(c: Expression): Option[Envelope] = constEnvelope(c).map { env =>
          val e2 = new Envelope(env); e2.expandBy(dist); e2
        }
        (for { env <- expanded(b); n <- attrName(a) } yield n -> env).toSeq ++
          (for { env <- expanded(a); n <- attrName(b) } yield n -> env).toSeq
      case _ => Nil
    }
    pairs.groupBy(_._1).map { case (n, es) =>
      val acc = new Envelope(es.head._2)
      es.tail.foreach { case (_, e) =>
        val i = acc.intersection(e); acc.init(i)
      }
      n -> acc
    }
  }

  /** File-level skip via the `_geo_files.json` manifest: when the filter
    * bounds a geometry column of a single-root, non-partitioned parquet
    * scan, relist the scan over only the files whose manifest bbox
    * intersects the query envelope. Files absent from the manifest are
    * kept (safety); returns None when nothing is dropped. This is the
    * reference's file-level prune (file_opener.rs:291-309) — at 10^6
    * files it saves the footer-open pass that row-group pruning still
    * pays. */
  private def pruneFiles(
      lr: LogicalRelation, envs: Map[String, Envelope]): Option[LogicalRelation] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
          !fs.location.isInstanceOf[GeoPrunedFileIndex] &&
          fs.location.rootPaths.length == 1 =>
        val spark = SparkSession.active
        val root = fs.location.rootPaths.head
        for {
          man <- graft.sources.GeoParquet.fileManifest(spark, root)
          colName <- graft.sources.GeoParquet.manifestColumn(spark, root)
          env <- envs.get(colName)
          all = fs.location.inputFiles
          keep = all.filter { p =>
            man.get(p.split('/').last).forall(b =>
              b(0) <= env.getMaxX && b(2) >= env.getMinX &&
                b(1) <= env.getMaxY && b(3) >= env.getMinY)
          }
          if keep.length < all.length
        } yield {
          val idx = new GeoPrunedFileIndex(spark,
            keep.toSeq.map(new org.apache.hadoop.fs.Path(_)), Some(fs.dataSchema))
          lr.copy(relation = fs.copy(location = idx)(spark))
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case fl @ Filter(cond, child) =>
      def split(e: Expression): Seq[Expression] = e match {
        case And(l, r) => split(l) ++ split(r)
        case o => Seq(o)
      }
      val conjuncts = split(cond)
      val newChild = child match {
        case lr: LogicalRelation =>
          pruneFiles(lr, filterEnvelopes(conjuncts)).getOrElse(child)
        case _ => child
      }
      val bboxRefs = conjuncts.flatMap(_.references).filter(_.name.endsWith("_bbox")).toSet
      val added = conjuncts.flatMap {
        case GeomScalar(name, Seq(a, b), _, _, _) if prunable(name) =>
          val fromA = for {
            env <- constEnvelope(b); bbox <- bboxFor(child, a)
            if !bboxRefs.contains(bbox)
          } yield rangePreds(bbox, env)
          val fromB = for {
            env <- constEnvelope(a); bbox <- bboxFor(child, b)
            if !bboxRefs.contains(bbox)
          } yield rangePreds(bbox, env)
          fromA.toSeq ++ fromB.toSeq
        case GeomScalar("st_dwithin", Seq(a, b, d), _, _, _) if d.foldable =>
          val dist = d.eval() match {
            case n: java.lang.Number => n.doubleValue()
            case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
            case _ => 0.0
          }
          def expanded(c: Expression): Option[Envelope] = constEnvelope(c).map { env =>
            val e2 = new Envelope(env); e2.expandBy(dist); e2
          }
          val fromA = for {
            env <- expanded(b); bbox <- bboxFor(child, a)
            if !bboxRefs.contains(bbox)
          } yield rangePreds(bbox, env)
          val fromB = for {
            env <- expanded(a); bbox <- bboxFor(child, b)
            if !bboxRefs.contains(bbox)
          } yield rangePreds(bbox, env)
          fromA.toSeq ++ fromB.toSeq
        case _ => Nil
      }
      if (added.isEmpty && (newChild eq child)) fl
      else Filter((added :+ cond).reduceLeft(And), newChild)
  }
}
