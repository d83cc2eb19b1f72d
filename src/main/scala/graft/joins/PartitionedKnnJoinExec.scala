package graft.joins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
import scala.jdk.CollectionConverters._

/** Partitioned KNN join: the KNN join whose object side has no broadcast
  * build side — too large, or hinted SHUFFLE_HASH / SHUFFLE_MERGE. It is
  * the reference's out-of-core KNN (per-partition top-k lists merged by
  * probe/knn_results_merger.rs) on the partitioned index join's KDB
  * partitioner and the broadcast KNN join's search:
  *
  *   1. Sample the object bounds and build a KDB tree with
  *      `spark.sql.shuffle.partitions` leaves; send each object to every
  *      leaf its bound meets. That one shuffle serves both rounds.
  *   2. Number the query rows as they are read, and send each to the leaf
  *      of its bound's min corner. Its local kth distance there is its
  *      radius r; with fewer than k objects in the leaf, r is infinite.
  *   3. Send each query to every leaf its bound widened by r meets. There,
  *      rank the objects within r that the leaf owns by the reference-point
  *      rule, so each pair is ranked in one leaf, and keep the top k.
  *   4. Shuffle the lists by query number and keep the k best of each by
  *      the shared order (`KnnJoinExec.byRank`).
  *
  * Every object within the true kth distance lies within r, so the merge
  * is exact, ties included. All of it runs at execution time: planning
  * starts no job. Null and empty geometries match nothing. Like the
  * partitioned index join it does not spill.
  */
case class PartitionedKnnJoinExec(
    queryPlan: SparkPlan,
    objectPlan: SparkPlan,
    queryGeom: Expression,
    objectGeom: Expression,
    k: Int,
    objectIsLeft: Boolean,
    spheroid: Boolean,
    tieBreak: Option[Expression],
    rankOutput: Seq[Attribute])
  extends BinaryExecNode {

  import BroadcastIndexSpatialJoinExec.{Shape, probeBound}
  import KnnJoinExec._
  import PartitionedIndexSpatialJoinExec._

  override def left: SparkPlan = if (objectIsLeft) objectPlan else queryPlan
  override def right: SparkPlan = if (objectIsLeft) queryPlan else objectPlan
  override def output: Seq[Attribute] = left.output ++ right.output ++ rankOutput

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "knn candidate pairs"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val kk = k
    val sph = spheroid
    val objLeft = objectIsLeft
    val ranked = rankOutput.nonEmpty
    val outTypes = output.map(_.dataType).toArray
    val objects = ObjectSide.bound(objectPlan.output, objectGeom, tieBreak, sph)
    val objectRows = objectPlan.execute()
    val objectBounds = Bounds(objects.geom, None, stream = false, sph)
    val kdb = kdbTree(Seq(objectRows -> objectBounds), math.max(1, conf.numShufflePartitions))
    val objectsByLeaf =
      exchange(objectRows, objects.types.toArray, kdb.numLeaves)(meeting(kdb, objectBounds))

    // a query row travels as [id, query columns], then gains its radius and
    // last each ranked candidate's distance, tie key and object row bytes
    val id = AttributeReference("id", LongType, nullable = false)()
    val radius = AttributeReference("r", DoubleType, nullable = false)()
    val candidate = Seq(AttributeReference("d", DoubleType, nullable = false)(),
      AttributeReference("tie", BinaryType, nullable = false)(),
      AttributeReference("object", BinaryType, nullable = false)())
    val withId = id +: queryPlan.output
    val withRadius = withId :+ radius
    val withCandidate = withRadius ++ candidate
    val nQuery = queryPlan.output.size
    val nObject = objectPlan.output.size
    val firstGeom = BindReferences.bindReference(queryGeom, withId)
    val firstBounds = Bounds(firstGeom, None, stream = true, sph)
    val secondGeom = BindReferences.bindReference(queryGeom, withRadius)
    val secondBounds = Bounds(secondGeom,
      Some(BindReferences.bindReference(radius: Expression, withRadius)), stream = true, sph)
    def types(attrs: Seq[Attribute]) = attrs.map(_.dataType).toArray
    def leaves(queries: RDD[InternalRow])(
        f: (Int, Iterator[InternalRow], Search) => Iterator[InternalRow]) =
      perLeaf(queries, objectsByLeaf) { (leaf, queryIter, objectIter) =>
        // the shuffle reader reuses its row buffer: the index keeps copies
        f(leaf, queryIter, new Search(objects.index(objectIter, copy = true)))
      }

    val atCorner = exchange(numbered(queryPlan.execute()), types(withId), kdb.numLeaves) { () =>
      val read = firstBounds.reader()
      row => {
        val b = read(row)
        if (b == null) Iterator.empty else Iterator.single(kdb.leafOfCorner(b, 0, sph))
      }
    }
    val radii = leaves(atCorner) { (_, queries, search) =>
      val r = new SpecificInternalRow(Seq(DoubleType))
      val joined = new JoinedRow()
      val q = new Shape(firstGeom)
      queries.map { row =>
        q.set(row)
        r.setDouble(0, padded(q, search.kthDistance(q, kk), sph))
        joined(row, r)
      }
    }
    val lists = leaves(exchange(radii, types(withRadius), kdb.numLeaves)(
        meeting(kdb, secondBounds))) { (leaf, queries, search) =>
      val cand = new SpecificInternalRow(Seq(DoubleType, BinaryType, BinaryType))
      val joined = new JoinedRow()
      val q = new Shape(secondGeom)
      val probe = new Array[Double](4)
      val owned = (i: Int) => kdb.leafOfPair(probe, search.index.bounds, 4 * i, sph) == leaf
      queries.flatMap { row =>
        q.set(row)
        val r = row.getDouble(nQuery + 1)
        probeBound(q, Some(r), sph, probe)
        search.rankWithin(q, r, kk, owned, candidatePairs).iterator.map { c =>
          cand.setDouble(0, c.d)
          cand.update(1, c.tie)
          cand.update(2, c.row.getBytes)
          joined(row, cand)
        }
      }
    }
    val merges = math.max(1, conf.numShufflePartitions)
    val queryColumns = queryPlan.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i + 1, a.dataType, a.nullable): Expression
    }
    exchange(lists, types(withCandidate), merges)(byKey(merges))
      .mapPartitions { rows =>
        val queryOf = UnsafeProjection.create(queryColumns)
        val best = new java.util.HashMap[Long, (UnsafeRow, TopK)]()
        rows.foreach { row =>
          val top = best.computeIfAbsent(row.getLong(0),
            _ => (queryOf(row).copy(), new TopK(kk)))._2
          val o = new UnsafeRow(nObject)
          val bytes = row.getBinary(nQuery + 4)
          o.pointTo(bytes, bytes.length)
          top.offer(new Candidate(row.getDouble(nQuery + 2), row.getBinary(nQuery + 3), o))
        }
        val emit = new Emit(objLeft, ranked, outTypes)
        best.values().iterator().asScala.flatMap { case (q, top) =>
          val cands = top.sorted
          numOutputRows += cands.length
          emit(q, cands)
        }
      }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    if (objectIsLeft) copy(objectPlan = newLeft, queryPlan = newRight)
    else copy(queryPlan = newLeft, objectPlan = newRight)
}
