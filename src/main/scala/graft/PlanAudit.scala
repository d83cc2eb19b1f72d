package graft
import org.apache.spark.sql.SparkSession

/** Plan guardrail: sweeps every gate query's physical plan for
  * scale-hostile operators (BroadcastNestedLoopJoin on a non-broadcastable
  * pattern, CartesianProduct) and reports per-query join strategy.
  * PlanAuditSpec runs the same sweep as CI assertions, so a silent
  * fallback to BNLJ fails the build long before it's a correctness bug. */
object PlanAudit {
  // pl08 brute-force cosine is an intentional broadcast NLJ (exact
  // baseline over a broadcast corpus); everything else must avoid it
  val allowedBnlj: Set[String] = Set("pl08_cosine_topk", "pl11_ivf_ann")

  final case class Entry(name: String, plan: String, tags: Seq[String],
      flagged: Boolean, error: Option[String])

  /** A BNLJ is acceptable exactly when every NON-EQUI logical join in the
    * query has a small pair product and no spherical predicate, so gates
    * carry NO conf windows and still can't hide a scale-hostile fallback:
    * a rewrite rule that silently stops firing on large sides pushes the
    * product past the cutoff and flags here. Cutoff: 65536² · 4 bytes² (~a couple million pairs at
    * 100 B/row). A join condition with an `st_*sphere` call never
    * justifies a BNLJ: broadcast-sized sphere joins plan the broadcast
    * index join and all others the partitioned index join. */
  private def bnljJustified(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cutoff = BigInt(65536) * 65536 * 4
    val all = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val nonEqui = all.filter(j => j.condition.isEmpty ||
      !graft.plans.RangeJoinShapes.hasEquiConjunct(j.condition.get, j.left, j.right))
    def spherical(j: Join): Boolean = j.condition.exists(_.exists {
      case graft.functions.GeomScalar(name, _, _, _, _) =>
        name.startsWith("st_") && name.endsWith("sphere")
      case _ => false
    })
    // the physical BNLJ came from SOME logical join: judge the non-equi
    // ones when present, otherwise every join (an equi-join shape Catalyst
    // could not hash — e.g. an outer join with a null-intolerant key —
    // still falls back to BNLJ and must not pass vacuously); a BNLJ with
    // no logical join at all (subquery machinery) is never justified
    val suspects = if (nonEqui.nonEmpty) nonEqui else all
    suspects.nonEmpty && suspects.forall(j => !spherical(j) &&
      j.left.stats.sizeInBytes * j.right.stats.sizeInBytes <= cutoff)
  }

  /** Build (not execute) every gate query's physical plan and classify
    * its join strategy. */
  def audit(spark: SparkSession, dir: String): Seq[Entry] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val p = df.queryExecution.executedPlan.toString
        val bnlj = p.contains("BroadcastNestedLoopJoin")
        val cart = p.contains("CartesianProduct")
        val tags = Seq(
          if (p.contains("BroadcastIndexSpatialJoin")) Some("spatial-idx") else None,
          if (p.contains("PartitionedIndexSpatialJoin")) Some("spatial-part") else None,
          if (p.contains("KnnJoin ")) Some("knn") else None,
          if (p.contains("SortMergeJoin")) Some("smj") else None,
          if (p.contains("ShuffledHashJoin")) Some("shj") else None,
          if (p.contains("BroadcastHashJoin")) Some("bhj") else None,
          if (bnlj) Some("BNLJ") else None,
          if (cart) Some("CARTESIAN") else None).flatten
        val badBnlj = bnlj && !allowedBnlj(name) && !bnljJustified(df)
        Entry(name, p, tags, badBnlj || cart, None)
      } catch {
        case e: Exception => Entry(name, "", Nil, flagged = true,
          Some(String.valueOf(e.getMessage)))
      }
    }

  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.localSession("8", "ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val entries = audit(spark, dir)
    entries.foreach { e =>
      val tail = e.error.map(m => s" ERROR $m")
        .getOrElse(if (e.flagged) "  <-- FLAG" else "")
      println(f"[audit] ${e.name}%-28s ${e.tags.mkString(",")}$tail")
    }
    val bad = entries.count(_.flagged)
    println(s"[audit] flagged=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
