package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType
import graft.joins.SpatialPredicate
import graft.functions.GeomScalars

/** Planner-level large-large spatial join — the 100 TB path for SQL users.
  *
  * When a join condition carries a spatial predicate and NEITHER side fits
  * the broadcast threshold, rewrites the logical join into the
  * grid-partitioned form (the reference's out-of-core partitioned join,
  * rust/sedona-spatial-join/src/partitioning/kdb.rs:20-46 multi-assignment
  * + dedup, re-expressed with Spark relational operators):
  *
  *   Join(L, R, pred(lg, rg))
  *     =>
  *   Project(L.out ++ R.out,
  *     Join(Generate(explode(gridcells(lg)), L)  as L + __lcell,
  *          Generate(explode(gridcells(rg)), R)  as R + __rcell,
  *          Inner, __lcell = __rcell
  *                 AND pred(lg, rg)
  *                 AND refcell(lg, rg) = __lcell))   -- reference-point dedup
  *
  * The rewritten join has an equi-conjunct on the cell id, so Catalyst
  * plans a shuffled hash / sort-merge join: the shuffle machinery, AQE
  * skew-split (hot cells), and codegen all apply — exactly what a
  * hand-rolled out-of-core spatial join would have to re-implement.
  * ST_DWithin / ST_Distance < d joins expand the left envelope by d for
  * cell assignment and dedup, so cross-cell pairs within d still co-locate.
  *
  * Grid bounds come from a bounds pre-pass (min/max of the two sides'
  * envelopes — a partial-aggregated single-column scan, the Spark analog
  * of the reference's bbox sampling, option.rs:110-120) that runs once at
  * optimization time. Resolution from `spark.graft.join.grid.nx/ny`
  * (default 64x64; size so a cell holds O(10k) rows at your scale).
  * `spark.graft.join.grid.enabled=false` disables the rewrite (falls back
  * to BroadcastNestedLoopJoin). Inner joins only; outer large-large
  * spatial joins fall back.
  */
case class GridSpatialJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  private def hasEquiConjunct(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.grid.enabled", "true") != "true") return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == Cross) && !hasEquiConjunct(cond, left, right)
            && bothLarge(left, right) =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(ex) if ex.distance.forall(_.references.subsetOf(left.outputSet)) =>
            rewrite(left, right, ex).getOrElse(j)
          case _ => j
        }
      case j @ Join(left, right, LeftOuter, Some(cond), _)
          if !hasEquiConjunct(cond, left, right) && bothLarge(left, right)
            && left.output.map(_.name).toSet
              .intersect(right.output.map(_.name).toSet).isEmpty =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(ex) if ex.distance.forall(_.references.subsetOf(left.outputSet)) =>
            rewriteLeftOuter(j, left, right, ex).getOrElse(j)
          case _ => j
        }
      // FULL OUTER fires at EVERY size: without the rewrite Spark's only
      // plan is a BroadcastNestedLoopJoin (correct, quadratic refine), so
      // even the broadcast-sized case wins from inner-join + anti-pads —
      // the inner join below re-enters planning and takes the broadcast
      // index path (small side) or this rule's grid path (both large).
      case j @ Join(left, right, FullOuter, Some(cond), _)
          if !j.isStreaming && !hasEquiConjunct(cond, left, right) =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(_) => rewriteFullOuter(j, left, right, cond).getOrElse(j)
          case None => j
        }
    }
  }

  /** FULL OUTER: the reference's spatial join supports inner/left/right/
    * full (rust/sedona-spatial-join/src/exec.rs:88, test_sjoin.py:34-36);
    * here full-outer assembles from the INNER spatial join over row-id-
    * tagged sides plus BOTH anti-pads (the row-id tag + null-pad scheme
    * `SphereJoinRule.rewriteLeftType` / `rewriteLeftOuter` already prove):
    *
    *   L' = L + __fsj_lid (persisted: both branches must see one id set)
    *   R' = R + __fsj_rid (persisted)
    *   inner = L' JOIN R' ON cond            -- broadcast or grid planned
    *   full  = inner ∪ (L' ANTI matchedL) × nulls ∪ nulls × (R' ANTI matchedR)
    *
    * All column plumbing is positional (attribute-based) so shared names
    * across sides are fine. The matched-id sides are distinct long sets —
    * broadcast-sized in the anti joins by construction at any data scale
    * where the inner result itself is computable. */
  private def rewriteFullOuter(
      j: Join, lChild: LogicalPlan, rChild: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.DatasetBridge
    if (j.output.exists(a => a.name == "__fsj_lid" || a.name == "__fsj_rid" ||
        a.name == "__fsj_mid" || a.name == "__fsj_plid" || a.name == "__fsj_prid"))
      return None
    val lDF = graft.CacheRegistry.register(
      DatasetBridge.ofRows(session, lChild)
        .withColumn("__fsj_lid", monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rDF = graft.CacheRegistry.register(
      DatasetBridge.ofRows(session, rChild)
        .withColumn("__fsj_rid", monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the tagged sides keep the children's attribute ids, so the original
    // condition resolves against them unchanged
    // Abandoned-rewrite bail-outs must release every cache created above
    // (ADVICE r16): a declined rewrite otherwise pins lDF/rDF/pairs for
    // the whole session.
    def bail(extra: org.apache.spark.sql.DataFrame*): Option[LogicalPlan] = {
      (Seq(lDF, rDF) ++ extra).foreach(graft.CacheRegistry.release)
      None
    }
    val inner = lDF.join(rDF, DatasetBridge.column(cond), "inner")
    val innerAttrs = inner.queryExecution.analyzed.output
    val nL = lChild.output.length
    val nR = rChild.output.length
    if (innerAttrs.length != nL + 1 + nR + 1) return bail()
    val lidInner = innerAttrs(nL)
    val ridInner = innerAttrs.last
    // Persist ONLY the narrow matched-id pair set: the (possibly
    // large-large grid) inner spatial join executes ONCE, and the union
    // branch plus both matched-id sets all read the two-long pairs —
    // the wide result rows rebuild via equi hash joins against the
    // already-persisted sides (the KNN winner-rejoin pattern).
    val pairs = graft.CacheRegistry.register(
      inner.select(DatasetBridge.column(lidInner).as("__fsj_plid"),
          DatasetBridge.column(ridInner).as("__fsj_prid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairsOut = pairs.queryExecution.analyzed.output
    val pLid = DatasetBridge.column(pairsOut.head)
    val pRid = DatasetBridge.column(pairsOut.last)
    val matchedL = pairs.select(pLid.as("__fsj_mid")).distinct()
    val matchedR = pairs.select(pRid.as("__fsj_mid")).distinct()
    val lTagId = lDF.queryExecution.analyzed.output.last
    val rTagId = rDF.queryExecution.analyzed.output.last
    val lCols = lChild.output.map(DatasetBridge.column)
    val rCols = rChild.output.map(DatasetBridge.column)
    // the rejoin is a SELF-join (pairs' lineage contains both sides), so
    // Spark de-dups the right occurrences under fresh attribute ids —
    // project the rebuilt wide row POSITIONALLY from the joined output
    val rejoined = pairs
      .join(lDF, pLid === DatasetBridge.column(lTagId))
      .join(rDF, pRid === DatasetBridge.column(rTagId))
    val rjOut = rejoined.queryExecution.analyzed.output
    if (rjOut.length != 2 + nL + 1 + nR + 1) return bail(pairs)
    val matchedRows = rejoined.select(
      (rjOut.slice(2, 2 + nL) ++ rjOut.slice(2 + nL + 1, 2 + nL + 1 + nR))
        .map(DatasetBridge.column): _*)
    val antiL = lDF.join(matchedL,
        DatasetBridge.column(lTagId) === col("__fsj_mid"), "left_anti")
      .select(lCols ++ rChild.output.map(a => lit(null).cast(a.dataType)): _*)
    val antiR = rDF.join(matchedR,
        DatasetBridge.column(rTagId) === col("__fsj_mid"), "left_anti")
      .select(lChild.output.map(a => lit(null).cast(a.dataType)) ++ rCols: _*)
    val result = matchedRows.unionAll(antiL).unionAll(antiR)
    val analyzed = result.queryExecution.optimizedPlan
    if (analyzed.output.length != j.output.length) bail(pairs)
    else Some(Project(j.output.zip(analyzed.output).map { case (orig, a) =>
      Alias(a, orig.name)(exprId = orig.exprId)
    }, analyzed))
  }

  /** Large-large LEFT OUTER: inner grid join over a row-id-tagged left
    * side, then null-padded anti rows unioned back. The tagged left is
    * persisted inside the rewrite so both branches observe identical ids.
    */
  private def rewriteLeftOuter(
      j: Join, lChild: LogicalPlan, rChild: LogicalPlan,
      ex: SpatialPredicate.Extracted): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.DatasetBridge
    bounds(lChild, rChild, ex).map { b =>
      val nx = conf("spark.graft.join.grid.nx", "64").toInt
      val ny = conf("spark.graft.join.grid.ny", "64").toInt
      val lDF = graft.CacheRegistry.register(
        DatasetBridge.ofRows(session, lChild)
          .withColumn("__gsj_id", monotonically_increasing_id())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val rDF = DatasetBridge.ofRows(session, rChild)
      val lNames = lChild.output.map(_.name)
      val rNames = rChild.output.map(_.name)
      var inner = graft.operators.SpatialJoins.gridJoin(
        lDF, rDF, DatasetBridge.column(ex.leftGeom), DatasetBridge.column(ex.rightGeom),
        ex.predName, bounds = Some(b), nx = nx, ny = ny,
        distance = ex.distance.map(DatasetBridge.column))
      ex.remainder.foreach(r => inner = inner.filter(DatasetBridge.column(r)))
      val matched = inner.select(col("__gsj_id")).distinct()
      val anti = lDF.join(matched, Seq("__gsj_id"), "left_anti")
        .select(lNames.map(col) ++
          rChild.output.map(a => lit(null).cast(a.dataType).as(a.name)): _*)
      val result = inner.select((lNames ++ rNames).map(col): _*).unionAll(anti)
      val analyzed = result.queryExecution.optimizedPlan
      val byName = analyzed.output.map(a => a.name -> a).toMap
      Project(j.output.map { orig =>
        Alias(byName(orig.name), orig.name)(exprId = orig.exprId)
      }, analyzed)
    }
  }

  private def bothLarge(left: LogicalPlan, right: LogicalPlan): Boolean = {
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) true // broadcast disabled: grid is the only distributed path
    else left.stats.sizeInBytes > threshold && right.stats.sizeInBytes > threshold
  }

  private def rewrite(
      left: LogicalPlan, right: LogicalPlan,
      ex: SpatialPredicate.Extracted): Option[LogicalPlan] = {
    val b = GeomScalars.registry
    bounds(left, right, ex).map { case (xmin, ymin, xmax, ymax) =>
      val nx = conf("spark.graft.join.grid.nx", "64").toInt
      val ny = conf("spark.graft.join.grid.ny", "64").toInt
      val gridLits = Seq[Expression](Literal(xmin), Literal(ymin), Literal(xmax),
        Literal(ymax), Literal(nx), Literal(ny))
      // Each side parses its WKB once (sd_envelope4 projected as a column);
      // cell explode, bbox overlap and reference-point dedup run on the
      // envelope doubles — codegen'd arithmetic, no per-pair parse. DWithin
      // expands the left envelope by d so cells/ref-point of the pair's
      // d-neighbourhood intersection stay consistent on both paths.
      val arr4 = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false)
      def envProject(child: LogicalPlan, geom: Expression, name: String,
          expand: Option[Expression]): (LogicalPlan, AttributeReference) = {
        val rawAlias = Alias(b("sd_envelope4")(Seq(geom)), s"${name}raw")()
        val p1 = Project(child.output :+ rawAlias, child)
        val rawRef = p1.output.last
        def item(k: Int): Expression = GetArrayItem(rawRef, Literal(k))
        val e4: Expression = expand match {
          case Some(d0) =>
            // optimizer-built expressions skip analyzer coercion: force the
            // radius to double before the envelope arithmetic
            val d = if (d0.dataType == org.apache.spark.sql.types.DoubleType) d0
              else Cast(d0, org.apache.spark.sql.types.DoubleType)
            CreateArray(Seq(
              Subtract(item(0), d), Subtract(item(1), d),
              Add(item(2), d), Add(item(3), d)))
          case None => rawRef
        }
        val p2 = Project(child.output :+ Alias(e4, name)(), p1)
        (p2, p2.output.last.asInstanceOf[AttributeReference])
      }
      val (lSide, l4) = envProject(left, ex.leftGeom, "__l4", ex.distance)
      val (rSide, r4) = envProject(right, ex.rightGeom, "__r4", None)
      val lcell = AttributeReference("__lcell", LongType, nullable = false)()
      val rcell = AttributeReference("__rcell", LongType, nullable = false)()
      def gen(child: LogicalPlan, e4: Expression, cellAttr: AttributeReference) =
        Generate(Explode(b("sd_gridcells4")(e4 +: gridLits)),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(cellAttr), child = child)
      val lgen = gen(lSide, l4, lcell)
      val rgen = gen(rSide, r4, rcell)
      def li(k: Int): Expression = GetArrayItem(l4, Literal(k))
      def ri(k: Int): Expression = GetArrayItem(r4, Literal(k))
      val bboxOverlap = Seq(
        LessThanOrEqual(li(0), ri(2)), LessThanOrEqual(ri(0), li(2)),
        LessThanOrEqual(li(1), ri(3)), LessThanOrEqual(ri(1), li(3))).reduce[Expression](And)
      // arithmetic twin of Grid.cellOf (Floor is LongType; 0-clamp makes
      // trunc-toward-zero and floor agree, so ids match sd_gridcells4)
      def cellc(x: Expression, mn: Double, mx: Double, n: Int): Expression =
        Least(Seq(Greatest(Seq(
          Floor(Multiply(Divide(Subtract(x, Literal(mn)), Literal(mx - mn)),
            Literal(n.toDouble))), Literal(0L))), Literal((n - 1).toLong)))
      val dedup = EqualTo(Add(
        Multiply(cellc(Greatest(Seq(li(1), ri(1))), ymin, ymax, ny), Literal(nx.toLong)),
        cellc(Greatest(Seq(li(0), ri(0))), xmin, xmax, nx)), lcell)
      val refine: Expression = ex.distance match {
        case Some(d) => b("st_dwithin")(Seq(ex.leftGeom, ex.rightGeom, d))
        case None => b(ex.predName)(Seq(ex.leftGeom, ex.rightGeom))
      }
      val newCond = (Seq[Expression](EqualTo(lcell, rcell), bboxOverlap, dedup, refine) ++
        ex.remainder).reduce(And)
      Project(left.output ++ right.output,
        Join(lgen, rgen, Inner, Some(newCond), JoinHint.NONE))
    }
  }

  /** Grid extent: a min/max envelope pre-pass over both (already
    * filter-pushed, column-pruned) children. */
  private def bounds(
      left: LogicalPlan, right: LogicalPlan,
      ex: SpatialPredicate.Extracted): Option[(Double, Double, Double, Double)] = {
    def side(plan: LogicalPlan, geom: Expression): Option[(Double, Double, Double, Double)] = {
      // one envelope aggregate = one WKB parse per row (vs 4 min/max
      // kernel aggregates), partial-merged map-side
      val node = Aggregate(Nil, Seq(Alias(
        graft.functions.StEnvelopeAgg(geom).toAggregateExpression(), "e")()), plan)
      val rows = session.sessionState.executePlan(node).executedPlan.executeCollect()
      if (rows.isEmpty || rows(0).isNullAt(0)) None
      else {
        val env = graft.geom.GeomIO.read(rows(0).getBinary(0)).getEnvelopeInternal
        if (env.isNull) None
        else Some((env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
      }
    }
    for {
      (lx0, ly0, lx1, ly1) <- side(left, ex.leftGeom)
      (rx0, ry0, rx1, ry1) <- side(right, ex.rightGeom)
    } yield (math.min(lx0, rx0), math.min(ly0, ry0),
      math.max(lx1, rx1), math.max(ly1, ry1))
  }
}
