package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed DBSCAN (Ester et al., KDD'96), composed from the engine's
  * own scale primitives instead of a bespoke clusterer:
  *
  *   1. eps-neighbor pairs from the partitioned GRID join — one cell
  *      equi-shuffle, reference-cell dedup, never an all-pairs product;
  *   2. core points from one degree aggregation
  *      (|N_eps(p)| >= minPts, N including p itself);
  *   3. cluster ids from the size-adaptive connected components of the
  *      core-core subgraph (`PipelineOps.connectedComponents` — local
  *      union-find when the edge list is small, pointer-jumping label
  *      propagation at scale), min core id per component;
  *   4. border points (non-core with a core neighbor) attach to the
  *      MINIMUM cluster id among their core neighbors — a deterministic
  *      restatement of DBSCAN's order-dependent border assignment that
  *      an oracle can reproduce; everything else is noise.
  *
  * Size-adaptive local finish (opt r18, guide §1.2): when the
  * eps-neighbor pair list fits the driver cap (the same heap-derived
  * budget as connectedComponents' local union-find — the precedent this
  * follows), steps 2-4 collapse into ONE primitive-array pass over the
  * packed pair list: degree count, union-find over core-core rows,
  * border minima. That replaces ~15 tiny shuffle jobs (degree agg, two
  * semi joins, CC materialization, border joins) whose per-job
  * scheduling dominated the operator at small pair counts, with one
  * collect and one broadcast join back to the points. Above the cap the
  * distributed plan runs unchanged — it is the 100 TB path.
  *
  * Output: (id, role 'core'|'border'|'noise', cluster — null for noise).
  * Every distributed stage is a shuffle-bounded DataFrame op, so the
  * operator inherits AQE sizing and scales with the neighbor-graph size,
  * not the point-pair product.
  */
object Dbscan {

  def dbscan(df: DataFrame, id: Column, geom: Column, eps: Double,
      minPts: Int, bounds: Option[(Double, Double, Double, Double)] = None,
      nx: Int = 64, ny: Int = 64): DataFrame = {
    require(eps > 0 && minPts >= 1, s"dbscan: bad eps=$eps minPts=$minPts")
    import org.apache.spark.sql.graft.DatasetBridge
    val spark = df.sparkSession
    // lineage barrier: `pts` and `pairs` fan into many downstream
    // branches (degree, core-core semi joins, border assignment, final
    // join); leaving the full subtree in each branch makes the
    // analyzer's DeduplicateRelations pass traverse an exponentially
    // shared DAG (minutes of driver CPU at planning time). Re-entering
    // through an InternalRow RDD leaf keeps each branch's plan O(1)
    // while the persist serves the actual recomputation. The persisted
    // caches register with CacheRegistry at the END of this builder
    // (afterCurrent + leaf-RDD match token): the gate query — the first
    // QueryExecution created after we return — releases them on
    // completion, while this builder's own internal actions (pair
    // count, CC materialization) cannot sweep them early. Before r18
    // these barrier caches were never released at all (their consumers
    // carry only the RDD leaf, which the IMR-matching sweep never saw).
    final class Barrier(d: DataFrame) {
      val cached = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val leaf = cached.queryExecution.toRdd
      val df = DatasetBridge.internalDf(spark, leaf, d.schema)
      def register(): Unit =
        graft.CacheRegistry.registerForRdd(cached, leaf, afterCurrent = true)
    }
    val ptsBarrier = new Barrier(df.select(id.cast("long").as("__pid"), geom.as("__pg")))
    val pts = ptsBarrier.df
    val l = pts.select(col("__pid").as("__ida"), col("__pg").as("__ga"))
    val r = pts.select(col("__pid").as("__idb"), col("__pg").as("__gb"))
    val pairsBarrier = new Barrier(
      SpatialJoins.gridJoin(l, r, col("__ga"), col("__gb"), "st_dwithin",
          bounds, nx, ny, distance = Some(lit(eps)))
        .filter(col("__ida") =!= col("__idb"))
        .select(col("__ida"), col("__idb")))
    val pairs = pairsBarrier.df
    // local-finish probe: pair rows at ~16 B packed + ids/degree/parent
    // arrays — the same ~48 B/row budget and [4M, 16M] clamp as the CC
    // local cap, overridable via spark.graft.dbscan.localLimit
    val cap = spark.conf.getOption("spark.graft.dbscan.localLimit")
      .map(_.toLong).getOrElse {
        val budget = Runtime.getRuntime.maxMemory / 8
        math.max(1L << 22, math.min(1L << 24, budget / 48))
      }
    if (pairs.count() <= cap) {
      val assign = localFinish(pairs, minPts)
      // the pair cache has been consumed into the local arrays; only
      // `pts` is referenced by the returned plan
      graft.CacheRegistry.release(pairsBarrier.cached)
      ptsBarrier.register()
      return pts
        .join(broadcast(assign), pts("__pid") === assign("__aid"), "left_outer")
        .select(col("__pid").as("id"),
          coalesce(col("__role"), lit("noise")).as("role"),
          col("__cluster").as("cluster"))
    }
    val cores = pairs.groupBy(col("__ida")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") + 1 >= minPts)
      .select(col("__ida").as("__pid"))
    // core-core subgraph -> components; a core with no core neighbor is
    // its own singleton cluster
    val coreEdges = pairs
      .join(cores.select(col("__pid").as("__ida")), Seq("__ida"), "left_semi")
      .join(cores.select(col("__pid").as("__idb")), Seq("__idb"), "left_semi")
    val cc = graft.pipeline.PipelineOps
      .connectedComponents(coreEdges, col("__ida"), col("__idb"))
    val coreCl = cores.join(cc, cores("__pid") === cc("id"), "left_outer")
      .select(cores("__pid"), coalesce(col("group_id"), cores("__pid")).as("__ccl"))
    // border = non-core with >= 1 core neighbor, min cluster among them
    val bAssign = pairs
      .join(coreCl.select(col("__pid").as("__idb"), col("__ccl")), Seq("__idb"))
      .join(coreCl.select(col("__pid").as("__ida")), Seq("__ida"), "left_anti")
      .groupBy(col("__ida"))
      .agg(min(col("__ccl")).as("__bcl"))
      .select(col("__ida").as("__pid"), col("__bcl"))
    ptsBarrier.register()
    pairsBarrier.register()
    pts
      .join(coreCl, Seq("__pid"), "left_outer")
      .join(bAssign, Seq("__pid"), "left_outer")
      .select(col("__pid").as("id"),
        when(col("__ccl").isNotNull, lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__ccl"), col("__bcl")).as("cluster"))
  }

  /** One driver pass over the packed (a, b) neighbor-pair rows (both
    * orientations present, exactly once each — the grid join's
    * reference-cell dedup guarantees it): degree per id from the first
    * position, cores at degree+1 >= minPts, min-rooted union-find over
    * core-core rows (ids sorted, union at the smaller index, so every
    * root IS its component's minimum core id — the same invariant as
    * PipelineOps.localUnionFind), and border minima from
    * (non-core, core) rows. Returns (__aid, __role, __cluster) for every
    * id that is core or border; ids absent from the table (isolated or
    * pair-connected but below minPts without a core neighbor) are noise
    * by the caller's left join. */
  private def localFinish(pairsDf: DataFrame, minPts: Int): DataFrame = {
    val spark = pairsDf.sparkSession
    val packed: Array[Array[Long]] =
      pairsDf.queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalArgumentException("dbscan: null id in pair list")
          b += row.getLong(0); b += row.getLong(1)
        }
        Iterator.single(b.result())
      }.collect()
    var nSlots = 0
    packed.foreach(arr => nSlots += arr.length)
    val all = new Array[Long](nSlots)
    var w = 0
    packed.foreach { arr =>
      System.arraycopy(arr, 0, all, w, arr.length); w += arr.length
    }
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val deg = new Array[Int](n)
    packed.foreach { arr =>
      var j = 0
      while (j < arr.length) {
        deg(java.util.Arrays.binarySearch(ids, arr(j))) += 1
        j += 2
      }
    }
    val core = new Array[Boolean](n)
    i = 0
    while (i < n) { core(i) = deg(i) + 1 >= minPts; i += 1 }
    val parent = new Array[Int](n)
    i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) {
        parent(root) = parent(parent(root)); root = parent(root)
      }
      root
    }
    packed.foreach { arr =>
      var j = 0
      while (j < arr.length) {
        val ia = java.util.Arrays.binarySearch(ids, arr(j))
        val ib = java.util.Arrays.binarySearch(ids, arr(j + 1))
        if (core(ia) && core(ib)) {
          val ra = find(ia); val rb = find(ib)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        j += 2
      }
    }
    // cluster id per core = min core id of its component (the root's id)
    val ccl = new Array[Long](n)
    i = 0
    while (i < n) { ccl(i) = if (core(i)) ids(find(i)) else -1L; i += 1 }
    // border minima: (a non-core, b core) rows — both orientations are
    // present, so one pass over position-(0,1) covers every adjacency
    val bcl = new Array[Long](n)
    java.util.Arrays.fill(bcl, Long.MaxValue)
    packed.foreach { arr =>
      var j = 0
      while (j < arr.length) {
        val ia = java.util.Arrays.binarySearch(ids, arr(j))
        val ib = java.util.Arrays.binarySearch(ids, arr(j + 1))
        if (!core(ia) && core(ib) && ccl(ib) < bcl(ia)) bcl(ia) = ccl(ib)
        j += 2
      }
    }
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    i = 0
    while (i < n) {
      if (core(i))
        rows += org.apache.spark.sql.Row(ids(i), "core", ccl(i))
      else if (bcl(i) != Long.MaxValue)
        rows += org.apache.spark.sql.Row(ids(i), "border", bcl(i))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__aid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__role",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__cluster",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
