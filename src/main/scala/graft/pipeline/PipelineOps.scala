package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-scale dedup and similarity operators. Design rules for 100TB:
  * one shuffle per stage, map-side combine everywhere, candidate
  * generation via equi-joinable keys (hash buckets / LSH bands) rather
  * than any all-pairs comparison, and no driver-side collection.
  */
object PipelineOps {
  import TextOps._

  /** Exact dedup on a derived key: keeps the lowest-id row per key.
    * One hash-shuffle on the key — at scale this is the optimal plan. */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame = {
    df.withColumn("__key", key)
      .groupBy(col("__key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_docs"))
  }

  /** Training-sequence packing (GPT-style concat-then-chunk): documents
    * in deterministic `id` order are conceptually concatenated into one
    * token stream that is cut into fixed `maxTokens` sequences; each doc
    * gets its global token offset, owning sequence, offset inside it,
    * and the number of sequences it spans (docs may split across a
    * boundary, the standard pretraining layout). The running total comes
    * from ScalableRank.globalPrefixSum — a range repartition plus a
    * per-partition sum pass — NOT a single-reducer `SUM OVER (ORDER BY)`
    * window, so the op holds at any corpus size. */
  def packSequences(df: DataFrame, id: Column, nTokens: Column,
      maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "packSequences: maxTokens must be positive")
    val base = df.select(id.as("doc_id"), nTokens.cast("long").as("n_tokens"))
    graft.operators.ScalableRank
      .globalPrefixSum(base, Seq(col("doc_id")), "n_tokens", "start_off")
      // `div` = integer division on longs (a double-precision divide
      // would round above 2^52 total tokens — petatoken corpora are real)
      .selectExpr("doc_id", "n_tokens", "start_off",
        s"start_off div ${maxTokens}L AS seq_id",
        s"start_off % ${maxTokens}L AS off_in_seq",
        s"((start_off + greatest(n_tokens, 1L) - 1L) div ${maxTokens}L) - " +
          s"(start_off div ${maxTokens}L) + 1L AS n_seqs")
  }

  /** Token-budget corpus selection: rank documents by `orderCols`
    * (quality-descending in the usual curation pass) and admit each
    * while the cumulative token count BEFORE it stays under `budget` —
    * whole-document greedy, so the last admitted document may overshoot
    * (the standard contract: a budget is a target, not a hard byte
    * cap). The running total is ScalableRank.globalPrefixSum, so the
    * op never funnels the corpus through a single-reducer ORDER BY
    * window — selecting a 1-trillion-token training set from a
    * 100 TB crawl is one range shuffle plus two linear passes. */
  def selectByBudget(df: DataFrame, orderCols: Seq[Column], tokensCol: String,
      budget: Long, out: String = "cum_before"): DataFrame = {
    require(budget > 0, "selectByBudget: budget must be positive")
    graft.operators.ScalableRank
      .globalPrefixSum(df, orderCols, tokensCol, out)
      .filter(col(out) < budget)
  }

  /** Benchmark-contamination check: for each document, how many of its
    * distinct k-gram hashes appear anywhere in the benchmark set's k-gram
    * universe. Shuffle shape: explode to (doc, hash) + left-semi join
    * against the distinct benchmark hash set (broadcast when small) +
    * count — the standard eval-decontamination pass. */
  def contamination(docs: DataFrame, bench: DataFrame,
      id: Column, text: Column, benchText: Column, k: Int): DataFrame = {
    val docGrams = docs.select(id.as("doc_id"),
        explode(array_distinct(shingleHashes(tokens(text), k))).as("g"))
    val benchGrams = bench.select(
        explode(array_distinct(shingleHashes(tokens(benchText), k))).as("g"))
      .distinct()
    val total = docs.select(id.as("doc_id"),
      size(array_distinct(shingleHashes(tokens(text), k))).as("n_grams"))
    val hits = docGrams.join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    total.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Corpus vocabulary: distinct-token document frequency + total term
    * frequency, top `k` by (tf desc, token) — explode + one aggregation
    * with map-side combine; the vocab/BPE-prep pass. */
  def vocabTopK(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(k)
  }

  /** Intra-document repetition ratios (Gopher-style quality rule):
    * 1 - distinct/total for tokens and for k-gram shingles. */
  def repetitionStats(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .withColumn("grams", shingleHashes(col("toks"), k))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
          .as("tok_rep"),
        round(lit(1.0) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")), 6)
          .as("gram_rep"))
  }

  /** Deterministic stratified sample: up to `perKey` rows per stratum,
    * chosen by md5-hash order of the id (a seeded, engine-independent
    * shuffle). One window shuffle on the stratum key — the standard way to
    * cap per-source/per-language document counts in a training mix. */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column, perKey: Int): DataFrame = {
    val w = Window.partitionBy(col("__stratum")).orderBy(col("__h"), col("__sid"))
    df.withColumn("__stratum", stratum)
      .withColumn("__sid", id)
      .withColumn("__h", TextOps.hash32(col("__sid").cast("string")))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perKey)
      .drop("__stratum", "__sid", "__h")
  }

  /** Diagnostic ONLY: LS/SS shuffle rounds executed by the most recent
    * [[connectedComponents]] call on this JVM (0 = resolved on the
    * local union-find path). Read by ScaleBench's campaign logging —
    * a single-bench-at-a-time context. JVM-global by design: concurrent
    * pipelines racing on it will read each other's round counts, so it
    * must never feed product logic (results carry no dependence on it). */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Connected components over a near-duplicate pair list — the step a
    * training pipeline runs after MinHash/SimHash pair generation to turn
    * pairwise matches into dedup groups (keep one canonical doc per
    * component). Size-adaptive: an edge list under `localThreshold`
    * resolves with driver union-find in one pass (packed long arrays,
    * 16 B/edge); above it, the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) runs fully distributed: O(log n) rounds, each a
    * map-side-combinable min aggregation plus a same-key join per star
    * op, over an edge set that shrinks monotonically toward the final
    * star forest — so later rounds get cheaper instead of re-shuffling
    * the whole graph. An InternalRow RDD lineage barrier keeps the plan
    * O(1) per round. Ids must be non-null (checked on the local path).
    *
    * Eager: this runs Spark actions while the result plan is being
    * built — an `edges.count()` that picks the local or distributed path
    * by size (and warms the persisted edge cache), then, on the
    * distributed path, a node-inventory count and one materializing
    * aggregate per star round. The caches the returned plan still reads
    * register with `CacheRegistry` `afterCurrent`, so these
    * construction-time actions cannot release them before the caller's
    * query runs.
    *
    * @param pairs one row per undirected pair
    * @return (id, group_id) for every id that appears in `pairs`, where
    *   group_id is the minimum id in the component
    */
  def connectedComponents(pairs: DataFrame, aCol: Column, bCol: Column,
      maxIter: Int = 30, localThreshold: Long = 1L << 24): DataFrame = {
    // undirected pairs deduped ONCE in canonical (max, min) orientation —
    // no bidirectional blow-up: the local union-find reads both
    // endpoints, the node inventory enumerates both, and large-star
    // symmetrizes per round internally, so nothing needs the 2x set
    val edges = pairs.select(aCol.cast("long").as("src"), bCol.cast("long").as("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size-adaptive, like Spark's broadcast-join policy: an edge list that
    // fits the driver resolves with union-find in one pass — the star
    // rounds below carry shuffles each, pure waste when the graph is
    // megabytes. The distributed path is the >threshold plan that holds
    // at 100TB. The count materializes the persisted cache once (either
    // path re-reads it from cache), and the local fetch ships PACKED long
    // arrays per partition — 16 B/edge, and the union-find below is all
    // primitive arrays (no per-node boxing), so the 16M-edge default cap
    // peaks at ~800 MB of transient driver footprint — the same order as
    // collecting a large broadcast side. One distributed LS/SS round
    // over a just-past-the-cap graph (the r15 DBSCAN profile: 11.9M edges
    // vs the old 4.2M cap) cost 24 s where the collect path is seconds.
    val sparkS = pairs.sparkSession
    // Default cap derives from driver heap, not a fixed constant (ADVICE
    // r16: drivers sized for the old 4M cap could OOM at a fixed 16M).
    // All-in transient footprint is ~48 B/edge (packed collect + srcs
    // copy + ids + parents); budget 1/8th of maxMemory for it, clamped
    // to [4M, 16M] edges; `localThreshold` can only lower it.
    val heapCap = {
      val budget = Runtime.getRuntime.maxMemory / 8
      math.max(1L << 22, math.min(1L << 24, budget / 48))
    }
    val probeLimit = math.min(localThreshold, heapCap)
    if (edges.count() <= probeLimit) {
      val out = localUnionFind(edges)
      edges.unpersist()
      lastCcRounds.set(0)
      return out
    }
    // Distributed path: alternating large-star / small-star rounds
    // (Kiveris et al., "Connected Components in MapReduce and Beyond",
    // SoCC'14). Each round rewires edges toward per-neighbourhood minima;
    // the edge set converges MONOTONICALLY to the star forest (one edge
    // per node, pointing at its component min) in O(log n) rounds. Unlike
    // label propagation over a static edge list, later rounds shuffle a
    // SHRINKING set, and the per-node min is a map-side-combinable
    // aggregation — skew-safe where a window min over a hot node is not.
    //
    // Lineage barrier: each round re-enters through an InternalRow RDD
    // leaf so the logical plan stays O(1) per round instead of growing
    // multiplicatively (analyzer/AQE walk cost at round 12+).
    def leafOf(d: DataFrame): DataFrame =
      org.apache.spark.sql.graft.DatasetBridge.internalDf(
        sparkS, d.queryExecution.toRdd, d.schema)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edgesLeaf = leafOf(edges)
    // node inventory persisted up front (self-loop-only nodes vanish from
    // the star rounds but must still get a singleton label)
    val nodes = edgesLeaf.select(col("src").as("id"))
      .unionAll(edgesLeaf.select(col("dst").as("id")))
      .distinct().persist(mem)
    nodes.count() // materialize while the edges cache is hot

    // large-star(u): attach every STRICTLY LARGER neighbour of u to
    // m = min(Γ(u) ∪ {u}). groupBy-min (partial agg, skew-safe) + join
    // back on u; AQE splits the probe side if a hub node skews it.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
      // no distinct here: duplicates (several u sharing a neighbour v and
      // a min) are bounded by 2|E| and the small-star distinct right
      // after canonicalizes anyway — saves one full shuffle per round
      nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star(u): orient each edge toward its larger endpoint, then
    // attach every smaller neighbour AND u itself to m = min(Γ⁻(u) ∪ {u}).
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).where(col("u") =!= col("v"))
      val mins = or.groupBy("u").agg(min(col("v")).as("m"))
      or.join(mins, "u")
        .select(col("v").as("u2"), col("m").as("v2"))
        .unionAll(mins.select(col("u").as("u2"), col("m").as("v2")))
        .where(col("u2") =!= col("v2"))
        .select(col("u2").as("u"), col("v2").as("v"))
        .distinct()
    }

    // edges are already canonical (max, min) and distinct — just drop
    // self-loops for the star rounds
    var cur = edgesLeaf.where(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .persist(mem)
    var curLeaf = leafOf(cur)
    var iter = 0
    var converged = false
    var prev: (Long, java.math.BigDecimal) = null
    while (!converged && iter < maxIter) {
      val ls = largeStar(curLeaf).persist(mem)
      val next = smallStar(leafOf(ls)).persist(mem)
      // one aggregate materializes the round AND doubles as convergence
      // check. The round output is a SET (small-star ends in distinct), so
      // (count, Σ xxhash64(u,v)) freezing across rounds means set equality
      // up to a 64-bit-sum collision — an order-independent content hash,
      // not the old (Σu, Σv) fingerprint a stats collision could fool.
      // An except()-based exact check would cost a full extra shuffle per
      // round for no practical gain.
      val st = next.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
      val stats = (st.getLong(0), st.getDecimal(1))
      ls.unpersist()
      cur.unpersist()
      converged = prev != null && prev._1 == stats._1 &&
        cmpDec(prev._2, stats._2)
      prev = stats
      cur = next
      curLeaf = leafOf(next)
      iter += 1
      // early local finish: star rounds rewire within components (never
      // merge or split), and every non-isolated node keeps an endpoint
      // each round — so once the SHRINKING edge set fits the driver cap,
      // one packed union-find over it yields the exact component minima
      // and replaces the remaining O(log d) shuffle rounds. This is the
      // dense-pair-graph case (|E| >> |V|, e.g. quadratic near-dup pair
      // explosions), where round 1 collapses the edge count to ~|V|.
      if (!converged && stats._1 <= probeLimit) {
        lastCcRounds.set(iter)
        val local = localUnionFind(curLeaf)
          .withColumnRenamed("id", "__cc_uid")
        val out = nodes.join(local, nodes("id") === col("__cc_uid"), "left")
          .select(nodes("id"),
            coalesce(col("group_id"), nodes("id")).as("group_id"))
        edges.unpersist()
        // localUnionFind collected the star set already; only `nodes` is
        // referenced by the returned plan — release cur now, hand nodes
        // to the registry so the consuming query's completion frees it
        // (leak fix, opt r18: these persists used to outlive the session)
        cur.unpersist(blocking = false)
        graft.CacheRegistry.register(nodes, afterCurrent = true)
        return out
      }
    }
    // exhausting maxIter without the fixed point means the star forest is
    // not fully collapsed — labels would be silently wrong; fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixed point after $maxIter rounds " +
        "(expected O(log n)); raise maxIter")
    lastCcRounds.set(iter)
    // at convergence `cur` IS the star forest: (member, component-min).
    // Roots and isolated nodes carry no edge → coalesce to themselves.
    val out = nodes.join(curLeaf, nodes("id") === curLeaf("u"), "left")
      .select(nodes("id"), coalesce(curLeaf("v"), nodes("id")).as("group_id"))
    edges.unpersist()
    // leak fix (opt r18): the returned plan references `nodes` (its
    // InMemoryRelation) and `cur` (through its RDD leaf only) — register
    // both so the consuming query's completion releases them instead of
    // pinning two graph-sized caches for the session lifetime
    graft.CacheRegistry.register(nodes, afterCurrent = true)
    graft.CacheRegistry.registerForRdd(cur, cur.queryExecution.toRdd,
      afterCurrent = true)
    out
  }

  private def cmpDec(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
    (a == null && b == null) || (a != null && b != null && a.compareTo(b) == 0)

  /** Driver-side union-find over an edge DataFrame whose FIRST TWO
    * columns are long endpoint ids. The fetch ships PACKED long arrays
    * per partition — 16 B/edge, so the 4M-edge cap really is ~64 MB of
    * driver footprint, never a GenericRow per edge. Every node appearing
    * at either endpoint is labeled with its component minimum; the
    * result ships back as two broadcast primitive arrays. Null ids fail
    * loudly (getLong on a null slot would silently merge into group 0). */
  private def localUnionFind(edgesDf: DataFrame): DataFrame = {
    val sparkS = edgesDf.sparkSession
    val packed: Array[Array[Long]] =
      edgesDf.queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) {
          val r = it.next()
          if (r.isNullAt(0) || r.isNullAt(1))
            throw new IllegalArgumentException(
              "connectedComponents: null id in pair list")
          b += r.getLong(0); b += r.getLong(1)
        }
        Iterator.single(b.result())
      }.collect()
    // distinct node ids from BOTH endpoint positions FIRST (sort+dedup
    // in a primitive array), then union-find over int INDICES into the
    // sorted id array — all-primitive (8 B/node ids + 4 B/node parents,
    // no boxed HashMap entries), which is what lets the edge cap sit at
    // 16M instead of 4M for the same driver footprint
    var nSlots = 0
    packed.foreach { arr => nSlots += arr.length }
    val srcs = new Array[Long](nSlots)
    var w = 0
    packed.foreach { arr =>
      System.arraycopy(arr, 0, srcs, w, arr.length); w += arr.length
    }
    java.util.Arrays.sort(srcs)
    var n = 0
    var i = 0
    while (i < srcs.length) {
      if (i == 0 || srcs(i) != srcs(i - 1)) { srcs(n) = srcs(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(srcs, n)
    // ids is sorted, so index order = id order: rooting every union at
    // the SMALLER index makes each final root the component's minimum id
    // directly. Path-halving find keeps chains short without union-by-
    // rank (which would break the min-root invariant).
    val parent = new Array[Int](n)
    i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    packed.foreach { arr =>
      var j = 0
      while (j < arr.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, arr(j)))
        val rb = find(java.util.Arrays.binarySearch(ids, arr(j + 1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        j += 2
      }
    }
    val gids = new Array[Long](n)
    i = 0
    while (i < n) { gids(i) = ids(find(i)); i += 1 }
    val idsB = sparkS.sparkContext.broadcast(ids)
    val gidsB = sparkS.sparkContext.broadcast(gids)
    val slices = math.max(1, n / (1 << 21))
    val rows = sparkS.sparkContext.range(0L, n.toLong, numSlices = slices)
      .map(j => org.apache.spark.sql.Row(idsB.value(j.toInt), gidsB.value(j.toInt)))
    sparkS.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("group_id", org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Dedup groups from near-dup pairs: every doc in `pairs` mapped to its
    * component's canonical (minimum) id, with `keep` marking the survivor.
    */
  def dedupGroups(pairs: DataFrame, aCol: Column, bCol: Column): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .withColumn("keep", col("id") === col("group_id"))

  /** Canonical-survivor selection — the tail of the production dedup
    * flow: given near-dup candidate pairs, tag every document with its
    * connected-component group and keep exactly ONE per group (highest
    * `quality`, ties to the smallest id). Documents in no pair form
    * singleton groups and survive trivially. Cost beyond the CC rounds:
    * one shuffle on the group id and a per-group window — no global
    * sort, so the selection scales with the corpus, not a reducer. */
  def dedupSurvivors(docs: DataFrame, id: Column, quality: Column,
      pairs: DataFrame, pairA: Column, pairB: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val groups = dedupGroups(pairs, pairA, pairB)
      .select(col("id").as("__gid_of"), col("group_id"))
    val tagged = docs.select(id.cast("long").as("doc_id"), quality.as("__q"))
      .join(groups, col("doc_id") === col("__gid_of"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"), col("__q"))
    val w = Window.partitionBy("group_id").orderBy(col("__q").desc, col("doc_id"))
    tagged.withColumn("survivor", row_number().over(w) === 1).drop("__q")
  }

  /** Duplicated-span statistics — the exact-substring-dedup signal (the
    * scalable stand-in for suffix-array substring dedup): hash every
    * k-token window, count occurrences across the WHOLE corpus, and
    * report per doc how many of its windows are duplicated (appear more
    * than once anywhere — self-repetition included). Plan: one
    * map-side-combined count shuffle on the window hash plus the join
    * back; docs shorter than k tokens report zero windows. */
  def dupSpanStats(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val base = docs.select(id.cast("long").as("doc_id"),
      TextOps.shingleHashes(TextOps.tokens(text), k).as("ws"))
    val ex = base.select(col("doc_id"), explode(col("ws")).as("wh"))
    val counts = ex.groupBy("wh").agg(count(lit(1)).as("wc"))
    val per = ex.join(counts, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("wc") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** Exact-substring dedup REMOVAL (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 — the cut step on top
    * of `dupSpanStats`): every k-token window is hashed corpus-wide; a
    * window INSTANCE is duplicated when its hash occurs more than once
    * and the instance is not the canonical minimum-(doc_id, pos)
    * occurrence — the first copy survives. A token is cut when ANY
    * duplicated window covers it; `clean_text` re-joins the survivors.
    * Cost: one window-hash count shuffle + one join-back + a per-doc
    * LOCAL coverage sweep (HOFs over the doc's duplicated-start list) —
    * nothing quadratic across documents, and the canonical-instance
    * rule is a total order both engines can restate.
    * Null text ≡ empty text: clean_text '', n_tokens 0, n_removed 0
    * (the oracle encodes the same contract) — never NULL outputs. */
  def removeDupSpans(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val base = docs.select(id.cast("long").as("doc_id"),
      coalesce(TextOps.tokens(text), typedLit(Array.empty[String])).as("t"))
    val wins = base.select(col("doc_id"),
        posexplode(TextOps.shingleHashes(col("t"), k)))
      .withColumnRenamed("col", "wh")
    val agg = wins.groupBy("wh").agg(count(lit(1)).as("wc"),
      min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val dups = wins.join(agg, "wh")
      .filter(col("wc") > 1 &&
        !(col("doc_id") === col("keeper.doc_id") &&
          col("pos") === col("keeper.pos")))
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("dupstarts"))
    base.join(dups, Seq("doc_id"), "left")
      .withColumn("ds", coalesce(col("dupstarts"),
        typedLit(Array.empty[Int])))
      .withColumn("kept", expr(
        "filter(transform(t, (tok, p) -> named_struct('tok', tok, 'p', p)), " +
          s"x -> NOT exists(ds, s -> s <= x.p AND x.p <= s + ${k - 1}))"))
      .select(col("doc_id"),
        expr("array_join(transform(kept, x -> x.tok), ' ')").as("clean_text"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Corpus-level LINE dedup (the C4/RefinedWeb boilerplate-removal
    * shape: "Share on Facebook" / cookie banners / copyright footers
    * repeat across pages): every non-blank line is counted corpus-wide;
    * a line INSTANCE is removed when its line occurs >= `minCount`
    * times and (with `keepFirst`) it is not the canonical
    * minimum-(doc_id, pos) occurrence — C4 keeps the first copy;
    * `keepFirst = false` drops every instance (the hard boilerplate
    * filter). Blank (trim-empty) lines never participate and always
    * survive — they carry paragraph structure, not content.
    * Plan shape at 100 TB: lines are projected to (doc_id, pos,
    * xxhash64(line)) BEFORE the count shuffle — one map-side-combined
    * count on an 8-byte key, one join back, and a per-doc LOCAL
    * filter+rejoin; nothing quadratic, no raw text through the
    * shuffle. Dedup keys are 64-bit hashes (the standard C4-family
    * tradeoff): a collision conflates two distinct lines, vanishingly
    * rare below ~2^32 distinct lines.
    * Null text ≡ empty text (one empty line, kept): clean_text '',
    * n_lines 1, n_removed 0 — never NULL outputs. */
  def removeDupLines(docs: DataFrame, id: Column, text: Column,
      minCount: Int = 2, keepFirst: Boolean = true): DataFrame = {
    require(minCount >= 2, s"removeDupLines: minCount $minCount < 2")
    val base = docs.select(id.cast("long").as("doc_id"),
      split(coalesce(text, lit("")), "\n", -1).as("ls"))
    val lines = base.select(col("doc_id"), posexplode(col("ls")))
      .withColumnRenamed("col", "line")
      .filter(trim(col("line")) =!= "")
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("lh"))
    val agg = lines.groupBy("lh").agg(count(lit(1)).as("lc"),
      min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val removed = lines.join(agg, "lh")
      .filter(col("lc") >= minCount &&
        (if (keepFirst)
          !(col("doc_id") === col("keeper.doc_id") &&
            col("pos") === col("keeper.pos"))
         else lit(true)))
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("rm"))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), typedLit(Array.empty[Int])))
      .withColumn("kept", expr(
        "filter(transform(ls, (l, p) -> named_struct('l', l, 'p', p)), " +
          "x -> NOT array_contains(rm, x.p))"))
      .select(col("doc_id"),
        array_join(expr("transform(kept, x -> x.l)"), "\n").as("clean_text"),
        size(col("ls")).cast("long").as("n_lines"),
        (size(col("ls")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Temperature-smoothed domain mixture (the multilingual / multi-
    * source reweighting rule of GPT/LLaMA-family data recipes, fixed at
    * alpha = 0.5): domain d with T_d total tokens gets sampling mass
    * p_d ∝ sqrt(T_d); its keep RATE is min(1, budget·p_d / T_d) —
    * low-resource domains are pulled toward uniform (rate saturates at
    * 1), high-resource ones are trimmed. Selection is a deterministic
    * hash gate on a parts-per-million grid: a doc is kept iff
    * h32(doc_id) mod 1e6 < floor(rate·1e6).
    * Cross-engine determinism (the DuckDB oracle restates every step):
    * sqrt is IEEE-exact; per-domain masses quantize to nano-longs so
    * the denominator is an ORDER-FREE integer sum; the remaining double
    * steps are one fixed operation sequence; the hash is the md5-based
    * h32 both engines share. alpha = 0.5 is pinned BECAUSE pow() is not
    * correctly rounded across engines — sqrt is.
    * Plan at 100 TB: one tiny per-domain aggregate (map-side combined),
    * a one-long driver total, a broadcast rate join, and a map-side
    * filter — nothing but the scan grows with the corpus.
    * Rows with a NULL domain are EXCLUDED (an equi-join never matches
    * null keys) — coalesce to a sentinel domain upstream if they should
    * participate. */
  def domainMixture(docs: DataFrame, id: Column, domain: Column,
      nTokens: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"domainMixture: budget $budgetTokens <= 0")
    // ONE corpus scan: the per-domain totals (broadcast-sized by the
    // op's contract) collect to the driver, where the masses, the
    // order-free nano-long denominator, and the rates are computed —
    // re-deriving them inside the join would scan the corpus twice.
    // math.round(positive) == Spark/DuckDB HALF_UP round; the division
    // sequence matches the oracle's verbatim. addExact refuses loudly
    // if the summed sqrt masses ever outgrow a Long (~9.2e9 summed
    // sqrt-tokens) instead of wrapping into garbage rates.
    val agged = docs.groupBy(domain.as("dom"))
      .agg(sum(nTokens.cast("long")).as("t_d"))
    val domRows = agged.collect().filter(!_.isNullAt(1))
    val sNano = domRows.map(r =>
      math.round(math.sqrt(r.getLong(1).toDouble) * 1e9))
    var total = 0L
    sNano.foreach(s => total = math.addExact(total, s))
    val rateRows: Seq[org.apache.spark.sql.Row] =
      domRows.toSeq.zip(sNano).map { case (r, s) =>
        val tD = r.getLong(1)
        // tD == 0 (a domain of zero-token docs) would divide 0/0: keep
        // it saturated — the rate gates nothing of substance
        val rate = if (tD == 0L) 1.0 else math.min(1.0,
          budgetTokens.toDouble * (s.toDouble / total.toDouble) / tD.toDouble)
        org.apache.spark.sql.Row(r.get(0), math.floor(rate * 1e6).toLong)
      }
    val sess = docs.sparkSession
    val rates = sess.createDataFrame(
      sess.sparkContext.parallelize(rateRows, 1),
      org.apache.spark.sql.types.StructType(Seq(agged.schema("dom"),
        org.apache.spark.sql.types.StructField("rate_ppm",
          org.apache.spark.sql.types.LongType, nullable = false))))
    docs.select(id.cast("long").as("doc_id"), domain.as("dom"),
        nTokens.cast("long").as("n_tokens"))
      .join(broadcast(rates), Seq("dom"))
      .filter(pmod(TextOps.hash32(col("doc_id").cast("string")),
        lit(1000000L)) < col("rate_ppm"))
      .select(col("doc_id"), col("dom").as("domain"), col("n_tokens"),
        col("rate_ppm"))
  }

  /** BM25 lexical top-k — keyword retrieval over the corpus, the
    * non-embedding leg of similarity search. Query terms broadcast;
    * term frequencies and document frequencies come from two map-side-
    * combined aggregations; nothing quadratic. Per-term scores
    * accumulate as exact nano-scaled longs (`round(score·1e9)`), so the
    * summation is order-free and the ranking bit-deterministic across
    * engines — double addition order would not be. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      query: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // Tokenization is the expensive per-row kernel and three consumers
    // need it (corpus-stats action, tf probe, dft build): persist the
    // per-doc token arrays once (the minhashPairs signature-reuse
    // pattern; released by CacheRegistry when the consuming query
    // finishes) instead of re-tokenizing the corpus per consumer.
    // MEMORY_AND_DISK_SER (opt r18): the cached batches stay serialized
    // in memory — at corpus scale this is a block-manager footprint knob,
    // not a plan change — and the stats action below prunes to the `dl`
    // column through the columnar cache, so it never deserializes the
    // token arrays. Registration happens AFTER the stats action with
    // afterCurrent = true (ADVICE r17): the action's own async sweep
    // event must not release the cache before the gate query — the real
    // consumer — has run.
    val toksDf = docs.select(id.cast("long").as("doc_id"),
        TextOps.tokens(text).as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val hd = toksDf.agg(count(lit(1)), sum(col("dl"))).head
    val toks = graft.CacheRegistry.register(toksDf, afterCurrent = true)
    val nDocs = hd.getLong(0)
    val sumDl = hd.getLong(1)
    val qSet = query.map(_.toLowerCase).distinct
    // tf is consumed twice (probe side + the dft broadcast build) and is
    // tiny (≤ docs × |query| rows): persist it so the filtered explode
    // over the corpus runs once.
    val tf = graft.CacheRegistry.register(
      toks.select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
        .filter(col("term").isin(qSet: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
      afterCurrent = true)
    val dft = tf.groupBy("term").agg(count(lit(1)).cast("double").as("dfreq"))
    // op order mirrors the SQL oracle exactly: IEEE +,-,*,/ are
    // bit-identical across engines given identical operand order
    val avgdl = lit(sumDl.toDouble) / lit(nDocs.toDouble)
    tf.join(broadcast(dft), "term")
      .withColumn("idf", log((lit(nDocs.toDouble) - col("dfreq") + lit(0.5)) /
        (col("dfreq") + lit(0.5)) + lit(1.0)))
      .withColumn("ts", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl").cast("double") / avgdl))))
      .withColumn("tsn", round(col("ts") * lit(1e9)).cast("long"))
      .groupBy("doc_id").agg(sum(col("tsn")).as("bm25_nano"))
      .orderBy(col("bm25_nano").desc, col("doc_id")).limit(topK)
  }

  /** CCNet-style unigram-LM quality score: train unigram counts over
    * the corpus (one map-side-combined shuffle), then score every
    * document by the sum of add-one-smoothed token log-probabilities
    * `ln((count + 1) / (T + V))`, accumulated as exact nano-scaled
    * longs so the score is order-free and engine-reproducible. Very
    * negative sums flag rare/implausible token streams — the
    * perplexity-filter signal. The count table joins by token (Catalyst
    * broadcasts it when small; a web-scale LM table shuffles), nothing
    * quadratic. */
  def unigramLogProb(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // Same reuse discipline as bm25TopK: the corpus tokenizes ONCE into
    // a persisted per-doc array (three consumers otherwise re-run the
    // tokenizer: the vocab-stats action, the count build, the score
    // probe), and the vocab-sized count table persists so its term
    // shuffle runs once instead of per consumer.
    // persist → eager vocab-stats action → register(afterCurrent), same
    // as bm25TopK (ADVICE r17): the stats head references BOTH caches,
    // so registering first would let its async sweep release them before
    // the gate query — the real consumer — runs. Serialized level, same
    // rationale as bm25TopK.
    val tokDocsDf = docs
      .select(id.cast("long").as("doc_id"), TextOps.tokens(text).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val toks = tokDocsDf.select(col("doc_id"), explode(col("t")).as("term"))
    val countsDf = toks.groupBy("term").agg(count(lit(1)).as("tc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val hd = countsDf.agg(count(lit(1)), sum(col("tc"))).head
    graft.CacheRegistry.register(tokDocsDf, afterCurrent = true)
    val counts = graft.CacheRegistry.register(countsDf, afterCurrent = true)
    val vocab = hd.getLong(0)
    val total = hd.getLong(1)
    toks.join(counts, "term")
      .withColumn("lpn", round(log((col("tc").cast("double") + lit(1.0)) /
        lit((total + vocab).toDouble)) * lit(1e9)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lpn")).as("lp_nano_sum"))
  }

  /** MinHash-LSH candidate pairs: signature → band keys → explode →
    * band-bucket self-join → distinct pairs with jaccard estimate.
    * Pairs only form inside a band bucket, so the shuffle key is the band
    * hash — no quadratic stage anywhere. */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
      numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val r = numHashes / bands
    // persist: the band self-join references the signatures twice; without
    // this the md5 pass over the corpus runs twice
    val sig = graft.CacheRegistry.register(
      df.select(id.as("doc_id"),
          minhashSignatureTok(tokens(text), 3, numHashes).as("mh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = sig.select(col("doc_id"), col("mh"),
        posexplode(bandKeys(col("mh"), bands, r)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("mh").as("mh_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("mh").as("mh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("mh_a"), col("mh_b"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** N-gram Jaccard similarity for pairs sharing a blocking key (e.g.
    * source): |distinct shingle intersection| / |union|.
    *
    * Two exact plans, dispatched on the threshold:
    *
    * - `minJaccard >= 0.4`: prefix-filtered inverted-index join
    *   (AllPairs/PPJoin). Shingle arrays are globally sorted, so two sets
    *   with jaccard > t must collide within their first
    *   `|s| - floor(t*|s|) + 1` elements; only those prefix postings are
    *   exploded and equi-joined on (block, shingle) to produce candidate
    *   pairs, which are then verified with an exact sorted-merge
    *   intersection. Candidate volume shrinks as t grows — the classic
    *   scale path for near-dup thresholds (0.7–0.9).
    *
    * - lower thresholds: blocked pairwise sorted-merge. At small t the
    *   prefix is nearly the whole set, so the inverted join degenerates to
    *   Σ freq² co-occurrence mass (common shingles dominate) and is far
    *   worse than the plain C(block,2) merge; the blocking key carries the
    *   scale burden here, as it must for any exact low-threshold join.
    *
    * Eager on the low-threshold plan: it runs a block-count action
    * (`sizes.count()`) while the result plan is being built, to size the
    * chunk-pair redistribution to the session width. That action also
    * warms the persisted shingle cache, which registers with
    * `CacheRegistry` `afterCurrent` so the count's own completion cannot
    * release it before the caller's query runs. The `minJaccard >= 0.4`
    * plan is lazy. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      block: Column, k: Int = 3, minJaccard: Double = 0.0,
      maxLocalBlock: Int = 8192): DataFrame = {
    // persist: both join sides reference the hashed-shingle arrays — without
    // it the scan + md5 shingle hashing runs twice (registered per branch
    // below: the low-threshold branch runs an eager block-count action
    // first, so it registers afterCurrent to keep the async sweep from
    // releasing the cache before the consuming query runs)
    val gDf = df.select(block.as("__blk"), id.as("doc_id"),
        array_sort(array_distinct(shingleHashes(tokens(text), k))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verify = (pairs: DataFrame) => pairs
      .withColumn("inter",
        call_function("sd_sorted_intersect_count", col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("uni", (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") > minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    if (minJaccard >= 0.4) {
      val g = graft.CacheRegistry.register(gDf)
      // floor (not ceil) keeps the prefix a safe over-approximation under
      // double rounding; the verify step is exact regardless
      val pref = g.select(col("__blk"), col("doc_id"),
        explode(slice(col("sh"), lit(1),
          (size(col("sh")) - floor(lit(minJaccard) * size(col("sh"))).cast("int") + 1)
            .cast("int"))).as("h"))
      val cand = pref.select(col("__blk"), col("h"), col("doc_id").as("doc_a"))
        .join(pref.select(col("__blk"), col("h"), col("doc_id").as("doc_b")),
          Seq("__blk", "h"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("__blk"), col("doc_a"), col("doc_b"))
        .distinct()
      verify(cand
        .join(g.select(col("__blk"), col("doc_id").as("doc_a"), col("sh").as("sh_a")),
          Seq("__blk", "doc_a"))
        .join(g.select(col("__blk"), col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          Seq("__blk", "doc_b")))
    } else {
      // all-pairs-within-block. Joining the two sides on __blk ships BOTH
      // shingle arrays through the shuffle once per PAIR — O(pairs x
      // array) shuffle bytes, the measured 100TB scale-killer (ScaleBench
      // pl06: 30x wall for 10x pairs once the build side outgrows
      // broadcast). Instead shuffle each doc's array a BOUNDED number of
      // times and expand the pairs locally; blocks too large to buffer
      // fall back to the pair join (size-adaptive, like dedupGroups;
      // maxLocalBlock is the knob, parameterized so the fallback branch
      // is testable).
      //
      // Chunk-pair redistribution (opt r18, guide §2.5/§2.6 — the
      // triangle partitioning of an all-pairs set): with one group per
      // BLOCK the C(block,2) verify merges run on at most nBlocks tasks
      // (20 blocks left 12+ of 32 cores idle at gate scale, and one hot
      // block is a straggler at any scale). Each doc gets a
      // deterministic chunk c = xxhash64(doc_id) mod C, every unordered
      // chunk pair (i<=j) becomes its own group, a doc ships to the C
      // groups it participates in (C copies — never O(block) copies),
      // and a pair {a,b} materializes exactly once: in group
      // (min(ca,cb), max(ca,cb)). C is derived from the block-count
      // estimate so nBlocks*C*(C+1)/2 >= 2x the session width — C=1
      // (few cores or many blocks) degenerates to the old one-group-
      // per-block plan.
      val sizes = gDf.groupBy(col("__blk")).agg(count(lit(1)).as("__bn"))
      val nBlocks = sizes.count()
      val g = graft.CacheRegistry.register(gDf, afterCurrent = true)
      val parts = df.sparkSession.sessionState.conf.numShufflePartitions
      val nChunks = (1 to 8).find(c =>
        nBlocks.toDouble * c * (c + 1) / 2 >= 2.0 * parts).getOrElse(8)
      val sized = g.join(broadcast(sizes), Seq("__blk"))
      val small = sized.filter(col("__bn") <= maxLocalBlock)
        .withColumn("__ck", pmod(xxhash64(col("doc_id")), lit(nChunks)).cast("int"))
      // role A in groups (ck, j) for j >= ck; role B in (i, ck) for
      // i < ck — ascending sequences only (sequence() flips direction
      // when start > stop, so the B side is guarded to __ck > 0)
      val asA = small.select(col("__blk"), col("__ck").as("__gi"),
        explode(sequence(col("__ck"), lit(nChunks - 1))).as("__gj"),
        lit(0).as("__side"), struct(col("doc_id"), col("sh")).as("__doc"))
      val asB = small.filter(col("__ck") > 0).select(col("__blk"),
        explode(sequence(lit(0), col("__ck") - 1)).as("__gi"),
        col("__ck").as("__gj"),
        lit(1).as("__side"), struct(col("doc_id"), col("sh")).as("__doc"))
      val groups = asA.unionByName(asB)
        .groupBy(col("__blk"), col("__gi"), col("__gj"))
        .agg(
          sort_array(collect_list(when(col("__side") === 0, col("__doc")))).as("__da"),
          sort_array(collect_list(when(col("__side") === 1, col("__doc")))).as("__db"))
      // diagonal groups (i == j, __db empty): ordered positions of the
      // sorted A list, exactly the old one-group expansion; off-diagonal:
      // full A x B cross, oriented so doc_a < doc_b (ids are unique).
      // ONE conditional expansion expression — two filtered branches
      // would each re-run the whole chunk-group shuffle subtree. The
      // exact sorted-merge intersect runs INSIDE the expansion lambda so
      // each pair materializes five scalars, never copies of the two
      // shingle arrays (~KBs per pair × C(block,2) pairs was the
      // measured wall); the jaccard arithmetic below mirrors verify()
      // operation-for-operation, so both branches stay bit-identical.
      def pairStruct(x: Column, y: Column, aFirst: Column) = {
        val inter = call_function("sd_sorted_intersect_count",
          x.getField("sh"), y.getField("sh")).cast("double")
        val unisum = (size(x.getField("sh")) + size(y.getField("sh"))).cast("double")
        struct(
          when(aFirst, x.getField("doc_id")).otherwise(y.getField("doc_id")).as("doc_a"),
          when(aFirst, y.getField("doc_id")).otherwise(x.getField("doc_id")).as("doc_b"),
          inter.as("inter"), unisum.as("unisum"))
      }
      val diagExpand = flatten(transform(col("__da"), (x, i) =>
        transform(slice(col("__da"), i + lit(2), size(col("__da"))), y =>
          pairStruct(x, y, lit(true)))))
      val crossExpand = flatten(transform(col("__da"), x =>
        transform(col("__db"), y =>
          pairStruct(x, y, x.getField("doc_id") < y.getField("doc_id")))))
      val local = groups
        .select(explode(when(col("__gi") === col("__gj"), diagExpand)
          .otherwise(crossExpand)).as("__p"))
        .withColumn("jaccard", col("__p.inter") / (col("__p.unisum") - col("__p.inter")))
        .filter(col("jaccard") > minJaccard)
        .select(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"),
          col("jaccard"))
      val big = sized.filter(col("__bn") > maxLocalBlock)
      val joined = big.select(col("__blk"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .join(big.select(col("__blk"), col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          Seq("__blk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      local.unionByName(verify(joined))
    }
  }

  /** SimHash near-dup pairs within a blocking key: hamming distance over
    * 32-bit signatures. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      block: Column, maxHamming: Int): DataFrame = {
    val g = df.select(block.as("__blk"), id.as("doc_id"),
        shingleHashes(tokens(text), 1).as("hs"))
      .withColumn("sh", simhash32("hs"))
    val a = g.select(col("__blk"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = g.select(col("__blk"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("__blk")).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Double-cast embedding (floats upcast exactly; keeps both engines'
    * arithmetic identical). DuckDB twin: list_transform(e, x -> x::DOUBLE) */
  def asDouble(e: Column): Column = transform(e, x => x.cast("double"))

  /** dot(a, b) with left-to-right summation — native kernel, bit-equal to
    * aggregate(zip_with(a,b,_*_), 0.0, _+_). DuckDB twin:
    * list_sum([a[i]*b[i] for i in range(1, len(a)+1)]) */
  def dot(a: Column, b: Column): Column = call_function("sd_dot", a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means lists bound the pairwise cosine work to Σ|cluster|² — never
    * corpus² — and within a cluster an item is dropped when ANY lower-id
    * member sits above the cosine threshold (greedy first-seen survivor:
    * one equi-join on the cluster id, no transitive chasing, so the
    * contract is deterministic and engine-reproducible). `centroids` is
    * the (centroid_id, centroid) table from [[IvfAnn.kmeans]]; it ships
    * to executors as a k×dims literal, so assignment is map-only and the
    * only shuffle is the cluster-id equi-join. Integer-valued (quantized)
    * vectors make the threshold comparison exact across engines.
    * Returns (item_id, cluster, kept). */
  def semanticDedup(vectors: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, tau: Double): DataFrame = {
    val cents: Seq[Seq[Double]] = centroids.orderBy(col("centroid_id"))
      .select(col("centroid")).collect().map(_.getSeq[Double](0)).toSeq
    val assigned = vectors
      .select(id.as("__vid"), asDouble(vec).as("__v"))
      .withColumn("__cid", call_function("sd_argmin_sqdist", col("__v"),
        typedlit(cents)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lower = assigned
      .select(col("__cid"), col("__vid").as("__idb"), col("__v").as("__vb"))
    val dups = assigned.join(lower, Seq("__cid"))
      .filter(col("__idb") < col("__vid") &&
        cosine(col("__v"), col("__vb")) > lit(tau))
      .select(col("__vid").as("__dup")).distinct()
    assigned.join(dups, assigned("__vid") === dups("__dup"), "left_outer")
      .select(col("__vid").as("item_id"), col("__cid").as("cluster"),
        col("__dup").isNull.as("kept"))
  }

  /** Brute-force cosine top-k: every query row against the whole corpus
    * (corpus side broadcast when small). The exact baseline ANN. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame,
      qid: Column, qvec: Column, cid: Column, cvec: Column, k: Int): DataFrame = {
    val q = queries.select(qid.as("query_id"), asDouble(qvec).as("qv"))
    val c = corpus.select(cid.as("cand_id"), asDouble(cvec).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    q.join(broadcast(c), col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** Driver-side twin of TextOps.hash32 for constant folding. */
  private def hash32Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Random-hyperplane LSH bucket id (nbits signs; plane coefficients are
    * hash32-derived so any engine can reproduce them).
    * coef(p, d) = hash32(p || '_' || d) % 1001 - 500, d in 1..dims
    * bit p = 1 iff sum_d coef(p, d) * v[d] >= 0
    * The coefficient matrix is a driver-side constant folded into literal
    * arrays (per-row md5 recomputation would dominate the scan); the
    * projection is one sd_dot per plane. DuckDB twin mirrors the formula
    * in the oracle SQL. */
  def lshBucket(vec: Column, nbits: Int, dims: Int): Column = {
    val v = asDouble(vec)
    val bits = (0 until nbits).map { p =>
      val coefs = Array.tabulate(dims)(d0 =>
        (((hash32Local(s"${p}_${d0 + 1}") % 1001L) + 1001L) % 1001L - 500L).toDouble)
      val proj = dot(v, typedlit(coefs.toSeq))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed approximate NN: candidates only within a bucket.
    * `dims` must match the vector length exactly — the hyperplane
    * coefficient matrix is generated per dimension, so a shorter/longer
    * vector would silently bucket on a coefficient prefix. By default the
    * length is probed from the first row; every row is then asserted to
    * match (mismatches raise instead of mis-bucketing). */
  def lshAnn(df: DataFrame, id: Column, vec: Column, nbits: Int, k: Int,
      dims: Int = -1): DataFrame = {
    val v0 = asDouble(vec)
    val d =
      if (dims > 0) dims
      else df.select(size(v0)).limit(1).collect().headOption.map(_.getInt(0))
        .getOrElse(throw new IllegalArgumentException("lshAnn: empty input, pass dims explicitly"))
    val checked = when(size(v0) === d, v0).otherwise(
      raise_error(concat(lit("lshAnn: vector length "), size(v0).cast("string"),
        lit(s" != dims=$d"))).cast("array<double>"))
    val g = df.select(id.as("vid"), checked.as("v"))
      .withColumn("bucket", lshBucket(col("v"), nbits, d))
    val a = g.select(col("bucket"), col("vid").as("query_id"), col("v").as("qv"))
    val b = g.select(col("bucket"), col("vid").as("cand_id"), col("v").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    a.join(b, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("cand_id"), col("rank"), col("sim"))
  }
}
