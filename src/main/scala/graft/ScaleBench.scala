package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.st
import graft.operators.SpatialJoins
import graft.pipeline.{IvfAnn, PipelineOps}

/** Empirical scale validation for the join/pipeline/streaming operators
  * (VERDICT r7 "next round" #1): run the same operator code paths the
  * gates exercise at a size multiplier m=1 vs m=10 and report wall-time
  * and output-row ratios.
  *
  * The gate queries themselves synthesize coordinates as f(key mod M),
  * so replicating the parquet rows 10x would stack 10x points on the
  * SAME lattice sites — output pairs grow ~100x and the measurement
  * reads data degeneracy, not operator scaling. Instead each workload
  * here generates its inputs with DENSITY HELD CONSTANT: ground extent
  * (or corpus/time span) grows with m, and the per-deployment tuning
  * knobs scale the way a cluster operator would set them — grid cells
  * proportional to extent (cell size constant in ground units), LSH
  * bits ~ log2(n), dwithin radius fixed in ground terms while the grid
  * tracks it. A sound distributed plan then shows time ratio ~ m
  * (linear work, constant density) and rows ratio ~ m; super-linear
  * time with linear rows is a scaling bug in the operator.
  *
  * Run: SPARK_GRAFT_SCALE_MULT=10 sbt "runMain graft.ScaleBench [wl...]"
  * Prints one JSON line per workload; results recorded in BENCH_LOCAL.md.
  */
object ScaleBench {

  /** Deterministic pseudo-uniform double in [0, 1) from (id, salt) —
    * murmur3 via Spark's hash(), sign-folded. */
  private def u(idCol: Column, salt: Int): Column =
    (pmod(hash(idCol, lit(salt)), lit(1000000)).cast("double")) / 1000000.0

  private def sqrtM(m: Int): Double = math.sqrt(m.toDouble)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mBig = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    // measurement hook: force a specific streaming state-store provider
    // (install() treats an explicitly-set key as the user's choice) —
    // lets the same workload run under RocksDB vs the heap store
    val provider = sys.env.get("SPARK_GRAFT_SS_PROVIDER").map(
      "spark.sql.streaming.stateStore.providerClass" -> _)
    // same idea for RocksDB changelog checkpointing (default true when
    // the provider default applies): set explicitly to measure on/off
    val changelog = sys.env.get("SPARK_GRAFT_SS_CHANGELOG").map(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> _)
    // generic A/B hook: ';'-separated key=value session confs (e.g.
    // spark.sql.shuffle.partitions=64)
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";")).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF: bad entry '$kv'")
      kv.take(i) -> kv.drop(i + 1)
    }
    val spark = GraftExtensions.localSession(cpus, "WARN",
      Seq("spark.driver.memory" -> "16g") ++ provider ++ changelog ++ extra: _*)

    // TIME-CHUNKED streaming staging: write `df` (whose `id` column
    // orders event time) as id-ordered chunk files with strictly
    // increasing mtimes, so a maxFilesPerTrigger=1 stream reads them in
    // event-time order and the watermark advances BETWEEN microbatches.
    // Single-batch AvailableNow staging silently defeats every
    // event-time state bound (watermark pruning, window eviction, TTLs)
    // — the st03 round-15 finding; equal mtimes could still tie-break
    // chunks out of time order and regress the watermark (round-16 fix).
    def stageTimeChunked(df: DataFrame, stage: String, n: Long,
        chunks: Int): Unit = {
      val dirF = new java.io.File(stage)
      org.apache.commons.io.FileUtils.deleteQuietly(dirF)
      val p = df.persist()
      var seen = Set.empty[String]
      val baseMs = System.currentTimeMillis() - chunks.toLong * 2000L
      for (c <- 0 until chunks) {
        p.filter(col("id") >= c.toLong * n / chunks &&
            col("id") < (c + 1).toLong * n / chunks)
          .coalesce(1).write.mode("append").parquet(stage)
        val fresh = dirF.listFiles().filter(f =>
          f.getName.endsWith(".parquet") && !seen(f.getName))
        fresh.foreach(_.setLastModified(baseMs + c.toLong * 2000L))
        seen ++= fresh.map(_.getName)
      }
      p.unpersist()
    }

    // ---- synthetic generators (density constant in m) ----

    // planar plane: W x H grows with m, uniform points
    def planeW(m: Int): Double = 2000.0 * sqrtM(m)
    def planeH(m: Int): Double = 1000.0 * sqrtM(m)
    def points(m: Int, n0: Int): DataFrame =
      spark.range(0, n0.toLong * m).toDF("id")
        .withColumn("pt", st.point(u(col("id"), 1) * planeW(m), u(col("id"), 2) * planeH(m)))
    def boxesN(m: Int, n: Long, side: Double): DataFrame =
      spark.range(0, n).toDF("bid")
        .withColumn("bx", u(col("bid"), 3) * planeW(m))
        .withColumn("by", u(col("bid"), 4) * planeH(m))
        .withColumn("box", st.makeEnvelope(col("bx"), col("by"),
          col("bx") + lit(side), col("by") + lit(side)))
        .select(col("bid"), col("box"))
    def boxes(m: Int, n0: Int, side: Double): DataFrame =
      boxesN(m, n0.toLong * m, side)

    // globe points: uniform lon/lat band (density per degree constant
    // because the globe cannot grow — workloads shrink their radius or
    // shapes instead)
    def globePoints(n: Long, salt: Int): DataFrame =
      spark.range(0, n).toDF("id")
        .withColumn("pt", st.point(u(col("id"), salt) * 360.0 - 180.0,
          u(col("id"), salt + 1) * 170.0 - 85.0))

    // documents: ~80-word texts over a fixed vocab; every 10th doc is a
    // near-dup of its predecessor (2 words changed) — constant dup rate
    def docs(m: Int, n0: Int): DataFrame =
      spark.range(0, n0.toLong * m).toDF("doc_id")
        .withColumn("base", col("doc_id") - when(col("doc_id") % 10 === 9, 1).otherwise(0))
        .withColumn("isdup", col("doc_id") % 10 === 9)
        .withColumn("text", array_join(transform(sequence(lit(0), lit(79)),
          i => when(col("isdup") && (i === 3 || i === 40),
            concat(lit("x"), col("doc_id")))
            .otherwise(concat(lit("w"), pmod(hash(col("base"), i), lit(8000))))), " "))
        .withColumn("source", pmod(hash(col("doc_id"), lit(77)), lit(100) * m).cast("string"))
        .select(col("doc_id"), col("text"), col("source"))

    def embeddings(m: Int, n0: Int): DataFrame =
      spark.range(0, n0.toLong * m).toDF("vec_id")
        .withColumn("embedding", transform(sequence(lit(0), lit(63)),
          d => (pmod(hash(col("vec_id"), d), lit(2000)).cast("double") / 1000.0 - 1.0)
            .cast("float")))

    // ---- workloads: (name, m => (rows, seconds)) ----

    def timed(df: => DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = df.count()
      (n, (System.nanoTime() - t0) / 1e9)
    }

    val workloads: Seq[(String, Int => (Long, Double))] = Seq(
      // sj01 path: broadcast index join — dim side FIXED at 20k (a dim
      // table does not grow with fact data), probe scales; the boxes
      // grow with the plane so hits-per-probe stays constant and the
      // output scales with the probe
      "sj01_broadcast_index" -> { m =>
        timed(points(m, 150000).join(boxesN(m, 20000, 10.0 * sqrtM(m)),
          st.intersects(col("pt"), col("box"))))
      },
      // sj05 path: partitioned index join (both sides hinted
      // SHUFFLE_HASH), both sides scale
      "sj05_grid_join" -> { m =>
        timed(points(m, 150000).hint("shuffle_hash")
          .join(boxes(m, 20000, 5.0).hint("shuffle_hash"), st.intersects(col("pt"), col("box"))))
      },
      // sj05 SKEW variant: 10% of probe points pile onto ONE hot spot the
      // size of a 32·sqrt(m)-grid cell (the city-downtown shape), boxes
      // stay uniform — the KDB tree's sampled medians must split the hot
      // spot over several leaves to keep wall ~ m (one straggler task
      // shows as a super-linear ratio)
      "sj05_grid_skew" -> { m =>
        val nx = math.max(8, (32 * sqrtM(m)).toInt)
        val hotX = planeW(m) / 2
        val hotY = planeH(m) / 2
        val pts = spark.range(0, 150000L * m).toDF("id")
          .withColumn("hot", pmod(col("id"), lit(10)) === 0)
          .withColumn("pt", st.point(
            when(col("hot"), lit(hotX) + u(col("id"), 5) * (planeW(m) / nx))
              .otherwise(u(col("id"), 1) * planeW(m)),
            when(col("hot"), lit(hotY) + u(col("id"), 6) * (planeH(m) / nx))
              .otherwise(u(col("id"), 2) * planeH(m))))
          .select(col("id"), col("pt"))
        timed(pts.hint("shuffle_hash")
          .join(boxes(m, 20000, 5.0).hint("shuffle_hash"), st.intersects(col("pt"), col("box"))))
      },
      // sj16 path: spheroid out-of-core KNN (the partitioned KNN join) —
      // same density-constant globe as sj08; query count and object
      // count scale with m
      "sj16_knn_sphere_grid" -> { m =>
        timed(SpatialJoins.knnJoin(
          globePoints(1500L * m, 17).select(col("id").as("qid"), col("pt").as("qpt")),
          globePoints(20000L * m, 19).select(col("id").as("oid"), col("pt").as("opt"))
            .hint("shuffle_hash"),
          col("qpt"), col("opt"), 3, col("oid"), spheroid = true))
      },
      // sj16 SPARSE variant: 30% of queries are isolated (mid-ocean
      // sensors, nearest object > 2000 km). Objects are uniform over the
      // globe EXCEPT a ~90°x60° empty "ocean" whose center holds the
      // isolated queries — their round-1 leaf lies in or by the ocean, so
      // their radius, and with it the leaves they probe, is wide; wall
      // must stay ~ m.
      "sj16_knn_sphere_sparse" -> { m =>
        // objects: uniform outside the ocean [-135,-45]x[-30,30]
        val o = spark.range(0, 20000L * m).toDF("id")
          .withColumn("lon", u(col("id"), 23) * 360.0 - 180.0)
          .withColumn("lat", u(col("id"), 24) * 170.0 - 85.0)
          .filter(!(col("lon") > -135 && col("lon") < -45 &&
            col("lat") > -30 && col("lat") < 30))
          .select(col("id").as("oid"), st.point(col("lon"), col("lat")).as("opt"))
        // queries: 70% uniform over the object region, 30% in the ocean
        // center (nearest object >= ~2500 km away at the closest edge)
        val q = spark.range(0, 1500L * m).toDF("id")
          .withColumn("iso", pmod(col("id"), lit(10)) < 3)
          .withColumn("qlon",
            when(col("iso"), lit(-110.0) + u(col("id"), 25) * 40.0)
              .otherwise(u(col("id"), 25) * 170.0 - 30.0))
          .withColumn("qlat",
            when(col("iso"), lit(-7.0) + u(col("id"), 26) * 14.0)
              .otherwise(u(col("id"), 26) * 100.0 - 50.0))
          .select(col("id").as("qid"), st.point(col("qlon"), col("qlat")).as("qpt"))
        timed(SpatialJoins.knnJoin(
          q, o.hint("shuffle_hash"), col("qpt"), col("opt"), 3, col("oid"), spheroid = true))
      },
      // sj07 path: the planner's SQL spatial join under broadcast-off
      // (the partitioned index join)
      "sj07_planner_grid" -> { m =>
        points(m, 150000).select(col("id"), col("pt")).createOrReplaceTempView("sb_pts")
        boxes(m, 20000, 5.0).createOrReplaceTempView("sb_boxes")
        val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try timed(spark.sql(
          "SELECT id, bid FROM sb_pts JOIN sb_boxes ON st_intersects(pt, box)"))
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      },
      // sj08 path: spherical dwithin join on the (fixed) globe — density
      // grows with m, so the ground radius shrinks ~1/sqrt(m) to keep
      // matches-per-probe constant
      "sj08_sphere_dwithin" -> { m =>
        timed(globePoints(15000L * m, 11).select(col("id").as("aid"), col("pt").as("apt"))
          .hint("shuffle_hash")
          .join(globePoints(15000L * m, 13).select(col("id").as("bid"), col("pt").as("bpt"))
            .hint("shuffle_hash"),
            st.f("st_dwithinsphere", col("apt"), col("bpt"), lit(250000.0 / sqrtM(m)))))
      },
      // sj10 path: out-of-core KNN (the partitioned KNN join), k fixed,
      // both sides scale
      "sj10_knn_grid" -> { m =>
        timed(SpatialJoins.knnJoin(
          points(m, 1500).select(col("id").as("qid"), col("pt").as("qpt")),
          points(m, 20000).select(col("id").as("oid"), col("pt").as("opt"))
            .hint("shuffle_hash"),
          col("qpt"), col("opt"), 3, col("oid")))
      },
      // sj10 SPARSE variant (the planar twin of sj16_knn_sphere_sparse):
      // objects clustered in the left half of the plane, 30% of queries
      // isolated deep in the empty right half — their radius spans a large
      // fraction of the extent
      "sj10_knn_grid_sparse" -> { m =>
        val w = planeW(m); val h = planeH(m)
        val o = spark.range(0, 20000L * m).toDF("id")
          .select(col("id").as("oid"),
            st.point(u(col("id"), 61) * (w * 0.4), u(col("id"), 62) * h).as("opt"))
        val q = spark.range(0, 1500L * m).toDF("id")
          .withColumn("iso", pmod(col("id"), lit(10)) < 3)
          .select(col("id").as("qid"), st.point(
            when(col("iso"), lit(0.8) * w + u(col("id"), 63) * (w * 0.15))
              .otherwise(u(col("id"), 63) * (w * 0.38)),
            u(col("id"), 64) * h).as("qpt"))
        timed(SpatialJoins.knnJoin(q, o.hint("shuffle_hash"), col("qpt"), col("opt"), 3,
          col("oid")))
      },
      // sj13 path: spherical intersects join — polygon count scales,
      // polygon side shrinks 1/sqrt(m) so expected point-in-quad pairs
      // stay linear
      "sj13_sphere_intersects" -> { m =>
        val side = 2.0 / sqrtM(m)
        val quads = spark.range(0, 2000L * m).toDF("qid")
          .withColumn("qx", u(col("qid"), 21) * (360.0 - side) - 180.0)
          .withColumn("qy", u(col("qid"), 22) * (160.0 - side) - 80.0)
          .withColumn("quad", st.makeEnvelope(col("qx"), col("qy"),
            col("qx") + lit(side), col("qy") + lit(side)))
          .select(col("qid"), col("quad"))
        timed(quads.hint("shuffle_hash")
          .join(globePoints(150000L * m, 31).hint("shuffle_hash"),
            st.f("st_intersectssphere", col("quad"), col("pt"))))
      },
      // pl04 path: MinHash+LSH banding, constant dup rate
      "pl04_minhash" -> { m =>
        timed(PipelineOps.minhashPairs(docs(m, 5000), col("doc_id"), col("text"),
          numHashes = 12, bands = 4))
      },
      // pl05 path: SimHash blocked hamming; block count scales with m so
      // block size stays constant
      "pl05_simhash" -> { m =>
        timed(PipelineOps.simhashPairs(docs(m, 5000), col("doc_id"), col("text"),
          col("source"), maxHamming = 14))
      },
      // pl06 path: n-gram jaccard inside source blocks (low threshold =
      // the blocked-merge branch)
      "pl06_ngram_jaccard" -> { m =>
        timed(PipelineOps.ngramJaccardPairs(docs(m, 5000), col("doc_id"),
          col("text"), col("source"), k = 3, minJaccard = 0.03))
      },
      // pl09 path: hyperplane LSH ANN self-join; bits ~ 8 + log2(m)
      // keeps expected bucket occupancy constant (the knob a deployment
      // scales with corpus size)
      "pl09_lsh_ann" -> { m =>
        val nbits = 8 + math.ceil(math.log(m.toDouble) / math.log(2)).toInt
        timed(PipelineOps.lshAnn(embeddings(m, 2000), col("vec_id"),
          col("embedding"), nbits = nbits, k = 2))
      },
      // pl11 path: IVF ANN — k-means|| quantizer (driver holds k x dims
      // only) + inverted-list probe with a fixed query set
      "pl11_ivf_ann" -> { m =>
        timed {
          val e = embeddings(m, 2000)
          val qv = IvfAnn.quantized(col("embedding"))
          val centroids = IvfAnn.kmeans(e, col("vec_id"), qv, k = 64, iters = 3)
          IvfAnn.search(e, e.filter(col("vec_id") < 20),
            col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
            centroids, nProbe = 8, topK = 3, listVec = Some((qv, qv)))
        }
      },
      // forced-distributed connected components (localThreshold=0): the
      // large-star/small-star rounds on a synthetic graph of 1000-node
      // chains — deep diameter (the propagation worst case) and >4M
      // edges at m=10, well past the local union-find cap. A sound
      // distributed CC shows wall ~ m: round count is O(log n), and the
      // edge set shrinks monotonically, so per-round shuffles track the
      // (linear) edge volume.
      "cc_distributed" -> { m =>
        val n = 500000L * m
        val res = timed {
          val edges = spark.range(n).toDF("a")
            .where(pmod(col("a"), lit(1000)) =!= 999)
            .select(col("a"), (col("a") + 1L).as("b"))
          PipelineOps.connectedComponents(edges, col("a"), col("b"),
            localThreshold = 0)
        }
        println(s"""{"wl":"cc_distributed","diag":"m=$m """ +
          s"""ls_ss_rounds=${PipelineOps.lastCcRounds.get()}"}""")
        res
      },
      // dense-pair-graph CC (|E| >> |V|, the quadratic near-dup pair
      // explosion shape): the entry probe sees >4M bidirectional edges
      // and goes distributed, round 1 collapses the edge set to ~|V|,
      // and the mid-loop local finish replaces the remaining rounds —
      // wall should track the ONE full-volume round, ~linear in m
      "cc_dense" -> { m =>
        val nodes = 200000L * m
        val pairs = 3000000L * m
        val res = timed {
          val e = spark.range(pairs).toDF("i")
            .select(pmod(hash(col("i"), lit(1)), lit(nodes)).cast("long").as("a"),
              pmod(hash(col("i"), lit(2)), lit(nodes)).cast("long").as("b"))
          PipelineOps.connectedComponents(e, col("a"), col("b"))
        }
        println(s"""{"wl":"cc_dense","diag":"m=$m """ +
          s"""ls_ss_rounds=${PipelineOps.lastCcRounds.get()}"}""")
        res
      },
      // pl31/pl32 path: the map-only text kernels (markup strip + n-gram
      // repetition stats) over a growing corpus — pure projections, so
      // wall must track rows ~linearly with zero shuffle
      "pl32_text_mapops" -> { m =>
        // BOTH .count() and agg(...).count() PRUNE the kernels (the
        // memory-noted probe lie) — collect the 1-row aggregate so every
        // kernel provably ran (the sums depend on each doc's outputs)
        val t0 = System.nanoTime()
        val r = docs(m, 50000)
          .withColumn("html", concat(lit("<p>"), col("text"),
            lit("</p><script>x</script> &amp; tail")))
          .select(col("doc_id"),
            expr("sd_strip_markup(html)").as("clean"),
            expr("sd_repetition_stats(text)").as("st"))
          .agg(sum(length(col("clean"))).as("nc"),
            sum(col("st.top2_chars")).as("t2"),
            sum(col("st.dup5_chars")).as("d5"),
            count(lit(1)).as("n"))
          .collect()(0)
        (r.getLong(3), (System.nanoTime() - t0) / 1e9)
      },
      // pl33 path: corpus-level line dedup — one 8-byte-key count
      // shuffle + join-back + per-doc local rejoin. Boilerplate line
      // counts grow with m but stay ONE aggregate row each; wall must
      // track rows. count() would prune the clean_text rebuild (the
      // probe lie), so collect a 1-row aggregate whose sums depend on
      // every doc's rebuilt text.
      "pl33_line_dedup" -> { m =>
        val t0 = System.nanoTime()
        val pages = docs(m, 50000)
          .withColumn("page", concat(
            lit("Share on Facebook\nDoc "), col("doc_id").cast("string"),
            lit("\nCategory: "), pmod(col("doc_id"), lit(97)).cast("string"),
            lit("\n"), col("text"),
            lit("\nCopyright 2020 Example Corp")))
        val r = PipelineOps.removeDupLines(pages, col("doc_id"), col("page"))
          .agg(sum(length(col("clean_text"))).as("nc"),
            sum(col("n_removed")).as("nr"), count(lit(1)).as("n"))
          .collect()(0)
        println(s"""{"wl":"pl33_line_dedup","diag":"m=$m """ +
          s"""removed=${r.getLong(1)}"}""")
        (r.getLong(2), (System.nanoTime() - t0) / 1e9)
      },
      // pl34 path: domain mixture — one tiny per-domain aggregate (the
      // docs generator carries 100*m source domains), a broadcast rate
      // join, and a map-side ppm-hash filter; budget scales with m so
      // the keep rates stay constant and output rows track input rows
      "pl34_domain_mixture" -> { m =>
        timed {
          val d = docs(m, 50000)
            .withColumn("n_tok", size(split(col("text"), " ")))
          graft.pipeline.PipelineOps.domainMixture(d, col("doc_id"),
            col("source"), col("n_tok"), budgetTokens = 2000000L * m)
        }
      },
      // pl35 path: per-frame audio features — map-only (synth + frame
      // stats, one output row per 16-sample frame, no shuffle); the agg
      // collect forces every frame kernel to run (count would prune it)
      "pl35_audio_frames" -> { m =>
        val t0 = System.nanoTime()
        val synth = udf((docId: Long, n: Int) =>
          graft.pipeline.MultimodalOps.synthWav(Array.tabulate(n)(i =>
            (((docId * 7 + i * 13) % 2001) - 1000).toShort), 16000))
        val src = docs(m, 50000)
          .withColumn("n", (pmod(col("doc_id"), lit(50)) + 30).cast("int"))
          .withColumn("clip", synth(col("doc_id"), col("n")))
        val r = graft.pipeline.MultimodalOps
          .audioFrameStats(src, "doc_id", "clip", frameLen = 16)
          .agg(sum(col("abs_sum")).as("e"), sum(col("crossings")).as("c"),
            count(lit(1)).as("n"))
          .collect()(0)
        println(s"""{"wl":"pl35_audio_frames","diag":"m=$m """ +
          s"""energy=${r.getLong(0)}"}""")
        (r.getLong(2), (System.nanoTime() - t0) / 1e9)
      },
      // pl36 path: per-tile image features — map-only like pl35 but the
      // per-row work is a REAL PNG encode+decode; wall must track rows
      "pl36_image_tiles" -> { m =>
        val t0 = System.nanoTime()
        val synth = udf((docId: Long) =>
          graft.pipeline.MultimodalOps.synthGradientPng(37, 23, docId * 13))
        val src = spark.range(0, 20000L * m).toDF("doc_id")
          .withColumn("img", synth(col("doc_id")))
        val r = graft.pipeline.MultimodalOps
          .imageTileStats(src, "doc_id", "img", tile = 8)
          .agg(sum(col("lum_sum")).as("s"), count(lit(1)).as("n"))
          .collect()(0)
        println(s"""{"wl":"pl36_image_tiles","diag":"m=$m """ +
          s"""lum=${r.getLong(0)}"}""")
        (r.getLong(1), (System.nanoTime() - t0) / 1e9)
      },
      // pl12 path: connected components over the minhash pair graph
      "pl12_dedup_groups" -> { m =>
        timed {
          val pairs = PipelineOps.minhashPairs(docs(m, 5000), col("doc_id"),
            col("text"), numHashes = 12, bands = 4)
          PipelineOps.dedupGroups(pairs, col("doc_a"), col("doc_b"))
        }
      },
      // pl23 path: survivor selection on top of the pl12 pair graph —
      // adds one group-id shuffle + per-group window to the CC rounds;
      // groups stay O(1)-sized (constant dup rate), so the window never
      // concentrates a partition
      "pl23_dedup_survivors" -> { m =>
        timed {
          val d = docs(m, 5000)
          val pairs = PipelineOps.minhashPairs(d, col("doc_id"), col("text"),
            numHashes = 12, bands = 4)
          PipelineOps.dedupSurvivors(d, col("doc_id"),
            length(col("text")).cast("long"), pairs, col("doc_a"), col("doc_b"))
        }
      },
      // pl26 path: duplicated-span stats — window-hash count shuffle +
      // join-back; constant dup rate keeps per-hash counts O(1)
      "pl26_dup_spans" -> { m =>
        timed(PipelineOps.dupSpanStats(docs(m, 5000), col("doc_id"),
          col("text"), k = 8))
      },
      // rs09/rs12 path: out-db windowed raster sampling — scene pixels
      // grow with m (sqrt(m) per axis), sample count grows with m, so
      // samples-per-block density is constant. The probe side is
      // range-partitioned on the 256px block grid first (the sd_order-
      // style clustering a cluster deployment applies before touching
      // storage), so each task streams through few blocks and the
      // per-executor window cache converts repeat samples into hits.
      // Exercises the netCDF contiguous per-row-range reader end to end.
      "rs09_outdb_sample" -> { m =>
        val w = (2048 * sqrtM(m)).toInt
        val h = (1024 * sqrtM(m)).toInt
        val f = new java.io.File(s"/tmp/graft_scalebench_nc/scene_$m.nc")
        if (!f.exists()) {
          f.getParentFile.mkdirs()
          val vals = Array.tabulate(w * h)(i => (i % 251).toDouble)
          val r = graft.functions.RasterModel.Raster("EPSG:32610",
            Array(0.0, 10.0, 0.0, 0.0, 0.0, -10.0), w, h,
            Vector(graft.functions.RasterModel.Band(Double.NaN,
              graft.functions.RasterModel.packDoubles(vals))))
          java.nio.file.Files.write(f.toPath, graft.sources.NetCdf.write(r))
        }
        val path = f.getAbsolutePath
        // samples are generated already CLUSTERED by 256px cache block
        // along spark.range's natural id order (consecutive ids share a
        // block; each task's contiguous id range covers contiguous
        // blocks). This bakes the locality into the data layout itself —
        // the property a real deployment gets from sd_order clustering —
        // rather than trusting a Sort node to survive optimization, and
        // keeps concurrent hot blocks ~= task count, inside the window
        // cache. Uniform coverage of every block is preserved.
        val nbx = (w + 255) / 256
        val nSamples = 50000L * m
        val nBlocks = nbx.toLong * ((h + 255) / 256)
        graft.sources.RasterLoaders.resetCounters()
        val res = timed {
          spark.range(0, nSamples).toDF("id")
            .withColumn("b", col("id") * nBlocks / nSamples)
            .withColumn("c", least(
              (col("b") % nbx) * 256 + pmod(hash(col("id"), lit(61)), lit(256)),
              lit(w - 1)).cast("int"))
            .withColumn("r", least(
              (col("b") / nbx) * 256 + pmod(hash(col("id"), lit(62)), lit(256)),
              lit(h - 1)).cast("int"))
            .withColumn("v", st.f("rs_value", st.f("rs_frompath", lit(path)),
              st.f("st_setsrid", st.point(col("c") * 10.0 + 5.0,
                -(col("r") * 10.0 + 5.0)), lit(32610)), lit(1)))
            .filter(col("v").isNotNull)
        }
        import graft.sources.RasterLoaders._
        println(s"""{"wl":"rs09_outdb_sample","diag":"m=$m hits=${cacheHits.sum()} """ +
          s"""misses=${cacheMisses.sum()} fetchMB=${fetchBytes.sum() / 1000000}"}""")
        res
      },
      // st05 path: watermarked tumbling-window streaming aggregation —
      // rate and cell grid constant, the stream's time span grows with m
      // (more windows, same per-window state); append emission per
      // closed window, so rows and time should both scale ~m
      // st04 path: stream-static spatial join — point stream ~ m over a
      // growing plane probes a static box table (~ m, a dim that grows
      // with the deployment) through the grid-cell equi-join; STATELESS
      // per microbatch, so chunked staging only adds the per-trigger
      // constant and wall should track events
      "st04_stream_static" -> { m =>
        val stage = s"/tmp/graft_scalebench_stst/$m"
        val n = 25000L * m
        stageTimeChunked(spark.range(0, n).toDF("id")
            .withColumn("x", u(col("id"), 81) * planeW(m))
            .withColumn("y", u(col("id"), 82) * planeH(m)),
          stage, n, math.max(4, (4 * sqrtM(m)).toInt))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("x", DoubleType), StructField("y", DoubleType)))
        val pts = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withColumn("pt", st.point(col("x"), col("y")))
        val bxs = boxes(m, 200, 8.0)
        val joined = SpatialJoins.gridJoin(pts, bxs, col("pt"), col("box"),
          "st_intersects", bounds = (0.0, 0.0, planeW(m), planeH(m)))
          .select(col("id"), col("bid"))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_stst_$m"
          val q = joined.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (spark.table(sink).count(), (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // st09 path: watermark-bounded exact dedup — ids ~ m (every id
      // unique except near-in-time duplicates), but state holds only the
      // ids within the 1h watermark delay; chunked staging advances the
      // watermark so eviction fires. Plain dropDuplicates on this stream
      // would hold ALL m-scaled ids forever. Output = distinct ids ~ m.
      "st09_stream_dedup_bounded" -> { m =>
        val stage = s"/tmp/graft_scalebench_dwm/$m"
        val n = 25000L * m
        val spanMs = 30L * 86400L * 1000L * m
        val base = 1700000000000L
        // every 5th id is emitted twice at the SAME event time (a
        // bit-identical duplicate, trivially within the delay)
        val ev = spark.range(0, n).toDF("eid")
          .withColumn("dup", explode(when(col("eid") % 5 === 0,
            array(lit(0), lit(1))).otherwise(array(lit(0)))))
          .withColumn("id", col("eid")) // orders staging chunks by time
          .withColumn("ts_ms", lit(base) + (col("eid") * (spanMs / n)))
          .withColumn("value", (col("eid") % 100).cast("double"))
          .select(col("id"), col("eid"), col("ts_ms"), col("value"))
        stageTimeChunked(ev, stage, n, math.max(4, (4 * sqrtM(m)).toInt))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("eid", LongType), StructField("ts_ms", LongType),
          StructField("value", DoubleType)))
        val deduped = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("eid")
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_dwm_$m"
          val q = deduped.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (spark.table(sink).count(), (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // st07 path: watermarked stream-stream 1-D interval overlap join —
      // event rate and interval lengths constant, only the span grows
      // with m; the ±30min time band (implied by the 7/5-minute caps)
      // bounds state, chunked staging advances the watermark so it
      // actually prunes; output (overlaps) ~ m
      "st07_stream_range" -> { m =>
        val n = 25000L * m
        val spanMs = 30L * 86400L * 1000L * m
        val minMs = 60L * 1000L
        val base = 1700000000000L
        // interval lengths ~ minutes against a ~104s inter-arrival, so
        // overlaps-per-row stays a small constant (output ~ m, not
        // ~ m x band/arrival)
        def side(salt: Int, tag: String, maxLenMin: Int,
            sN: String, eN: String, tsN: String): String = {
          val stage = s"/tmp/graft_scalebench_srj_$tag/$m"
          stageTimeChunked(spark.range(0, n).toDF("id")
              .withColumn(sN, lit(base) + (col("id") * (spanMs / n)) +
                pmod(hash(col("id"), lit(salt)), lit(1000)))
              .withColumn(eN, col(sN) +
                (pmod(hash(col("id"), lit(salt + 1)), lit(maxLenMin)) + 1) * minMs)
              .withColumn(tsN, timestamp_millis(col(sN))),
            stage, n, math.max(4, (4 * sqrtM(m)).toInt))
          stage
        }
        val lstage = side(71, "l", 7, "ls", "le", "lts")
        val rstage = side(73, "r", 5, "rs", "re", "rts")
        import org.apache.spark.sql.types._
        def sch(sN: String, eN: String, tsN: String) = StructType(Seq(
          StructField("id", LongType), StructField(sN, LongType),
          StructField(eN, LongType), StructField(tsN, TimestampType)))
        val l = spark.readStream.schema(sch("ls", "le", "lts"))
          .option("maxFilesPerTrigger", "1").parquet(lstage)
          .withColumnRenamed("id", "lid").withWatermark("lts", "0 seconds")
        val r = spark.readStream.schema(sch("rs", "re", "rts"))
          .option("maxFilesPerTrigger", "1").parquet(rstage)
          .withColumnRenamed("id", "rid").withWatermark("rts", "0 seconds")
        val joined = graft.streaming.StreamingOps.streamRangeJoin(l, r,
          "ls", "le", "rs", "re",
          timeCond = col("lts") >= col("rts") - expr("INTERVAL 30 MINUTES") &&
            col("lts") <= col("rts") + expr("INTERVAL 30 MINUTES"),
          cellWidth = 10L * minMs)
          .select(col("lid"), col("rid"))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_srj_$m"
          val q = joined.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (spark.table(sink).count(), (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // st01 path: gap-sessionize under a GROWING key space (users ~ m,
      // rate constant) — the honest shape: state is bounded by users
      // active within one gap of the watermark (arrival rate x gap),
      // NOT by the key space; time-chunked staging advances the
      // watermark so the event-time timeout actually evicts. A final
      // sentinel chunk (one far-future event per user) flushes the tail
      // sessions, so rows out = events in (per-user inter-arrival >>
      // gap at every m: each event is its own session), linear in m.
      "st01_stream_sessionize" -> { m =>
        val stage = s"/tmp/graft_scalebench_sess/$m"
        val n = 25000L * m
        val nKeys = 500L * m
        val spanMs = 30L * 86400L * 1000L * m
        val gapMs = 3600L * 1000L
        val base = 1700000000000L
        val ev = spark.range(0, n).toDF("id")
          .withColumn("user_id", pmod(hash(col("id"), lit(11)), lit(nKeys)))
          .withColumn("ts_ms", lit(base) + (col("id") * (spanMs / n)))
          .withColumn("value", (col("id") % 100).cast("double") * 0.25)
        val sentinels = spark.range(0, nKeys).toDF("user_id")
          .withColumn("id", lit(n) + col("user_id")) // orders AFTER all events
          .withColumn("ts_ms", lit(base + spanMs + 10 * gapMs))
          .withColumn("value", lit(0.0))
          .select(col("id"), col("user_id"), col("ts_ms"), col("value"))
        stageTimeChunked(ev.select(col("id"), col("user_id"),
            col("ts_ms"), col("value")).unionAll(sentinels),
          stage, n + nKeys, math.max(4, (4 * sqrtM(m)).toInt))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("user_id", LongType), StructField("ts_ms", LongType),
          StructField("value", DoubleType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .select(col("user_id"), col("ts_ms"), col("value"))
          .as[graft.streaming.StreamingOps.Event](
            org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.Event])
        val sessions = graft.streaming.StreamingOps.sessionize(stream, gapMs)
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_sess_$m"
          val q = sessions.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (spark.table(sink).count(), (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // st06 path: streaming backward as-of join with the idle-key TTL —
      // key space grows with m (the 100TB ephemeral-key shape), state is
      // bounded by keys active within the TTL of the watermark; chunked
      // staging makes the event-time timeout fire. Output = one row per
      // left event (matched or unmatched), linear in m.
      "st06_stream_asof" -> { m =>
        val stage = s"/tmp/graft_scalebench_asof/$m"
        val n = 50000L * m
        val nKeys = 500L * m
        val spanMs = 30L * 86400L * 1000L * m
        val tolMs = 2L * 86400L * 1000L
        val base = 1700000000000L
        stageTimeChunked(spark.range(0, n).toDF("id")
            .withColumn("k", pmod(hash(col("id"), lit(13)), lit(nKeys)))
            .withColumn("ts_ms", lit(base) + (col("id") * (spanMs / n)))
            .withColumn("tag", (col("id") % 2).cast("int"))
            .withColumn("value", (col("id") % 1000).cast("double") * 0.5),
          stage, n, math.max(4, (4 * sqrtM(m)).toInt))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("k", LongType), StructField("ts_ms", LongType),
          StructField("tag", IntegerType), StructField("value", DoubleType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .select(col("k"), col("ts_ms"), col("tag"), col("id"), col("value"))
          .as[graft.streaming.StreamingOps.AsOfEvent](
            org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.AsOfEvent])
        val joined = graft.streaming.StreamingOps.streamAsOfJoin(
          stream, tolMs, idleTtlMs = Some(tolMs))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_asof_$m"
          val q = joined.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (spark.table(sink).count(), (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // time-chunked staging (see st03): a single-batch AvailableNow run
      // would hold EVERY window of the m-scaled span in state at once
      // (state ~ m, the quiet degeneration st03 exposed); one chunk per
      // trigger advances the watermark so state = open windows only
      "st05_stream_window_agg" -> { m =>
        val stage = s"/tmp/graft_scalebench_winagg/$m"
        val n = 25000L * m
        val spanUs = 30L * 86400L * 1000000L * m
        stageTimeChunked(
          spark.range(0, n).toDF("id")
            .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
              (col("id") * (spanUs / n)) + pmod(hash(col("id"), lit(53)), lit(1000000))))
            .withColumn("x", round(u(col("id"), 54) * 31.0 * 4.0) / 4.0)
            .withColumn("y", round(u(col("id"), 55) * 23.0 * 4.0) / 4.0),
          stage, n, math.max(4, (4 * sqrtM(m)).toInt))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("ts", TimestampType), StructField("x", DoubleType),
          StructField("y", DoubleType)))
        val agg = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withWatermark("ts", "0 seconds")
          .withColumn("pt", st.point(col("x"), col("y")))
          .groupBy(window(col("ts"), "1 hour"),
            floor(col("x") / 8).as("cx"), floor(col("y") / 8).as("cy"))
          .agg(count(lit(1)).as("n"), st.envelopeAgg(col("pt")).as("env"))
          .select(col("cx"), col("cy"), col("n"), st.xmin(col("env")).as("exmin"))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_winagg_$m"
          val q = agg.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val rows = spark.table(sink).count()
          (rows, (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // pc06 path: COPC bbox query — the cloud's footprint and point
      // count grow with m (density constant), the query box stays fixed:
      // a hierarchy-indexed read should cost ~the points under the box
      // (constant), NOT the cloud size. rows_ratio ~1 and time_ratio ~1
      // is the win condition here.
      "pc06_copc_bbox" -> { m =>
        val w = 1000.0 * sqrtM(m)
        val hgt = 800.0 * sqrtM(m)
        val n = 20000L * m
        val f = new java.io.File(s"/tmp/graft_scalebench_copc/cloud_$m.copc.laz")
        if (!f.exists()) {
          f.getParentFile.mkdirs()
          val src = spark.range(n).select(
            (u(col("id"), 201) * (w * 8).toLong.toDouble).cast("long")
              .cast("double")./(8.0).as("x"),
            (u(col("id"), 202) * (hgt * 8).toLong.toDouble).cast("long")
              .cast("double")./(8.0).as("y"),
            (u(col("id"), 203) * 800).cast("long").cast("double")./(8.0).as("z"),
            (col("id") % 60000).as("intensity"),
            (col("id") % 32).as("classification"),
            (col("id").cast("double") * 0.25).as("gps_time"))
          graft.sources.Copc.write(src, f.getAbsolutePath,
            scale = 0.125, maxPerNode = 2048)
        }
        timed(graft.sources.Copc.read(spark, f.getAbsolutePath,
            Some((100.0, 150.0, 300.0, 310.0)))
          .filter(col("x") >= 100.0 && col("x") <= 300.0 &&
            col("y") >= 150.0 && col("y") <= 310.0))
      },
      // rs16 path: DISTRIBUTED sharded zarr v3 write — inner-chunk count
      // grows with m, shard size fixed, so shard count grows ~m and the
      // one grouping shuffle plus per-task assembly should hold linear
      "rs16_sharded_write" -> { m =>
        val gridW = 16
        val rows = 4L * m // chunk grid: gridW x (4m)
        val dir = s"/tmp/graft_scalebench_zarrshard/$m"
        val chunks = spark.range(0, rows * gridW).toDF("i")
          .withColumn("cy", col("i") / gridW)
          .withColumn("cx", col("i") % gridW)
          .withColumn("vals", org.apache.spark.sql.functions.transform(
            sequence(lit(0), lit(64 * 64 - 1)),
            j => (pmod(hash(col("i"), j), lit(251))).cast("double")))
          .withColumn("raster", st.f("rs_makeraster", lit(64), lit(64),
            col("cx").cast("double") * 640.0, col("cy").cast("double") * -640.0,
            lit(10.0), lit(-10.0), col("vals")))
          .select("cy", "cx", "raster")
        val t0 = System.nanoTime()
        graft.sources.ZarrIO.writeV3Sharded(chunks, dir, "raster",
          innerPerShard = (4, 4))
        val secs = (System.nanoTime() - t0) / 1e9
        // sanity read-back of one shard's worth, not part of the timing
        require(graft.sources.ZarrIO.read(spark, dir).limit(1).count() == 1)
        (rows * gridW, secs)
      },
      // pc07 path: DISTRIBUTED tiled COPC write — n and footprint grow
      // with m (density constant), tile size knob fixed, so tile count
      // grows ~m and tasks parallelize. Win condition: write wall time
      // ratio <= m (constant cost per point), i.e. the serialization
      // stays fully distributed with no driver funnel.
      "pc07_copc_tiled" -> { m =>
        val w = 1000.0 * sqrtM(m)
        val hgt = 800.0 * sqrtM(m)
        val n = 20000L * m
        val dir = s"/tmp/graft_scalebench_copc/tiled_$m"
        val src = spark.range(n).select(
          (u(col("id"), 201) * (w * 8).toLong.toDouble).cast("long")
            .cast("double")./(8.0).as("x"),
          (u(col("id"), 202) * (hgt * 8).toLong.toDouble).cast("long")
            .cast("double")./(8.0).as("y"),
          (u(col("id"), 203) * 800).cast("long").cast("double")./(8.0).as("z"),
          (col("id") % 60000).as("intensity"),
          (col("id") % 32).as("classification"),
          (col("id").cast("double") * 0.25).as("gps_time"))
        val t0 = System.nanoTime()
        graft.sources.Copc.writeTiled(src, dir, scale = 0.125,
          maxPerNode = 2048, targetPerTile = 4000)
        val secs = (System.nanoTime() - t0) / 1e9
        // sanity: the tiles re-read under a fixed box (file-prune + node-
        // prune) — not part of the timed write
        require(graft.sources.Copc.readTiled(spark, dir,
          Some((100.0, 150.0, 300.0, 310.0))).count() > 0)
        (n, secs)
      },
      // q21 path: backward as-of join — both sides scale with m, keys
      // scale with m so per-key row counts stay constant; one hash
      // shuffle per side + per-key time-sorted sweep should hold linear
      "q21_asof_join" -> { m =>
        val nKeys = 500L * m
        def side(n: Long, salt: Int, idName: String, tName: String) =
          spark.range(0, n).toDF(idName)
            .withColumn("k", pmod(hash(col(idName), lit(salt)), lit(nKeys)))
            .withColumn(tName, (pmod(hash(col(idName), lit(salt + 1)),
              lit(1000000000)) + 1000000000L).cast("long"))
        val l = side(100000L * m, 81, "lid", "lts")
        val r = side(100000L * m, 83, "rid", "rts")
        timed(graft.operators.AsOfJoin.asofBackward(
          l, r, "k", "lts", "rts", "rid", toleranceUs = 50000000L))
      },
      // q22 path: banded interval overlap join — span and rows grow with
      // m (constant event rate), interval lengths, cell width, and key
      // count fixed: matches-per-row constant, output ~ m
      "q22_interval_join" -> { m =>
        val nKeys = 200L
        val span = 1000000000L * m
        def side(n: Long, salt: Int, id: String, s: String, e: String,
            k: String, maxLen: Long) =
          spark.range(0, n).toDF(id)
            .withColumn(k, pmod(hash(col(id), lit(salt)), lit(nKeys)))
            .withColumn(s, (pmod(hash(col(id), lit(salt + 1)), lit(1000000))
              .cast("long") * (span / 1000000L)))
            .withColumn(e, col(s) + pmod(hash(col(id), lit(salt + 2)), lit(maxLen)))
        val l = side(100000L * m, 91, "lid", "ls", "le", "lk", 40000000L)
        val r = side(100000L * m, 95, "rid", "rs", "re", "rk", 40000000L)
        timed(graft.operators.IntervalJoin.overlapJoin(
          l, r, "ls", "le", "rs", "re", Some(("lk", "rk")),
          cellWidth = 40000000L))
      },
      // st03 path: watermarked stream-stream spatial join; event rate and
      // spatial extent constant, only the stream's time span grows with m
      // (a longer stream at the same rate) — the 12h band bounds state,
      // so output scales linearly and state stays constant
      "st03_stream_stream" -> { m =>
        val gw = 31.0
        val gh = 23.0
        val nx = 64
        val spanUs = 30L * 86400L * 1000000L * m // rate constant in m
        val n = 25000L * m
        // TIME-CHUNKED staging (round 15): each side is written as a
        // sequence of timestamp-ordered chunk files and the stream reads
        // ONE file per trigger, so the watermark advances between
        // microbatches and the join's 12h band actually prunes state —
        // a 2-file staging fed 2.5M events in ONE batch at m=100, the
        // watermark never moved inside it, and the state join
        // degenerated to unbounded-band (killed at 50 min). A real
        // stream arrives in time order; the bench now drives the
        // operator the same way.
        val chunks = math.max(4, (4 * sqrtM(m)).toInt)
        def side(salt: Int, tag: String): String = {
          val stage = s"/tmp/graft_scalebench_$tag/$m"
          stageTimeChunked(spark.range(0, n).toDF("id")
            .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
              (col("id") * (spanUs / n)) + pmod(hash(col("id"), lit(salt)), lit(1000000))))
            .withColumn("x", round(u(col("id"), salt + 1) * gw * 4.0) / 4.0)
            .withColumn("y", round(u(col("id"), salt + 2) * gh * 4.0) / 4.0),
            stage, n, chunks)
          stage
        }
        val lstage = side(41, "l")
        val rstage = side(47, "r")
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("id", LongType),
          StructField("ts", TimestampType), StructField("x", DoubleType),
          StructField("y", DoubleType)))
        val l = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(lstage)
          .withWatermark("ts", "0 seconds")
          .withColumnRenamed("ts", "lts").withColumnRenamed("id", "lid")
          .withColumn("lg", st.point(col("x"), col("y")))
          .drop("x", "y")
        val r = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(rstage)
          .withWatermark("ts", "0 seconds")
          .withColumnRenamed("ts", "rts").withColumnRenamed("id", "rid")
          .withColumn("rg", st.makeEnvelope(col("x") - 0.25, col("y") - 0.25,
            col("x") + 0.25, col("y") + 0.25))
          .drop("x", "y")
        val joined = graft.streaming.StreamingOps.streamSpatialJoin(
          l, r, col("lg"), col("rg"), "st_intersects",
          bounds = (0.0, 0.0, gw, gh),
          timeCond = col("lts") >= col("rts") - expr("INTERVAL 12 HOURS") &&
            col("lts") <= col("rts") + expr("INTERVAL 12 HOURS"),
          nx = nx, ny = nx)
          .select(col("lid"), col("rid"))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_ssj_$m"
          val q = joined.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val rows = spark.table(sink).count()
          (rows, (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // pl29 path: SemDeDup — corpus AND cluster count grow with m, so
      // per-cluster membership (and thus each cluster's pairwise work)
      // stays constant; total = #clusters * const ~ m. Timed block
      // includes the k-means training (itself ~ m map-only scans)
      "pl29_semantic_dedup" -> { m =>
        import graft.pipeline.{IvfAnn, PipelineOps}
        val e = embeddings(m, 20000)
        val qv = IvfAnn.quantized(col("embedding"))
        timed {
          val cents = IvfAnn.kmeans(e, col("vec_id"), qv, k = 16 * m, iters = 2)
          PipelineOps.semanticDedup(e, col("vec_id"), qv, cents, tau = 0.3)
        }
      },
      // q27 path: SQL max-subquery as-of with a FIXED low-cardinality
      // key (the adversarial shape): the syntactic plan materializes
      // |l||r|/32 rows, so linear wall here certifies the
      // AggregateJoinReorder rotation + sweep end-to-end
      "q27_asof_sql" -> { m =>
        val nKeys = 32L
        def side(n: Long, salt: Int, id: String, t: String) =
          spark.range(0, n).toDF(id)
            .withColumn("k", pmod(hash(col(id), lit(salt)), lit(nKeys)))
            .withColumn(t, pmod(hash(col(id), lit(salt + 1)),
              lit(100000L * m)).cast("long"))
        side(30000L * m, 171, "lid", "lts").createOrReplaceTempView("sb_q27_l")
        side(30000L * m, 173, "rid", "rts").createOrReplaceTempView("sb_q27_r")
        timed(spark.sql("""
          SELECT l.lid, r.rid FROM sb_q27_l l JOIN sb_q27_r r ON l.k = r.k
          WHERE r.rts = (SELECT max(r2.rts) FROM sb_q27_r r2
                         WHERE r2.k = l.k AND r2.rts <= l.lts)"""))
      },
      // st08 path: streaming MinHash near-dup dedup — docs grow with m,
      // state is one long per band bucket; AvailableNow over one staged
      // file, the wall is sketch compute + bucket-state commits ~ m
      "st08_stream_minhash" -> { m =>
        val n = 20000L * m
        val stage = s"/tmp/graft_scalebench_mhd/$m"
        docs(m, 20000).coalesce(4).write.mode("overwrite").parquet(stage)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType), StructField("source", StringType)))
        val stream = spark.readStream.schema(schema).parquet(stage)
        val flags = graft.streaming.StreamingOps.streamMinhashDedup(
          stream, col("doc_id"), col("text"))
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val t0 = System.nanoTime()
          val sink = s"sb_mhd_$m"
          val q = flags.writeStream.format("memory").queryName(sink)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val rows = spark.table(sink).count()
          require(rows >= n, "every doc emits one flag per band")
          (n, (System.nanoTime() - t0) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      },
      // gs01 path: distributed DBSCAN — points and extent grow with m
      // (density constant), eps/minPts fixed: the neighbor graph, degree agg and CC all scale with the point
      // count, never the pair product
      "gs01_dbscan" -> { m =>
        val w = 200.0 * sqrtM(m)
        val hh = 120.0 * sqrtM(m)
        val n = 20000L * m
        val pts = spark.range(n).select(col("id"),
          st.point(
            (u(col("id"), 301) * (w * 2).toLong.toDouble).cast("long")
              .cast("double") / 2.0,
            (u(col("id"), 302) * (hh * 2).toLong.toDouble).cast("long")
              .cast("double") / 2.0).as("pt"))
        timed(graft.operators.Dbscan.dbscan(pts, col("id"), col("pt"), eps = 1.5, minPts = 4))
      },
      // rs18 path: JPEG 2000 lossless codec throughput — raster count
      // grows with m at constant tile size, encode+decode map-only per
      // row (per-file parallelism is the codec's cluster shape)
      "rs18_jp2_codec" -> { m =>
        val n = 100L * m
        timed(spark.range(0, n).toDF("i")
          .withColumn("vals", org.apache.spark.sql.functions.transform(
            sequence(lit(0), lit(128 * 128 - 1)),
            j => pmod(hash(col("i"), j), lit(60000)).cast("double")))
          .withColumn("r", st.f("rs_setbandpixeltype",
            st.f("rs_makeraster", lit(128), lit(128), lit(0.0), lit(0.0),
              lit(1.0), lit(-1.0), col("vals")), lit("UNSIGNED_16BITS")))
          .withColumn("g", st.f("rs_asjpeg2000", col("r"), lit(3)))
          .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
          .filter(st.f("rs_width", col("rt")) === 128))
      },
      // rs17 path: JPEG GeoTIFF codec throughput — raster count grows
      // with m at constant tile size, encode+decode map-only per row
      "rs17_jpeg_codec" -> { m =>
        val n = 200L * m
        timed(spark.range(0, n).toDF("i")
          .withColumn("vals", org.apache.spark.sql.functions.transform(
            sequence(lit(0), lit(128 * 128 - 1)),
            j => pmod(hash(col("i"), j), lit(200)).cast("double")))
          .withColumn("r", st.f("rs_setbandpixeltype",
            st.f("rs_makeraster", lit(128), lit(128), lit(0.0), lit(0.0),
              lit(1.0), lit(-1.0), col("vals")), lit("UNSIGNED_8BITS")))
          .withColumn("g", st.f("rs_asgeotiff", col("r"), lit("jpeg"), lit(0.9)))
          .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
          .filter(st.f("rs_width", col("rt")) === 128))
      }
    )

    val selected =
      if (args.isEmpty) workloads else workloads.filter(w => args.contains(w._1))
    selected.foreach { case (name, run) =>
      // m=1 twice (second run is warm), m=big once on the warmed JIT
      run(1)
      val (r1, t1) = run(1)
      val (rb, tb) = run(mBig)
      val tr = tb / math.max(t1, 1e-9)
      val rr = rb.toDouble / math.max(r1, 1).toDouble
      println(f"""{"wl":"$name","m":$mBig,"rows_1":$r1,"sec_1":$t1%.2f,""" +
        f""""rows_$mBig":$rb,"sec_$mBig":$tb%.2f,"time_ratio":$tr%.2f,""" +
        f""""rows_ratio":$rr%.2f}""")
    }
    spark.stop()
  }
}
