package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.pipeline.{MultimodalOps, PipelineOps, TextOps}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
  }
  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  test("sd_strip_markup: tags, script/style spans, comments, entities, edges") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    def strip(in: String): String =
      spark.range(1).withColumn("x", lit(in))
        .select(expr("sd_strip_markup(x)").as("o"))
        .collect()(0).getString(0)
    assert(strip("<p>hello <b>world</b></p>") == "hello world")
    assert(strip("<SCRIPT>var x = '<p>';</SCRIPT>after") == "after")
    assert(strip("a<style media='x'>p{}</style>b") == "a b")
    assert(strip("a<!-- <p>hidden</p> -->b") == "a b")
    assert(strip("x &lt;tag&gt; &amp; &quot;q&quot; &#65; &#x42;") ==
      "x <tag> & \"q\" A B")
    // unrecognized / malformed entities stay literal; & without ; kept
    assert(strip("a &bogus; b & c &#zz; d") == "a &bogus; b & c &#zz; d")
    // unterminated constructs never hang: tag/script/comment to EOF
    assert(strip("keep <unclosed") == "keep")
    assert(strip("keep <script>to the end") == "keep")
    assert(strip("keep <!-- to the end") == "keep")
    // whitespace squeeze + trim, nbsp decodes to a space
    assert(strip("  a\n\n<br/>\t b&nbsp;&nbsp;c ") == "a b c")
    assert(strip("") == "")
    assert(strip("<p></p>") == "")
    // custom elements whose names merely START with script/style are
    // ordinary tags, not swallowed spans (ADVICE r16)
    assert(strip("a<scriptable-widget>keep</scriptable-widget>b") == "a keep b")
    assert(strip("a<styled>keep</styled>b") == "a keep b")
    // ...but real script tags with attributes still swallow content
    assert(strip("a<script type='x'>gone</script>b") == "a b")
    // '<script/>' opens a script span like browsers do (self-closing is
    // void for script): content swallows to the next close or EOF
    assert(strip("a<script/>b<p>c") == "a")
    // surrogate-range numeric entities stay literal (ADVICE r16)
    assert(strip("a &#55296; b &#xD800; c") == "a &#55296; b &#xD800; c")
    // astral-plane code points still decode (surrogate PAIR output is fine)
    assert(strip("&#x1F600;") == new String(Character.toChars(0x1F600)))
  }

  test("sd_repetition_stats: hand-computed n-gram repetition masses") {
    import org.apache.spark.sql.functions.{expr, lit}
    def stats(in: String): Seq[Long] =
      spark.range(1).withColumn("x", lit(in))
        .selectExpr("sd_repetition_stats(x) AS s")
        .selectExpr("s.n_words", "s.total_chars", "s.top2_count",
          "s.top2_chars", "s.top3_count", "s.top3_chars", "s.dup5_chars")
        .collect()(0).toSeq.map(_.asInstanceOf[Long])
    // "a b a b a b": top 2-gram "a b" x3 (mass 9); 3-grams tie at 2,
    // lexicographically smallest is "a b a" (mass 10); no dup 5-gram
    assert(stats("a b a b a b") == Seq(6, 11, 3, 9, 2, 10, 0))
    // degenerate repetition: 7 identical words
    assert(stats("x x x x x x x") == Seq(7, 13, 6, 18, 5, 25, 27))
    // normalization: trim, lowercase, whitespace-run split
    assert(stats(" Foo  BAR\tfoo bar ") == Seq(4, 15, 2, 14, 1, 11, 0))
    // short docs: no n-grams of that order -> zeros
    assert(stats("hello") == Seq(1, 5, 0, 0, 0, 0, 0))
    assert(stats("") == Seq(0, 0, 0, 0, 0, 0, 0))
  }

  test("minhash pairs surface near-duplicates, not unrelated docs") {
    val pairs = PipelineOps.minhashPairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 4 && j == 1.0 })
    assert(!pairs.exists { case (a, b, _) => b == 3 || a == 3 })
  }

  test("simhash of identical docs is identical; hamming 0") {
    val p = PipelineOps.simhashPairs(docs.withColumn("blk", lit(1)),
      col("doc_id"), col("text"), col("blk"), maxHamming = 32).collect()
    val h14 = p.find(r => r.getLong(0) == 1 && r.getLong(1) == 4).get.getInt(2)
    assert(h14 == 0)
  }

  test("ngram jaccard: identical=1, near-dup high, different low") {
    val p = PipelineOps.ngramJaccardPairs(docs.withColumn("blk", lit(1)),
      col("doc_id"), col("text"), col("blk")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(p((1L, 4L)) == 1.0)
    assert(p((1L, 2L)) > 0.5 && p((1L, 2L)) < 1.0)
    assert(p.getOrElse((1L, 3L), 0.0) < 0.1)
  }

  test("ngram jaccard: prefix-filtered inverted path agrees with pairwise merge") {
    val t = 0.5
    val blocked = docs.withColumn("blk", lit(1))
    // t >= 0.4 takes the inverted-index path; the pairwise path filtered at
    // the same threshold is the ground truth
    val inverted = PipelineOps.ngramJaccardPairs(blocked,
        col("doc_id"), col("text"), col("blk"), minJaccard = t)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pairwise = PipelineOps.ngramJaccardPairs(blocked,
        col("doc_id"), col("text"), col("blk"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      .filter(_._2 > t)
    assert(inverted == pairwise)
    assert(inverted.nonEmpty) // (1,4) identical pair must survive
  }

  test("connected components: multi-hop chains collapse to min id") {
    import spark.implicits._
    // components: {1,2,3,4} as a chain, {10,11} as an edge, {20,21,22} as
    // a triangle — chain needs >1 propagation round
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("a", "b")
    val expected = Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (21L, 20L, false), (22L, 20L, false))
    val local = graft.pipeline.PipelineOps.dedupGroups(pairs, col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(local == expected)
    // force the distributed label-propagation path (the at-scale plan)
    val dist = graft.pipeline.PipelineOps
      .connectedComponents(pairs, col("a"), col("b"), localThreshold = 0)
      .withColumn("keep", col("id") === col("group_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dist == expected)
  }

  test("exact-substring removal: duplicated span cut from the non-canonical doc only") {
    val span = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val d = Seq(
      (1L, s"intro words here $span closing remarks"),
      (2L, s"different opening $span and a different tail"),
      (3L, "too short"),
      (4L, "no duplicated content in this document at all truly")
    ).toDF("doc_id", "text")
    val r = PipelineOps.removeDupSpans(d, col("doc_id"), col("text"), k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1 holds the canonical (min doc_id, pos) instance -> intact
    assert(r(1L)._3 == 0 && r(1L)._1.contains("alpha"))
    // doc 2's instance is the duplicate -> the 8 covered tokens are cut
    assert(r(2L)._3 == 8, r(2L))
    assert(!r(2L)._1.contains("alpha") && !r(2L)._1.contains("theta"))
    assert(r(2L)._1 == "different opening and a different tail")
    // shorter than k: no windows, untouched
    assert(r(3L) == ("too short", 2L, 0L))
    assert(r(4L)._3 == 0)
  }

  test("connected components property: random graphs match a union-find oracle") {
    // seeded random graphs at three densities, plus self-loops (isolated
    // nodes must still label themselves) — the forced-distributed
    // large-star/small-star path against an in-test union-find
    val rnd = new scala.util.Random(20260815)
    for ((n, mEdges) <- Seq((200, 90), (300, 600), (120, 400))) {
      val raw = Seq.fill(mEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq((n.toLong + 5, n.toLong + 5)) // a self-loop-only node
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        r
      }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = raw.flatMap(e => Seq(e._1, e._2)).distinct
      val minOf = nodes.groupBy(find).map { case (r, ms) => r -> ms.min }
      val expected = nodes.map(id => id -> minOf(find(id))).toMap
      val got = PipelineOps.connectedComponents(
        raw.toDF("a", "b"), col("a"), col("b"), localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"mismatch at (n=$n, m=$mEdges)")
      // and the local union-find path agrees with itself
      val loc = PipelineOps.connectedComponents(
        raw.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(loc == expected, s"local path mismatch at (n=$n, m=$mEdges)")
      // dense small graph + a threshold between |V| and |E|: enters the
      // distributed path, then the shrinking edge set crosses under the
      // cap and the mid-loop local finish fires — must be exact too
      if (n == 120) {
        val mid = PipelineOps.connectedComponents(
          raw.toDF("a", "b"), col("a"), col("b"), localThreshold = 150)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(mid == expected, "mid-loop local finish mismatch")
      }
    }
  }

  test("connected components: maxIter exhaustion fails loudly, never silent labels") {
    import spark.implicits._
    // a 64-node chain needs ~log2(64) star rounds; maxIter=1 cannot reach
    // the fixed point and the early local finish is disabled (threshold 0)
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      PipelineOps.connectedComponents(chain, col("a"), col("b"),
        maxIter = 1, localThreshold = 0).collect()
    }
    assert(ex.getMessage.contains("no fixed point"))
  }

  test("domainMixture: sqrt-temperature rates, ppm hash gate, saturation") {
    // one big domain (90 docs x 100 tokens) + two small (5 docs x 20)
    val rows = (0 until 90).map(i => (i.toLong, "web", 100)) ++
      (90 until 95).map(i => (i.toLong, "niche_a", 20)) ++
      (95 until 100).map(i => (i.toLong, "niche_b", 20))
    val d = rows.toDF("doc_id", "dom", "n_tok")
    val budget = 4000L
    val out = PipelineOps.domainMixture(d, col("doc_id"), col("dom"),
      col("n_tok"), budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // hand-computed: T_web = 9000, T_a = T_b = 100
    val sW = math.round(math.sqrt(9000.0) * 1e9)
    val sA = math.round(math.sqrt(100.0) * 1e9)
    val tot = sW + 2 * sA
    def ppm(s: Long, t: Long): Long = math.floor(math.min(1.0,
      budget.toDouble * (s.toDouble / tot.toDouble) / t.toDouble) * 1e6).toLong
    val pW = ppm(sW, 9000); val pA = ppm(sA, 100)
    assert(pA == 1000000L, s"low-resource domain must saturate: $pA")
    assert(pW > 0 && pW < 1000000L, s"big domain must be trimmed: $pW")
    out.foreach { case (id, dom, nt, rp) =>
      assert(rp == (if (dom == "web") pW else pA), s"doc $id rate $rp")
      assert(nt == (if (dom == "web") 100L else 20L))
    }
    // saturated domains keep every doc; the big one keeps exactly the
    // md5-h32 ppm-gated subset (recomputed independently here)
    assert(out.count(_._2 != "web") == 10)
    def h32(sIn: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sIn.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val expectWeb = (0 until 90)
      .filter(i => h32(i.toString) % 1000000 < pW).map(_.toLong).toSet
    assert(out.filter(_._2 == "web").map(_._1).toSet == expectWeb)
    // empty input: empty output, no crash (the per-domain collect sees
    // zero rows)
    val empty = PipelineOps.domainMixture(d.filter(col("doc_id") < 0),
      col("doc_id"), col("dom"), col("n_tok"), budget)
    assert(empty.count() == 0)
    // a zero-token domain saturates instead of dividing 0/0
    val zeroed = rows.map { case (i, dm, n) =>
      (i, dm, if (dm == "niche_b") 0 else n) }.toDF("doc_id", "dom", "n_tok")
    val z = PipelineOps.domainMixture(zeroed, col("doc_id"), col("dom"),
      col("n_tok"), budget)
      .filter(col("domain") === "niche_b").collect()
    assert(z.length == 5 && z.forall(_.getLong(3) == 1000000L))
  }

  test("audioFrameStats: hostile chunk sizes and null clips yield zero rows") {
    // a RIFF/WAVE header whose chunk size would overflow pos+8+size
    val hostile = {
      val b = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(56)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(0x7FFFFFF0)
      b.array()
    }
    val df = Seq((1L, hostile), (2L, null.asInstanceOf[Array[Byte]]),
      (3L, MultimodalOps.synthWav(Array[Short](5, -5, 5, -5), 8000)))
      .toDF("doc_id", "clip")
    val out = MultimodalOps.audioFrameStats(df, "doc_id", "clip", frameLen = 4)
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 3L,
      out.mkString(","))
  }

  test("removeDupLines: keep-first, hard-drop, blanks, minCount, null text") {
    val boiler = "Share on Facebook"
    val d = Seq(
      (3L, s"$boiler\nunique three\n\ntail three"),
      (1L, s"$boiler\nunique one"),
      (2L, s"intro two\n$boiler\n$boiler"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = PipelineOps.removeDupLines(d, col("doc_id"), col("text"))
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // canonical instance = min (doc_id, pos): doc 1 pos 0 keeps it
    assert(r(1L) == (s"$boiler\nunique one", 2L, 0L), r(1L))
    // every other instance drops — including the SECOND copy inside
    // doc 2 (corpus-level counting sees intra-doc repeats too)
    assert(r(2L) == ("intro two", 3L, 2L), r(2L))
    // blank line survives and keeps its position
    assert(r(3L) == ("unique three\n\ntail three", 4L, 1L), r(3L))
    // null text ≡ empty text: one (blank) line, kept
    assert(r(4L) == ("", 1L, 0L), r(4L))
    // keepFirst = false: the hard boilerplate filter drops EVERY instance
    val hard = PipelineOps.removeDupLines(d, col("doc_id"), col("text"),
      keepFirst = false)
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(hard(1L) == ("unique one", 2L, 1L), hard(1L))
    assert(hard(2L) == ("intro two", 3L, 2L))
    // minCount above the corpus count: nothing removed anywhere
    val loose = PipelineOps.removeDupLines(d, col("doc_id"), col("text"),
      minCount = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(loose.values.forall(_ == 0L), loose)
  }

  test("removeDupSpans: null text ≡ empty text (non-null outputs)") {
    val d = Seq((1L, Option("alpha beta gamma delta epsilon zeta eta theta nine")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val r = PipelineOps.removeDupSpans(d, col("doc_id"), col("text"), k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(2L) == ("", 0L, 0L), s"null text must map to ('',0,0): ${r(2L)}")
    assert(r(1L)._2 == 9L && r(1L)._3 == 0L)
  }

  test("cosine top-k: self-similar vectors rank first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.2f))).toDF("vec_id", "embedding")
    val r = PipelineOps.cosineTopK(vecs, vecs, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(0L) == 1L && r(1L) == 0L && r(2L) == 3L && r(3L) == 2L)
  }

  test("lsh ann buckets similar vectors together") {
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.5f, 0.1f) else Array(0.0f, 1.0f, -0.5f, 0.9f)
      (i.toLong, base.map(_ + (i / 100.0f)))
    }.toDF("vec_id", "embedding")
    val buckets = vecs.select(col("vec_id"),
      PipelineOps.lshBucket(PipelineOps.asDouble(col("embedding")), 6, dims = 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same-parity (similar) vectors share buckets far more than cross-parity
    val even = (0 until 40 by 2).map(i => buckets(i.toLong))
    val odd = (1 until 40 by 2).map(i => buckets(i.toLong))
    assert(even.distinct.size <= 4 && odd.distinct.size <= 4)
    assert(even.intersect(odd).isEmpty)
  }

  test("sd_dot / sd_sqdist: ragged lengths yield null (zip_with semantics)") {
    val r = spark.sql(
      """SELECT sd_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok,
        |       sd_dot(array(1.0d, 2.0d, 3.0d), array(3.0d, 4.0d)) AS ragged,
        |       sd_sqdist(array(1.0d, 2.0d), array(3.0d)) AS rsq
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("lshAnn probes dims from data and raises on vector-length mismatch") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)), (2L, Array(0.9, 0.1, 0.0, 0.0)),
      (3L, Array(0.0, 0.0, 1.0, 0.0)), (4L, Array(0.0, 0.1, 0.9, 0.0))
    ).toDF("vid", "v")
    // no dims passed: probed as 4, identical result to explicit dims = 4
    val probed = PipelineOps.lshAnn(vecs, col("vid"), col("v"), nbits = 6, k = 1)
      .collect().map(_.toString).sorted.toSeq
    val explicit = PipelineOps.lshAnn(vecs, col("vid"), col("v"), nbits = 6, k = 1, dims = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(probed == explicit && probed.nonEmpty)
    // a ragged vector fails loudly instead of bucketing on a coef prefix
    val ragged = vecs.union(Seq((5L, Array(1.0, 2.0))).toDF("vid", "v"))
    val ex = intercept[Exception] {
      PipelineOps.lshAnn(ragged, col("vid"), col("v"), nbits = 6, k = 1, dims = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("vector length")), msgs(ex).mkString("; "))
  }

  test("CacheRegistry: internal minhash persist is released after the consuming query") {
    CacheRegistry.releaseAll()
    val pairs = PipelineOps.minhashPairs(docs, col("doc_id"), col("text"))
    assert(CacheRegistry.pinnedCount >= 1) // registered at build time
    pairs.collect()
    // listener bus is async; wait for the sweep
    val deadline = System.nanoTime() + 10_000_000_000L
    while (CacheRegistry.pinnedCount > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(CacheRegistry.pinnedCount == 0, "internal cache not released after action")
  }

  test("CacheRegistry: a failed QueryExecution-id sample fails closed") {
    assert(CacheRegistry.sampleBarrier(42L) == 42L)
    // the never-release barrier: no sweep passes `qe.id > barrier`
    assert(CacheRegistry.sampleBarrier(
      throw new IllegalStateException("injected sampling fault")) == Long.MaxValue)
  }

  test("ivf ann: high recall vs brute force on clustered vectors") {
    import graft.pipeline.IvfAnn
    // 8 well-separated clusters of 25 vectors each
    val vecs = (0 until 200).map { i =>
      val c = i % 8
      val base = Array.tabulate(16)(d => if (d == c * 2) 10.0f else 0.0f)
      (i.toLong, base.map(_ + ((i * 31 + 7) % 13) * 0.05f))
    }.toDF("vec_id", "embedding")
    val centroids = IvfAnn.kmeans(vecs, col("vec_id"), col("embedding"), k = 8, iters = 4)
    assert(centroids.count() == 8)
    val queries = vecs.filter(col("vec_id") < 16)
    val approx = IvfAnn.search(vecs, queries, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), centroids, nProbe = 2, topK = 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    val brute = queries.select(col("vec_id").as("qid"),
        graft.pipeline.PipelineOps.asDouble(col("embedding")).as("qv"))
      .crossJoin(vecs.select(col("vec_id").as("cid"),
        graft.pipeline.PipelineOps.asDouble(col("embedding")).as("cv")))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", graft.pipeline.PipelineOps.cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")

    // k-means|| seeding lands one centroid per true cluster on this data:
    // every vector's nearest seed-derived centroid is in its own cluster
    val cents2 = IvfAnn.kmeans(vecs, col("vec_id"), col("embedding"),
      k = 8, iters = 2, init = "parallel")
    assert(cents2.count() == 8)
    val approx2 = IvfAnn.search(vecs, queries, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), cents2, nProbe = 2, topK = 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall2 = (approx2 & brute).size.toDouble / brute.size
    assert(recall2 >= 0.9, s"kmeans|| recall $recall2")
    // deterministic: same input -> same seeds
    val againRows = IvfAnn.kmeans(vecs, col("vec_id"), col("embedding"),
      k = 8, iters = 2, init = "parallel").orderBy("centroid_id").collect().toSeq
    assert(cents2.orderBy("centroid_id").collect().toSeq == againRows)

    // nProbe auto-tune: well-separated clusters reach target recall with
    // few probes, and the returned setting actually meets the target
    val np = IvfAnn.tuneNProbe(vecs, queries, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), cents2, topK = 5, recallTarget = 0.9)
    assert(np <= 8, s"tuned nProbe $np")
    val tuned = IvfAnn.search(vecs, queries, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), cents2, np, topK = 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((tuned & brute).size.toDouble / brute.size >= 0.9)
  }

  test("IvfAnn kmeans: analyzed plan size stays O(1) per Lloyd round (20 rounds)") {
    // the anti-pattern this pins against: an iterative composer whose
    // round N plan CONTAINS round N-1's (multiplicative growth — the CC/
    // DBSCAN lineage-barrier lesson). kmeans re-enters from the persisted
    // input every round, so every round's aggregation plan must have the
    // SAME node count — round 20 no bigger than round 1.
    val counts = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains("__cid"))
          counts.synchronized { counts += qe.analyzed.collect { case n => n }.size }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val v = spark.range(300).select(col("id"),
        array((0 until 4).map(d => (col("id") * (d + 1) % 37).cast("double")): _*).as("emb"))
      val cents = graft.pipeline.IvfAnn.kmeans(v, col("id"), col("emb"), k = 5, iters = 20)
      assert(cents.count() == 5)
      // listener delivery is async — poll until all 20 rounds reported
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (counts.synchronized(counts.size) < 20 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val cs = counts.synchronized(counts.toSeq)
      assert(cs.size >= 20, s"expected one aggregation per round, saw ${cs.size}")
      assert(cs.distinct.size == 1,
        s"per-round analyzed plan size must be constant, got $cs")
    } finally spark.listenerManager.unregister(listener)
  }

  test("semanticDedup: near-parallel vectors drop, spread vectors survive, greedy keeps lowest id") {
    import graft.pipeline.IvfAnn
    // 4 tight bundles (near-parallel members -> semantic dups) plus 40
    // well-spread singletons that must all survive a 0.95 threshold
    val bundles = (0 until 4).flatMap { c =>
      (0 until 5).map { j =>
        val base = Array.tabulate(16)(d => if (d == c * 4) 100.0f else 0.0f)
        base(c * 4 + 1) = j * 0.5f // tiny angular spread inside the bundle
        ((c * 5 + j).toLong, base)
      }
    }
    // Walsh-Hadamard rows are mutually orthogonal; using rows 1..15 with
    // both signs gives 30 vectors whose pairwise cosine is 0 or -1 —
    // provably under any positive threshold
    val spread = (0 until 30).map { i =>
      val row = i % 15 + 1
      val sign = if (i < 15) 1f else -1f
      val v = Array.tabulate(16)(d =>
        sign * (if (Integer.bitCount(row & d) % 2 == 0) 10f else -10f))
      ((100 + i).toLong, v)
    }
    val vecs = (bundles ++ spread).toDF("vec_id", "embedding")
    val centroids = IvfAnn.kmeans(vecs, col("vec_id"),
      col("embedding"), k = 8, iters = 4)
    val out = graft.pipeline.PipelineOps.semanticDedup(
      vecs, col("vec_id"), col("embedding"), centroids, tau = 0.95)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getBoolean(2))).toMap
    assert(rows.size == 50)
    // each bundle keeps exactly its lowest id (greedy first-seen)
    for (c <- 0 until 4) {
      val ids = (c * 5) until (c * 5 + 5)
      val kept = ids.filter(i => rows(i.toLong))
      assert(kept == Seq(c * 5),
        s"bundle $c kept $kept, expected only ${c * 5}")
    }
    // all spread vectors survive — they are nobody's near-duplicate
    assert((100 until 130).forall(i => rows(i.toLong)),
      "spread vectors must all survive")
    // pairwise work is bounded by the cluster partition: every comparison
    // shares a cluster id (structural property of the plan: one equi-join)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian"), s"no cartesian allowed:\n$plan")
  }

  test("audioFrameStats: frame slicing, crossings, partial frames, bad bytes") {
    // 10 samples, frameLen 4 -> frames of 4/4/2; signs + - + - ...
    val v = Array[Short](100, -200, 300, -400, 500, 600, -700, 0, -800, 900)
    val wav = MultimodalOps.synthWav(v, 8000)
    val df = Seq((7L, wav), (8L, Array[Byte](1, 2, 3))).toDF("doc_id", "clip")
    val out = MultimodalOps.audioFrameStats(df, "doc_id", "clip", frameLen = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bad bytes contribute zero rows
    assert(out.keys.forall(_._1 == 7L) && out.size == 3)
    // frame 0: |100|+|200|+|300|+|400| = 1000, peak 400, crossings 3
    assert(out((7L, 0)) == ((4, 1000L, 400L, 3L)))
    // frame 1: 500,600,-700,0 -> sum 1800, peak 700; crossings: only
    // 600->-700 (0 is non-negative, -700 -> 0 crosses back): 2
    assert(out((7L, 1)) == ((4, 1800L, 700L, 2L)))
    // frame 2 (partial): -800,900 -> sum 1700, peak 900, crossings 1;
    // the 0 -> -800 boundary pair is NOT counted (frame-local)
    assert(out((7L, 2)) == ((2, 1700L, 900L, 1L)))
  }

  test("imageTileStats: tile clipping, exact luma stats, bad bytes") {
    // 10x6 gradient, tile 4 -> 3x2 tiles with clipped right/bottom edges
    val png = MultimodalOps.synthGradientPng(10, 6, seed = 5)
    val df = Seq((1L, png), (2L, Array[Byte](9, 9, 9))).toDF("doc_id", "img")
    val out = MultimodalOps.imageTileStats(df, "doc_id", "img", tile = 4)
      .collect().map(r => (r.getInt(1), r.getInt(2)) ->
        (r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.size == 6) // bad bytes row contributed nothing
    def lum(r: Int, c: Int): Long = 3L * ((r * 7 + c * 3 + 5) % 251)
    for (ty <- 0 until 2; tx <- 0 until 3) {
      val cells = for (r <- ty * 4 until math.min(6, ty * 4 + 4);
          c <- tx * 4 until math.min(10, tx * 4 + 4)) yield lum(r, c)
      assert(out((tx, ty)) ==
        ((cells.size, cells.sum, cells.min, cells.max)), s"tile ($tx,$ty)")
    }
    // clipped edge tile really is smaller
    assert(out((2, 1))._1 == 2 * 2)
  }

  test("multimodal decodeBatch: schema + deterministic stub features") {
    val df = docs.withColumn("blob", col("text").cast("binary"))
    val out = MultimodalOps.decodeBatch(df, "blob", "img")
    assert(out.schema.fieldNames.contains("media_meta") && out.schema.fieldNames.contains("features"))
    val rows = out.select(col("doc_id"), col("media_meta.n_bytes"),
      col("features.checksum"), col("features.mean_byte")).collect()
    assert(rows.length == 4)
    val r1 = rows.find(_.getLong(0) == 1L).get
    val r4 = rows.find(_.getLong(0) == 4L).get
    assert(r1.getString(2) == r4.getString(2)) // same bytes -> same checksum
    assert(r1.getInt(1) == 43)
  }

  test("multimodal decodeBatch: real PNG decode via javax.imageio") {
    val synth = org.apache.spark.sql.functions.udf(
      (w: Int, h: Int, v: Int) => MultimodalOps.synthPng(w, h, v))
    val df = spark.range(5).select(col("id"),
      synth((col("id") % 9 + 2).cast("int"), (col("id") % 5 + 3).cast("int"),
        (col("id") * 40 % 256).cast("int")).as("img"))
    val out = MultimodalOps.decodeBatch(df, "img", "png")
      .select(col("id"), col("media_meta.width"), col("media_meta.height"),
        col("features.mean_byte"), col("features.n_frames")).collect()
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (id % 9 + 2).toInt, s"width of $id")
      assert(r.getInt(2) == (id % 5 + 3).toInt, s"height of $id")
      assert(r.getDouble(3) == (id * 40 % 256).toDouble, s"mean of $id")
      assert(r.getInt(4) == 1)
    }
    // corrupt bytes degrade to the stub, not an exception
    val bad = spark.range(1).select(col("id"),
      org.apache.spark.sql.functions.lit("not a png".getBytes).as("img"))
    val badOut = MultimodalOps.decodeBatch(bad, "img", "png")
      .select(col("features.n_frames")).collect()
    assert(badOut.length == 1)
  }

  test("multimodal resizeBatch: exact box downsample, roundtrippable PNG") {
    val synth = org.apache.spark.sql.functions.udf(
      (id: Long) => MultimodalOps.synthGradientPng(16, 12, id))
    val df = spark.range(4).select(col("id").as("doc_id"),
      synth(col("id")).as("img"))
    val out = MultimodalOps.resizeBatch(df, "img", 2)
      .select(col("doc_id"), col("resized_w"), col("resized_h"),
        col("resized_sum"), col("resized_png")).collect()
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8 && r.getInt(2) == 6)
      // closed-form: block (R,C) holds pixels v(2R+dr, 2C+dc),
      // v(r,c) = (r*7 + c*3 + id) % 251; channels equal -> 3x gray
      var expect = 0L
      for (rr <- 0 until 6; cc <- 0 until 8) {
        val s4 = (for (dr <- 0 to 1; dc <- 0 to 1)
          yield ((2 * rr + dr) * 7 + (2 * cc + dc) * 3 + id) % 251).sum
        expect += (rr * 31 + cc) * 3 * (s4 / 4)
      }
      assert(r.getLong(3) == expect, s"checksum of $id")
      // the emitted PNG decodes back to the resized dims (real codec)
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](4)))
      assert(back.getWidth == 8 && back.getHeight == 6)
    }
    // undecodable bytes degrade to nulls, not exceptions
    val bad = MultimodalOps.resizeBatch(spark.range(1).select(col("id"),
      org.apache.spark.sql.functions.lit("junk".getBytes).as("img")), "img", 2)
      .select("resized_w").collect()
    assert(bad.length == 1 && bad(0).isNullAt(0))
  }

  test("multimodal sampleFrames: Y4M parse, sampling stride, non-Y4M drop") {
    val synth = org.apache.spark.sql.functions.udf(
      (id: Long) => MultimodalOps.synthY4m(8, 6, 10, id))
    val df = spark.range(3).select(col("id").as("doc_id"),
      synth(col("id")).as("vid"))
    val rows = MultimodalOps.sampleFrames(df, "vid", 3)
      .select(col("doc_id"), col("frame_idx"), col("luma_sum"), col("n_pix"))
      .collect()
    assert(rows.length == 3 * 4) // frames 0, 3, 6, 9 per doc
    rows.foreach { r =>
      val id = r.getLong(0); val f = r.getInt(1)
      assert(Seq(0, 3, 6, 9).contains(f))
      val expect = (0 until 48).map(i =>
        ((i / 8) * 5 + (i % 8) * 11 + f * 13 + id) % 240).sum
      assert(r.getLong(2) == expect, s"luma of ($id, $f)")
      assert(r.getInt(3) == 48)
    }
    // C444 layout parses too (frame stride 3*w*h)
    val y = Array.tabulate(12)(i => (i * 17 % 240).toByte)
    val c444 = ("YUV4MPEG2 W4 H3 F25:1 C444\n").getBytes("US-ASCII") ++
      ("FRAME\n").getBytes("US-ASCII") ++ y ++ y ++ y ++
      ("FRAME\n").getBytes("US-ASCII") ++ y ++ y ++ y
    val p = MultimodalOps.parseY4m(c444)
    assert(p.exists { case (w, h, fl, yl, offs) =>
      w == 4 && h == 3 && fl == 36 && yl == 12 && offs.length == 2 })
    // non-Y4M rows emit nothing
    val none = MultimodalOps.sampleFrames(spark.range(1).select(col("id"),
      org.apache.spark.sql.functions.lit("AVI whatever".getBytes).as("vid")),
      "vid", 2).count()
    assert(none == 0)
  }

  test("stateful streaming sessionization (flatMapGroupsWithState) emits on timeout") {
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.Event
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMs = 30000)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(Event(1, 1000, 1.0), Event(1, 5000, 2.0))
      q.processAllAvailable()
      input.addData(Event(2, 100000, 5.0)) // watermark jumps past user 1's gap
      q.processAllAvailable()
      input.addData(Event(2, 200000, 1.0)) // next batch fires the timeout
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(rows.contains((1L, 1000L, 5000L, 2L, 3.0)), rows.mkString(", "))
    } finally q.stop()
  }

  test("structured streaming: stream-static spatial join enriches events") {
    // moving points (stream) enriched against static zones via the
    // broadcast index spatial join — stateless per micro-batch, the
    // streaming case the reference cannot express (SURVEY §2.10)
    import graft.functions.GraftFunctions.st
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Double)]
    val pts = input.toDF().toDF("eid", "x", "y")
      .withColumn("pt", st.point(col("x"), col("y")))
    val zones = Seq((10L, 0.0, 0.0, 5.0, 5.0), (20L, 10.0, 10.0, 15.0, 15.0))
      .toDF("zid", "x0", "y0", "x1", "y1")
      .select(col("zid"), st.makeEnvelope(col("x0"), col("y0"), col("x1"), col("y1")).as("zone"))
    val joined = pts.join(zones, st.intersects(col("pt"), col("zone")))
      .select(col("eid"), col("zid"))
    val q = joined.writeStream.format("memory").queryName("szj")
      .outputMode("append").start()
    try {
      input.addData((1L, 1.0, 1.0), (2L, 12.0, 12.0), (3L, 100.0, 100.0))
      q.processAllAvailable()
      input.addData((4L, 4.9, 4.9))
      q.processAllAvailable()
      val rows = spark.table("szj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 10L), (2L, 20L), (4L, 10L)))
    } finally q.stop()
  }

  test("structured streaming: content-hash dedup of a document stream") {
    // streaming ingest dedup: minhash-equivalent content key (fused
    // shingle hash of the text) deduped across micro-batches — the
    // streaming counterpart of pl03's batch exact-dedup
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docsStream = input.toDF().toDF("doc_id", "text")
      .withColumn("content_key",
        md5(concat_ws(",", graft.pipeline.TextOps.shingleHashes(
          graft.pipeline.TextOps.tokens(col("text")), 3))))
      .dropDuplicates("content_key")
    val q = docsStream.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData((1L, "the quick brown fox"), (2L, "totally different text"))
      q.processAllAvailable()
      // duplicate content in a later batch must be dropped by state
      input.addData((3L, "the quick brown fox"), (4L, "yet another doc"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), ids)
    } finally q.stop()
  }

  test("structured streaming: MinHash near-dup dedup flags across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val flags = graft.streaming.StreamingOps.streamMinhashDedup(
      input.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      numHashes = 12, bands = 4)
    val q = flags.writeStream.format("memory").queryName("smhd")
      .outputMode("append").start()
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      val b = "completely different content about spark engines and shuffles"
      input.addData((10L, a), (20L, b))
      q.processAllAvailable()
      // a near-identical doc in a LATER batch must flag against held state
      input.addData((30L, a), (40L, "yet another unrelated document body here"))
      q.processAllAvailable()
      val perDoc = spark.table("smhd").groupBy("doc_id")
        .agg(max(col("is_dup")).as("d")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(perDoc(10L) == false && perDoc(20L) == false)
      assert(perDoc(30L) == true, "identical text in batch 2 must flag as dup")
      assert(perDoc(40L) == false)
      // state is one long per bucket: a doc with a LOWER id arriving later
      // is NOT a dup itself (first-seen-by-id), but pins the bucket minimum
      input.addData((5L, a))
      q.processAllAvailable()
      val d5 = spark.table("smhd").filter(col("doc_id") === 5L)
        .agg(max(col("is_dup"))).collect()(0).getBoolean(0)
      assert(!d5, "lowest id is the survivor even arriving late")
    } finally q.stop()
  }

  test("structured streaming: MinHash dedup idle TTL bounds bucket state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val flags = graft.streaming.StreamingOps.streamMinhashDedup(
      input.toDF().toDF("doc_id", "text", "ts_ms"), col("doc_id"), col("text"),
      numHashes = 12, bands = 4,
      eventTimeMs = Some(col("ts_ms")), idleTtlMs = Some(1000L))
    val q = flags.writeStream.format("memory").queryName("smhd_ttl")
      .outputMode("append").start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty).last.stateOperators(0).numRowsTotal
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      // batch 1: 20 distinct docs → a bucket-growing stream
      input.addData((1 to 20).map(i =>
        (100L + i, s"unique doc number $i carrying its own words w$i x$i", 1000L)): _*)
      q.processAllAvailable()
      val grown = stateRows
      assert(grown >= 20, s"batch 1 must populate many buckets, got $grown")
      // batch 2 jumps event time far past every batch-1 timeout (1000+1000)
      input.addData((500L, a, 100000L))
      q.processAllAvailable()
      // batch 3 runs with watermark=100000 → idle batch-1 buckets evict
      input.addData((501L, a, 100001L))
      q.processAllAvailable()
      val bounded = stateRows
      assert(bounded < grown && bounded <= 8,
        s"idle buckets must evict: $grown -> $bounded")
      val perDoc = spark.table("smhd_ttl").groupBy("doc_id")
        .agg(max(col("is_dup")).as("d")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // within-horizon flags identical to the unbounded run
      assert(!perDoc(500L) && perDoc(501L),
        "in-window near-dup must still flag against the held minimum")
      // past the idle horizon the minimum is forgotten — deliberate
      // windowed-dedup semantics (a re-sent batch-1 text is NOT a dup)
      input.addData((1000L, "unique doc number 5 carrying its own words w5 x5", 100002L))
      q.processAllAvailable()
      val late = spark.table("smhd_ttl").filter(col("doc_id") === 1000L)
        .agg(max(col("is_dup"))).collect()(0).getBoolean(0)
      assert(!late, "evicted bucket must forget its pre-horizon minimum")
      // an OUT-OF-ORDER row within the TTL of the max event time must be
      // processed, not silently dropped by the watermark (the delay is the
      // TTL itself; a 0s delay lost any row behind the max seen)
      input.addData((2000L, a, 100002L - 500L))
      q.processAllAvailable()
      val ooo = spark.table("smhd_ttl").filter(col("doc_id") === 2000L)
        .groupBy().agg(count(lit(1)), max(col("is_dup"))).collect()(0)
      assert(ooo.getLong(0) > 0, "out-of-order row within TTL must emit flags")
      assert(ooo.getBoolean(1), "and must flag against the live held minimum")
    } finally q.stop()
  }

  test("streaming state store: RocksDB default pinned by install(), user choice respected") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // the suite session ran install() with no user-set provider
    assert(spark.conf.get(key).contains("RocksDBStateStoreProvider"),
      s"install() must default the state store to RocksDB, got ${spark.conf.get(key)}")
    // a session where the USER pinned a provider must keep it
    val s2 = spark.newSession()
    val heap = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    s2.conf.set(key, heap)
    GraftExtensions.install(s2)
    assert(s2.conf.get(key) == heap,
      "an explicitly-chosen provider must never be overridden")
  }

  test("structured streaming: windowed counts + dedup run with our extensions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF().toDF("ts_ms", "word")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("word", "ts")
      .groupBy(window(col("ts"), "10 seconds"), col("word"))
      .agg(count(lit(1)).as("n"))
    val q = events.writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    try {
      input.addData((1000L, "a"), (2000L, "a"), (2000L, "a"), (12000L, "b"))
      q.processAllAvailable()
      val res = spark.table("wc").select("word", "n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(res("a") == 2) // dup (2000, a) dropped
      assert(res("b") == 1)
    } finally q.stop()
  }
  test("structured streaming: watermark drops late rows; closed windows are final") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counts = input.toDF().toDF("ts_ms", "word")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w"), col("word"), col("n"))
    // append mode: a window only emits once the watermark passes its end
    val q = counts.writeStream.format("memory").queryName("lateq")
      .outputMode("append").start()
    try {
      input.addData((1000L, "a"), (3000L, "a"))
      q.processAllAvailable()
      // watermark jumps to 55s: window [0,10s) closes and emits n=2
      input.addData((60000L, "z"))
      q.processAllAvailable()
      // late arrival into the closed [0,10s) window — must be dropped
      input.addData((2000L, "a"), (61000L, "z"))
      q.processAllAvailable()
      input.addData((120000L, "zz")) // push watermark past [60,70s) too
      q.processAllAvailable()
      val byKey = spark.table("lateq").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(byKey((0L, "a")) == 2, byKey) // late (2000,"a") not counted
      assert(byKey((60L, "z")) == 2, byKey) // in-watermark rows all counted
      assert(spark.table("lateq").count() == 2) // closed windows emitted once
    } finally q.stop()
  }

  test("PII redaction: emails, IPv4, phones replaced; clean text untouched") {
    import spark.implicits._
    val rows = Seq(
      ("mail me at alice.smith+tag@sub.example.co.uk today",
        "mail me at [EMAIL] today"),
      ("server 10.0.255.3 and 192.168.1.1 are down",
        "server [IP] and [IP] are down"),
      ("call +49-30-555-1234 or +1-800-555-0199 now",
        "call [PHONE] or [PHONE] now"),
      // IP-shaped mail domain: the email regex needs an alphabetic TLD,
      // so the IP pass catches the address part instead
      ("root@192.168.0.1 logged in", "root@[IP] logged in"),
      ("no pii here, just 3.14 and v1.2.3", "no pii here, just 3.14 and v1.2.3"))
      .toDF("raw", "want")
    val got = rows.select(TextOps.redactPii(col("raw")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("ScalableRank.globalRowNumber ≡ window row_number (unique keys)") {
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("k", (col("id") * 2654435761L) % 10007)
      .withColumn("pay", col("id") % 13)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
    val expected = df.withColumn("rn", row_number().over(w).cast("long"))
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = graft.operators.ScalableRank
      .globalRowNumber(df, Seq(col("k"), col("id")), "rn")
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("AsOfJoin.asofBackward: inclusive boundary, id ties, tolerance, left outer") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 7L, "d"))
      .toDF("k", "lts", "ltag")
    val right = Seq((1L, 10L, 100L, 1.5), (1L, 10L, 101L, 2.5),
      (1L, 15L, 102L, 3.5), (3L, 1L, 103L, 4.5))
      .toDF("k", "rts", "rid", "rv")
    def runWith(tol: Long) = graft.operators.AsOfJoin
      .asofBackward(left, right, "k", "lts", "rts", "rid", tol)
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    val res = runWith(Long.MaxValue)
    assert(res("a") == 101L, "equal-time right included; tie -> largest id")
    assert(res("b") == 102L, "latest right at-or-before")
    assert(res("c") == -1L, "no earlier right -> left outer null")
    assert(res("d") == -1L, "key with no right rows")
    val tight = runWith(3L)
    assert(tight("a") == 101L && tight("b") == -1L,
      "tolerance excludes a 5-tick-stale match")
    // colliding payload names rejected loudly
    intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asofBackward(left,
        right.withColumnRenamed("rv", "ltag"), "k", "lts", "rts", "rid")
    }
    // forward direction: earliest right at-or-after, ties -> smallest id
    val fwd = graft.operators.AsOfJoin
      .asofForward(left, right, "k", "lts", "rts", "rid")
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(fwd("a") == 100L, "equal-time tie -> smallest id forward")
    assert(fwd("c") == 100L, "t=5 -> earliest at-or-after is t=10 id 100")
    assert(fwd("b") == -1L, "t=20 has no later right")
    assert(fwd("d") == -1L)
  }

  test("ngramJaccard low-threshold branches agree: local pair expansion ≡ pair-join fallback") {
    // blocks of ~40 docs; maxLocalBlock = 1 forces EVERY block down the
    // oversized-block pair-join path, which must produce identical pairs
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("w"), pmod(hash(col("id") - pmod(col("id"), lit(4)), lit(j)),
          lit(500)))): _*).as("text"),
      pmod(col("id") - pmod(col("id"), lit(4)), lit(10)).cast("string").as("source"))
    def run(maxLocal: Int) = graft.pipeline.PipelineOps
      .ngramJaccardPairs(docs, col("doc_id"), col("text"), col("source"),
        k = 3, minJaccard = 0.05, maxLocalBlock = maxLocal)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val local = run(8192)
    val fallback = run(1)
    assert(local.nonEmpty, "fixture must produce near-dup pairs")
    assert(local == fallback, "branch outputs must be identical")
  }

  test("ngramJaccard chunk-pair redistribution (C>1) ≡ pair-join fallback") {
    // one block of 400 docs forces the chunk derivation to C=4 at the
    // test session's width (nBlocks*C*(C+1)/2 >= 2*parts), so the
    // diagonal AND cross chunk-group expansions both run; maxLocalBlock=1
    // routes the same input down the pair-join path as ground truth
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("w"), pmod(hash(col("id") - pmod(col("id"), lit(4)), lit(j)),
          lit(500)))): _*).as("text"),
      lit("all").as("source"))
    def run(maxLocal: Int) = graft.pipeline.PipelineOps
      .ngramJaccardPairs(docs, col("doc_id"), col("text"), col("source"),
        k = 3, minJaccard = 0.05, maxLocalBlock = maxLocal)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val chunked = run(8192)
    val fallback = run(1)
    assert(chunked.nonEmpty, "fixture must produce near-dup pairs")
    assert(chunked == fallback, "chunk-pair expansion must emit each pair exactly once")
  }

  test("AsOfJoin differential fuzz: backward ≡ ranked-window oracle incl. ties + tolerance") {
    // coarse timestamps (multiples of 10 over 40 keys) force plenty of
    // duplicate (key, time) rows on both sides; tolerance active
    val l = spark.range(2000).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(11)), lit(40)).as("k"),
      (pmod(hash(col("id"), lit(12)), lit(300)).cast("long") * 10L).as("lts"))
    val r = spark.range(2000).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(13)), lit(40)).as("k"),
      (pmod(hash(col("id"), lit(14)), lit(300)).cast("long") * 10L).as("rts"))
    val tol = 500L
    // forward is the mirror: the earliest rts at or after lts, ties to
    // the smallest rid
    for (forward <- Seq(false, true)) {
      val asof = if (forward) graft.operators.AsOfJoin.asofForward _
        else graft.operators.AsOfJoin.asofBackward _
      val got = asof(l, r, "k", "lts", "rts", "rid", tol)
        .select("lid", "rid").collect()
        .map(row => row.getLong(0) -> (if (row.isNullAt(1)) -1L else row.getLong(1)))
        .toMap
      val order = if (forward) Seq(col("rts").asc, col("rid").asc)
        else Seq(col("rts").desc, col("rid").desc)
      val matched = l.join(r, "k")
        .filter(if (forward) col("rts") >= col("lts") && col("rts") - col("lts") <= tol
          else col("rts") <= col("lts") && col("lts") - col("rts") <= tol)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lid").orderBy(order: _*)))
        .filter(col("rn") === 1)
        .select("lid", "rid").collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
      val lids = l.select("lid").collect().map(_.getLong(0))
      assert(got.keySet == lids.toSet, s"exactly one output row per left row (forward=$forward)")
      lids.foreach { lid =>
        assert(got(lid) == matched.getOrElse(lid, -1L), s"lid=$lid forward=$forward")
      }
      assert(matched.nonEmpty && matched.size < lids.length,
        "fuzz must exercise both matched and unmatched rows")
    }
  }

  test("AsOfJoin tolerance: the gap is exact across the whole long range") {
    import spark.implicits._
    // lts - rts is 2^63, past Long.MaxValue: long arithmetic wraps it
    // to a negative gap that any tolerance admits
    val left = Seq((1L, Long.MaxValue, "far"), (1L, 5L, "near")).toDF("k", "lts", "ltag")
    val right = Seq((1L, -1L, 10L)).toDF("k", "rts", "rid")
    val res = graft.operators.AsOfJoin
      .asofBackward(left, right, "k", "lts", "rts", "rid", 10L)
      .collect().map(r => (r.getString(2), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(res == Map("far" -> -1L, "near" -> 10L))
    // forward: rts - lts is 2^64 - 2
    val fwd = graft.operators.AsOfJoin
      .asofForward(Seq((1L, Long.MinValue + 1, "far")).toDF("k", "lts", "ltag"),
        Seq((1L, Long.MaxValue, 10L)).toDF("k", "rts", "rid"), "k", "lts", "rts", "rid", 10L)
      .collect().map(r => if (r.isNullAt(4)) -1L else r.getLong(4))
    assert(fwd.toSeq == Seq(-1L))
  }

  test("AsOfJoin.asofForward: times and ids at Long.MinValue") {
    import spark.implicits._
    val left = Seq((1L, Long.MinValue, "min"), (1L, 7L, "seven")).toDF("k", "lts", "ltag")
    val right = Seq((1L, Long.MinValue, Long.MinValue), (1L, Long.MinValue, 3L),
      (1L, 7L, 4L)).toDF("k", "rts", "rid")
    val res = graft.operators.AsOfJoin
      .asofForward(left, right, "k", "lts", "rts", "rid")
      .collect().map(r => (r.getString(2), (r.getLong(3), r.getLong(4)))).toMap
    assert(res == Map("min" -> (Long.MinValue, Long.MinValue), "seven" -> (7L, 4L)),
      "the earliest right at or after, ties to the smallest id")
  }

  test("AsOfJoinExec reports numOutputRows and numMatchedRows") {
    val l = spark.range(500).select(col("id").as("lid"),
      pmod(hash(col("id"), lit(21)), lit(20)).as("k"),
      (pmod(hash(col("id"), lit(22)), lit(100)).cast("long") * 10L).as("lts"))
    val r = spark.range(300).select(col("id").as("rid"),
      pmod(hash(col("id"), lit(23)), lit(20)).as("k"),
      (pmod(hash(col("id"), lit(24)), lit(100)).cast("long") * 10L).as("rts"))
    val df = graft.operators.AsOfJoin.asofBackward(l, r, "k", "lts", "rts", "rid", 200L)
    val rows = df.collect()
    val execs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case e: graft.joins.AsOfJoinExec => e }
    assert(execs.size == 1, df.queryExecution.executedPlan.toString)
    val m = execs.head.metrics
    val matched = rows.count(!_.isNullAt(3))
    assert(m("numOutputRows").value == rows.length)
    assert(m("numMatchedRows").value == matched)
    assert(matched > 0 && matched < rows.length, "the fixture matches some rows, not all")
  }

  test("IntervalJoin.overlapJoin ≡ cross-filter reference; multi-cell pairs emit once") {
    import spark.implicits._
    // intervals up to 40 ticks over cells of width 5 -> pairs share many
    // cells; the reference-cell rule must still emit each pair once
    val l = spark.range(300).select(col("id").as("lid"),
      (pmod(hash(col("id"), lit(1)), lit(1000)).cast("long")).as("ls"))
      .withColumn("le", col("ls") + pmod(hash(col("lid"), lit(2)), lit(40)))
      .withColumn("lk", pmod(col("lid"), lit(5)))
    val r = spark.range(300).select(col("id").as("rid"),
      (pmod(hash(col("id"), lit(3)), lit(1000)).cast("long")).as("rs"))
      .withColumn("re", col("rs") + pmod(hash(col("rid"), lit(4)), lit(40)))
      .withColumn("rk", pmod(col("rid"), lit(5)))
    val got = graft.operators.IntervalJoin
      .overlapJoin(l, r, "ls", "le", "rs", "re", Some(("lk", "rk")), cellWidth = 5L)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val expect = l.crossJoin(r)
      .filter(col("lk") === col("rk") &&
        col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty && got == expect)
    // no duplicates even though intervals span up to 9 cells
    assert(got.distinct.size == got.size)
    // key-less variant
    val gotNoKey = graft.operators.IntervalJoin
      .overlapJoin(l.drop("lk"), r.drop("rk"), "ls", "le", "rs", "re",
        None, cellWidth = 7L)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val expectNoKey = l.drop("lk").crossJoin(r.drop("rk"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(gotNoKey == expectNoKey)
  }

  test("AsOfJoin null semantics + IntervalJoin rejects inverted/empty intervals") {
    import spark.implicits._
    // null right key/time/id rows are dropped (can never match); null left
    // key/time rows emit unmatched — SQL null-key semantics, no NPE
    val left = Seq((Option(1L), Option(10L), "a"), (None, Option(10L), "nk"),
      (Option(1L), None, "nt")).toDF("k", "lts", "ltag")
    val right = Seq((Option(1L), Option(5L), Option(100L), 1.0),
      (Option(1L), None, Option(101L), 2.0), // null time: dropped
      (None, Option(5L), Option(102L), 3.0), // null key: dropped
      (Option(1L), Option(6L), None, 4.0)) // null id: dropped
      .toDF("k", "rts", "rid", "rv")
    val res = graft.operators.AsOfJoin
      .asofBackward(left, right, "k", "lts", "rts", "rid")
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(res("a") == 100L, "only the fully-non-null right row can match")
    assert(res("nk") == -1L, "null left key matches nothing")
    assert(res("nt") == -1L, "null left time matches nothing")
    // inverted (logically empty) intervals match nothing instead of
    // riding a descending sequence() into spurious pairs
    val l = Seq((1L, 10L, 5L), (2L, 1L, 4L)).toDF("lid", "ls", "le")
    val r = Seq((1L, 3L, 12L)).toDF("rid", "rs", "re")
    val pairs = graft.operators.IntervalJoin
      .overlapJoin(l, r, "ls", "le", "rs", "re", None, cellWidth = 5L)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((2L, 1L)), "inverted [10,5] must not pair with [3,12]")
    val rInv = Seq((9L, 20L, 2L)).toDF("rid", "rs", "re")
    assert(graft.operators.IntervalJoin
      .overlapJoin(l, rInv, "ls", "le", "rs", "re", None, cellWidth = 5L)
      .count() == 0L, "inverted right intervals match nothing")
  }

  test("selectByBudget: greedy whole-doc admission, last doc may overshoot") {
    import spark.implicits._
    val docs = Seq((1L, 90L, 40L), (2L, 80L, 40L), (3L, 70L, 40L),
      (4L, 60L, 40L), (5L, 50L, 40L)).toDF("doc_id", "quality", "n_tokens")
    val got = graft.pipeline.PipelineOps.selectByBudget(docs,
      Seq(col("quality").desc, col("doc_id")), "n_tokens", budget = 100L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cum_before: doc1=0, doc2=40, doc3=80 (< 100, admitted -> 120 total
    // overshoots), doc4=120 (>= 100, rejected)
    assert(got == Seq(1L, 2L, 3L))
    // budget larger than the corpus admits everything
    assert(graft.pipeline.PipelineOps.selectByBudget(docs,
      Seq(col("quality").desc, col("doc_id")), "n_tokens", budget = 10000L)
      .count() == 5)
  }

  test("ScalableRank.globalPrefixSum ≡ window cumsum; packSequences boundary math") {
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("v", (col("id") * 2654435761L) % 500 + 1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = df.withColumn("ps", coalesce(sum(col("v")).over(w), lit(0L)))
      .select("id", "ps").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = graft.operators.ScalableRank
      .globalPrefixSum(df, Seq(col("id")), "v", "ps")
      .select("id", "ps").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)

    // packSequences invariants: offsets tile the stream with no gaps,
    // in-sequence offsets stay in range, span counts match the interval
    val packed = graft.pipeline.PipelineOps
      .packSequences(df, col("id"), col("v"), 257L)
      .orderBy("doc_id").collect()
    var run = 0L
    packed.foreach { r =>
      val (nt, start, seq, off, nseqs) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(start == run, s"gap at doc ${r.getLong(0)}")
      run += nt
      assert(seq == start / 257 && off == start % 257)
      assert(nseqs == (start + math.max(nt, 1) - 1) / 257 - start / 257 + 1)
    }
    // a doc crossing a boundary must span >1 sequence somewhere
    assert(packed.exists(_.getLong(5) > 1))
  }

  test("ScalableRank.globalNtile ≡ window ntile incl. ties and uneven tiles") {
    for (n <- Seq(3, 4, 7)) {
      // non-unique order key: tile SIZES must match exactly; membership can
      // differ only inside tie runs, so compare per-tile (count, sum-of-key)
      val df = spark.range(0, 5003).toDF("id")
        .withColumn("k", col("id") % 97)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      val expected = df.withColumn("t", ntile(n).over(w))
        .groupBy("t").agg(count(lit(1)).as("c"), sum("k").as("s"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
      val got = graft.operators.ScalableRank.globalNtile(df, Seq(col("k")), n, "t")
        .groupBy("t").agg(count(lit(1)).as("c"), sum("k").as("s"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected, s"n=$n")
    }
  }

  test("ScalableRank.globalNtileAgg ≡ groupBy over globalNtile (fused per-tile agg)") {
    for (n <- Seq(3, 4, 7)) {
      val df = spark.range(0, 5003).toDF("id")
        .withColumn("k", col("id") % 97)
        .withColumn("v", (col("id") % 11).cast("double"))
      val expected = graft.operators.ScalableRank
        .globalNtile(df, Seq(col("k")), n, "t")
        .groupBy("t").agg(count(lit(1)).as("c"), sum("v").as("s"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
      val got = graft.operators.ScalableRank
        .globalNtileAgg(df, Seq(col("k")), n, "v")
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(got == expected, s"n=$n")
    }
  }

  test("streaming as-of TTL evicts idle keys: state bounded under a growing key space") {
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.AsOfEvent
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[AsOfEvent]
    val input = MemoryStream[AsOfEvent]
    val q = StreamingOps.streamAsOfJoin(input.toDS(),
        toleranceMs = 1000, idleTtlMs = Some(2000))
      .writeStream.format("memory").queryName("asof_ttl")
      .outputMode("append").start()
    try {
      // 5 waves of 20 FRESH keys each, event time advancing 10 s per
      // wave: without eviction state grows to 100 keys; with the 2 s TTL
      // every wave's keys are idle far past watermark+ttl by the time
      // the next-next wave commits
      for (w <- 0 until 5) {
        // base starts at 10 s, not 0: with event-time timeout enabled the
        // state operator filters rows at-or-below the watermark, and the
        // initial watermark is epoch 0 — a right at ts 0 would be dropped
        val base = (w + 1) * 10000L
        input.addData((0 until 20).flatMap(i => Seq(
          AsOfEvent(w * 100 + i, base, 0, 1, w * 1.0 + i),
          AsOfEvent(w * 100 + i, base + 500, 1, 2, 0.0))): _*)
        q.processAllAvailable()
      }
      // two probe batches advance the watermark so the last waves' and
      // probe keys' timeouts actually fire
      input.addData(AsOfEvent(9999, 60000, 0, 1, 1.0))
      q.processAllAvailable()
      input.addData(AsOfEvent(9998, 70000, 0, 1, 1.0))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 25,
        s"state must stay bounded by the active window, got $stateRows of 102 keys")
      // eviction was result-neutral: all 100 lefts matched their
      // in-tolerance right
      val out = spark.table("asof_ttl").collect()
      assert(out.length == 100 && out.forall(r => !r.isNullAt(3)),
        s"got ${out.length} rows, ${out.count(r => !r.isNullAt(3))} matched")
    } finally q.stop()
  }

  test("structured streaming: stream-stream spatial join via grid equi-keys") {
    // two unbounded inputs joined on a spatial predicate — possible in
    // Structured Streaming only because the grid decomposition turns the
    // theta join into an equi join on cell id (+ event-time range bound)
    import graft.functions.GraftFunctions.st
    implicit val sqlCtx = spark.sqlContext
    val lin = MemoryStream[(Long, Double, Double, Long)]
    val rin = MemoryStream[(Long, Double, Double, Long)]
    val pts = lin.toDF().toDF("pid", "px", "py", "pts_ms")
      .withColumn("p_ts", timestamp_millis(col("pts_ms")))
      .withWatermark("p_ts", "5 seconds")
      .withColumn("pt", st.point(col("px"), col("py")))
      .select("pid", "pt", "p_ts")
    val boxes = rin.toDF().toDF("bid", "bx", "by", "bts_ms")
      .withColumn("b_ts", timestamp_millis(col("bts_ms")))
      .withWatermark("b_ts", "5 seconds")
      .withColumn("box", st.makeEnvelope(col("bx"), col("by"),
        col("bx") + 2.0, col("by") + 2.0))
      .select("bid", "box", "b_ts")
    val joined = graft.streaming.StreamingOps.streamSpatialJoin(
        pts, boxes, col("pt"), col("box"), "st_intersects",
        bounds = (0.0, 0.0, 100.0, 100.0),
        timeCond = col("p_ts") >= col("b_ts") - expr("INTERVAL 10 SECONDS") &&
          col("p_ts") <= col("b_ts") + expr("INTERVAL 10 SECONDS"),
        nx = 8, ny = 8)
      .select(col("pid"), col("bid"))
    val q = joined.writeStream.format("memory").queryName("sssj")
      .outputMode("append").start()
    try {
      // batch 1: point 1 in box 10 (time-close), point 2 far from boxes
      lin.addData((1L, 1.0, 1.0, 1000L), (2L, 50.0, 50.0, 1000L))
      rin.addData((10L, 0.0, 0.0, 2000L), (20L, 80.0, 80.0, 2000L))
      q.processAllAvailable()
      // batch 2: point 3 lands in box 10 but 60s later -> outside the
      // time bound, must NOT join; point 4 in box 20, time-close to a
      // fresh box 21 copy at the same spot
      lin.addData((3L, 1.0, 1.0, 62000L), (4L, 80.5, 80.5, 3000L))
      rin.addData((21L, 80.0, 80.0, 4000L))
      q.processAllAvailable()
      val rows = spark.table("sssj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 10L), (4L, 20L), (4L, 21L)), rows)
    } finally q.stop()
  }
}
