package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftExtensions.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "WARN")
    // Session warm-up: exercise parquet scan, shuffle, whole-stage
    // codegen, HOF interpretation and the extension registry once, so the
    // first timed query doesn't absorb JVM/Tungsten/janino session init
    // (~4s, data-independent — see BENCH_LOCAL.md cold-start note). A
    // long-running cluster is always warm; timing it into one arbitrary
    // query misstates that query's cost.
    locally {
      import org.apache.spark.sql.functions._
      val r = spark.range(0, 10000).toDF("id")
        .withColumn("s", md5(col("id").cast("string")))
        .withColumn("a", split(col("s"), "[0-9]"))
      r.groupBy(col("id") % 7)
        .agg(count(lit(1)), sum(size(col("a"))))
        .count()
      Tables.t(spark, sfDir, "region").count()
    }
    // args: optional query-name filter (profiling); driver runs with none.
    // Default 2 reps, best-of: rep 1 absorbs per-query plan compilation +
    // codegen (janino) that a long-running cluster pays once; rep 2 is the
    // steady-state cost the metric is meant to capture.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // SPARK_GRAFT_BENCH_FULL=1 adds a second timing per query that fully
    // materializes every output row (no count()-induced column pruning) —
    // the honesty check that projections aren't being optimized away.
    val full = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    // A gate that throws in any rep is failed: it is reported by name with
    // its error class and has no time, so it never counts toward `total`.
    val outcomes: Map[String, Either[String, (Double, Double)]] =
      selected.map { case (name, fn) =>
        var best = Double.MaxValue
        var bestFull = Double.MaxValue
        def timed(body: => Unit): Double = {
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        val outcome =
          try {
            (0 until reps).foreach { _ =>
              best = math.min(best, timed(fn(spark, sfDir).count()))
              if (full) bestFull = math.min(bestFull,
                timed(fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())))
            }
            Right((best, bestFull))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
            Left(e.getClass.getName)
          }
        name -> outcome
      }
    val times = outcomes.collect { case (k, Right(v)) => k -> v }
    val failed = outcomes.collect { case (k, Left(cls)) => k -> cls }
    def jsonMap(m: Iterable[(String, Any)]): String =
      m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val total = times.values.map(_._1).sum
    val head = s""""metric":"total","value":$total,"unit":"sec","failed":${
      jsonMap(failed.map { case (k, cls) => k -> s"\"$cls\"" })}"""
    val fullPart =
      if (full) s""","full_total":${times.values.map(_._2).sum},"queries_full":${
        jsonMap(times.map { case (k, v) => k -> v._2 })}"""
      else ""
    // The per-query map goes only to the sidecar: the driver keeps a short
    // tail of stdout, so stdout carries exactly one short total line.
    val side = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR", "bench_queries.json"))
    try java.nio.file.Files.write(side,
      s"""{$head,"queries":${jsonMap(times.map { case (k, v) => k -> v._1 })}$fullPart,"sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARN: sidecar $side not written: $e")
    }
    println(s"""{$head,"sf":"$sfDir"}""")
    spark.stop()
  }
}
