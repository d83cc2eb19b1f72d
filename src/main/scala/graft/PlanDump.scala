package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Optimization-round tooling: writes `.explain("formatted")` output for
  * every gate query (or the names passed as args) to plans/<outDir>/, one
  * file per query, plus a one-line Exchange/join-strategy summary on
  * stdout. Build-only — the DataFrame is never executed here (gates whose
  * builder fn stages side inputs still run that staging, same as any
  * plan audit).
  *
  * Lambda class names, identity hashes, `plan_id`s and the source lines
  * of RDD call sites vary between runs and edits that keep the plan;
  * they are normalized, so two dumps of the same plans are
  * byte-identical and compare with plain `diff`.
  *
  * Usage: runMain graft.PlanDump <suffix> [queryName...]
  *   suffix "before" -> plans/r18/<name>_before.txt
  */
object PlanDump {
  def normalize(plan: String): String =
    plan.replaceAll("""\$\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""plan_id=\d+""", "plan_id=N")
      .replaceAll("""(\.scala):\d+""", "$1:N")

  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftExtensions.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "WARN")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18"))
    Files.createDirectories(outDir)
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter { case (n, _) => names.contains(n) }.toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = normalize(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        val nEx = "Exchange".r.findAllIn(txt).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "KnnJoin", "BroadcastIndexSpatialJoin")
          .filter(txt.contains).mkString(",")
        println(s"[plandump] $name exchanges=$nEx joins=$joins")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
