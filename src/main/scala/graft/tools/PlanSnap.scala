package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Batch formatted-plan snapshot for the optimization rounds: writes
  * `<outDir>/<query>_<suffix>.txt` holding `explain("formatted")` for
  * each named query (default: every SparkEntry query), so plan-shape
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * `sbt "runMain graft.tools.PlanSnap plans/r14 before [query ...]"`
  *
  * Construction-time driver steps (centroid training, bounded counts)
  * run as part of building the DataFrame — a snapshot of the full
  * suite therefore takes minutes, not seconds. Queries that fail to
  * construct are recorded with the error text instead of a plan.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <outDir> <suffix> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val body =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          // the same string explain("formatted") prints
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case scala.util.control.NonFatal(e) => s"PLAN UNAVAILABLE: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        body.getBytes(StandardCharsets.UTF_8))
      println(s"[plansnap] $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
