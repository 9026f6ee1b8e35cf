package graft.tools

/** Single-query bench for iterating on one operator without the full
  * [[graft.Bench]] sweep — same session config and forced-evaluation
  * sink (both SHARED with Bench, not copied, so single-query medians
  * are directly comparable to the gate numbers), same cold-cache
  * median protocol. Iterations via SPARK_GRAFT_ITERS (default 3; the
  * r13 verdict-3 quiet-host audits run 5).
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.BenchOne q1 q2"`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = graft.Bench.benchSession(cpus)
    // warm the scan path on whatever table the corpus carries
    // (table-subset scale corpora may ship ONLY embeddings or ONLY
    // documents — r14)
    Seq("lineitem", "embeddings", "documents").view
      .map { t =>
        try { spark.read.parquet(s"$sfDir/$t.parquet").count(); true }
        catch { case scala.util.control.NonFatal(_) => false }
      }.find(identity)
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to iters).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.Bench.forceEval(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchone] $name%s median ${times.sorted.apply(times.size / 2)}%.3f s (all: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
