package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one JVM, a fixed `local[3]`.
  *
  * Usage: whbench.Main --workload W --corpus DIR --work DIR --seconds S
  *          --trace 0|1 --result FILE [--dump DIR] [--twins FILE]
  *
  * Writes the run's metrics, operation counts and observed output
  * fingerprints to FILE as JSON. `--dump` additionally writes every
  * query of the workload the way graft.Verify does (parquet + the
  * oracle SQL), plus each dumped output's fingerprint, after the timed
  * phase, for the DuckDB oracle check. `--twins` caches the stream
  * workload's batch-twin fingerprints. */
object Main {
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[3]")
      .appName("whbench")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Verify's dump for the named queries, plus fingerprints of
    * the dumped outputs. */
  def dump(spark: SparkSession, corpus: String, dir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val hashes = names.map { n =>
      spark.catalog.clearCache()
      graft.SparkEntry.queries(n)(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      n -> Fingerprint.of(spark.read.parquet(s"$dir/$n"))
    }.toMap
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    Files.writeString(Paths.get(s"$dir/fingerprints.json"), Json(hashes))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val spark = session(work)
    val code =
      try {
        val ctx = new Ctx(spark, opts("corpus"), work, opts("seconds").toDouble,
          opts("trace") == "1")
        ctx.mark("session started")
        val (out, names) = opts("workload") match {
          case "warehouse_refresh" => (Refresh.run(ctx), Ops.refresh.map(_.name))
          case "stream_chain" => (Stream.run(ctx, opts("twins")), Nil)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        opts.get("dump").foreach(dump(spark, ctx.corpus, _, names))
        if (ctx.traced) ctx.tracer.writeSpans(s"$work/spans.jsonl")
        Files.writeString(Paths.get(opts("result")), Json(Map(
          "setup_s" -> ctx.setupS,
          "metrics" -> out.metrics,
          "attempted" -> out.attempted,
          "failed" -> out.failed,
          "observed" -> out.observed,
          "spans" -> ctx.tracer.spanCount)))
        0
      } catch {
        case e: Exception =>
          e.printStackTrace()
          1
      }
    spark.stop()
    System.exit(code)
  }
}
