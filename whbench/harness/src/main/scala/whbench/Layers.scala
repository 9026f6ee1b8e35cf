package whbench

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to the launcher. `observed` maps
  * each operator to the fingerprints its timed calls produced, with
  * counts; the launcher compares them with the oracle-checked ones. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
    observed: Map[String, Map[String, Long]])

/** Run-wide context: the session, the generated corpus, a scratch
  * directory inside the checkout, and the tracer. */
final class Ctx(val spark: SparkSession, val corpus: String, val work: String,
    val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer(spark)
  var setupS = 0.0

  /** Logs a set-up milestone, seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"[whbench] $what at ${Stats.sinceJvmStart()}%.2f s")

  /** Marks the end of set-up: session up, tables read, warm-up done. */
  def ready(): Unit = { setupS = Stats.sinceJvmStart(); mark("ready") }
}

object Ctx {
  /** First read of every corpus table the batch workloads use, through
    * the program's own loaders (schema from the parquet footers, row
    * counts from footer metadata). Returns the total row count. */
  def readTables(ctx: Ctx): Long = {
    import graft.Tables
    val s = ctx.spark
    val d = ctx.corpus
    Seq(Tables.events _, Tables.orders _, Tables.lineitem _, Tables.customer _, Tables.part _,
      Tables.supplier _, Tables.nation _, Tables.region _, Tables.documents _)
      .foreach(load => load(s, d).schema)
    val rows = Seq("events", "orders", "lineitem", "customer", "part", "supplier", "nation",
      "region", "documents").map { n =>
      val f = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$d/$n.parquet"), s.sparkContext.hadoopConfiguration))
      try f.getRecordCount finally f.close()
    }.sum
    ctx.mark("tables read")
    rows
  }
}

/** Per-layer metric names and their assembly from operation records.
  * Layers are named after the program's modules. Each workload reports
  * every name; a layer the workload does not exercise reads 0. */
object Layers {
  val opLayers = Seq("dwd", "dwm", "dws", "ads")
  val opMetrics = Seq("construct_ms", "eager_jobs", "plan_ms", "exec_ms", "self_ms", "jobs",
    "stages", "tasks", "tasks_per_stage", "task_skew", "shuffle_write_bytes", "spill_bytes")
  val mirrors = Seq("route", "unique_visit", "jump", "visitor_stats")
  val streamMetrics = Seq("batch_ms", "plan_ms", "commit_ms", "state_rows", "state_bytes",
    "rows_dropped_late", "watermark_lag_ms")
  val tableMetrics = Seq("bytes_read", "rows_read", "files_read", "write_ms", "bytes_written",
    "files_written")
  val other = Seq("generator.latency_p50_ms", "generator.latency_p99_ms",
    "generator.lateness_ms", "generator.backlog_rows", "jvm.gc_ms",
    "trace.overhead_pct", "trace.op_gap_p50_pct", "trace.op_gap_max_pct")

  def names: Seq[String] =
    opLayers.flatMap(l => opMetrics.map(m => s"$l.$m")) ++
      mirrors.flatMap(s => streamMetrics.map(m => s"streaming.$s.$m")) ++
      tableMetrics.map(m => s"tables.$m") ++ other

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Per-operation means for each operator layer: one operation is one
    * operator call. Counts repeat exactly once plans are warm. */
  def opLayerMetrics(t: Tracer, recs: Seq[OpRecord]): Map[String, Double] =
    recs.filter(r => opLayers.contains(r.layer)).groupBy(_.layer).flatMap { case (layer, rs) =>
      def m(f: OpRecord => Double): Double = Stats.mean(rs.map(f))
      def c(r: OpRecord) = t.counter(r.id)
      def ph(r: OpRecord, p: String) = r.phaseMs.getOrElse(p, 0.0)
      Map(
        "construct_ms" -> m(ph(_, "construct")),
        "eager_jobs" -> m(c(_).eagerJobs.get.toDouble),
        "plan_ms" -> m(ph(_, "plan")),
        "exec_ms" -> m(ph(_, "exec")),
        "self_ms" -> m(t.selfMs),
        "jobs" -> m(c(_).jobs.get.toDouble),
        "stages" -> m(c(_).stages.get.toDouble),
        "tasks" -> m(c(_).tasks.get.toDouble),
        "tasks_per_stage" -> m { r =>
          val s = c(r).stages.get
          if (s == 0) 0.0 else c(r).tasks.get.toDouble / s
        },
        "task_skew" -> m(c(_).maxSkew),
        "shuffle_write_bytes" -> m(c(_).shuffleWriteBytes.get.toDouble),
        "spill_bytes" -> m(c(_).spillBytes.get.toDouble)
      ).map { case (k, v) => s"$layer.$k" -> v }
    }

  /** Scan and sink totals per refresh pass. */
  def tableMetricsOf(t: Tracer, recs: Seq[OpRecord], units: Double, filesWritten: Double): Map[String, Double] = {
    val reads = recs.filter(r => opLayers.contains(r.layer))
    val writes = recs.filter(_.sink)
    def per(x: Double) = if (units > 0) x / units else 0.0
    Map(
      "tables.bytes_read" -> per(reads.map(r => t.counter(r.id).bytesRead.get.toDouble).sum),
      "tables.rows_read" -> per(reads.map(r => t.counter(r.id).rowsRead.get.toDouble).sum),
      "tables.files_read" -> per(reads.map(_.filesRead.toDouble).sum),
      "tables.write_ms" -> per(writes.map(_.phaseMs.getOrElse("exec", 0.0)).sum),
      "tables.bytes_written" -> per(writes.map(r => t.counter(r.id).bytesWritten.get.toDouble).sum),
      "tables.files_written" -> per(filesWritten))
  }

  /** Tracing cost from one traced run that alternates traced and
    * untraced passes: the traced pass time over the untraced one, and
    * for each operator how far construct + plan + exec under tracing
    * lies from its untraced call time (median and worst operator). */
  def traceMetrics(tracedUnits: Seq[Double], plainUnits: Seq[Double],
      traced: Seq[OpRecord], plain: Seq[OpRecord]): Map[String, Double] = {
    val base = Stats.median(plainUnits)
    val overhead = if (base > 0) (Stats.median(tracedUnits) - base) / base * 100 else 0.0
    val plainBy = plain.groupBy(_.name).map { case (k, rs) => k -> Stats.median(rs.map(_.wallMs)) }
    val gaps = traced.filter(r => opLayers.contains(r.layer)).groupBy(_.name).toSeq.flatMap { case (k, rs) =>
      val sum = Stats.median(rs.map(r => Seq("construct", "plan", "exec").map(r.phaseMs.getOrElse(_, 0.0)).sum))
      plainBy.get(k).filter(_ > 0).map(b => math.abs(sum - b) / b * 100)
    }
    Map("trace.overhead_pct" -> overhead,
      "trace.op_gap_p50_pct" -> Stats.median(gaps),
      "trace.op_gap_max_pct" -> (if (gaps.isEmpty) 0.0 else gaps.max))
  }
}
