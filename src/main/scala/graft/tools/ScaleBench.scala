package graft.tools

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.DataFrame

/** Full-suite scale sweep driver (r10 verdict item 2): times every
  * registered query on SPARK_GRAFT_SF_DIR like [[graft.Bench]] (same
  * session, same forced-evaluation sink) but built for hunting SCALE
  * CLIFFS on synthetic up-scaled corpora rather than gating budgets:
  *
  *   - per-query progress printed AS IT RUNS (a wedged query is
  *     visible immediately, not after the whole sweep);
  *   - a watchdog cancels any query past SPARK_GRAFT_TIMEOUT_S
  *     (default 180 s) via its job group and records it as a TIMEOUT
  *     row — a cliff becomes a named result instead of an unbounded
  *     stall (the first 10× attempt sat 30+ minutes inside ONE
  *     single-task spill sort with zero output);
  *   - single iteration per query (growth ratios compare against a
  *     same-host Bench sweep; median-of-3 noise damping matters for
  *     2× budget gates, not for 10×-growth reading).
  *
  * Output: one JSON line per query to stdout and the Bench-style
  * aggregate to SPARK_GRAFT_BENCH_OUT (default /tmp/graft_scale.json)
  * so scripts/scale_compare.py can read it.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_TIMEOUT_S", "180").toLong
    // median-of-N within the JVM (the Bench protocol) — damps both
    // host noise and the first-execution JIT/codegen-compile cost that
    // a fresh-JVM single shot would charge to the first heavy query
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "1").toInt
    val only = args.toSet
    val spark = graft.Bench.benchSession(cpus)
    val sc = spark.sparkContext
    // warm the scan path on whatever table the corpus carries
    // (table-subset scale corpora may ship ONLY documents — r14)
    Seq("lineitem", "embeddings", "documents").view
      .map { t =>
        try { spark.read.parquet(s"$sfDir/$t.parquet").count(); true }
        catch { case scala.util.control.NonFatal(_) => false }
      }.find(identity)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val results = queries.map { case (name, fn) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, String)]
      // stop iterating on the first failure/timeout — a wedged query
      // would wedge every remaining iteration too
      while (runs.size < iters && runs.forall(_._2 == "ok")) {
        spark.catalog.clearCache()
        sc.setJobGroup(name, name, interruptOnCancel = true)
        // timeout-vs-failure is classified by this FLAG, not by elapsed
        // time (a genuine failure near the deadline must read "fail");
        // the cancel re-fires every 5 s after the deadline because
        // cancelJobGroup only kills jobs active AT fire time — a
        // multi-job query between jobs at the first fire would
        // otherwise keep running unbounded
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        val cancel = watchdog.scheduleAtFixedRate(new Runnable {
          def run(): Unit = { fired.set(true); sc.cancelJobGroup(name) }
        }, timeoutS, 5, TimeUnit.SECONDS)
        val t0 = System.nanoTime()
        val outcome =
          try { graft.Bench.forceEval(fn(spark, sfDir)); "ok" }
          catch {
            case scala.util.control.NonFatal(e) =>
              if (fired.get()) "timeout"
              else { System.err.println(s"[scale] $name failed: ${e.getMessage}"); "fail" }
          } finally {
            cancel.cancel(false)
            sc.clearJobGroup()
          }
        runs += (((System.nanoTime() - t0) / 1e9, outcome))
        // a cancelled query's tasks KEEP RUNNING after cancelJobGroup
        // returns (a tight codegen'd loop polls the kill flag rarely —
        // the r12 sweeps charged a clean 2.9 s query 59-86 s because
        // the all-pairs baseline's zombie tasks were still burning all
        // cores); wait for actual job quiescence, then settle the heap
        if (outcome != "ok") {
          val quietBy = System.nanoTime() + 120L * 1000000000L
          while (sc.statusTracker.getActiveJobIds().nonEmpty &&
            System.nanoTime() < quietBy) Thread.sleep(500)
          System.gc(); Thread.sleep(2000)
        }
      }
      val sec =
        if (runs.exists(_._2 != "ok")) runs.last._1
        else runs.map(_._1).sorted.apply(runs.size / 2)
      val outcome = runs.map(_._2).find(_ != "ok").getOrElse("ok")
      println(f"""[scale] {"query":"$name","sec":$sec%.2f,"outcome":"$outcome","runs":${runs.map(r => f"${r._1}%.2f").mkString("[", ",", "]")}}""")
      (name, sec, outcome)
    }
    watchdog.shutdownNow()
    val qs = results.collect { case (k, v, "ok") => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val bad = results.collect { case (k, _, o) if o != "ok" => "\"" + k + "\":\"" + o + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, "ok") => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"not_ok":$bad,"sf":"$sfDir","iters":$iters,"timeout_s":$timeoutS}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_scale.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // full per-query record → sink file + stderr; stdout ends with a
    // compact line that fits the driver's ~2000-char tail capture
    System.err.println(line)
    val nOk = results.count(_._3 == "ok")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries_ok":$nOk,"queries_total":${results.size},"not_ok":$bad,"sf":"$sfDir","iters":$iters,"timeout_s":$timeoutS,"per_query_file":"$outPath"}""")
    spark.stop()
  }
}
