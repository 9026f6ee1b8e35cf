package whbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.{Dwd, Dwm}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Evt

/** `stream_chain`: the generated event log replayed through the
  * streaming mirrors in two phases.
  *  - Drain, closed loop: the whole log goes once through each mirror
  *    in fixed-size micro-batches, one batch per source append.
  *  - Steady, open loop, for the run's time: one generator thread
  *    appends events on a fixed schedule at a fixed offered rate into
  *    route → unique visit; each event is timed from its due time to
  *    the commit of the micro-batch that carried it.
  * Every sink fingerprints what it receives; at the end each is
  * compared with its batch twin on the same events. */
object Stream {
  /** Rows per drain micro-batch. */
  val DrainBatch = 5000
  /** Generator schedule: one append every TickMs. */
  val TickMs = 10
  /** Offered rate of the steady phase, events per second: about a
    * quarter of what the route → unique visit query drains. */
  val OfferedRate = 1000
  private val PerTick = OfferedRate * TickMs / 1000
  /** Ticks at the start of the steady phase left out of the latency
    * samples: the query's first batches still open its state store. */
  private val LeadInTicks = 1000 / TickMs

  /** Mirror name → (query, fingerprinted key columns). Sentinel events
    * carry negative user ids and are filtered out before hashing. */
  private def mirrors(spark: SparkSession): Seq[(String, Dataset[Evt] => DataFrame, Seq[String])] = {
    import spark.implicits._
    Seq(
      ("route", (ds: Dataset[Evt]) => StreamOps.route(ds.toDF()),
        Seq("event_id", "user_id", "event_type", "stream")),
      ("unique_visit", (ds: Dataset[Evt]) => StreamOps.uniqueVisit(ds).toDF(),
        Seq("user_id", "visit_date", "event_id")),
      ("jump", (ds: Dataset[Evt]) => StreamOps.jumpDetect(ds).toDF(),
        Seq("event_id", "user_id")),
      ("visitor_stats", (ds: Dataset[Evt]) => StreamOps.visitorStats(ds.toDF()),
        Seq("stt", "edt", "ch", "pv_ct", "ev_ct")))
  }

  /** Sums per-batch fingerprints: (rows, exact hash sum). */
  final class Acc {
    private var n = 0L
    private var s = BigDecimal(0)
    def add(fp: String): Unit = synchronized {
      val Array(a, b) = fp.split(":", 2)
      n += a.toLong; s += BigDecimal(b)
    }
    def value: String = synchronized(s"$n:${s.bigDecimal.toPlainString}")
  }

  private var queries = 0
  private def ckpt(ctx: Ctx, name: String): String = {
    queries += 1
    s"${ctx.work}/ckpt/$name-$queries"
  }

  /** Drains `evs` through one mirror; returns (nanos per batch, sink fingerprint).
    * With `flush`, two sentinel events far in the future advance the
    * watermark so every pending window and timeout fires. */
  private def drain(ctx: Ctx, name: String, build: Dataset[Evt] => DataFrame, keys: Seq[String],
      evs: Array[Evt], flush: Boolean): (Seq[Long], String) = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Evt]
    val acc = new Acc
    val rec = ctx.tracer.newOp(name, "streaming")
    val q = ctx.tracer.tag(rec) {
      build(src.toDS()).writeStream.queryName(name)
        .option("checkpointLocation", ckpt(ctx, name))
        .foreachBatch { (b: DataFrame, _: Long) =>
          val keep = if (b.columns.contains("user_id")) b.filter(col("user_id") >= 0)
            else b.filter(col("ch") >= 0)
          acc.add(Fingerprint.of(keep.select(keys.map(col): _*)))
        }
        .start()
    }
    try {
      val ns = evs.grouped(DrainBatch).map { chunk =>
        val t0 = System.nanoTime()
        src.addData(chunk.toSeq)
        q.processAllAvailable()
        System.nanoTime() - t0
      }.toSeq
      if (flush) {
        val far = evs.last.ts.getTime + 86400000L
        Seq(-1L, -2L).foreach { u =>
          src.addData(Seq(Evt(-u, u, "view", 0.0, new Timestamp(far - u * 3600000L))))
          q.processAllAvailable()
        }
      }
      (ns, acc.value)
    } finally { q.stop(); q.awaitTermination() }
  }

  /** The replayed log, `n` events long: the corpus log repeated, each
    * repetition shifted past the previous one in ids and time. */
  private def replay(evs: Array[Evt], n: Int): Array[Evt] = {
    val span = evs.last.ts.getTime - evs.head.ts.getTime + 86400000L
    val idSpan = evs.map(_.event_id).max + 1
    Array.tabulate(n) { i =>
      val e = evs(i % evs.length)
      val k = i / evs.length
      e.copy(event_id = e.event_id + k * idSpan, ts = new Timestamp(e.ts.getTime + k * span))
    }
  }

  final case class Steady(latMs: Seq[Double], latenessMs: Seq[Double], backlogGrowth: Double,
      fingerprint: String, offered: Array[Evt])

  /** The open-loop phase: `ticks` appends of PerTick events, one every
    * TickMs from a single generator thread. */
  private def steady(ctx: Ctx, evs: Array[Evt], ticks: Int): Steady = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val offered = replay(evs, ticks * PerTick)
    val src = MemoryStream[Evt]
    val acc = new Acc
    val commitNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val rec = ctx.tracer.newOp("steady", "streaming")
    val q = ctx.tracer.tag(rec) {
      StreamOps.uniqueVisit(StreamOps.route(src.toDF()).filter(col("stream") === "page").as[Evt])
        .writeStream.queryName("steady")
        .option("checkpointLocation", ckpt(ctx, "steady"))
        .foreachBatch { (b: Dataset[StreamOps.Visit], id: Long) =>
          acc.add(Fingerprint.of(b.toDF()))
          commitNs.put(id, System.nanoTime())
          ()
        }
        .start()
    }
    val due = new Array[Long](ticks)
    val lateness = new Array[Double](ticks)
    val backlog = new Array[Double](ticks)
    def endTick(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Option[Long] =
      Option(p).flatMap(x => Option(x.sources(0).endOffset)).map(_.trim.toLong)
    def committedTicks: Long = endTick(q.lastProgress).map(_ + 1).getOrElse(0L)
    try {
      val gen = new Thread(() => {
        val t0 = System.nanoTime() + 20000000L
        var k = 0
        while (k < ticks) {
          due(k) = t0 + k * TickMs * 1000000L
          var now = System.nanoTime()
          while (now < due(k)) { LockSupport.parkNanos(due(k) - now); now = System.nanoTime() }
          src.addData(offered.slice(k * PerTick, (k + 1) * PerTick).toSeq)
          lateness(k) = (System.nanoTime() - due(k)) / 1e6
          backlog(k) = (k + 1 - committedTicks) * PerTick.toDouble
          k += 1
        }
      }, "whbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    // tick k is carried by the first batch whose end offset reaches k
    val ends = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => endTick(p).get -> commitNs.get(p.batchId).longValue)
      .sortBy(_._1)
    var j = 0
    val lat = (math.min(LeadInTicks, ticks / 2) until ticks).map { k =>
      while (ends(j)._1 < k) j += 1
      (ends(j)._2 - due(k)) / 1e6
    }
    val quarter = math.max(1, ticks / 4)
    val growth = Stats.mean(backlog.takeRight(quarter).toSeq) - Stats.mean(backlog.slice(quarter, 2 * quarter).toSeq)
    Steady(lat, lateness.toSeq, growth, acc.value, offered)
  }

  /** Batch twins of each mirror on the same events, as fingerprints of
    * the same key columns. */
  private def twins(ctx: Ctx, evs: DataFrame): Map[String, String] = {
    val spark = ctx.spark
    def fp(df: DataFrame, keys: Seq[String]) = Fingerprint.of(df.select(keys.map(col): _*))
    val ks = mirrors(spark).map(m => m._1 -> m._3).toMap
    Map(
      "route" -> fp(Dwd.split(spark, ctx.corpus), ks("route")),
      "unique_visit" -> fp(Dwm.uniqueVisit(spark, ctx.corpus), ks("unique_visit")),
      "jump" -> fp(Dwm.userJump(spark, ctx.corpus), ks("jump")),
      "visitor_stats" -> fp(StreamOps.visitorStats(evs), ks("visitor_stats")))
  }

  /** Unique-visit twin of the steady phase: the batch operator on the
    * page events that were offered. */
  private def steadyTwin(ctx: Ctx, offered: Array[Evt]): String = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${ctx.work}/steady_twin"
    spark.createDataset(offered.toSeq).filter(col("event_type").isin("view", "click"))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Fingerprint.of(Dwm.uniqueVisit(spark, dir))
  }

  def run(ctx: Ctx, twinCache: String): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // one state partition per stateful operator: a 5k-event micro-batch
    // split three ways keeps all cores busy on per-task overhead, and the
    // steady-phase latency then swings with every CPU the host steals
    // (measured side by side: 1 partition drains ~15 % faster on ~20 %
    // less CPU, and its latency held under 5-6 % steal where 3 doubled)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val evsDf = Tables.events(spark, ctx.corpus)
      .select("event_id", "user_id", "event_type", "value", "ts").as[Evt]
    val evs = evsDf.collect().sortBy(e => (e.ts.getTime, e.event_id))
    val ms = mirrors(spark)
    val steadyTicks = math.max(200, (ctx.seconds * 1000 / TickMs).toInt)

    // warm-up: every mirror on a short log, and a short steady phase
    ms.foreach { case (name, build, keys) => drain(ctx, name, build, keys, evs.take(DrainBatch), flush = false) }
    steady(ctx, evs, 50)
    ctx.ready()

    val gc0 = Stats.gcMillis()
    final case class Drain(traced: Boolean, batches: Map[String, Seq[Long]], fps: Seq[(String, String)], cpuS: Double)
    val passes = mutable.ArrayBuffer[Drain]()
    while (passes.size < (if (ctx.traced) 2 else 1)) {
      val traced = ctx.traced && passes.size % 2 == 0
      t.setActive(traced)
      val cpu0 = Stats.cpuSeconds()
      val res = ms.map { case (name, build, keys) => name -> drain(ctx, name, build, keys, evs, flush = true) }
      passes += Drain(traced, res.map { case (n, r) => n -> r._1 }.toMap, res.map { case (n, r) => n -> r._2 },
        Stats.cpuSeconds() - cpu0)
      ctx.mark("drain pass " + res.map { case (n, r) =>
        f"$n=${DrainBatch / (Stats.median(r._1.map(_.toDouble)) / 1e9)}%.0f/s" }.mkString(" "))
    }
    t.setActive(ctx.traced)
    val st = steady(ctx, evs, steadyTicks)
    ctx.mark(f"steady p50=${Stats.median(st.latMs)}%.0f lateness p99=${Stats.quantile(st.latenessMs, 0.99)}%.1f backlog growth=${st.backlogGrowth}%.0f")
    t.setActive(false)
    val gcMs = Stats.gcMillis() - gc0
    spark.catalog.clearCache()
    val heapMb = Stats.retainedHeapMb()

    // correctness: every drain and the steady phase against batch twins
    val steadyKey = s"steady_${steadyTicks}x$PerTick"
    val cacheFile = java.nio.file.Paths.get(twinCache)
    val cached: Map[String, String] =
      if (!java.nio.file.Files.exists(cacheFile)) Map.empty
      else java.nio.file.Files.readAllLines(cacheFile).asScala.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val expected =
      if (Layers.mirrors.forall(cached.contains) && cached.contains(steadyKey)) cached
      else {
        val m = cached ++ twins(ctx, evsDf.toDF()) + (steadyKey -> steadyTwin(ctx, st.offered))
        java.nio.file.Files.write(cacheFile, m.map { case (k, v) => s"$k=$v" }.toSeq.asJava)
        m
      }
    val checks = passes.flatMap(_.fps) :+ (steadyKey -> st.fingerprint)
    val mismatched = checks.filter { case (k, fp) => !expected.get(k).contains(fp) }
    mismatched.foreach { case (k, fp) =>
      System.err.println(s"[whbench] $k: stream fingerprint $fp != batch twin ${expected.get(k)}") }
    val observed = checks.groupBy(_._1).map { case (k, xs) => k -> xs.groupBy(_._2).map { case (h, v) => h -> v.size.toLong } }

    val metrics =
      if (!ctx.traced) {
        // each mirror's rate from its median batch; the chain's rate is
        // events through all four mirrors per second of drain time
        val ps = passes.filterNot(_.traced).toSeq
        val perEvent = Layers.mirrors.map { m =>
          Stats.median(ps.flatMap(_.batches(m)).map(_.toDouble)) / 1e9 / DrainBatch }
        Map(
          "throughput_per_s" -> Layers.mirrors.size / perEvent.sum,
          "cpu_s" -> ps.map(_.cpuS).min / (Layers.mirrors.size * evs.length) * 1e6,
          "retained_heap_mb" -> heapMb,
          "jvm.gc_ms" -> gcMs)
      } else {
        def passMs(d: Drain) = d.batches.values.flatten.sum / 1e6
        val tracedNs = passes.filter(_.traced).map(passMs).toSeq
        val plainNs = passes.filterNot(_.traced).map(passMs).toSeq
        Layers.zeros ++ streamLayer(t) ++ Map(
          "generator.latency_p50_ms" -> Stats.quantile(st.latMs, 0.50),
          "generator.latency_p99_ms" -> Stats.quantile(st.latMs, 0.99),
          "generator.lateness_ms" -> Stats.quantile(st.latenessMs, 0.99),
          "generator.backlog_rows" -> st.backlogGrowth,
          "jvm.gc_ms" -> gcMs) ++
          Layers.traceMetrics(tracedNs, plainNs, Nil, Nil).filter(_._1 == "trace.overhead_pct")
      }
    Outcome(metrics, checks.size.toLong, mismatched.size.toLong, observed)
  }

  /** Per-mirror medians over the traced drain batches; state sizes are
    * the peak over those batches, dropped rows their sum. */
  private def streamLayer(t: Tracer): Map[String, Double] =
    Layers.mirrors.flatMap { m =>
      val ps = Option(t.streamProgress.get(m)).map(_.asScala.toSeq).getOrElse(Nil).filter(_.numInputRows > 0)
      def d(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)
      val lag = ps.flatMap { p =>
        for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
          yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli).toDouble
      }
      Map(
        "batch_ms" -> Stats.median(d("triggerExecution")),
        "plan_ms" -> Stats.median(d("queryPlanning")),
        "commit_ms" -> Stats.median(ps.map(p => (p.durationMs.getOrDefault("walCommit", 0L) +
          p.durationMs.getOrDefault("commitOffsets", 0L)).toDouble)),
        "state_rows" -> (0.0 +: ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)).max,
        "state_bytes" -> (0.0 +: ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)).max,
        "rows_dropped_late" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum,
        "watermark_lag_ms" -> Stats.median(lag)
      ).map { case (k, v) => s"streaming.$m.$k" -> v }
    }.toMap
}
