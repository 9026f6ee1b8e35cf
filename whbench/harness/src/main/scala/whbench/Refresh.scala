package whbench

import scala.collection.mutable

/** `warehouse_refresh`: one caller, closed loop. A pass runs the
  * reference topology's operators in layer order. Each is evaluated to
  * its fingerprint, except the four whose output the reference ships to
  * its serving store: those are evaluated by writing them through the
  * partitioned sink, and fingerprinted from the sink afterwards. */
object Refresh {
  /** Untimed passes before timing: the first pass runs on a cold JIT
    * and plans every query for the first time. */
  private val WarmPasses = 1

  final case class Pass(ms: Double, cpuS: Double, calls: Seq[Call])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sinkRoot = s"${ctx.work}/sink"
    val inputRows = Ctx.readTables(ctx)
    val observed = mutable.Map[String, mutable.Map[String, Long]]()
    def see(name: String, h: String): Unit = {
      val m = observed.getOrElseUpdate(name, mutable.Map())
      m(h) = m.getOrElse(h, 0L) + 1
    }

    def pass(check: Boolean): Pass = {
      spark.catalog.clearCache()
      val cpu0 = Stats.cpuSeconds()
      val calls = Ops.refresh.map { op =>
        op.sinkBy match {
          case Some(by) => Ops.callSink(t, spark, ctx.corpus, op, s"$sinkRoot/${op.name}", by)
          case None => Ops.call(t, spark, ctx.corpus, op)
        }
      }
      val cpu = Stats.cpuSeconds() - cpu0
      t.settle()
      if (check) calls.foreach { c =>
        see(c.rec.name, if (c.rec.sink) Ops.sinkHash(spark, c.df, s"$sinkRoot/${c.rec.name}") else c.hash)
      }
      Pass(calls.map(_.rec.wallMs).sum, cpu, calls)
    }

    (1 to WarmPasses).foreach(_ => pass(check = false))
    ctx.ready()

    // timed passes until the run's time is used, and at least two: the
    // first timed pass still carries JIT warm-up, so the best call of
    // each operator comes from a later one. A traced run alternates
    // traced and untraced passes, two of each at least.
    val gc0 = Stats.gcMillis()
    val start = System.nanoTime()
    val budgetMs = ctx.seconds * 1000
    val minPasses = if (ctx.traced) 4 else 2
    val passes = mutable.ArrayBuffer[(Boolean, Pass)]()
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e6 < budgetMs) {
      val traced = ctx.traced && passes.size % 2 == 0
      t.setActive(traced)
      passes += traced -> pass(check = true)
      ctx.mark(f"pass ${passes.size}: ${passes.last._2.ms}%.0f ms")
    }
    t.setActive(false)
    val gcMs = Stats.gcMillis() - gc0
    spark.catalog.clearCache()
    val heapMb = Stats.retainedHeapMb()

    val attempted = passes.map(_._2.calls.size).sum.toLong
    val metrics =
      if (!ctx.traced) {
        val ps = passes.map(_._2).toSeq
        // each operator's best call of the run: contention from other
        // tenants only ever adds time, and the first timed pass still
        // carries some JIT warm-up
        val best = ps.flatMap(_.calls).groupBy(_.rec.name).values.map(cs => cs.map(_.rec.wallMs).min).toSeq
        Map(
          "throughput_per_s" -> inputRows / (best.sum / 1000),
          "cpu_s" -> ps.map(_.cpuS).min,
          "retained_heap_mb" -> heapMb,
          "jvm.gc_ms" -> gcMs)
      } else {
        val (tr, pl) = passes.toSeq.partition(_._1)
        val recs = tr.flatMap(_._2.calls.map(_.rec))
        val filesWritten = Ops.refresh.filter(_.sinkBy.nonEmpty)
          .map(op => Ops.filesUnder(s"$sinkRoot/${op.name}").toDouble).sum
        Layers.zeros ++ Layers.opLayerMetrics(t, recs) ++
          Layers.tableMetricsOf(t, recs, tr.size, filesWritten * tr.size) ++
          Layers.traceMetrics(tr.map(_._2.ms), pl.map(_._2.ms), recs, pl.flatMap(_._2.calls.map(_.rec))) ++
          Map("jvm.gc_ms" -> gcMs)
      }
    Outcome(metrics, attempted, 0L, observed.map { case (k, v) => k -> v.toMap }.toMap)
  }
}
