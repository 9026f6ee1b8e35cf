package whbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the id of the span that caused this one (0 for a root). Times are
  * epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String, kind: String,
    startMs: Double, endMs: Double)

/** Everything recorded about one operator call (or one sink write). */
final class OpRecord(val id: Long, val name: String, val layer: String) {
  val phaseMs = mutable.LinkedHashMap[String, Double]()
  var startMs = 0.0
  var endMs = 0.0
  var filesRead = 0L
  /** True when the call wrote its output through the partitioned sink. */
  var sink = false
  def wallMs: Double = endMs - startMs
}

/** Per-operation counters filled from listener events. */
final class OpCounters {
  val jobs = new AtomicLong
  val eagerJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val bytesRead = new AtomicLong
  val rowsRead = new AtomicLong
  val bytesWritten = new AtomicLong
  @volatile var maxSkew = 1.0
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
}

/** Spans around every call the harness makes into the program, plus
  * the jobs, stages and tasks Spark ran for each call (attributed by
  * the op id the harness puts in the thread's local properties) and
  * one span per streaming micro-batch. Inactive, it only runs the
  * bodies: the untimed and the untraced paths are the same code.
  * Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val OpKey = "whbench.op"
  private val PhaseKey = "whbench.phase"
  private val MarkerOp = -1L
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Long, OpCounters]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val markerSeen = new AtomicLong
  @volatile private var on = false
  val streamProgress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      streamProgress.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue()).add(p)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      spans.add(Span(ids.getAndIncrement(), 0, p.batchId, p.name, "stream_batch", start, start + dur))
    }
  }

  def active: Boolean = on

  /** Attaches or detaches both listeners. */
  def setActive(b: Boolean): Unit = if (b != on) {
    if (b) { on = true; sc.addSparkListener(this); spark.streams.addListener(streamListener) }
    else { settle(); on = false; sc.removeSparkListener(this); spark.streams.removeListener(streamListener) }
  }

  def counter(op: Long): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  def newOp(name: String, layer: String): OpRecord = new OpRecord(ids.getAndIncrement(), name, layer)

  /** Runs `body` as the operation's root span. */
  def op[T](rec: OpRecord)(body: => T): T = {
    val e0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      rec.startMs = e0
      rec.endMs = e0 + (System.nanoTime() - t0) / 1e6
      if (on) spans.add(Span(rec.id, 0, rec.id, rec.name, rec.layer, rec.startMs, rec.endMs))
    }
  }

  /** Runs `body` as a named phase span (construct, plan, exec, write)
    * under the operation; jobs it starts are attributed to it. */
  def phase[T](rec: OpRecord, name: String)(body: => T): T = {
    if (on) { sc.setLocalProperty(OpKey, rec.id.toString); sc.setLocalProperty(PhaseKey, name) }
    val e0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      rec.phaseMs(name) = rec.phaseMs.getOrElse(name, 0.0) + ms
      if (on) {
        spans.add(Span(ids.getAndIncrement(), rec.id, rec.id, rec.name, name, e0, e0 + ms))
        sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null)
      }
    }
  }

  /** Tags jobs started by `body` on this thread with `rec`, without a
    * phase span (streaming queries inherit it when started inside). */
  def tag[T](rec: OpRecord)(body: => T): T = {
    if (on) { sc.setLocalProperty(OpKey, rec.id.toString); sc.setLocalProperty(PhaseKey, "stream") }
    try body
    finally if (on) { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null) }
  }

  /** Waits until the listener has seen every event posted so far: a
    * marker job's start is queued behind them. */
  def settle(): Unit = if (on) {
    val before = markerSeen.get
    sc.setLocalProperty(OpKey, MarkerOp.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 5000000000L
    while (markerSeen.get == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).foreach { op =>
      if (op == MarkerOp) markerSeen.incrementAndGet()
      else {
        jobOp.put(e.jobId, op)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageOp.put(s, op))
        val c = counter(op)
        c.jobs.incrementAndGet()
        if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("construct"))
          c.eagerJobs.incrementAndGet()
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobOp.get(e.jobId)).foreach { op =>
    val start = jobStartMs.get(e.jobId).longValue
    counter(op.longValue).jobIntervals.add((start, e.time))
    spans.add(Span(ids.getAndIncrement(), op, op, s"job ${e.jobId}", "job", start.toDouble, e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach { op =>
    val c = counter(op.longValue)
    c.tasks.incrementAndGet()
    val ti = e.taskInfo
    stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue()).add(ti.duration)
    spans.add(Span(ids.getAndIncrement(), op, op, s"task ${e.stageId}.${ti.index}", "task",
      ti.launchTime.toDouble, ti.finishTime.toDouble))
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.rowsRead.addAndGet(m.inputMetrics.recordsRead)
      c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOp.get(info.stageId)).foreach { op =>
      val c = counter(op.longValue)
      c.stages.incrementAndGet()
      val ms = Option(stageTaskMs.get(info.stageId)).map(_.asScala.map(_.toDouble).toSeq).getOrElse(Nil)
      if (ms.size >= 2) {
        val med = Stats.median(ms)
        if (med > 0) c.maxSkew = math.max(c.maxSkew, ms.max / med)
      }
      val start = info.submissionTime.getOrElse(0L).toDouble
      spans.add(Span(ids.getAndIncrement(), op, op.longValue, s"stage ${info.stageId}", "stage",
        start, info.completionTime.map(_.toDouble).getOrElse(start)))
    }
  }

  /** The op's time not covered by any of its Spark jobs: driver-side
    * work (building, analysing and planning queries, collecting). */
  def selfMs(rec: OpRecord): Double = {
    val lo = rec.startMs; val hi = rec.endMs
    val iv = counter(rec.id).jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, rec.wallMs - covered)
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  def spanCount: Int = spans.size
}
