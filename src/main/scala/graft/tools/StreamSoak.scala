package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Load soak for the stateful streaming mirrors (r10 verdict #5): the
  * MemoryStream specs prove CORRECTNESS batch-by-batch but record
  * nothing about throughput or state-store footprint under sustained
  * load. This tool drives each stateful family member from a `rate`
  * source at a per-op target rate for a fixed wall-clock soak and
  * reports, from `StreamingQueryProgress`:
  *   - sustained rows/s (mean processedRowsPerSecond over post-warmup
  *     batches — if the op can't keep up, batches back up and this IS
  *     the measured capacity, not the offered rate)
  *   - state rows (`numRowsTotal`) and state memory
  *     (`memoryUsedBytes`) at soak end, i.e. the footprint one
  *     watermark horizon of load actually costs
  *   - batches and total rows processed.
  *
  * Event synthesis mirrors the testdata's shape: user_id from a hash
  * spread over [[NumUsers]] keys (state bounds are per-key claims —
  * key cardinality is the lever), event_type a fixed 10-way mix with
  * purchases rare (attribution/funnel conversions), ts = an
  * ACCELERATED synthetic event clock (1 ms per row — see [[evt]]) so
  * watermarks close and the ripen/prune cycle runs inside the soak.
  * For the near-dup gate each row becomes a 40-word document of hashed
  * hex words (shingle-able, near-unique — matches stay rare, as in a
  * real ingest), and the corpus side is the sf0.01 documents table,
  * exactly the batch `Dedup.bandIndex` build the op ships with.
  *
  * Usage: runMain graft.tools.StreamSoak [soakSeconds] [sfDir] [families]
  * (families: comma list of [[Families]]; default [[DefaultFamilies]])
  * Output: one human table + one JSON line per op on stdout.
  */
object StreamSoak {
  /** Distinct-user cardinality of the synthetic stream — the lever for
    * probing the "state is user-dim-bounded" claims (override with
    * SPARK_GRAFT_SOAK_USERS; the r11 table ran 50k and 500k). */
  private val NumUsers =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_USERS", "50000").toLong

  /** value → Evt columns. Event time is an ACCELERATED synthetic
    * clock — 1 ms of event time per row, so at 200k rows/s event time
    * advances ~200× faster than wall clock and the 10-minute
    * watermark horizon closes ~3 wall-seconds behind the head. The
    * first soak ran on the rate source's own wall-clock timestamps
    * and measured nothing but buffer accumulation: no event ever aged
    * past the watermark inside the soak, so the buffer-until-ripe ops
    * reported O(total-rows) state that was all unripe buffer. With
    * the accelerated clock the ripen/prune cycle actually runs and
    * state settles to the real per-horizon footprint. */
  private def evt(rate: DataFrame): DataFrame = evt(rate, NumUsers)

  private def evt(rate: DataFrame, users: Long): DataFrame = {
    val types = array(
      lit("view"), lit("view"), lit("view"), lit("click"), lit("click"),
      lit("start"), lit("display"), lit("cart"), lit("favor"), lit("purchase"))
    rate.select(
      col("value").as("event_id"),
      pmod(xxhash64(col("value")), lit(users)).as("user_id"),
      element_at(types, (pmod(xxhash64(col("value"), lit(7)), lit(10)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("value"), lit(11)), lit(500)) + 1).cast("double").as("value"),
      timestamp_millis(lit(1700000000000L) + col("value")).as("ts"))
  }

  /** value → a 40-hashed-word document (codegen-friendly: a flat
    * concat_ws over 40 xxhash64 terms, no lambda). */
  private def doc(rate: DataFrame): DataFrame = {
    val words = Seq.tabulate(40)(i => hex(xxhash64(col("value") * 131L + lit(i))))
    rate.select(
      col("value").as("doc_id"),
      concat_ws(" ", words: _*).as("text"),
      timestamp_millis(lit(1700000000000L) + col("value")).as("ts"))
  }

  private def rateSource(s: SparkSession, rps: Long): DataFrame =
    s.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8)
      .load()

  /** Runs one op for `soakSec` against a rate source at `rps`, returns
    * the progress digest. */
  private def soak(s: SparkSession, name: String, rps: Long, soakSec: Int)(
      build: DataFrame => DataFrame): String = {
    // recentProgress is capped by this conf (default 100): with the
    // 2 s trigger a soak past ~200 s would silently undercount batches
    // and total rows — size the buffer to the soak length instead
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(100, soakSec).toString)
    val out = build(rateSource(s, rps))
    val q = out.writeStream
      .format("noop")
      .queryName(name)
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .option("checkpointLocation", s"/tmp/soak_ckpt/$name")
      .start()
    try {
      Thread.sleep(soakSec * 1000L)
      val progress = q.recentProgress.toSeq
      // warmup: drop the first third of batches (JIT + state-store open)
      val settled = progress.drop(math.max(1, progress.size / 3))
        .filter(_.numInputRows > 0)
      val rowsPerSec =
        if (settled.isEmpty) 0.0
        else settled.map(_.processedRowsPerSecond).sum / settled.size
      val totalRows = progress.map(_.numInputRows).sum
      val last = progress.lastOption
      val stateRows = last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      val stateBytes = last.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
      val nStateOps = last.map(_.stateOperators.length).getOrElse(0)
      f"""{"op":"$name","offered_rps":$rps,"rows_per_sec":$rowsPerSec%.0f,"batches":${progress.size},"total_rows":$totalRows,"state_rows":$stateRows,"state_bytes":$stateBytes,"state_operators":$nStateOps}"""
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the RocksDB state store provider set, restoring
    * the previous provider after (the StreamingSpec swap pattern) —
    * the alternate-provider measurement, the analogue of the
    * reference's Flink state backend. */
  private def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Slack subtracted below the committed-watermark horizon in
    * [[safeHorizon]] — covers the strict-inequality edge of the
    * timeout semantics (a timeout set at ts+gap+1 fires only once the
    * batch watermark EXCEEDS it), with generous room. */
  private[graft] val HorizonSlackMs = 60000L

  /** The kill-and-restore compare horizon (r14 verdict-1). A jump
    * verdict with ts_ms = X is GUARANTEED emitted in a committed batch
    * once a batch ran with watermark > X + gap + 1 (the event-time
    * timeout path confirms any still-pending candidate; the next-event
    * path can only emit earlier). So every verdict with
    * X ≤ W − gap − slack, where W is the run's LAST COMMITTED batch's
    * watermark, is in that run's exactly-once sink. The r14 horizon
    * used max(emitted ts_ms) − constant instead, which overshoots at
    * saturation: the pair path emits verdicts up to the PROCESSED
    * frontier while the timeout path (the completeness guarantee) only
    * covers the WATERMARK frontier, which lags by the whole backlog
    * when a restarted query swallows its downtime burst — both
    * ladder-top rows read equal:false from exactly that gap.
    * StreamSoakSpec pins this rule. */
  private[graft] def safeHorizon(refWmMs: Option[Long], kilWmMs: Option[Long],
      gapMs: Long): Option[Long] =
    for (r <- refWmMs; k <- kilWmMs)
      yield math.min(r, k) - gapMs - HorizonSlackMs

  /** Parses an ISO-8601 watermark; None when absent, unparseable, or
    * still at the epoch (never advanced). */
  private[graft] def parseWatermark(iso: String): Option[Long] =
    Option(iso).flatMap { s =>
      try {
        val ms = java.time.Instant.parse(s).toEpochMilli
        if (ms > 0L) Some(ms) else None
      } catch { case _: java.time.format.DateTimeParseException => None }
    }

  /** The committed watermark of a progress (the watermark USED by that
    * batch — event-time timers with expiry below it fired in or before
    * the batch); None when no batch committed or it never advanced. */
  private[graft] def watermarkMs(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Option[Long] =
    Option(p).flatMap(pp => parseWatermark(pp.eventTime.get("watermark")))

  /** Kill-and-restore under load (r12 verdict-4): runs jumpDetect
    * twice over the SAME deterministic rate-derived event stream —
    * once continuously, once STOPPED at half-soak and restarted from
    * its checkpoint — both into exactly-once parquet sinks, and
    * asserts the jump VERDICT SETS are identical below the safe
    * horizon ([[safeHorizon]]: the two runs' committed watermark
    * frontiers, minus gap + slack, all event-time). Users are spread
    * 5M wide so most events are isolated and verdicts are DENSE — a
    * lost/duplicated state row after restore shows up as a set
    * difference, not silence.
    *
    * r14 (verdict-6): parameterized by offered rate so the
    * `restore_top` family can prove recovery at the highest clean
    * measured rate (800k on RocksDB), not just at the 200k cruise
    * rate; `opTag` names the row. */
  private def restoreCheck(s: SparkSession, soakSec: Int,
      rps: Long = 200000L, opTag: String = "jumpDetect"): String = {
    val root = s"/tmp/soak_restore/$opTag@$rps"
    rmTree(root)
    val users = 5000000L
    // returns the run's final committed-batch watermark (for the
    // killed run: the restarted query's if it committed any batch,
    // else the first query's — the checkpointed watermark only
    // advances across the restart)
    def run(tag: String, kill: Boolean): Option[Long] = {
      def start() = StreamOps.jumpDetect(evt(rateSource(s, rps), users)
          .as[StreamOps.Evt](org.apache.spark.sql.Encoders.product[StreamOps.Evt]))
        .writeStream
        .format("parquet")
        .option("path", s"$root/$tag/data")
        .option("checkpointLocation", s"$root/$tag/ckpt")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .outputMode("append")
        .start()
      if (!kill) {
        val q = start(); Thread.sleep(soakSec * 1000L)
        val wm = watermarkMs(q.lastProgress)
        q.stop(); q.awaitTermination()
        wm
      } else {
        val q1 = start(); Thread.sleep(soakSec * 500L)
        val wm1 = watermarkMs(q1.lastProgress)
        q1.stop(); q1.awaitTermination()
        val q2 = start(); Thread.sleep(soakSec * 500L)
        val wm2 = watermarkMs(q2.lastProgress)
        q2.stop(); q2.awaitTermination()
        wm2.orElse(wm1)
      }
    }
    val refWm = run("ref", kill = false)
    val kilWm = run("killed", kill = true)
    val ref = s.read.parquet(s"$root/ref/data")
    val kil = s.read.parquet(s"$root/killed/data")
    import org.apache.spark.sql.functions.col
    val horizon = safeHorizon(refWm, kilWm, graft.operators.Sessions.GapMs)
    if (horizon.isEmpty) {
      val which =
        if (refWm.isEmpty && kilWm.isEmpty) "both"
        else if (refWm.isEmpty) "ref" else "restored"
      return s"""{"op":"$opTag[kill+restore]","offered_rps":$rps,"equal":false,"reason":"no committed watermark in $which run"}"""
    }
    val bound = horizon.get
    val r = ref.filter(col("ts_ms") <= bound)
    val k = kil.filter(col("ts_ms") <= bound)
    val nRef = r.count()
    val onlyRef = r.exceptAll(k).count()
    val onlyKil = k.exceptAll(r).count()
    val ok = onlyRef == 0 && onlyKil == 0 && nRef > 0
    s"""{"op":"$opTag[kill+restore]","offered_rps":$rps,"watermark_bound_ms":$bound,"verdicts_below_bound":$nRef,"only_in_ref":$onlyRef,"only_in_restored":$onlyKil,"equal":$ok}"""
  }

  /** The families run by default; `restore_top` (kill+restore at the
    * highest clean rate — r14) is opt-in. */
  private[graft] val DefaultFamilies =
    Set("windowed", "cep", "rocksdb", "restore", "gate")
  private[graft] val Families = DefaultFamilies + "restore_top"

  /** Parses the comma-separated families argument. An unknown name is
    * an error, not a silent no-op: a typo would otherwise run nothing
    * and print an empty result list. */
  private[graft] def parseFamilies(arg: String): Set[String] = {
    val fams = arg.split(",").toSet
    val unknown = fams -- Families
    require(unknown.isEmpty,
      s"unknown StreamSoak families ${unknown.toSeq.sorted.mkString(",")}; " +
        s"valid: ${Families.toSeq.sorted.mkString(",")}")
    fams
  }

  private def rmTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  def main(args: Array[String]): Unit = {
    val soakSec = args.headOption.map(_.toInt).getOrElse(45)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val fams =
      if (args.length > 2) parseFamilies(args(2)) else DefaultFamilies
    // fresh checkpoints per run (state footprint must start from zero)
    rmTree("/tmp/soak_ckpt")
    val spark = graft.Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._
    graft.Graft.registerFunctions(spark)

    def evts(r: DataFrame) = evt(r).as[StreamOps.Evt]

    val results = Seq.newBuilder[String]
    if (fams("windowed")) results ++= Seq(
      // windowed-distinct spectrum: rows-state vs bitmap-state vs HLL
      soak(spark, "dauStream", 400000L, soakSec)(r => StreamOps.dauStream(evt(r))),
      soak(spark, "bitmapDistinctWindowed", 400000L, soakSec)(r =>
        StreamOps.bitmapDistinctWindowed(evt(r))),
      soak(spark, "approxDistinctWindowed", 400000L, soakSec)(r =>
        StreamOps.approxDistinctWindowed(evt(r))),
      // flatMapGroupsWithState family: per-key touch/conversion state.
      // 1-hour lookback window (event time): at the accelerated clock
      // that is ~18 wall-seconds, so horizon pruning runs IN-soak —
      // the default 24 h window would simply never prune here and the
      // reading would again be accumulation, not footprint
      soak(spark, "attributionStream", 200000L, soakSec)(r =>
        StreamOps.attributionStream(evts(r), windowUs = 3600000000L).toDF()),
      soak(spark, "sequenceCountStream", 200000L, soakSec)(r =>
        StreamOps.sequenceCountStream(evts(r)).toDF()))
    if (fams("cep")) results ++= Seq(
      // the per-key CEP family (r12 verdict-4): first-visit state,
      // loose bounce candidate/confirm, strict buffer-until-watermark
      // CEP, and the 3-stage funnel ladder (1 h conversion window =
      // ~18 wall-seconds at the accelerated clock, so anchors expire
      // in-soak)
      soak(spark, "uniqueVisit", 200000L, soakSec)(r =>
        StreamOps.uniqueVisit(evts(r)).toDF()),
      soak(spark, "jumpDetect", 200000L, soakSec)(r =>
        StreamOps.jumpDetect(evts(r)).toDF()),
      soak(spark, "jumpDetectStrict", 200000L, soakSec)(r =>
        StreamOps.jumpDetectStrict(evts(r)).toDF()),
      soak(spark, "funnelStream", 200000L, soakSec)(r =>
        StreamOps.funnelStream(evts(r), windowUs = 3600000000L).toDF()))
    if (fams("rocksdb"))
      // the cep family's jumpDetect on the alternate provider: same
      // load, same rate, directly comparable rows/s and footprint
      results += withRocksDb(spark)(
        soak(spark, "jumpDetect[rocksdb]", 200000L, soakSec)(r =>
          StreamOps.jumpDetect(evts(r)).toDF()))
    if (fams("restore"))
      results += restoreCheck(spark, soakSec)
    if (fams("restore_top"))
      // r13 verdict-6: recovery proven AT the measured capacity (the
      // highest clean rate, 800k), on the RocksDB provider
      results += withRocksDb(spark)(
        restoreCheck(spark, soakSec, 800000L, "jumpDetect[rocksdb]"))
    if (fams("gate")) {
      // the ingest gate: shingle+128-hash signature per doc + band join
      val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      results += soak(spark, "nearDupGate", 20000L, soakSec)(r =>
        StreamOps.nearDupGate(doc(r), corpus))
    }

    println("=== StreamSoak results ===")
    results.result().foreach(println)
    spark.stop()
  }
}
