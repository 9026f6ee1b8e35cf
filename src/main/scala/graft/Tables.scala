package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Loaders for the driver-generated TPC-H-ish tables.
  *
  * Mapping to the reference (gmall-flink-2021):
  *  - `events`   plays the Kafka page-log / CDC streams (ods_base_log,
  *    gmall-realtime/src/main/java/com/atguigu/app/dwd/BaseLogApp.java)
  *  - `orders`/`lineitem` play order_info/order_detail
  *    (app/dwm/OrderWideApp.java)
  *  - `customer`→`nation`→`region`, `part`, `supplier` play the DIM_*
  *    tables looked up in app/func/DimAsyncFunction.java
  *  - `documents` feeds keyword/text ops (app/dws/KeywordStatsApp.java)
  *  - `embeddings` feeds the similarity-search extensions.
  *
  * All reads are plain parquet scans so Catalyst keeps pushdown/pruning.
  */
object Tables {
  /** Schema memo (r14): `spark.read.parquet(path)` re-infers the
    * schema on EVERY call by reading parquet footers — a fixed
    * ~40-80 ms driver cost charged to each of the ~600 table
    * constructions in a bench sweep. The memo plays the metastore's
    * role: the FIRST read of a path still infers from the files
    * themselves (nothing is hard-coded — a regenerated corpus with a
    * different encoding re-derives on first touch), and every later
    * read passes the known schema so planning skips footer I/O. Keyed
    * by full path PLUS the path's mtime: different SF dirs never share
    * an entry, and a same-path rewrite (specs regenerate temp corpora
    * in place) invalidates by changing the mtime — one local stat per
    * construction buys the safety. Data reads are untouched — this
    * caches table METADATA, not results. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def p(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // r15 (r14 verdict-7): for a DIRECTORY table the key folds in the
    // max child mtime too — an in-place part-file rewrite that adds or
    // removes no directory entry may leave the dir mtime untouched and
    // would otherwise serve a stale schema
    val mtime =
      try {
        val pp = java.nio.file.Paths.get(path)
        val own = java.nio.file.Files.getLastModifiedTime(pp).toMillis
        if (java.nio.file.Files.isDirectory(pp)) {
          val st = java.nio.file.Files.list(pp)
          try st.mapToLong { f =>
            try java.nio.file.Files.getLastModifiedTime(f).toMillis
            catch { case NonFatal(_) => 0L }
          }.reduce(own, math.max)
          finally st.close()
        } else own
      } catch { case NonFatal(_) => 0L }
    val schema = schemaMemo.computeIfAbsent(s"$path@$mtime",
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** r14, guide §2.5 ("input skew: one huge unsplittable file —
    * repartition immediately after the read"): a corpus that fits in
    * ONE scan split (single parquet file, single row group — exactly
    * how the test corpora ship) is read by ONE task, so every per-row
    * expression upstream of the first exchange — dot products, gram
    * fan-outs, binary decodes — runs on one core while the rest idle.
    * `spread` hash-repartitions such a scan to the session's default
    * parallelism, keyed on `key` for deterministic row placement
    * (never round-robin: retried tasks must reproduce placement
    * without the sort-before-repartition tax). The condition DERIVES
    * from input size vs the session's split size, not a local-mode
    * constant: a corpus bigger than one split already carries natural
    * scan parallelism and is returned untouched, so at scale no
    * shuffle is added and the added exchange is bounded by one split
    * of bytes. Explicit-N repartition is exempt from AQE partition
    * coalescing, so the spread survives to the expressions it feeds. */
  def spread(s: SparkSession, df: DataFrame, dir: String, name: String,
      key: org.apache.spark.sql.Column): DataFrame = {
    val path = java.nio.file.Paths.get(s"$dir/$name.parquet")
    val bytes =
      try {
        if (java.nio.file.Files.isDirectory(path)) {
          val st = java.nio.file.Files.list(path)
          try st.mapToLong(f => try java.nio.file.Files.size(f) catch {
            case NonFatal(_) => 0L
          }).sum()
          finally st.close()
        } else java.nio.file.Files.size(path)
      } catch { case NonFatal(_) => Long.MaxValue }
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    if (bytes < maxSplit) df.repartition(s.sparkContext.defaultParallelism, key)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame   = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = p(s, d, "lineitem")
  /** embeddings is ALWAYS consumed through heavy per-row expressions
    * (dot products, signature probes), so it arrives [[spread]]; the
    * whole similarity family measured flat-to-better with it (r14,
    * emb_knn_graph 4.5 → 0.6 s). documents is split by MEASURED
    * consumer shape instead: shingle/verify/per-row-scoring operators
    * call [[documentsSpread]], while gram-aggregation shapes (pmi,
    * lm_bigram, corpus_report, the gram-join family) and the
    * contraction loop keep the plain single-split read — their
    * map-side partial aggregation collapses duplicate grams best in
    * few large tasks, and the sweep read +0.1..+0.6 s per query with
    * a blanket spread. lineitem/orders consumers are scan-bound
    * aggregates where an extra exchange costs more than it
    * parallelizes — never spread. */
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, p(s, d, "documents"), d, "documents", col("doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, p(s, d, "embeddings"), d, "embeddings", col("vec_id"))

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark only reads as a long (spark.sql.legacy.parquet.nanosAsLong)
    * — or plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → read as
    * TIMESTAMP_NTZ). The loader normalizes both to the same layout: the
    * exact stored value in `ts_ns` (nanos; micro-sourced data carries
    * zero sub-micro digits), `ts_us = ts_ns div 1000` — the resolution
    * DuckDB sees in either encoding, so every oracle-compared ordering /
    * gap comparison runs on `ts_us` (with unique `event_id` as
    * tie-break) — and a micro-precision `ts` timestamp for window ops.
    * The NTZ branch converts with naive-datetime arithmetic
    * (`timestampdiff` from the epoch), never a session-timezone cast,
    * so `ts_us` is the stored value on every host timezone.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = p(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsNs = raw.schema("ts").dataType match {
      case LongType => col("ts") // TIMESTAMP(NANOS): raw nanos long
      case TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * lit(1000L)
      case _ => // instant-typed micros (TIMESTAMP_LTZ)
        unix_micros(col("ts")) * lit(1000L)
    }
    raw.select(col("event_id"), tsNs.as("ts_ns"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    // NOT spread (r14, measured): every event consumer re-keys by
    // user/session/window almost immediately, so a spread here is a
    // pure extra exchange — the sweep read +0.4..+1.2 s across the
    // ea_*/asof/rfm family with it, against no pre-exchange heavy work
  }
}
