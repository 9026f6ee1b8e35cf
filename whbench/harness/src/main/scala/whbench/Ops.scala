package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Ads, Dwd, Dwm, Dws}
import graft.sources.{FileSources, ScanMetrics}

/** One warehouse operator as the benchmark calls it. `sinkBy` names
  * the partition column when the reference ships the output to its
  * serving store (ClickHouse), which here is a partitioned parquet sink. */
final case class Op(name: String, layer: String, fn: (SparkSession, String) => DataFrame,
    sinkBy: Option[String] = None)

/** What one timed call returned: its record, the fingerprint of its
  * output (empty for a sink call) and the frame it built. */
final case class Call(rec: OpRecord, hash: String, df: DataFrame)

object Ops {
  /** The reference topology in layer order. */
  val refresh: Seq[Op] = Seq(
    Op("dwd_clean", "dwd", Dwd.clean),
    Op("dwd_dirty", "dwd", Dwd.dirty),
    Op("dwd_split", "dwd", Dwd.split),
    Op("dwd_new_user_flag", "dwd", Dwd.newUserFlag),
    Op("dwd_cdc_route", "dwd", Dwd.cdcRoute),
    Op("dwm_unique_visit", "dwm", Dwm.uniqueVisit),
    Op("dwm_user_jump", "dwm", Dwm.userJump),
    Op("dwm_order_wide", "dwm", Dwm.orderWide, Some("r_name")),
    Op("dwm_payment_wide", "dwm", Dwm.paymentWide),
    Op("dws_visitor_stats", "dws", Dws.visitorStats, Some("is_new")),
    Op("dws_product_stats", "dws", Dws.productStats, Some("category3_name")),
    Op("dws_province_stats", "dws", Dws.provinceStats, Some("n_name")),
    Op("dws_keyword_stats", "dws", Dws.keywordStats),
    Op("ads_gmv", "ads", Ads.gmv),
    Op("ads_trademark_topn", "ads", Ads.trademarkTopN))

  /** Calls the operator and evaluates its whole output to the
    * fingerprint: construct, plan and execute, each a phase span. The
    * plan is forced on its own only when tracing; otherwise planning
    * happens inside execution, as in any caller. */
  def call(t: Tracer, spark: SparkSession, corpus: String, op: Op): Call = {
    val rec = t.newOp(op.name, op.layer)
    var fp: DataFrame = null
    var df: DataFrame = null
    val h = t.op(rec) {
      df = t.phase(rec, "construct")(op.fn(spark, corpus))
      fp = Fingerprint.frame(df)
      if (t.active) t.phase(rec, "plan")(fp.queryExecution.executedPlan)
      t.phase(rec, "exec")(Fingerprint.collect(fp))
    }
    if (t.active) rec.filesRead = ScanMetrics.filesRead(fp)._1
    Call(rec, h, df)
  }

  /** Calls a sink operator: construct, then write its output through
    * the program's partitioned sink. The write is the operator's full
    * evaluation (the reference computes these tables once and ships
    * them); it plans its own write command, so there is no separate
    * plan phase. The fingerprint is taken from the sink afterwards. */
  def callSink(t: Tracer, spark: SparkSession, corpus: String, op: Op, path: String, by: String): Call = {
    val rec = t.newOp(op.name, op.layer)
    rec.sink = true
    var df: DataFrame = null
    t.op(rec) {
      df = t.phase(rec, "construct")(op.fn(spark, corpus))
      t.phase(rec, "exec")(FileSources.writePartitioned(df, path, Seq(by)))
    }
    Call(rec, "", df)
  }

  /** Fingerprint of what the sink wrote, read back with the frame's own
    * schema and column order. */
  def sinkHash(spark: SparkSession, df: DataFrame, path: String): String =
    Fingerprint.of(spark.read.schema(df.schema).parquet(path).select(df.columns.map(col).toIndexedSeq: _*))

  def filesUnder(path: String): Long = {
    val st = Files.walk(Paths.get(path))
    try st.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally st.close()
  }
}
