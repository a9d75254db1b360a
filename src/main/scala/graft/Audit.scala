package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, VectorSearch}

/** "No silent caps" report: every bounded stage in the dedup/ANN
  * family (SimhashPartnerCap, NgramBucketCap, NgramVerifyBudget,
  * VectorSearch.PairCap) emits how many candidates its cap saw,
  * kept, and DROPPED on the given corpus — a silently-capped stage
  * reads as "covered everything" when it didn't, which is exactly
  * what a 100 TB operator cannot afford to assume. Bench embeds this
  * table in its JSON line every run; `runMain graft.Audit <sfDir>`
  * prints it standalone (the scale-ladder transcripts commit it per
  * scale).
  */
object Audit {

  /** One row per capped stage: stage, cap, unit (what's counted),
    * candidates (uncapped volume the stage saw), emitted (survivors),
    * dropped (the difference — the coverage the cap cost). Rows with
    * cap = 0 are MEASUREMENT rows (no bound exists; the split bridge
    * audit) — `dropped` there counts an exposure, not a truncation.
    */
  def capAudit(spark: SparkSession, dir: String): DataFrame =
    Dedup.capAudit(spark, dir)
      .unionByName(VectorSearch.capAudit(spark, dir))
      .unionByName(Dedup.splitBridgeAudit(spark, dir))
      .withColumn("dropped", col("candidates") - col("emitted"))
      .orderBy(col("stage"))

  /** The audit as one JSON object keyed by stage. */
  def json(spark: SparkSession, dir: String): String =
    capAudit(spark, dir).collect().map { r =>
      s""""${r.getAs[String]("stage")}":{"cap":${r.getAs[Long]("cap")},""" +
        s""""unit":"${r.getAs[String]("unit")}",""" +
        s""""candidates":${r.getAs[Long]("candidates")},""" +
        s""""emitted":${r.getAs[Long]("emitted")},""" +
        s""""dropped":${r.getAs[Long]("dropped")}}"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Sessions.builderFromEnv().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"""{"sf":"$sfDir","cap_audit":${json(spark, sfDir)}}""")
    spark.stop()
  }
}
