package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Replicate a testdata scale factor N× with CONSISTENT key shifts —
  * the scale-headroom harness for machines that only carry small SFs:
  * fact tables get shifted primary keys per copy (so group/join
  * cardinalities actually grow), dimension tables stay single-copy
  * (so FK joins keep their shape), and document/embedding copies keep
  * their content (an 8×-duplicated corpus is exactly the
  * boilerplate-heavy shape that stresses the dedup family's bounds).
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <outDir> [mult]`, then
  * point Bench/Verify at `outDir`.
  */
object ScaleGen {

  private def replicate(df: DataFrame, mult: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until mult).map(k => shift(df, k)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 8
    val spark = Sessions.builderFromEnv().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def w(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")

    // dimensions: single copy — FK joins keep their broadcast shape
    Seq("region", "nation", "customer", "supplier", "part").foreach(n => w(t(n), n))

    // facts: shifted PKs per copy, FKs to the single-copy dims intact
    w(replicate(t("orders"), mult) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
    }, "orders")
    w(replicate(t("lineitem"), mult) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
    }, "lineitem")
    // events.ts physical type varies by testdata generation:
    // TIMESTAMP(NANOS) reads as a nanos long under the legacy flag
    // above and must be republished as a real TIMESTAMP_NTZ (micros)
    // or the DuckDB oracle's epoch_ms(ts) breaks on the scaled dir;
    // micros testdata already reads as TIMESTAMP_NTZ and passes
    // through unchanged. Tables.events handles both.
    val ev = t("events")
    val tsOut = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case _                                   => col("ts")
    }
    w(replicate(ev, mult) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k * 1000000L))
        .withColumn("ts", tsOut)
    }, "events")
    // copies keep their text/vector content: id blocks stay below the
    // +100000 near-dup-injection offset the dedup operators use
    w(replicate(t("documents"), mult) { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
    }, "documents")
    w(replicate(t("embeddings"), mult) { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
    }, "embeddings")
    println(s"""{"scale_gen":"$out","mult":$mult,"src":"$src"}""")
    spark.stop()
  }
}
