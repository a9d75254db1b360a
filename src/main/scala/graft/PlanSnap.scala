package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for a list of registered queries into
  * per-query files — the r17 optimization round's plan evidence
  * (`plans/r17/<query>_{before,after}.txt`). Unlike PlanDump (PLANS.md,
  * headliners) this writes one file per query with a caller-chosen
  * suffix so before/after pairs diff cleanly.
  *
  * `runMain graft.PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>`
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, list) = args.take(4)
    val names = list.split(',').map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.builderFromEnv().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val unknown = names.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[plansnap] unknown: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plansnap] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
