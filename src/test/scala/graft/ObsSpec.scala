package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.TopK

/** The one metrics listener ([[Obs]]) and the single-mechanism rules
  * around it: one session builder, one listener, no dev-probe tools.
  */
class ObsSpec extends SparkSpec {

  // a child session of the shared one: its Obs sees only this spec's
  // SQL actions, and is detached again in afterAll
  private lazy val session: SparkSession = spark.newSession()
  private lazy val obs = Obs.attach(session)

  override def afterAll(): Unit = {
    session.sparkContext.removeSparkListener(obs)
    session.listenerManager.unregister(obs)
  }

  private def t(name: String): DataFrame = session.read.parquet(s"$sfDir/$name.parquet")

  // the lambda filter and the TopKAgg print a per-run variable counter
  // and an object identity hash into the plan text (the final filter
  // keeps count() from pruning the aggregates)
  private def revenueBy(dim: String, key: String, dimKey: String, group: String): DataFrame =
    t("lineitem").where(exists(array(col("l_quantity")), _ > 0))
      .join(t(dim), col(key) === col(dimKey))
      .groupBy(col(group)).agg(sum(col("l_extendedprice")).as("rev"),
        TopK.topK(3)(col("l_extendedprice").cast("double"), col("l_orderkey").cast("long"))
          .as("top"))
      .where(col("rev") > 0 && size(col("top")) > 0)

  private def sources(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val dir = new File(root)
    assert(dir.isDirectory, s"source root $root not found from ${new File(".").getAbsolutePath}")
    walk(dir).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("one session builder, one metrics listener, no probe tools") {
    val main = sources("src/main/scala")
    val all = main ++ sources("src/test/scala")
    val builderCall = "SparkSession" + ".builder("
    assert(all.filter(f => read(f).contains(builderCall)).map(_.getName).toSet ==
      Set("Sessions.scala"))
    val listenerDef = "(extends|new)\\s+(org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b".r
    val defs = main.flatMap(f => listenerDef.findAllIn(read(f)).map(_ => f.getName))
    assert(defs.sorted == Seq("DfCache.scala", "Obs.scala"), defs)
    assert(read(main.find(_.getName == "DfCache.scala").get).contains("onApplicationEnd"))
    assert(all.filter(_.getName.endsWith("Probe.scala")).isEmpty)
  }

  test("plan receipt: executed plan's hash, stable across runs, moved by a different join") {
    assert(Obs.attach(session) eq obs, "attach must return the session's one listener")
    // the executed plans themselves, seen by a plain listener
    val executed = new ConcurrentLinkedQueue[String]()
    val plain = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(plain)
    try {
      def countOnce(df: DataFrame): Obs.Plan = {
        obs.take()
        executed.clear()
        df.count()
        val plans = obs.take().plans
        assert(plans.size == 1 && executed.size == 1, s"$plans / $executed")
        plans.head
      }
      val orders = revenueBy("orders", "l_orderkey", "o_orderkey", "o_orderpriority")
      val first = countOnce(orders)
      val plan = executed.peek()
      assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan)
      assert(plan.contains("lambda x_") && plan.contains("TopKAgg@"), plan)
      assert(first.hash == Obs.planHash(plan))
      // the frame's own queryExecution never ran: its plan is the
      // initial adaptive one, so a hash of it would miss any re-plan
      val unexecuted = orders.queryExecution.executedPlan.toString
      assert(unexecuted.contains("isFinalPlan=false"), unexecuted)
      assert(first.hash != Obs.planHash(unexecuted))
      assert(first.planMs >= 0)

      val again = countOnce(revenueBy("orders", "l_orderkey", "o_orderkey", "o_orderpriority"))
      assert(again.hash == first.hash)
      assert(again.planMs >= 0)

      val parts = countOnce(revenueBy("part", "l_partkey", "p_partkey", "p_brand"))
      assert(parts.hash != first.hash)
    } finally session.listenerManager.unregister(plain)
  }

  test("back-to-back queries get their own task sums and stage rows") {
    // a plain onTaskEnd tally over the same spans
    val plain = Array.fill(6)(new AtomicLong())
    val tally = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Seq(m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled)
          .zip(plain).foreach { case (v, a) => a.addAndGet(v) }
      }
    }
    session.sparkContext.addSparkListener(tally)
    try {
      def span(df: DataFrame): (Obs.Span, Seq[Long]) = {
        obs.take()
        val before = plain.map(_.get).toSeq
        df.count()
        val s = obs.take()
        (s, plain.map(_.get).toSeq.zip(before).map { case (a, b) => a - b })
      }
      val (s1, p1) = span(revenueBy("orders", "l_orderkey", "o_orderkey", "o_orderpriority"))
      val (s2, p2) = span(revenueBy("part", "l_partkey", "p_partkey", "p_brand"))
      assert(s1.tasks.toSeq == p1)
      assert(s2.tasks.toSeq == p2)
      for (s <- Seq(s1, s2)) {
        assert(s.stages.nonEmpty)
        assert(s.stages.map(_.runMs).sum == s.tasks(0))
        assert(s.stages.map(_.shuffleWriteBytes).sum == s.tasks(3))
        assert(s.tasks(3) > 0, "the aggregate must shuffle")
      }
      assert(s1.stages.map(_.id).max < s2.stages.map(_.id).min)
      assert(s2.stages.exists(_.rdds.nonEmpty))
      assert(s2.stages.forall(!_.rdds.contains('\n')), "a stage's RDD chain is one line")
    } finally session.sparkContext.removeSparkListener(tally)
  }
}
