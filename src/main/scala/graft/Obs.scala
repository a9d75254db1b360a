package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics listener: per-task sums, one row per completed
  * stage, and one plan receipt per SQL action, each read back through
  * [[take]] as everything seen since the previous take. Bench runs its
  * queries one after another, so a take after each query attributes
  * the span to that query.
  *
  * A plan receipt keeps the normalized hash of the EXECUTED plan (the
  * action's own `QueryExecution`, so an AQE re-plan shows as a hash
  * flip) and the action's analysis + optimization + planning ms from
  * its tracker. It never keeps the `QueryExecution` itself: a retained
  * plan can pin a broadcast relation for the session's lifetime.
  */
final class Obs private (sc: SparkContext) extends SparkListener with QueryExecutionListener {
  // summed over tasks, in [[Obs.Span]]`.tasks` order
  private val sums = Array.fill(6)(new AtomicLong())
  private val stages = new ConcurrentLinkedQueue[Obs.Stage]()
  private val plans = new ConcurrentLinkedQueue[Obs.Plan]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      sums(0).addAndGet(m.executorRunTime)
      sums(1).addAndGet(m.jvmGCTime)
      sums(2).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      sums(3).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      sums(4).addAndGet(m.memoryBytesSpilled)
      sums(5).addAndGet(m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.add(Obs.Stage(i.stageId, i.numTasks, m.executorRunTime,
        m.executorCpuTime / 1000000, m.executorDeserializeTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        // the RDD chain names the operators inside the stage; the AQE
        // thread-pool callsite alone is opaque. A cached RDD is named
        // by its whole plan: keep the first line.
        i.rddInfos.sortBy(_.id).map(_.name.takeWhile(_ != '\n')).distinct.mkString(">")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(Obs.Plan(Obs.planHash(qe.executedPlan.toString),
      qe.tracker.phases.values.map(_.durationMs).sum))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Drain the listener bus, then hand over and reset everything seen
    * since the previous take.
    */
  def take(): Obs.Span = {
    Obs.drain(sc)
    Obs.Span(sums.map(_.getAndSet(0L)), Obs.pollAll(stages), Obs.pollAll(plans))
  }
}

object Obs {

  /** One completed stage: summed task metrics and its RDD chain. */
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuMs: Long, deserMs: Long,
                         gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         rdds: String)

  /** One successful SQL action: its executed-plan hash and plan ms. */
  final case class Plan(hash: String, planMs: Long)

  /** What the listener saw over one span; `tasks` holds [run_ms,
    * gc_ms, shuffle_read_bytes, shuffle_write_bytes, spill_mem_bytes,
    * spill_disk_bytes] summed over the span's tasks.
    */
  final case class Span(tasks: Array[Long], stages: Seq[Stage], plans: Seq[Plan])

  private val attached = new java.util.WeakHashMap[SparkSession, Obs]()

  /** The session's listener, registered on first use: one per session,
    * however many callers ask.
    */
  def attach(spark: SparkSession): Obs = attached.synchronized {
    var o = attached.get(spark)
    if (o == null) {
      o = new Obs(spark.sparkContext)
      spark.sparkContext.addSparkListener(o)
      spark.listenerManager.register(o)
      attached.put(spark, o)
    }
    o
  }

  /** Block until the async listener bus has delivered every event
    * posted so far, query-execution callbacks included. `listenerBus`
    * is private[spark], hence reflection; any failure degrades to a
    * short sleep, since metrics are receipts, never a correctness
    * dependency.
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(50) }

  /** Stable hash of a physical plan's text: expression ids, plan ids,
    * codegen stage ids, AQE query-stage ids (numbered in the order the
    * stages happen to be created), statistics, file-index listings,
    * lambda variable counters and object identity hashes (an aggregate
    * such as TopKAgg prints as `TopKAgg@3f1b68fd`) are normalized away,
    * so two runs hash equal iff the plan SHAPE is the same. A scan's
    * metadata value that Spark truncated (`...`) is dropped whole: the
    * cut falls wherever the ids' digit counts put it.
    */
  def planHash(plan: String): String = {
    val s = plan
      .replaceAll(": (?:(?!, \\w+: ).)*?\\.\\.\\.", ": ...")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
      .replaceAll("InMemoryFileIndex\\[[^]]*\\]", "InMemoryFileIndex[]")
      .replaceAll("lambda (\\w+)_\\d+", "lambda $1_")
      .replaceAll("@[0-9a-f]+\\b", "@")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString.take(12)
  }

  private def pollAll[A](q: ConcurrentLinkedQueue[A]): Seq[A] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toVector
}
