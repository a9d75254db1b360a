package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}

/** One span: a call into a layer, timed from the benchmark's side.
  * Spans of one timed operation share `op`; set-up and warm-up spans
  * carry [[Tracer.SetupOp]] and [[Tracer.WarmupOp]].
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Calls into the program's layers. With tracing off every call goes
  * straight through (a DataFrame is forced with one `collect`); with
  * tracing on each call is wrapped in a span, and a DataFrame-returning
  * call is split into its driver build (the operator call, including
  * any job it runs eagerly), planning (`queryExecution.executedPlan`)
  * and execution (the `collect`).
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = Tracer.SetupOp
  /** Set once the session exists: a traced layer call appends its name
    * to the job group, so the listener can count jobs per layer call.
    */
  var sc: Option[SparkContext] = None

  private def layer[T](name: String)(body: => T): T = sc match {
    case Some(c) if enabled =>
      val g = c.getLocalProperty("spark.jobGroup.id")
      c.setJobGroup(s"$g|$name", name, interruptOnCancel = false)
      try span(name)(body) finally c.setJobGroup(g, g, interruptOnCancel = false)
    case _ => span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  /** A call that returns a DataFrame: its rows, fully collected. */
  def rows(name: String)(build: => DataFrame): Array[Row] =
    if (!enabled) build.collect()
    else layer(name) {
      val df = span("spark.build")(build)
      span("spark.plan")(df.queryExecution.executedPlan)
      span("spark.exec")(df.collect())
    }

  /** A call that does its work eagerly and returns a value. */
  def call[T](name: String)(body: => T): T =
    if (!enabled) body else layer(name)(span("spark.build")(body))

  /** Self time of a span: its duration minus the time its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Trace.union(kids.toSeq)) / 1e6
  }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Tracer {
  val SetupOp = -2
  val WarmupOp = -1
}

object Trace {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Ids of the `check` spans and of every span under one. */
  def inCheck(spans: Seq[Span]): Set[Int] =
    spans.sortBy(_.id).foldLeft(Set.empty[Int]) { (in, s) =>
      if (s.name == "check" || in(s.parent)) in + s.id else in
    }

  /** Wait until the listener bus has delivered every queued event
    * (`listenerBus` is private[spark], hence reflection).
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Spark-side counters per job group. The benchmark sets the job group
  * to the operation's id before each traced operation, so every job,
  * stage and task is charged to the operation that caused it.
  */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, deserMs, gcMs, shReadB, shWriteB, spillB = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    acc(g).synchronized(acc(g).jobs += 1)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    acc(g).synchronized(acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shReadB += m.shuffleReadMetrics.totalBytesRead
        a.shWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
      }
    }
  }

  /** Counters of every job group `keep` accepts, summed. */
  def sum(keep: String => Boolean): Acc = {
    val t = new Acc
    accs.asScala.foreach { case (g, a) =>
      if (keep(g)) a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.deserMs += a.deserMs; t.gcMs += a.gcMs
        t.shReadB += a.shReadB; t.shWriteB += a.shWriteB; t.spillB += a.spillB
        t.intervals ++= a.intervals
      }
    }
    t
  }

  /** An operation's counters: its own group and its layer calls' groups. */
  def op(i: Int): Acc = sum(g => g == s"op-$i" || g.startsWith(s"op-$i|"))
}

/** JIT and GC time from the JVM's MXBeans, read at phase boundaries. */
final class JvmClock {
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
  private var last = (jitMs, gcMs)
  val phases = mutable.LinkedHashMap[String, (Long, Long)]()

  /** Close the phase that ends now: record its JIT and GC milliseconds. */
  def mark(phase: String): Unit = {
    val now = (jitMs, gcMs)
    phases(phase) = (now._1 - last._1, now._2 - last._2)
    last = now
  }
}
