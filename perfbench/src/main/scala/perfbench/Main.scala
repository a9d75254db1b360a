package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{DfCache, Sessions}

/** What a workload gets from the harness. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val inDir: String,
    val textBytes: Long) {
  private var group = "setup"

  /** Charge the Spark jobs that follow to `g` (traced runs only). */
  def setGroup(g: String): Unit = {
    group = g
    if (tr.enabled) spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Check-only work inside an operation: not timed, not charged to it. */
  def untimed[T](body: => T): T = {
    val g = group
    setGroup("check")
    try tr.span("check")(body) finally setGroup(g)
  }

  def stagingRoot: File = new File(sys.props("graft.staging"))
}

/** Sums the timed parts of one operation. */
final class Clock {
  var ns = 0L
  def time[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns += System.nanoTime() - t0
  }
}

/** One workload: set-up builds, then a stream of operations. */
trait Workload {
  /** Builds the persisted artifacts the workload serves from. */
  def build(): Unit
  def warmupOps: Int
  /** Timed operations come in rounds: the same operations in the same order. */
  def roundOps: Int
  def rounds: Int
  /** Operation `i` (warm-up operations come first, then the rounds'). */
  def op(i: Int, clock: Clock): Unit
  /** Bytes on disk per byte of corpus text, after the timed phase. */
  def diskRatio(): Double
  /** Write what the correctness checks need into `out`. */
  def dump(out: File): Unit
  def indexRoot: Option[String] = None
  /** Per-layer metrics only the workload knows (traced runs). */
  def extraLayers: Seq[(String, Any)] = Nil
}

/** The benchmark JVM: `--workload ask|curate --seconds S --trace 0|1
  * --run-dir DIR --input DIR --text-bytes N --cpus N`. It sets up, warms up, runs timed
  * operations for S seconds of operation time, and writes
  * DIR/out/result.json plus the dumps the checks read.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = new File(a("run-dir")).getAbsoluteFile
    val out = new File(runDir, "out")
    out.mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvm = new JvmClock
    val tr = new Tracer(traced)
    System.setProperty("graft.staging", new File(runDir, "staging").getPath)

    val t0 = System.nanoTime()
    System.err.println(f"[perfbench] JVM up ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    val spark = tr.call("Sessions.builder") {
      Sessions.builder(a("cpus")).appName("graft-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(runDir, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
        .getOrCreate()
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (traced) {
      val l = new OpListener
      spark.sparkContext.addSparkListener(l)
      tr.sc = Some(spark.sparkContext)
      Some(l)
    } else None
    val ctx = new Ctx(spark, tr, new File(a("input")).getAbsolutePath, a("text-bytes").toLong)
    ctx.setGroup("setup")
    tr.op = Tracer.SetupOp
    val w: Workload = workload match {
      case "ask" => new Ask(ctx)
      case "curate" => new CurateW(ctx)
    }

    val b0 = System.nanoTime()
    w.build()
    jvm.mark("setup")
    System.err.println(f"[perfbench] session $sessionS%.1f s, build ${(System.nanoTime() - b0) / 1e9}%.1f s")
    ctx.setGroup("warmup")
    tr.op = Tracer.WarmupOp
    (0 until w.warmupOps).foreach(i => w.op(i, new Clock))
    val rebuildsBeforeTimed = DfCache.stagingRebuilds
    jvm.mark("warmup")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] set-up done after $setupS%.1f s")

    // timed phase: whole rounds until `seconds` of operation time
    val lat = mutable.ArrayBuffer[Double]()
    var failed = 0
    var timedNs = 0L
    val memo0 = DfCache.memoComputes
    val ops = Iterator.range(0, w.rounds)
      .takeWhile(_ => timedNs < seconds * 1e9)
      .flatMap(r => Iterator.range(0, w.roundOps).map(r * w.roundOps + _))
    ops.foreach { i =>
      val clock = new Clock
      tr.op = i
      ctx.setGroup(s"op-$i")
      try tr.span("op")(w.op(w.warmupOps + i, clock))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] operation $i failed: $e")
      }
      tr.op = Tracer.WarmupOp
      ctx.setGroup("check")
      lat += clock.ns / 1e6
      timedNs += clock.ns
    }
    val memoComputes = DfCache.memoComputes - memo0
    jvm.mark("timed")
    // live heap: what every heap pool held right after a full collection.
    // Spark's ContextCleaner drops blocks only after a GC has cleared their
    // references, so collect until the figure stops falling.
    def liveMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var heapMb = liveMb()
    var settled = false
    for (_ <- 1 to 8 if !settled) {
      Thread.sleep(250)
      val next = liveMb()
      settled = next > heapMb * 0.99
      heapMb = math.min(heapMb, next)
    }
    val n = lat.size

    val e2e = Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> n / (timedNs / 1e9),
      "op_p50_ms" -> Stats.median(lat.toSeq),
      "heap_live_mb" -> heapMb,
      "disk_bytes_per_text_byte" -> w.diskRatio())
    val layers: Seq[(String, Any)] =
      if (!traced) Nil
      else {
        Trace.drain(spark.sparkContext)
        Layers.of(tr, listener.get, jvm, n) ++ Seq(
          "Sessions.start_s" -> sessionS,
          "DfCache.memo_computes_per_op" -> memoComputes.toDouble / n,
          "DfCache.staging_rebuilds" -> rebuildsBeforeTimed,
          "DfCache.staged_mb" -> Files.size(ctx.stagingRoot) / 1048576.0,
          "trace.op_p50_ms" -> Stats.median(lat.toSeq),
          "trace.ops_per_s" -> n / (timedNs / 1e9)) ++ w.extraLayers ++
          w.indexRoot.toSeq.flatMap { r =>
            val f = new File(r)
            Seq("ChunkIndex.data_files" -> Files.dataFiles(f),
              "ChunkIndex.index_mb" -> Files.size(f) / 1048576.0)
          }
      }
    ctx.setGroup("check")
    val d0 = System.nanoTime()
    w.dump(out)
    System.err.println(f"[perfbench] timed ${timedNs / 1e9}%.1f s, dump ${(System.nanoTime() - d0) / 1e9}%.1f s")
    if (traced) tr.writeJsonl(new File(out, "trace.jsonl"))
    Files.write(new File(out, "result.json"), Json.obj(Seq(
      "attempted" -> n, "failed" -> failed, "latencies_ms" -> lat.toSeq,
      "e2e" -> e2e.toMap, "layers" -> layers.toMap)))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil
  def size(f: File): Long = walk(f).map(_.length).sum
  def dataFiles(f: File): Int = walk(f).count(x => x.getName.endsWith(".parquet"))
  def write(f: File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
  def tsv(f: File): Array[Array[String]] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toArray finally src.close()
  }
}
