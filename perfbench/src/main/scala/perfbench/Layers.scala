package perfbench

/** Per-layer metrics of a traced run, from its spans, the Spark
  * listener's per-operation counters and the JVM's phase clocks.
  * Spark figures are means per timed operation. A layer call time is
  * the median over the layer's warm-up and timed calls except its
  * first (cold) call: a round times one admin query, so the warm-up's
  * second call of each is what measures the other four. Check work
  * (a `check` span and everything under it) is left out, as the
  * listener leaves out the `check` job group.
  */
object Layers {
  /** Layer calls whose `<name>_ms` median the traced run reports. */
  val Calls = Seq(
    "ChunkIndex.search", "ChunkIndex.upsert", "ChunkIndex.compact", "ChunkIndex.vacuum",
    "KeywordSearch.bm25",
    "Analytics.dashboardStats", "Analytics.sessionStats", "Analytics.liveUsers",
    "Analytics.activitySummary", "Analytics.contributionAnalytics",
    "Curate.corpusCurate", "Dedup.dedupMinhash", "Dedup.dedupExact",
    "TextAnalysis.gopherFilter", "Perplexity.qualityPerplexity", "Pack.seqPack")

  def of(tr: Tracer, l: OpListener, jvm: JvmClock, nOps: Int): Seq[(String, Any)] = {
    val inCheck = Trace.inCheck(tr.spans.toSeq)
    val spans = tr.spans.filterNot(s => inCheck(s.id))
    val timed = spans.filter(_.op >= 0)
    val byOp = timed.groupBy(_.op)
    def perOp(f: Int => Double): Double = (0 until nOps).map(f).sum / nOps
    def spanMs(i: Int, name: String): Double =
      byOp.getOrElse(i, Nil).filter(_.name == name).map(_.ms).sum
    val checkMs = tr.spans.filter(_.name == "check").groupBy(_.op).map { case (i, xs) => i -> xs.map(_.ms).sum }
    // an operation's own wall time: its span minus the check work inside it
    def opMs(i: Int): Double = spanMs(i, "op") - checkMs.getOrElse(i, 0.0)
    // task launch/finish times are epoch milliseconds
    val acc = (0 until nOps).map(l.op)
    def busyMs(i: Int): Double = Trace.union(acc(i).intervals.toSeq).toDouble
    def mean(f: l.Acc => Double): Double = acc.map(f).sum / nOps
    val mb = 1048576.0

    val spark = Seq(
      "spark.jobs_per_op" -> mean(_.jobs.toDouble),
      "spark.stages_per_op" -> mean(_.stages.toDouble),
      "spark.tasks_per_op" -> mean(_.tasks.toDouble),
      "spark.build_ms" -> perOp(spanMs(_, "spark.build")),
      "spark.plan_ms" -> perOp(spanMs(_, "spark.plan")),
      "spark.exec_ms" -> perOp(spanMs(_, "spark.exec")),
      "spark.task_busy_ms" -> perOp(busyMs),
      "spark.driver_gap_ms" -> perOp(i => opMs(i) - busyMs(i)),
      "spark.task_run_ms" -> mean(_.runMs.toDouble),
      "spark.task_cpu_ms" -> mean(_.cpuNs / 1e6),
      "spark.task_deser_ms" -> mean(_.deserMs.toDouble),
      "spark.task_gc_ms" -> mean(_.gcMs.toDouble),
      "spark.shuffle_read_mb" -> mean(_.shReadB / mb),
      "spark.shuffle_write_mb" -> mean(_.shWriteB / mb),
      "spark.spill_mb" -> mean(_.spillB / mb))
    val jvmM = jvm.phases.toSeq.flatMap { case (p, (jit, gc)) =>
      Seq(s"jvm.jit_ms.$p" -> jit.toDouble, s"jvm.gc_pause_ms.$p" -> gc.toDouble)
    }
    val calls = Calls.flatMap { c =>
      val xs = spans.filter(s => s.name == c && s.op != Tracer.SetupOp)
        .sortBy(_.startNs).drop(1).map(_.ms)
      if (xs.isEmpty) None else Some(s"${c}_ms" -> Stats.median(xs.toSeq))
    }
    // jobs per call of each layer outside set-up (reference figures only)
    val jobsPerCall = Calls.flatMap { c =>
      val n = spans.count(s => s.name == c && s.op != Tracer.SetupOp)
      if (n == 0) None
      else Some(s"$c.jobs_per_call" -> l.sum(g => g.endsWith(s"|$c") && !g.startsWith("setup")).jobs.toDouble / n)
    }
    val self = timed.filter(_.name == "op").map(tr.selfMs)
    val ensure = spans.filter(s => s.name == "ChunkIndex.ensureIndex" && s.op == Tracer.SetupOp).map(_.ms / 1e3)
    spark ++ jvmM ++ calls ++ jobsPerCall ++
      (if (ensure.isEmpty) Nil else Seq("ChunkIndex.ensureIndex_s" -> ensure.sum)) ++
      (if (self.isEmpty) Nil else Seq("bench.op_self_ms" -> Stats.median(self.toSeq)))
  }
}
