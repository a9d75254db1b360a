package graft

/** Throughput surface: every SparkEntry query timed over `Passes`
  * full passes. Pass 1 is COLD (includes building the session-shared
  * stages — posting lists, embedding index: the reference's
  * build-the-FAISS-index-once cost); later passes are WARM (index
  * resident, the reference's steady-state query path). Reported
  * per-query numbers are the median across passes, which also damps
  * the ~3x run-to-run VM noise a single-run bench can't distinguish
  * from real regressions (SURVEY.md §8).
  *
  * STAGING-REBUILD-PROOF medians: a pass in which a query's staged
  * artifact (re)built (DfCache.stagingRebuilds moved while it ran) or
  * a session memo cold-computed (DfCache.memoComputes moved — the
  * curate chain, a staged read's per-JVM persist wrap) measures the
  * build, not steady state — such passes are excluded from that
  * query's median, an extra pass is run if any warm pass was
  * contaminated, and the (query → passes) rebuild/memo maps ride the
  * JSON as `staging_rebuilds` / `memo_computes` so the attribution is
  * in the artifact itself instead of a next-round adjudication.
  *
  * TASK-METRIC RECEIPTS: per query, the executor task metrics of its
  * last clean WARM pass (falling back to the cold pass only when no
  * warm pass was clean) ride the JSON as `task_metrics` —
  * `[run_ms, gc_ms, shuffle_read_mb, shuffle_write_mb, spill_mem_mb,
  * spill_disk_mb, pass]`, summed over tasks, with the 1-based pass
  * index last so a cold-pass receipt is distinguishable in the
  * artifact — so a rung-to-rung delta is
  * adjudicable from the artifact alone: flat run_ms with grown wall
  * time is box/IO state, grown run_ms with spill bytes is the
  * engine, grown gc_ms is memory pressure. (Input BYTES are omitted
  * deliberately: the vectorized parquet reader's data-page reads
  * bypass the Hadoop FS statistics callback in this setup, so
  * inputMetrics.bytesRead counts only footer reads — probed at
  * 17.8 KB for a full 10.8 MB lineitem scan, a receipt that would
  * mislead.)
  *
  * PER-PASS PER-QUERY TIMES: `query_passes` carries each query's raw
  * per-pass wall-time vector (what the median is computed FROM, minus
  * exclusions) — so a rung median inflated by ONE box-noise pass
  * (page-cache saturation, a background flush) is adjudicable from
  * the artifact alone: passes like [120, 66, 5] indict the box, a
  * monotone [6, 6, 6]→[12, 12, 12] rung step indicts the plan
  * (r13 verdict #2: the 256× spikes needed prose adjudication
  * because only pass TOTALS were published).
  *
  * PROFILE: one [[Obs]] listener also publishes, per query, the layer
  * split of every pass (`layers`: build / plan / exec ms), the
  * executed-plan hash of every pass (`plan_hash`; a flip is an AQE
  * re-plan) and the top 5 stages of the task_metrics pass (`stages`).
  * `SPARK_GRAFT_BENCH_ONLY` + `SPARK_GRAFT_BENCH_PASSES` profile one
  * query. These three ride the artifact file only, not stdout.
  */
object Bench {
  /** Warm-pass count; `SPARK_GRAFT_BENCH_PASSES` overrides (the rung
    * ladder runs 4 at the noisy scales so the median survives one
    * bad pass — r15 verdict #2).
    */
  val Passes: Int =
    sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)

  /** Median with the two middle elements AVERAGED for even-length
    * input — with the conditional extra pass (or a pass excluded per
    * query), sample counts vary per query, and upper-middle selection
    * would bias even-count medians slightly upward vs 3-pass queries
    * in the same artifact.
    */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** One query's pass: task sums (as [[Obs.Span]]`.tasks`), [build,
    * plan, exec] ms, the timed action's executed-plan hash and its top
    * 5 stages by run time.
    */
  private final case class Receipt(tasks: Array[Long], layers: Seq[Double],
                                   planHash: String, stages: Seq[Obs.Stage])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the SHARED session surface (graft.Sessions): the same configs
    // Verify gates and a library consumer gets — rationale documented
    // there (r18: one builder instead of a Bench-only config block)
    val spark = Sessions.builderFromEnv()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val obs = Obs.attach(spark)
    // absorb JVM/codegen warm-up on the BENCH dataset so per-query
    // timings are comparable (entry()'s hardcoded sf0.001 path may not
    // exist on this machine)
    try SparkEntry.queries("dashboard_stats")(spark, sfDir).count()
    catch { case _: Throwable => }
    // optional filter (comma-separated names) — time a targeted subset
    // at ladder scales where the full surface won't fit one machine;
    // the driver's no-env contract (full surface) is unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(",")}")
        sys.exit(2)
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // rebuilt(pass)(name): a staged artifact was (re)built during this
    // query in this pass; memoed(pass)(name): a session memo
    // cold-computed during it. Either way that timing measures a
    // build, not the steady-state path, and is excluded from the
    // median below.
    val rebuilt = scala.collection.mutable.ArrayBuffer[Set[String]]()
    val memoed = scala.collection.mutable.ArrayBuffer[Set[String]]()
    val receipts = scala.collection.mutable.ArrayBuffer[Map[String, Receipt]]()
    def runPass(): Map[String, Double] = {
      val rb = scala.collection.mutable.HashSet[String]()
      val mm = scala.collection.mutable.HashSet[String]()
      val rc = scala.collection.mutable.HashMap[String, Receipt]()
      val times = names.map { name =>
        obs.take()
        val r0 = DfCache.stagingRebuilds
        val m0 = DfCache.memoComputes
        val t0 = System.nanoTime()
        var t1 = t0
        var failed = false
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          t1 = System.nanoTime()
          df.count()
        }
        catch {
          // a failing query must be VISIBLE, not timed as a fast success
          case e: Throwable =>
            failed = true
            // JSON-safe: strip EVERY control char plus quote/backslash —
            // Spark messages carry \r\t and box-drawing plan fragments
            errors.getOrElseUpdate(name, e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(120))
        }
        val t2 = System.nanoTime()
        val span = obs.take()
        if (DfCache.stagingRebuilds != r0) rb += name
        if (DfCache.memoComputes != m0) mm += name
        // the timed count is the span's last SQL action
        val plan = if (failed) None else span.plans.lastOption
        val buildMs = (t1 - t0) / 1e6
        val planMs = plan.fold(0.0)(_.planMs.toDouble)
        rc(name) = Receipt(span.tasks,
          Seq(buildMs, planMs, math.max(0.0, (t2 - t0) / 1e6 - buildMs - planMs)),
          plan.fold("")(_.hash), span.stages.sortBy(-_.runMs).take(5))
        name -> (t2 - t0) / 1e9
      }.toMap
      rebuilt += rb.toSet
      memoed += mm.toSet
      receipts += rc.toMap
      times
    }
    var passList = (1 to Passes).map(_ => runPass())
    // a staging rebuild / memo cold-compute in any WARM pass (2+)
    // contaminates that pass's timing for the triggering query; run
    // ONE extra pass so every query still has >= Passes-1 clean warm
    // samples (r11 verdict #2: the 3-pass median of a
    // staging-dependent query was contaminated by construction
    // whenever the rebuild landed in pass 2)
    def dirty(i: Int): Set[String] = rebuilt(i) ++ memoed(i)
    if ((1 until passList.size).exists(i => dirty(i).nonEmpty))
      passList = passList :+ runPass()
    val passes: Seq[Map[String, Double]] = passList
    // median over the passes in which the query did NOT build its
    // staged artifacts or session memos; a query that built in EVERY
    // pass (staging disabled / broken, memo evicted per pass) falls
    // back to all passes and is listed in staging_rebuilds /
    // memo_computes for the reader to judge
    def cleanPasses(n: String): Seq[Int] = {
      val clean = passes.indices.filter(i => !dirty(i).contains(n))
      if (clean.nonEmpty) clean else passes.indices
    }
    val med = names.map { n =>
      n -> median(cleanPasses(n).map(i => passes(i)(n)))
    }
    // ms precision is plenty and halves the line the driver may
    // tail-truncate (r7 lost 23 medians + the totals to truncation)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def perQuery(v: String => String): String =
      names.map(n => s"\"" + n + "\":" + v(n)).mkString("{", ",", "}")
    val medOf = med.toMap
    val qs = perQuery(n => if (errors.contains(n)) "-1.0" else f3(medOf(n)))   // failed => sentinel
    val errJson = errors.map { case (k, m) => s"\"$k\":\"$m\"" }.mkString("{", ",", "}")
    val passTotals = passes.map(_.values.sum)
    val total = med.map(_._2).sum
    // mean, not median: with 2 warm passes a median degenerates to the
    // slower one, re-introducing the noise the multi-pass run damps
    val warm =
      if (passTotals.size > 1) passTotals.tail.sum / passTotals.tail.size
      else passTotals.head
    // "no silent caps": the dropped-candidate counts ride every bench
    // line, so a cap that starts biting at a new scale is visible in
    // the same artifact that claims the timing (untimed — one-off
    // aggregates over the already-staged artifacts)
    val audit = try Audit.json(spark, sfDir)
      catch { case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}""" }
    // pass-1 per-query times: the cold pass is where index-build cost
    // lands, and a cold regression is invisible in the medians. Same
    // failure sentinel as the medians — a fast exception must not read
    // as a cold-time improvement.
    val coldQs = perQuery(n => if (errors.contains(n)) "-1.0" else f3(passes.head(n)))
    // per-query task-metric receipts from the last clean WARM pass
    // (pass 1 only when every warm pass was contaminated — the 1-based
    // pass index rides as the array's LAST element so a cold-pass
    // receipt is distinguishable): [run_ms, gc_ms, shuffle_read_mb,
    // shuffle_write_mb, spill_mem_mb, spill_disk_mb, pass] — what
    // makes a rung delta adjudicable from the artifact (spill vs box
    // state) without a rerun
    def mb(b: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
    def receiptPass(n: String): Int = {
      val cp = cleanPasses(n)
      cp.filter(_ > 0).lastOption.getOrElse(cp.last)
    }
    val tmJson = perQuery { n =>
      val i = receiptPass(n)
      val m = receipts(i)(n).tasks
      "[" + m(0) + "," + m(1) + "," + m.drop(2).map(mb).mkString(",") + "," + (i + 1) + "]"
    }
    // per-pass per-query raw wall times (same order as pass_totals);
    // a query's excluded passes are still SHOWN here — staging_rebuilds
    // / memo_computes say which indices the median skipped
    val passQs = perQuery(n => passes.indices
      .map(i => if (errors.contains(n)) "-1.0" else f3(passes(i)(n)))
      .mkString("[", ",", "]"))
    // per query and pass: the layer split [build, plan, exec] ms
    // (build = the query function returning its frame, plan = the
    // timed action's analysis + optimization + planning, exec = the
    // rest) and the executed plan's hash (a flip across passes is an
    // AQE re-plan); then the top 5 stages by summed task run time in
    // the task_metrics pass: [stage_id, tasks, run_ms, cpu_ms,
    // deser_ms, gc_ms, shuffle_read_mb, shuffle_write_mb, rdd_chain]
    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val layersJson = perQuery(n =>
      receipts.map(_(n).layers.map(f1).mkString("[", ",", "]")).mkString("[", ",", "]"))
    val planJson = perQuery(n =>
      receipts.map(r => "\"" + r(n).planHash + "\"").mkString("[", ",", "]"))
    val stagesJson = perQuery(n => receipts(receiptPass(n))(n).stages.map { st =>
        s"[${st.id},${st.tasks},${st.runMs},${st.cpuMs},${st.deserMs},${st.gcMs}," +
          s"${mb(st.shuffleReadBytes)},${mb(st.shuffleWriteBytes)}," +
          "\"" + st.rdds.replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200) + "\"]"
      }.mkString("[", ",", "]"))
    // summary fields FIRST: a consumer that cap-sizes the line loses
    // per-query detail, never the round's totals (r7 verdict #5)...
    // which (query, pass) timings included a staged-artifact rebuild /
    // memo cold-compute — the attribution record that lets a reader
    // see WHY a pass was excluded from a median without a round of
    // adjudication
    def passMap(sets: Seq[Set[String]]): String =
      names.filter(n => sets.exists(_.contains(n)))
        .map { n =>
          val ps = sets.indices.filter(i => sets(i).contains(n)).map(_ + 1)
          s"\"" + n + "\":" + ps.mkString("[", ",", "]")
        }
        .mkString("{", ",", "}")
    // the full artifact also lands in a FILE: the driver's stdout
    // capture truncates lines past its cap (r15 verdict #8 —
    // BENCH_r*.json carried parsed:null + a 2,000-char tail, losing
    // the per-query vectors), so the whole object is written where a
    // reader can copy it intact; `artifact` in the summary (present
    // in BOTH truncation directions) points at it
    val artifactPath = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
      .getAbsolutePath
    val summary =
      s""""metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""passes":${passes.size},"pass_totals":${passTotals.map(f3).mkString("[", ",", "]")},""" +
      s""""cold_total":${f3(passTotals.head)},"warm_total":${f3(warm)},""" +
      s""""staging_rebuilds":${passMap(rebuilt.toSeq)},"memo_computes":${passMap(memoed.toSeq)},""" +
      s""""errors":$errJson,"artifact":"$artifactPath""""
    // ...AND duplicated LAST: the archiver keeps the line's TAIL, so a
    // head-only summary gets truncated away (r8 verdict #2). With a
    // copy at both ends, either truncation direction preserves the
    // totals; `summary_tail` groups the copy under one key so the
    // object stays valid JSON with distinct keys.
    // The profile (layers, plan_hash, stages) rides the file only: the
    // stdout line keeps its keys and size.
    def line(profile: String) =
      s"""{$summary,"queries":$qs,"cold_queries":$coldQs,""" +
      s""""query_passes":$passQs,""" +
      s""""task_metrics":$tmJson,$profile"cap_audit":$audit,"summary_tail":{$summary}}"""
    try {
      Option(new java.io.File(artifactPath).getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(artifactPath, "UTF-8")
      try w.println(line(
        s""""layers":$layersJson,"plan_hash":$planJson,"stages":$stagesJson,"""))
      finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }   // stdout still carries it
    println(line(""))
    spark.stop()
  }
}
