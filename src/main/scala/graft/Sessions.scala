package graft

import org.apache.spark.sql.SparkSession

/** THE session configuration surface — one builder shared by Bench,
  * Verify, the dev tools, the tests and any library consumer, so the
  * measured configuration and the verified configuration are the same
  * object (r17 verdict: the tuned configs lived only in the Bench
  * session).
  *
  * Config rationale (receipts in OPTIMIZATION_r17.md /
  * OPTIMIZATION_r18.md; every setting scale-justified, none is a
  * local[32] trick):
  *
  *  - `shuffle.sort.bypassMergeThreshold=1` — always take the
  *    UnsafeShuffleWriter single-spill path; thread dumps showed map
  *    tasks of small shuffles spending their time in mmap/unmap
  *    syscalls concatenating one-file-per-reducer bypass output. At
  *    cluster scale shuffles run >200 partitions where the bypass
  *    writer never fires, so only the small-shuffle regime changes.
  *  - `adaptive.coalescePartitions.parallelismFirst=false` — coalesce
  *    by ADVISORY SIZE (guide §2.2): reduce stages scale with the
  *    data instead of pinning #cores tasks per exchange at every
  *    scale.
  *  - `adaptive.advisoryPartitionSizeInBytes` (param below) — the
  *    size those reduce partitions aim for. The 64 MB Spark default
  *    collapsed a mid-scale 10 MB shuffle to ONE reduce task (r17 8×
  *    rung: sessionize 0.76 → 1.19 s); a single-digit-MB advisory
  *    keeps a few-MB shuffle on a few cores while still coalescing
  *    the near-empty exchanges to one task. Parameterised via
  *    `SPARK_GRAFT_ADVISORY_MB` (default 2 MB at bench scale);
  *    production clusters set 100–1000 MB per guide §2.2/§9 — the
  *    right value tracks the deployment's task-scheduling overhead
  *    vs memory-per-task budget, not the engine.
  *  - `codegen.cache.maxEntries=4096` — 133 registered queries ×
  *    several codegen units far exceed the default 100-entry
  *    generated-class cache (driver-side, scale-independent).
  *  - `legacy.parquet.nanosAsLong=true` — the driver's `events.ts`
  *    is parquet TIMESTAMP(NANOS), which Spark 4 only reads as long.
  *  - session timezone UTC — the cross-engine oracle contract.
  */
object Sessions {

  /** Advisory shuffle-partition size (MB) for AQE coalescing.
    * Default 2 MB: at bench scale every near-empty exchange still
    * coalesces to one task, while a mid-scale (tens of MB) shuffle
    * keeps a handful of reducers instead of serializing on one.
    * Production overrides via the env var or `--conf` (guide §9
    * recommends 256m-class values for real clusters).
    */
  def advisoryMb: Int =
    sys.env.get("SPARK_GRAFT_ADVISORY_MB").map(_.toInt).getOrElse(2)

  /** The shared builder: `local[cpus]` master with
    * `shuffle.partitions=cpus` (the harness contract — the driver
    * also runs at a lower core count to measure scaling) and the
    * config surface above. Callers add app-specific settings
    * (`spark.ui.enabled`, appName) on the returned builder.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryMb}m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // NOTE (r18, examined and rejected):
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
      // collapses the 32-near-empty-task reads of every persisted
      // multi-consumer frame (dedup_simhash summed task run 773→573
      // ms, proto_select 658→10 ms) — but it also re-coalesces the
      // DELIBERATE scan spread (Tables.documentsSpread) wherever a
      // spread frame is cached, serializing compute-bound decode
      // paths (image_search +0.36 s, gopher_filter +0.15 s measured);
      // board total was a wash. Cache layout needs the per-frame
      // decision the operators already make, not a session global.

  /** [[builder]] with the env-var core count (`SPARK_GRAFT_CPUS`,
    * default 4) every harness tool uses.
    */
  def builderFromEnv(): SparkSession.Builder =
    builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
}
