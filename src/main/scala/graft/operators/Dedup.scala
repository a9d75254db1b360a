package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.DfCache
import graft.functions.Par
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §2.F). The synthetic corpus has no natural duplicates, so each
  * operator runs over `corpusWithDups`: the documents table plus a
  * deterministic injected copy of every 7th document (exact copy for
  * exact dedup; first-word-dropped near-copy for the near-dup
  * operators). Every path is linear-scale: hash-aggregate for exact,
  * LSH band buckets for MinHash, half-key blocking for SimHash,
  * rare-shingle blocking for Jaccard — never an all-pairs join.
  */
object Dedup {

  val MinhashPerms = 16
  val Bands        = 4          // 4 bands × 4 rows
  val SimhashBits  = 32
  /** Max verified partners reported per vector in dedup_simhash —
    * the linear-output bound (mirror of VectorSearch.PairCap).
    */
  val SimhashPartnerCap = 8
  /** Max JOIN PARTNERS drawn from any one (half_idx, half) bucket in
    * dedup_simhash's candidate generation — the linear-CPU bound that
    * complements [[SimhashPartnerCap]]'s linear-OUTPUT bound. The
    * partner cap alone left the half-bucket self-join's INTERMEDIATE
    * at Σ bucket² rows (the one superlinear stage on the scale
    * ladder: template families survive exact dedup with near-identical
    * signatures and flood one half). Capping the build side at the
    * first `SimhashBucketCap` occupants (deterministic: smallest
    * doc_ids) bounds the intermediate at 2·cap·n rows — every doc
    * still probes both its buckets, but compares against ≤ cap
    * representatives per bucket. Audited in [[capAudit]] like
    * [[NgramBucketCap]]; mirrored exactly by the DuckDB oracle.
    *
    * 32 = 4× the partner cap: plenty of representatives to fill every
    * vector's top-8 partner list, while actually ENGAGING on the
    * duplicate-family hot buckets the scale ladder creates (a 256 cap
    * never bit below bucket=256, so the ladder rungs paid uncapped
    * volume plus the canonicalization overhead for nothing — measured
    * 20.7 s at 32× before this was tightened, 8.3 s uncapped).
    */
  val SimhashBucketCap = 32

  /** Injected copies live at `doc_id + CopyIdOffset` — which also
    * makes the id a clean BASE (historical corpus) vs DELTA (new
    * arrivals) split for the incremental operators.
    */
  private[graft] val CopyIdOffset = 100000L

  /** documents ∪ copies of every-7th doc (doc_id + 100000).
    * `perturb` drops the copy's first word to make near- rather than
    * exact duplicates.
    */
  private[graft] def corpusWithDups(spark: SparkSession, dir: String,
      perturb: Boolean): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val copyText =
      if (perturb) expr("substring(text, instr(text, ' ') + 1)")
      else col("text")
    base.unionAll(
      base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + CopyIdOffset).as("doc_id"), copyText.as("text")))
  }

  /** Exact dedup: one md5 hash-aggregate; duplicate groups keep the
    * minimum doc_id as canonical.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    corpusWithDups(spark, dir, perturb = false)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
      .where(col("n_dups") > 1)
      .orderBy(col("keep_id"))

  /** Apply the dedup: keep one canonical copy per content hash (the
    * min doc_id), drop the rest — a hash-aggregate plus a semi-join,
    * the linear-scale "materialize the cleaned corpus" step that
    * follows detection.
    */
  def dedupApply(spark: SparkSession, dir: String,
                 sorted: Boolean = true): DataFrame =
    Present.presented(
      exactKeep(corpusWithDups(spark, dir, perturb = false))
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
      sorted, "doc_id")

  /** THE exact-dedup canonicalization rule — keep the min doc_id per
    * content hash — as a reusable hash-aggregate + semi-join over any
    * (doc_id, text) corpus; shared by [[dedupApply]] and the curation
    * funnel's exact-dedup stage so the rule has one spelling.
    */
  private[graft] def exactKeep(corpus: DataFrame): DataFrame =
    corpus.join(
      corpus.groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Words per paragraph block in [[dedupParagraph]]. */
  val ParaWords = 32

  /** Paragraph corpus for [[dedupParagraph]]: documents plus, for
    * every 7th doc, a copy (at doc_id + [[CopyIdOffset]]) whose FIRST
    * [[ParaWords]]-word block is reversed and whose remaining words
    * are verbatim — the "swapped boilerplate header" shape. Block
    * boundaries are word-aligned, so every copy block beyond the
    * first equals an original block exactly: the gated output
    * exercises PARTIAL per-block removal, which an exact copy (it
    * would just vanish whole) cannot.
    */
  private def paraCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val withToks = base.select(col("doc_id"), tokens(col("text")).as("toks"))
    base.unionAll(
      withToks.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + CopyIdOffset).as("doc_id"),
          concat_ws(" ", concat(
            reverse(slice(col("toks"), 1, ParaWords)),
            slice(col("toks"), lit(ParaWords + 1), size(col("toks"))))).as("text")))
  }

  /** Non-overlapping [[ParaWords]]-word blocks of a MATERIALIZED token
    * column (the HOF-inlining trap of TextFunctions.shinglePosting
    * applies: an inlined `split` here would re-tokenize per block).
    * Callers guarantee a non-empty source text ([[dedupParagraphOf]]
    * filters), so `toks` is never empty — `split` returns [""] for
    * "", which a size() guard here could not distinguish from a real
    * one-token doc anyway.
    */
  private def paraBlocksOf(toks: Column): Column =
    transform(
      // Column `/` is DOUBLE division — cast back for sequence()
      sequence(lit(0), ((size(toks) - 1) / ParaWords).cast("int")),
      i => concat_ws(" ", slice(toks, i * ParaWords + 1, lit(ParaWords))))

  /** Corpus-wide exact PARAGRAPH dedup — the block-granularity form of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): split every document into
    * non-overlapping [[ParaWords]]-word blocks, keep each distinct
    * block's FIRST occurrence corpus-wide (order = (doc_id,
    * para_idx)), and reassemble documents from their surviving blocks.
    * Catches cross-document boilerplate (shared headers, quoted
    * passages) that doc-level exact dedup misses because the
    * surrounding text differs.
    *
    * Scale: the winner per distinct block is a map-side-combined
    * min-struct aggregate keyed on the block hash (partial before the
    * exchange; struct min plans as SortAggregate) — a boilerplate
    * block with millions of copies partial-aggregates to ONE row per
    * map partition, so no join and no hot reducer key ever carries the
    * multiplicity (the winner-join spelling would send every copy of
    * the hot block to a single partition). Reassembly shuffles only
    * SURVIVING blocks on doc_id — bounded by the doc's own size.
    */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphOf(paraCorpus(spark, dir))

  /** [[dedupParagraph]]'s core over ANY (doc_id, text) corpus.
    * Empty-text documents are EXCLUDED from the report (they have no
    * blocks; the oracle's `length(text) > 0` filter is this same
    * rule) — `split("", " ")` returns [""], so without the filter an
    * empty doc would wrongly report one empty paragraph and push an
    * "" block into the corpus-wide winner aggregate.
    */
  private[graft] def dedupParagraphOf(corpus0: DataFrame): DataFrame = {
    val corpus = corpus0.where(length(col("text")) > 0)
    val paras = corpus
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(paraBlocksOf(col("toks"))).as(Seq("para_idx", "para_text")))
      .withColumn("para_idx", col("para_idx").cast("long"))
    val winners = paras
      .groupBy(md5(col("para_text")).as("h"))
      .agg(min(struct(col("doc_id"), col("para_idx"), col("para_text"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.para_idx").as("para_idx"),
        col("w.para_text").as("para_text"))
    val rebuilt = winners.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("para_idx"), col("para_text")))),
          p => p("para_text")), " ").as("kept_text"))
    corpus
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // block COUNT is pure arithmetic — don't materialize the block
      // strings a second time just to size() them
      .select(col("doc_id"),
        (((size(col("toks")) - 1) / ParaWords).cast("long") + 1L).as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("kept_text"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"), col("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic content-hash sampling: a row is kept iff the md5
    * of its id falls under the per-stratum rate. Unlike rand()-based
    * sampleBy this is reproducible regardless of partitioning or
    * cluster size — the property a training-data pipeline needs for
    * auditable subsets.
    */
  def deterministicSample(spark: SparkSession, dir: String,
                          baseRate: Double = 0.05,
                          errorRate: Double = 0.5): DataFrame = {
    val u = md5Long(col("event_id").cast("string"), 1, 8).cast("double") / 4294967296.0
    val rate = when(col("event_type") === "purchase", 1.0)   // keep all rare events
      .when(col("event_type") === "error", errorRate)
      .otherwise(baseRate)
    Tables.events(spark, dir)
      .where(u < rate)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
      .orderBy(col("event_id"))
  }

  /** The posting list feeds several joins (bands, counts, both sides
    * of the intersection); Spark can't reuse the exchange across the
    * self-join's aliasing, so persist it — at 100 TB this would be a
    * parquet staging table instead.
    */
  private def cachedPosting(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** MinHash + LSH near-dup candidate pairs, UNCAPPED: every pair
    * sharing a band key, verified with exact shingle Jaccard — the
    * pair source for the whole near-dup pipeline (clusters, apply).
    * 16-permutation signature (one md5 per distinct shingle +
    * arithmetic permutations, TextFunctions.minhashPerm), 4 bands of
    * 4 rows. Candidate volume is O(near-dups), not O(n²). Computed
    * once per (session, dir) and STAGED as a parquet table
    * (DfCache.stagedFrame): the pair set is tiny relative to the
    * corpus, three downstream operators consume it, and a fresh JVM
    * over the same inputs re-reads the staged table instead of paying
    * the build — the actual 100 TB staging-table pattern between the
    * detect and apply stages.
    */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_pairs:$dir") {
      minhashPairsOf(corpusWithDups(spark, dir, perturb = true),
        Some(minhashMembers(spark, dir)))(
        DfCache.stagedFrame(spark, s"minhash_pairs:$dir",
          DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(_))
    }

  /** 16-perm MinHash signatures banded into `(doc_id, bd, band_key)`
    * rows over a shingle posting — one md5 per distinct shingle, the
    * 16 permutation minima as agg columns (map-side partial min, one
    * shuffle of #docs rows), band key = the band's minima joined in
    * permutation order. Shared by the full-corpus pair build
    * ([[minhashPairsOf]]) and the incremental delta-vs-base probe
    * ([[neardupIncremental]]) so both sides of an incremental join
    * hash identically by construction.
    */
  private def bandedSigsOf(posting: DataFrame): DataFrame = {
    val rows = MinhashPerms / Bands
    val permMins = (0 until MinhashPerms).map { p =>
      min(minhashPerm(col("h"), lit(p.toLong))).as(s"m$p")
    }
    val sigs = posting
      .select(col("doc_id"), hexLong(col("s"), 1, 8).as("h"))   // s is a md5 prefix already
      .groupBy(col("doc_id"))
      .agg(permMins.head, permMins.tail: _*)
    sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map { b =>
        concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}").cast("string")): _*)
      }: _*)).as(Seq("bd", "band_key")))
  }

  /** Exact-content quotient of a corpus: (doc_id, rep_id) where
    * rep_id is the minimum doc_id sharing md5(text) — the contraction
    * every production near-dup pipeline applies BEFORE MinHash
    * (boilerplate-heavy crawls carry huge exact-duplicate cliques;
    * verifying C(g,2) identical pairs per clique is pure waste). The
    * oracle's dedup-closure SQL carries the correctness argument
    * (SparkEntry's quotient chain): bands and jaccard are pure
    * functions of the text, so a group shares all band keys (an
    * internal clique at jaccard 1) and a cross-group pair exists —
    * with the same jaccard — iff it exists between representatives.
    */
  private def quotientOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .select(col("doc_id"), col("rep_id"))

  /** The exact-content quotient of the near-dup input corpus, cached
    * per (session, dir) — passed into the pair build's expansion
    * ([[minhashPairsOf]]'s `membersOpt`) and read by the cluster
    * closure's rep-graph projection, so the quotient of a corpus is
    * computed once per session however many consumers run.
    */
  private[operators] def minhashMembers(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_members:$dir")(
      quotientOf(corpusWithDups(spark, dir, perturb = true))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The MinHash+LSH verified-pair build over ANY (doc_id, text)
    * corpus — the body of [[minhashPairs]], reused by the curation
    * pipeline on its filtered survivor set. `materialize` must force
    * the returned frame (a staging write or an action): the shingle
    * posting list is persisted for the build's internal reuse and
    * unpersisted as soon as `materialize` returns.
    *
    * The signature/band/verify pipeline runs on the EXACT-CONTENT
    * QUOTIENT ([[quotientOf]]) and the verified rep pairs are then
    * expanded back over the groups — within-group member pairs at
    * jaccard 1.0 (identical shingle sets), cross-group combos at the
    * representatives' verified jaccard. The emitted pair set is
    * row-identical to the doc-level build (the oracle still spells
    * the doc-level form for dedup_minhash), but the expensive
    * cand ⋈ posting ⋈ posting verify touches one doc per distinct
    * text: on a corpus that is 90% exact boilerplate copies the
    * verify volume drops ~100×, which is the difference between the
    * detect stage fitting a maintenance window at 100 TB or not.
    * Groups whose text yields no shingle (< n tokens) produce no
    * signature doc-level, so expansion skips them (eligibility =
    * rep has ≥ 1 posting row), keeping the no-pair behavior exact.
    */
  private[graft] def minhashPairsOf(corpus: DataFrame,
      membersOpt: Option[DataFrame] = None)(
      materialize: DataFrame => DataFrame): DataFrame = {
    // A caller with a session-cached quotient passes it in; otherwise
    // build (and own) one inline. `ownMembers` guards the unpersist —
    // a caller's cached frame must outlive this build.
    // Passing an IDENTITY quotient (rep_id = doc_id) degenerates the
    // build to the plain doc-level pipeline: `within` is empty and
    // `cross` lifts trivially — QuotientSpec uses exactly that to
    // assert the expansion algebra against doc-level ground truth.
    val ownMembers = membersOpt.isEmpty
    val members = membersOpt.getOrElse(cachedPosting(quotientOf(corpus)))
    val reps = corpus.join(
      members.where(col("doc_id") === col("rep_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val posting = cachedPosting(shinglePosting(reps, col("doc_id"), col("text"), 3))
    val banded = bandedSigsOf(posting)
    val cand = banded.select(col("bd"), col("band_key"), col("doc_id").as("a_id"))
      .join(banded.select(col("bd"), col("band_key"), col("doc_id").as("b_id")),
        Seq("bd", "band_key"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()   // a pair may collide in several bands
    val repPairs = jaccardOf(cand, posting)
    // expansion: groups with a signature (≥ 1 shingle) contribute
    // their internal clique at exact jaccard 1.0 …
    val eligibleMembers = members.join(
      posting.select(col("doc_id").as("rep_id")).distinct(),
      Seq("rep_id"), "left_semi")
    val within = eligibleMembers.select(col("rep_id"), col("doc_id").as("a_id"))
      .join(eligibleMembers.select(col("rep_id"), col("doc_id").as("b_id")),
        Seq("rep_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    // … and every verified rep pair lifts to all member combos with
    // the reps' jaccard (identical texts ⇒ identical shingle sets)
    val cross = repPairs
      .join(members.select(col("rep_id").as("a_id"), col("doc_id").as("ma")), Seq("a_id"))
      .join(members.select(col("rep_id").as("b_id"), col("doc_id").as("mb")), Seq("b_id"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("jaccard"))
    val pairs = materialize(within.unionAll(cross))
    posting.unpersist()
    if (ownMembers) members.unpersist()
    pairs
  }

  /** Top-50 near-dup report over the full verified pair set — the
    * human-facing detection listing; the clustering/apply path
    * consumes the uncapped `minhashPairs` directly.
    */
  def dedupMinhash(spark: SparkSession, dir: String,
                   topN: Int = 50): DataFrame =
    minhashPairs(spark, dir)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(topN)

  /** Exact Jaccard for candidate (a_id, b_id) pairs via posting-list
    * joins: |∩| = matching-shingle row count, sizes from a small
    * per-doc dim. O(candidates × shingles-per-doc), arrays never
    * shuffled.
    */
  private[graft] def jaccardOf(cand: DataFrame, posting: DataFrame): DataFrame = {
    // referenced from BOTH sides of the size join below — materialized
    // so the posting scan + aggregate runs once per call, not twice
    // (r17, guide §2.4; one row per doc, bounded by the corpus)
    val counts = cachedPosting(
      posting.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    val inter = cand
      .join(posting.select(col("doc_id").as("a_id"), col("s")), Seq("a_id"))
      .join(posting.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        Par.round4(col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  /** Connected components over a symmetric-closed edge list via
    * min-label propagation with POINTER DOUBLING: each round a node
    * takes the least of its own label, its neighbors' labels, and its
    * label's label (the doubling hop), so label depth halves per
    * round — O(log diameter) rounds instead of O(diameter), the
    * property that matters when a 100 TB corpus chains duplicates
    * into long paths. EXACTLY one Spark job per round: the eager
    * localCheckpoint materializes the new labels AND truncates
    * lineage, and the convergence flag rides along as a
    * LongAccumulator incremented inside that same job — no separate
    * probe action (ScaleSmokeSpec counts the jobs). A task retry can
    * only inflate the accumulator, never fake convergence: zero means
    * no task saw a change.
    */
  private[operators] def components(pairs: DataFrame): DataFrame =
    componentsWithRounds(pairs)._1

  /** components + the number of propagation rounds it took — exposed
    * so the O(log diameter) convergence claim is spec-testable
    * (ScaleSmokeSpec: a 1024-node chain converges in ≤ 12 rounds, not
    * ~1024).
    *
    * CHECKPOINT HYGIENE: each round materializes a fresh O(n)-row
    * labels frame; the previous round's blocks are dead the moment the
    * new one lands, so they are unpersisted inside the loop — peak
    * executor storage is ≤ 2 label frames + the edge list, not
    * O(rounds) frames (a billion-doc corpus runs ~12 rounds; pinning
    * 12 label tables is the difference between fitting and spilling).
    *
    * RELIABLE MODE (`reliableDir = Some(path)`): localCheckpoint is
    * non-reliable — a lost executor drops blocks with no lineage to
    * rebuild them, aborting the whole fixpoint. For cluster runs, pass
    * a (distributed-FS) directory and every round stages to parquet
    * instead; a round survives any executor loss and each round's
    * files are deleted when the next lands. Opt in globally with
    * `-Dgraft.components.checkpointDir=...` (read by dedupClusters).
    * The convergence accumulator rides the write job the same way.
    */
  private[graft] def componentsWithRounds(rawPairs: DataFrame,
      reliableDir: Option[String] = None): (DataFrame, Int) = {
    // By-name re-selection: a caller that built its edge list through
    // USING-column joins may hand us a frame whose physical column
    // order is (b_id, a_id) — the symmetric closure below is
    // POSITIONAL (unionAll), so order matters even though names bind.
    val pairs = rawPairs.select(col("a_id"), col("b_id"))
    val spark = pairs.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.components.changed")
    // rides inside the checkpoint job: counts rows whose label improved
    val mark = udf { chg: Boolean => if (chg) acc.add(1L); chg }
    def materialize(df: DataFrame, slot: String): DataFrame = reliableDir match {
      case Some(dir) =>
        val path = s"$dir/$slot"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      case None => df.localCheckpoint()
    }
    // frees a round's storage: cached blocks in local mode, the staged
    // parquet directory in reliable mode. Never called on the frame a
    // live reference still needs.
    def release(df: DataFrame, slot: String): Unit = reliableDir match {
      case Some(dir) =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$slot")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      case None =>
        df.queryExecution.analyzed.collectLeaves().foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ => ()
        }
    }
    val edges = materialize(pairs
      .unionAll(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))),
      "edges")
    // Invariant that would have caught the round-10 closure break: the
    // symmetric closure's node set must cover EVERY endpoint of the
    // input edge list. If the reversed half of the union silently
    // degenerates (e.g. column reorder making both halves identical),
    // b_id-only endpoints vanish from round_0 and nodes < endpoints.
    // Costs: TWO setup actions, never per round (ScaleSmokeSpec's
    // job guard sanctions exactly these two) — the node count is a
    // count over the ALREADY-MATERIALIZED round_0 checkpoint (no
    // recompute; exact, so unlike an accumulator it can't be masked
    // by task-retry inflation), the endpoint count one distinct over
    // the edge list, which at any scale is the cheap side of the
    // fixpoint this function is about to run log-n rounds over.
    var prev = materialize(edges.select(col("a_id").as("id")).distinct()
      .withColumn("cluster", col("id")), "round_0")
    val nodeCount = prev.count()
    val endpointCount = pairs.select(col("a_id").as("id"))
      .unionAll(pairs.select(col("b_id").as("id"))).distinct().count()
    require(nodeCount == endpointCount,
      s"components: symmetric closure lost endpoints " +
        s"($nodeCount nodes vs $endpointCount edge endpoints)")
    var prevSlot = "round_0"
    var labels = prev
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      val nbrMin = edges.join(labels, col("b_id") === col("id"))
        .groupBy(col("a_id")).agg(min(col("cluster")).as("nc"))
      val hop = labels.join(nbrMin, col("id") === col("a_id"), "left")
        .select(col("id"), col("cluster"),
          least(col("cluster"), coalesce(col("nc"), col("cluster"))).as("c1"))
      // doubling hop: follow the candidate label to ITS current label
      acc.reset()
      val slot = s"round_${rounds + 1}"
      val next = materialize(hop
        .join(labels.select(col("id").as("c1"), col("cluster").as("cc")), Seq("c1"), "left")
        .select(col("id"),
          least(col("c1"), coalesce(col("cc"), col("c1"))).as("new_cluster"),
          mark(least(col("c1"), coalesce(col("cc"), col("c1"))) < col("cluster")).as("chg")),
        slot)   // the round's ONLY job — flag included
      changed = acc.value
      release(prev, prevSlot)   // previous round is dead once `next` landed
      prev = next
      prevSlot = slot
      labels = next.select(col("id"), col("new_cluster").as("cluster"))
      rounds += 1
    }
    release(edges, "edges")   // the final labels frame doesn't read edges
    (labels.select(col("id").as("doc_id"), col("cluster").as("cluster_id")), rounds)
  }

  /** Transitive dup clustering: connected components over ALL strong
    * MinHash pairs (jaccard ≥ 0.8, uncapped) — the step that turns
    * pairwise candidates into canonical groups when duplicates chain
    * (A≈B≈C). Labels converge to the component minimum, matching the
    * oracle's recursive closure. The assignment is THE canonical
    * detect-stage output, so it is computed once per session and
    * staged cross-process like the pair source that feeds it — a
    * fresh JVM skips the whole fixpoint.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersCached(spark, dir).orderBy(col("doc_id"))

  /** The closure runs on the REP GRAPH (the oracle's quotient
    * argument, see [[quotientOf]]): components over the ≥ 0.8 pairs
    * whose endpoints are both group representatives, then every
    * member of a pair-bearing group inherits its rep's component.
    * The propagated label is already the full-graph minimum — a rep
    * is the min of its group and the component label is the min rep,
    * so no re-minimization over members is needed. Docs whose only
    * pairs are within-group (rep absent from the rep graph) label as
    * their rep. Identical output to doc-level components; the
    * pointer-doubling fixpoint iterates over #distinct-text nodes
    * instead of #docs — on a 90%-boilerplate corpus that is the
    * difference between log-rounds over 100 TB of edges and over the
    * quotient's few GB.
    */
  private def clustersCached(spark: SparkSession, dir: String): DataFrame =
    clustersOf(spark, s"dedup_clusters:$dir", s"$dir/documents.parquet",
      minhashPairs(spark, dir), minhashMembers(spark, dir))

  /** The rep-graph closure body shared by the base and grouped
    * cluster queries — parameterized on the verified pair set and the
    * exact-content quotient it was built over.
    */
  private def clustersOf(spark: SparkSession, cacheKey: String,
      fingerprintPath: String, pairSource: => DataFrame,
      memberSource: => DataFrame): DataFrame =
    DfCache.getOrCompute(spark, cacheKey)(
      DfCache.stagedFrame(spark, cacheKey,
        DfCache.inputFingerprint(spark, fingerprintPath)) {
        val pairs8 = pairSource
          .where(col("jaccard") >= 0.8)
          .select(col("a_id"), col("b_id"))
        val members = memberSource
        val isRep = members.where(col("doc_id") === col("rep_id"))
          .select(col("doc_id"))
        // NB: USING-column joins put the join key FIRST, so after the
        // Seq("b_id") semi-join the frame is physically (b_id, a_id).
        // Re-select by name before handing it to the positional
        // symmetric closure (componentsWithRounds also re-selects
        // defensively — this is the belt to its braces).
        val repEdges = pairs8
          .join(isRep.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
          .join(isRep.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
          .select(col("a_id"), col("b_id"))
        val repComp = componentsWithRounds(repEdges,
          // cluster runs opt into fault-tolerant per-round staging
          sys.props.get("graft.components.checkpointDir"))._1
        val nodes = pairs8.select(col("a_id").as("doc_id"))
          .unionAll(pairs8.select(col("b_id").as("doc_id")))
          .distinct()
        nodes.join(members, Seq("doc_id"))
          .join(repComp.select(col("doc_id").as("rep_id"), col("cluster_id")),
            Seq("rep_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
      })

  /** Apply the near-dup clustering: drop every non-canonical cluster
    * member (anti-join), keeping one representative per component —
    * the final "materialize the near-deduped corpus" step.
    */
  def neardupApply(spark: SparkSession, dir: String,
                   sorted: Boolean = true): DataFrame = {
    val drop = clustersCached(spark, dir)
      .where(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    Present.presented(
      corpusWithDups(spark, dir, perturb = true)
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
      sorted, "doc_id")
  }

  val SplitEvalFrac = 0.1

  /** LEAKAGE-AWARE train/eval split: a deterministic held-out split
    * where the unit of assignment is the NEAR-DUP CLUSTER, not the
    * document — every member of a connected component (and therefore
    * every exact duplicate, jaccard 1.0 edges) lands on the same
    * side, so a perturbed near-copy of a training document can never
    * leak into the eval set. A naive per-doc hash split has exactly
    * this failure mode: exact dups share text (same coin, safe) but
    * near-dups don't, and on this corpus every 7th document has a
    * planted near-copy that a doc-level split would straddle ~2 ·
    * frac·(1−frac) of the time.
    *
    * The split coin is the deterministic_sample md5 spelling applied
    * to the GROUP id (the component's min doc_id): reproducible
    * regardless of partitioning, cluster size or execution order.
    * Note the fraction is group-mass-level — document-level eval
    * share deviates by dup-mass skew, which is the price of a
    * leak-proof boundary and is what a real pipeline accepts.
    *
    * Scale shape: one corpus scan left-joined on doc_id against the
    * STAGED cluster assignment (pair-bearing docs only — the small
    * side; AQE broadcasts it at test scale, a doc_id hash join at
    * 100 TB), coin and side are scalar expressions. No shuffle
    * beyond the join; `sorted = false` drops the presentation
    * exchange for corpus-sized callers (the Pack convention).
    */
  def datasetSplit(spark: SparkSession, dir: String,
                   evalFrac: Double = SplitEvalFrac,
                   sorted: Boolean = true): DataFrame = {
    val corpus = corpusWithDups(spark, dir, perturb = true).select(col("doc_id"))
    val groups = clustersCached(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val asg = corpus.join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    val coin =
      md5Long(col("group_id").cast("string"), 1, 8).cast("double") / 4294967296.0
    val out = asg.select(col("doc_id"), col("group_id"),
      when(coin < evalFrac, "eval").otherwise("train").as("split"))
    if (sorted) out.orderBy(col("doc_id")) else out
  }

  /** Near-dup clusters of the BASE corpus alone (ids < CopyIdOffset)
    * — derived by restricting the staged full-corpus pair set and
    * quotient membership to base endpoints, which is EQUIVALENT to
    * running the pipeline on the base: the pair set is uncapped and
    * jaccard is a pure function of the two texts (so dropping pairs
    * with a delta endpoint = never computing them), and delta ids
    * all sort above every base id, so removing delta members never
    * changes a surviving group's rep. Staged under its own key like
    * every other detect-stage artifact.
    */
  private def baseClustersCached(spark: SparkSession, dir: String): DataFrame =
    clustersOf(spark, s"dataset_split_base:$dir", s"$dir/documents.parquet",
      minhashPairs(spark, dir)
        .where(col("a_id") < CopyIdOffset && col("b_id") < CopyIdOffset),
      minhashMembers(spark, dir).where(col("doc_id") < CopyIdOffset))

  /** INCREMENTAL leakage-aware split: the [[datasetSplit]] contract
    * for the daily-crawl shape — the historical BASE corpus already
    * has a committed split manifest (base-only clusters + group
    * coin), and each arriving DELTA document must take a side
    * CONSISTENTLY with it: a delta doc that near-matches a base doc
    * (via [[neardupIncremental]]'s staged-index probe) inherits the
    * side of its best match's group, so a fresh crawl of an eval
    * document can never drift into train; a novel delta doc gets its
    * own deterministic coin. Note the contract is consistency with
    * the FROZEN base manifest, not equality with a full re-split —
    * re-running the batch split over base+delta could relabel groups
    * a delta doc bridges, which is exactly the instability an
    * append-only training manifest cannot absorb (same argument as
    * MixStream's epoch-frozen rates).
    *
    * Scale shape: everything heavy is staged — the base cluster
    * assignment (one fixpoint per corpus version) and the base band
    * index the probe hash-joins against. Per batch: the delta-sized
    * probe, two hash joins on doc ids, a scalar coin. Output is
    * delta-sized.
    *
    * DELTA-INTERNAL duplication is quotiented too (round 13): the
    * probe matches delta docs against the BASE index only, so two
    * delta docs that are near-dups of EACH OTHER but match no base
    * doc would each get their own coin and could straddle train/eval
    * — the within-batch analog of the leak [[datasetSplit]]
    * prevents. The NOVEL remainder of the batch (docs with no base
    * match) therefore goes through the same exact-content quotient +
    * band join + rep-graph components as the batch split, and every
    * within-batch group shares one coin. The one remaining (and
    * irreducible) bridge case is a novel doc that near-matches a
    * MATCHED delta doc: the matched doc's side is frozen by the base
    * manifest it inherits, so chaining through it could contradict
    * another member's inherited side — that doc keeps its own coin,
    * the frozen-manifest trade documented above.
    */
  def datasetSplitIncremental(spark: SparkSession, dir: String,
                              evalFrac: Double = SplitEvalFrac): DataFrame = {
    // base/delta by the SAME id threshold neardupIncremental uses —
    // at an unreplicated SF base == documents exactly, and at a
    // replicated ladder rung (where ScaleGen's id shifts push clone
    // replicas past CopyIdOffset) both sides of the oracle stay on
    // one spelling instead of diverging on what "the base" means
    val full = corpusWithDups(spark, dir, perturb = true)
    val matches = neardupIncremental(spark, dir)
      .select(col("doc_id"), col("match_id"))
    val delta = full.where(col("doc_id") >= CopyIdOffset).select(col("doc_id"))
    val novel = full.where(col("doc_id") >= CopyIdOffset)
      .join(matches.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    // the memo key lives HERE, where `novel` is derived from `dir` —
    // deltaInternalGroups itself is pure in its input frame, so a
    // caller with a different batch can never be served a stale memo.
    // STAGED cross-JVM (r16): the delta-internal group build is a
    // full pair-build + pointer-doubling fixpoint (~37 s at the 256×
    // rung — the SplitProbe-attributed pass excursion the r15 bench
    // showed); deterministic in the corpus, so it stages like the
    // probe index and a fresh JVM READS it instead of recomputing
    val deltaGroups = DfCache.getOrCompute(spark, s"split_delta_groups:$dir")(
      DfCache.stagedFrame(spark, s"split_delta_groups_t08:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(
        deltaInternalGroups(spark, novel)))
    splitAssignOf(delta, matches, splitBaseManifest(spark, dir), deltaGroups,
      evalFrac)
      .orderBy(col("doc_id"))
  }

  /** The FROZEN base-side manifest [[datasetSplitIncremental]] (and
    * its streaming twin) inherit sides from: every base doc's group
    * id (its base-only cluster, or itself when unclustered). At
    * 100 TB this is the committed artifact a split owner publishes
    * once per corpus version.
    */
  private[graft] def splitBaseManifest(spark: SparkSession, dir: String): DataFrame =
    corpusWithDups(spark, dir, perturb = true)
      .where(col("doc_id") < CopyIdOffset).select(col("doc_id"))
      .join(baseClustersCached(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id").as("match_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("base_group"))

  /** The assignment tail shared verbatim by [[datasetSplitIncremental]]
    * and streaming.SplitStream (same-spelling twin discipline, the
    * MixStream pattern): three doc-id hash joins and the
    * deterministic group coin — stateless given the frozen manifest,
    * so replays are idempotent by construction.
    */
  private[graft] def splitAssignOf(delta: DataFrame, matches: DataFrame,
      baseAsg: DataFrame, deltaGroups: DataFrame,
      evalFrac: Double): DataFrame = {
    val asg = delta.join(matches, Seq("doc_id"), "left")
      .join(baseAsg, Seq("match_id"), "left")
      .join(deltaGroups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"),
        coalesce(col("base_group"), col("delta_group"), col("doc_id"))
          .as("group_id"))
    val coin =
      md5Long(col("group_id").cast("string"), 1, 8).cast("double") / 4294967296.0
    asg.select(col("doc_id"), col("match_id"), col("group_id"),
      when(coin < evalFrac, "eval").otherwise("train").as("split"))
  }

  /** Straddle-exposure audit of [[datasetSplitIncremental]]'s one
    * irreducible bridge case (r13 verdict: documented, now measured):
    * a NOVEL delta doc (own coin) that near-matches a MATCHED delta
    * doc whose side is frozen by the base manifest — its coin may
    * contradict the neighbor's inherited side, and the frozen-manifest
    * contract accepts that rather than relabel committed groups.
    * Derived entirely from the STAGED full-corpus pair set (the
    * delta–delta pairs [[minhashPairs]] already verified) — no new
    * pair build; two semi-joins per audit.
    *
    * Columns follow the capAudit contract with cap = 0 — a
    * MEASUREMENT row, not a bound: candidates = novel docs in the
    * batch, emitted = novel docs with no frozen-side neighbor (coin
    * freely assignable), dropped = the bridge docs, i.e. the batch's
    * straddle exposure a manifest owner reads before committing.
    */
  def splitBridgeAudit(spark: SparkSession, dir: String): DataFrame = {
    val full = corpusWithDups(spark, dir, perturb = true)
    val delta = full.where(col("doc_id") >= CopyIdOffset).select(col("doc_id"))
    val matched = neardupIncremental(spark, dir).select(col("doc_id"))
    val novel = delta.join(matched, Seq("doc_id"), "left_anti")
    splitBridgeAuditOf(novel, matched,
      minhashPairs(spark, dir).where(col("jaccard") >= 0.8))
  }

  /** The audit body over explicit (doc_id) novel/matched sets and a
    * verified ≥-threshold pair frame — the seam the bridge-planting
    * spec drives (DatasetSplitIncrementalSpec).
    */
  private[graft] def splitBridgeAuditOf(novel: DataFrame, matched: DataFrame,
      pairs: DataFrame): DataFrame = {
    val bridge = pairs
      .join(novel.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(matched.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      .select(col("a_id").as("doc_id"))
      .unionAll(pairs
        .join(novel.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
        .join(matched.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
        .select(col("b_id").as("doc_id")))
      .distinct()
    novel.agg(count(lit(1)).as("n"))
      .crossJoin(bridge.agg(count(lit(1)).as("b")))
      .select(lit("dataset_split_incremental.bridge").as("stage"),
        lit(0L).as("cap"), lit("novel_docs").as("unit"),
        col("n").as("candidates"), (col("n") - col("b")).as("emitted"))
  }

  /** Within-batch near-dup groups of the NOVEL delta docs (those
    * with no base match) — the delta-internal quotient
    * [[datasetSplitIncremental]] coins on: exact dups share their
    * content rep ([[quotientOf]]), near-dup components share their
    * component minimum. The band/verify pipeline runs on the REP SET
    * with an identity quotient — [[minhashPairsOf]] degenerates to
    * the plain rep-level build (empty `within`, trivial `cross`), so
    * a clone-flooded batch never materializes its clique expansion
    * only to contract it again. Unlike `clustersOf` (which assigns
    * only pair-bearing docs — its callers coalesce the rest), the
    * output here covers EVERY novel doc, because isolated docs still
    * need their content-rep group id for the coin. Returns a
    * MATERIALIZED (doc_id, delta_group) frame; pure in `novel` — the
    * caller owns any memoization, keyed on whatever derived the
    * batch. A batch whose every doc matched base (the steady-state
    * recrawl) short-circuits on one `novel.isEmpty` probe, before
    * the quotient's content-hash shuffle exists at all. `threshold`
    * must be the SAME jaccard floor the caller's base matcher used —
    * a coin group built under a different near-dup definition than
    * the match step would split sides inconsistently with the
    * requested leakage contract.
    */
  private[graft] def deltaInternalGroups(spark: SparkSession,
      novel0: DataFrame, threshold: Double = 0.8): DataFrame = {
    val novel = novel0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (novel.isEmpty)
        novel.select(col("doc_id"), col("doc_id").as("delta_group"))
          .localCheckpoint()
      else {
        // unpersist in finally, mirroring novel's handling: a throw in
        // the pair build / fixpoint / checkpoint must not leak the
        // cached posting for the rest of the session
        val members = cachedPosting(quotientOf(novel))
        try {
          val reps = novel.join(
            members.where(col("doc_id") === col("rep_id")).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          val idMembers = reps.select(col("doc_id"),
            col("doc_id").as("rep_id"))
          val repEdges = minhashPairsOf(reps, Some(idMembers))(_.localCheckpoint())
            .where(col("jaccard") >= threshold).select(col("a_id"), col("b_id"))
          // a batch whose only near-dups are exact (within-group)
          // pairs has NO rep edges — skip the fixpoint rather than
          // run pointer doubling over an empty graph (the empty
          // localCheckpoint rounds also confuse the block manager
          // with release-vs-reuse races on degenerate plans)
          val repComp =
            if (repEdges.isEmpty)
              repEdges.select(col("a_id").as("doc_id"),
                col("b_id").as("cluster_id"))
            else componentsWithRounds(repEdges,
              sys.props.get("graft.components.checkpointDir"))._1
          members
            .join(repComp.select(col("doc_id").as("rep_id"), col("cluster_id")),
              Seq("rep_id"), "left")
            .select(col("doc_id"),
              coalesce(col("cluster_id"), col("rep_id")).as("delta_group"))
            .localCheckpoint()
        } finally members.unpersist()
      }
    } finally novel.unpersist()
  }

  /** INCREMENTAL near-dup detection: a small DELTA of new documents
    * probed against the PERSISTED MinHash band index of the
    * historical BASE corpus — the daily-crawl shape, where
    * re-shingling and re-banding 100 TB of history for every
    * arriving batch is the cost incremental processing exists to
    * avoid. Here the injected copies ARE the delta (ids ≥
    * [[CopyIdOffset]]) and the original documents the base.
    *
    * The base's shingle posting and banded signatures are staged once
    * per corpus version (DfCache.stagedFrame — cross-process, exactly
    * the persisted-index pattern ChunkIndex uses); a fresh JVM probes
    * the staged index without re-deriving it. Per delta batch the
    * work is: shingle + band the DELTA only, hash-join its band keys
    * against the index, and verify the (few) colliding pairs with
    * exact Jaccard against the union posting. Verify volume is
    * O(delta's collisions), independent of base size.
    *
    * Output: each delta document's best base match at jaccard ≥
    * `threshold` (ties broken by min base id) — the report a crawl
    * operator acts on; novel delta docs emit nothing.
    */
  def neardupIncremental(spark: SparkSession, dir: String,
                         threshold: Double = 0.8): DataFrame = {
    val corpus = corpusWithDups(spark, dir, perturb = true)
    val fp = DfCache.inputFingerprint(spark, s"$dir/documents.parquet")
    neardupIncrementalOf(
      corpus.where(col("doc_id") < CopyIdOffset),
      corpus.where(col("doc_id") >= CopyIdOffset),
      threshold,
      // base-index frames are the persisted artifact (cross-process,
      // rebuilt only when the corpus version changes); delta frames
      // are per-batch and session-cached only
      mat = (slot, df) => slot match {
        case "base_rep_posting" | "base_rep_banded" =>
          DfCache.getOrCompute(spark, s"neardup_$slot:$dir")(
            DfCache.stagedFrame(spark, s"neardup_$slot:$dir", fp)(df))
        case _ =>
          DfCache.getOrCompute(spark, s"neardup_$slot:$dir")(cachedPosting(df))
      })
  }

  /** The incremental probe over arbitrary base/delta corpora — the
    * body of [[neardupIncremental]], QUOTIENTED by exact content on
    * BOTH sides like [[minhashPairsOf]]: signatures, bands and the
    * verify all run on one rep per distinct text, and the verified
    * best-match is projected back onto the delta members at the end.
    * Without the contraction, a corpus where every text has k exact
    * clones pays k² candidate combos per true near-pair in the band
    * join (measured: the scale ladder's replicated rungs); with it,
    * candidate volume tracks DISTINCT texts on both sides.
    *
    * Output equality with the doc-level build (QuotientSpec proves it
    * on a cloned corpus): jaccard is a pure function of the text, so
    * every member of a delta group has the same candidate jaccards as
    * its rep, and the doc-level tie-break (min base id among argmax
    * docs) lands on a group MINIMUM — which is exactly the rep the
    * rep-level tie-break picks.
    *
    * `mat(slot, df)` materializes the build's reusable frames; slots
    * `base_rep_posting` / `base_rep_banded` form the persisted index,
    * `delta_members` / `delta_rep_posting` the per-batch state.
    */
  private[graft] def neardupIncrementalOf(base: DataFrame, delta: DataFrame,
      threshold: Double,
      mat: (String, DataFrame) => DataFrame = (_, df) => cachedPosting(df)): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    def repsOf(corpus: DataFrame, members: DataFrame) = corpus.join(
      members.where(col("doc_id") === col("rep_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // persisted index: one rep per distinct base text, shingled + banded
    val baseRepPosting = mat("base_rep_posting",
      shinglePosting(repsOf(base, quotientOf(base)), col("doc_id"), col("text"), 3))
    val baseBanded = mat("base_rep_banded", bandedSigsOf(baseRepPosting))
    // arriving batch: quotient + shingle + band the delta reps only
    val deltaMembers = mat("delta_members", quotientOf(delta))
    val deltaRepPosting = mat("delta_rep_posting",
      shinglePosting(repsOf(delta, deltaMembers), col("doc_id"), col("text"), 3))
    // r18: the delta's banded signatures are per-batch index state
    // exactly like delta_rep_posting (the probe side of the LSH
    // index); without the slot every consumer of the probe result —
    // the report itself AND dataset_split_incremental's assignment —
    // re-ran the signature build per invocation (~0.3 s/pass at
    // sf0.1, IncProbe receipt).
    val deltaBanded = mat("delta_rep_banded", bandedSigsOf(deltaRepPosting))
    val cand = deltaBanded
      .select(col("bd"), col("band_key"), col("doc_id").as("b_id"))
      .join(baseBanded.select(col("bd"), col("band_key"), col("doc_id").as("a_id")),
        Seq("bd", "band_key"))
      .select(col("a_id"), col("b_id"))
      .distinct()   // a pair may collide in several bands
    val w = Window.partitionBy(col("b_id"))
      .orderBy(col("jaccard").desc, col("a_id"))
    // r18 (verdict #3): the VERIFIED best-match table is the final
    // piece of per-batch probe state — band join + jaccard verify +
    // argmax, ~0.5 s/pass at sf0.1 — and BOTH consumers of the probe
    // (the report itself and dataset_split_incremental's assignment)
    // re-ran it per invocation. Same per-batch class as
    // delta_rep_posting/banded: computed once per batch, released
    // with it.
    val bestPerRep = mat("delta_best_match",
      jaccardOf(cand, baseRepPosting.unionByName(deltaRepPosting))
        .where(col("jaccard") >= threshold)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("b_id").as("rep_id"), col("a_id").as("match_id"), col("jaccard")))
    // every exact clone of a matched delta rep inherits the match
    deltaMembers.join(bestPerRep, Seq("rep_id"))
      .select(col("doc_id"), col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** The near-dup corpus with SURVIVING EXACT-DUPLICATE GROUPS — the
    * input shape the exact-content quotient ([[quotientOf]]) exists
    * for. [[corpusWithDups]]' perturbed copies are all distinct
    * texts, so on it the quotient is the identity and the expansion
    * code (within-clique emission, cross-pair lifting, rep-graph
    * projection) never runs a multi-member group; this corpus makes
    * gn ≥ 2 and gn ≥ 3 groups real, the way a boilerplate-heavy crawl
    * does:
    *  - every 14th doc gains an exact copy (+200000), every 28th a
    *    second (+300000) → base-text groups of size 2 and 3;
    *  - every 14th doc's PERTURBED text (+100000 near-copy of every
    *    7th) gains its own exact copy (+400000) → a multi-member
    *    group on the other side of a cross-group near-dup edge;
    *  - every 10th doc's first two words appear twice (+500000,
    *    +600000) → a gn ≥ 2 group whose text cannot shingle
    *    (< 3 tokens), exercising the expansion's eligibility skip.
    */
  private[graft] def corpusWithGroups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val drop1 = expr("substring(text, instr(text, ' ') + 1)")
    val first2 = regexp_extract(col("text"), "^(\\S+ \\S+)", 1)
    def shifted(modulo: Int, offset: Long, text: org.apache.spark.sql.Column) =
      base.where(col("doc_id") % modulo === 0)
        .select((col("doc_id") + offset).as("doc_id"), text.as("text"))
    base
      .unionAll(shifted(7,  100000L, drop1))
      .unionAll(shifted(14, 200000L, col("text")))
      .unionAll(shifted(28, 300000L, col("text")))
      .unionAll(shifted(14, 400000L, drop1))
      .unionAll(shifted(10, 500000L, first2))
      .unionAll(shifted(10, 600000L, first2))
  }

  /** Quotient of the grouped corpus, session-cached like
    * [[minhashMembers]].
    */
  private[operators] def minhashMembersGrouped(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_members:g:$dir")(
      quotientOf(corpusWithGroups(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Verified pair set over [[corpusWithGroups]] — the gated query
    * where the quotient contraction is NOT the identity, so the
    * within/cross expansion is exercised against the oracle's
    * doc-level spelling (the base corpus can't: 572 docs, 572
    * distinct texts).
    */
  private[graft] def minhashPairsGrouped(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_pairs:g:$dir") {
      minhashPairsOf(corpusWithGroups(spark, dir),
        Some(minhashMembersGrouped(spark, dir)))(
        DfCache.stagedFrame(spark, s"minhash_pairs:g:$dir",
          DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(_))
    }

  /** REP-LEVEL verified pair table of the grouped corpus — the small
    * staged artifact (≈ |distinct texts|² candidate bound, rung-flat)
    * every grouped consumer derives from since r15. The FULL
    * quotient-expanded pair set ([[minhashPairsGrouped]]) is
    * Θ(Σ group²) — on replicated rungs that is quadratic in clone
    * multiplicity BY SEMANTICS (every clone pair is a real verified
    * pair), which is exactly the ×4-per-doubling growth the r14
    * verdict flagged; nothing the gated queries emit needs it
    * materialized, so they now expand lazily and boundedly from this
    * rep table instead.
    */
  private[graft] def minhashGroupedRepPairs(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_rep_pairs:g:$dir") {
      val members = minhashMembersGrouped(spark, dir)
      val reps = corpusWithGroups(spark, dir).join(
        members.where(col("doc_id") === col("rep_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val posting = cachedPosting(shinglePosting(reps, col("doc_id"), col("text"), 3))
      val banded = bandedSigsOf(posting)
      val cand = banded.select(col("bd"), col("band_key"), col("doc_id").as("a_id"))
        .join(banded.select(col("bd"), col("band_key"), col("doc_id").as("b_id")),
          Seq("bd", "band_key"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        .distinct()
      val pairs = DfCache.stagedFrame(spark, s"minhash_rep_pairs:g:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(
        jaccardOf(cand, posting))
      posting.unpersist()
      pairs
    }

  /** Reps of the grouped corpus that yield ≥ 1 shingle — the
    * within-clique eligibility set (a group whose text cannot shingle
    * pairs with nothing at doc level; the expansion must skip it).
    */
  private[graft] def minhashGroupedEligibleReps(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"minhash_rep_elig:g:$dir")(
      DfCache.stagedFrame(spark, s"minhash_rep_elig:g:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet")) {
        val members = minhashMembersGrouped(spark, dir)
        val reps = corpusWithGroups(spark, dir).join(
          members.where(col("doc_id") === col("rep_id")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        shinglePosting(reps, col("doc_id"), col("text"), 3)
          .select(col("doc_id").as("rep_id")).distinct()
      })

  /** First-(topN+1) member slates per group, sorted by doc_id (= group
    * rank) — the bounded carrier of the report expansion below.
    */
  private def groupedSlates(spark: SparkSession, dir: String, slateN: Int): DataFrame = {
    val gw = Window.partitionBy(col("rep_id")).orderBy(col("doc_id"))
    minhashMembersGrouped(spark, dir)
      .withColumn("grk", row_number().over(gw))
      .where(col("grk") <= slateN)
      .groupBy(col("rep_id"))
      .agg(sort_array(collect_list(col("doc_id"))).as("sl"))
  }

  /** Top-50 near-dup report over the grouped corpus — since r15 a
    * DOMINANCE-TRIMMED expansion of the staged rep pair table: the
    * global order is (jaccard desc, a_id, b_id) with every pair of one
    * instance (a group's clique, or one rep edge) carrying the SAME
    * jaccard, so any pair beyond each instance's first topN+1 member
    * slate is preceded by ≥ topN same-instance pairs and can never
    * reach the report. Cost: ≤ C(topN+1, 2) rows per eligible group +
    * (topN+1)² per rep edge — flat across replication rungs, where the
    * full expansion is Θ(Σ group²) (QuotientSpec proves top-N equality
    * with the full expansion; the quotient-respelled oracle adjudicates
    * it hash-exact at every rung including ≥64×, closing the r14
    * standing skip).
    */
  def dedupMinhashGrouped(spark: SparkSession, dir: String,
                          topN: Int = 50): DataFrame =
    groupedReportStream(spark, dir, topN)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(topN)

  /** The trimmed pre-limit pair stream of [[dedupMinhashGrouped]] —
    * split out so the cap audit counts exactly what the report sorts.
    */
  private[graft] def groupedReportStream(spark: SparkSession, dir: String,
                                         topN: Int = 50): DataFrame = {
    val slateN = topN + 1
    // consumed by the within stream AND both cross-join sides —
    // materialized once per invocation (r17, guide §2.4/§5; the
    // simhashExpandedQualifyingOf receipt)
    val slates = cachedPosting(groupedSlates(spark, dir, slateN))
    val within = slates
      .join(minhashGroupedEligibleReps(spark, dir), Seq("rep_id"), "left_semi")
      .select(posexplode(col("sl")).as(Seq("i", "a_id")), col("sl"))
      .select(col("a_id"),
        explode(slice(col("sl"), col("i") + 2, lit(slateN))).as("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    val crossx = minhashGroupedRepPairs(spark, dir)
      .join(slates.select(col("rep_id").as("a_id"), col("sl").as("sa")), Seq("a_id"))
      .join(slates.select(col("rep_id").as("b_id"), col("sl").as("sb")), Seq("b_id"))
      .select(col("jaccard"), explode(col("sa")).as("ma"), col("sb"))
      .select(col("jaccard"), col("ma"), explode(col("sb")).as("mb"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("jaccard"))
    within.unionAll(crossx)
  }

  /** Transitive clustering over the grouped corpus — since r15 built
    * DIRECTLY from the rep pair table: the component closure runs on
    * the rep graph (≥0.8 edges), and a doc is clustered iff its group
    * qualifies — a ≥0.8 cross edge touches its rep, or the group is a
    * multi-member eligible clique (its within pairs sit at jaccard
    * 1.0). Identical to closing over the full expanded pair set (the
    * expansion adds no rep-graph edges and no further nodes —
    * QuotientSpec pins equality against doc-level ground truth), at
    * rep-table cost instead of Θ(Σ group²).
    */
  def dedupClustersGrouped(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"dedup_clusters:g2:$dir")(
      DfCache.stagedFrame(spark, s"dedup_clusters:g2:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet")) {
        val members = minhashMembersGrouped(spark, dir)
        val repPairs8 = minhashGroupedRepPairs(spark, dir)
          .where(col("jaccard") >= 0.8)
          .select(col("a_id"), col("b_id"))
        // empty-edge guard: never run pointer doubling over an empty
        // graph (degenerate localCheckpoint rounds race the block
        // manager — the deltaInternalGroups convention)
        val repComp =
          if (repPairs8.isEmpty)
            repPairs8.select(col("a_id").as("doc_id"),
              col("b_id").as("cluster_id"))
          else componentsWithRounds(repPairs8,
            sys.props.get("graft.components.checkpointDir"))._1
        val gn = members.groupBy(col("rep_id")).agg(count(lit(1)).as("gn"))
        val qualReps = repPairs8.select(col("a_id").as("rep_id"))
          .unionAll(repPairs8.select(col("b_id").as("rep_id")))
          .unionAll(gn.where(col("gn") >= 2)
            .join(minhashGroupedEligibleReps(spark, dir), Seq("rep_id"), "left_semi")
            .select(col("rep_id")))
          .distinct()
        members.join(qualReps, Seq("rep_id"), "left_semi")
          .join(repComp.select(col("doc_id").as("rep_id"), col("cluster_id")),
            Seq("rep_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
      })
      .orderBy(col("doc_id"))

  /** SimHash near-dup: 32-bit signature from per-bit majority votes
    * of token md5s; candidate pairs share one of the two 16-bit
    * halves, verified with exact hamming ≤ 6. Recall is GUARANTEED
    * only for hamming ≤ 1 (a single differing bit leaves one half
    * intact); pairs with 2-6 differing bits are found iff all diffs
    * fall in one half — the standard LSH-style recall/candidate-
    * volume tradeoff (guaranteeing hamming ≤ 6 needs 7 blocks of
    * ~4.5 bits, whose 16-value keys would make candidate generation
    * quadratic).
    *
    * Two bounds keep BOTH the compare CPU and the output LINEAR in
    * corpus size no matter how hot a half-bucket gets
    * (boilerplate-heavy pretraining corpora make near-identical
    * signatures in bulk):
    *  - [[SimhashBucketCap]] bounds the JOIN INTERMEDIATE: each
    *    bucket's build side is its first `cap` occupants (smallest
    *    doc_ids), so candidate volume is ≤ 2·cap·n rows — every doc
    *    still probes both its buckets but compares against ≤ cap
    *    representatives per bucket (the former uncapped self-join
    *    streamed Σ bucket² compares: 12× time for 2× data on the
    *    64× ladder rung);
    *  - each vector reports at most [[SimhashPartnerCap]] verified
    *    partners, nearest hamming first, via the map-side-combining
    *    TopKAgg (mirror of [[VectorSearch.embeddingDupCandidates]]) —
    *    the final output is ≤ cap·n rows.
    * Both caps are audited in [[capAudit]] and mirrored exactly by
    * the DuckDB oracle, so a cap that starts biting shows up as data,
    * never as a silent recall cliff.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    partnerCapped(simhashExpandedQualifying(spark, dir))
      .orderBy(col("hamming"), col("a_id"), col("b_id"))

  /** The per-vector partner cap shared by the grouped and plain
    * simhash paths: nearest-[[SimhashPartnerCap]] partners per a_id,
    * hamming ascending, via the map-side-combining TopKAgg. One
    * definition so the cap and its tie-break can never silently
    * diverge between the two oracle-gated paths.
    */
  /** Test seam: ScaleSmokeSpec proves the dominance trim leaves the
    * partner-capped output identical to the untrimmed expansion.
    */
  private[graft] def partnerCappedForTest(qualifying: DataFrame): DataFrame =
    partnerCapped(qualifying)

  private def partnerCapped(qualifying: DataFrame): DataFrame =
    qualifying
      .groupBy(col("a_id"))
      .agg(graft.functions.TopK.topK(SimhashPartnerCap)(
        -col("hamming").cast("double"), col("b_id")).as("top"))
      .select(col("a_id"), explode(col("top")).as("hit"))
      .select(col("a_id"), col("hit.id").as("b_id"),
        (-col("hit.score")).cast("long").as("hamming"))

  /** The staged REP signature table behind [[dedupSimhash]] — one
    * signature per distinct text ([[quotientOf]] representative), the
    * same exact-content contraction the MinHash build runs: identical
    * texts have identical token multisets hence identical signatures,
    * so signing them separately only wastes the half-bucket cap's
    * slots on copies of one text (on a boilerplate-heavy corpus the
    * 32-slot build side would fill with ONE template's clones and the
    * cap's recall cost would concentrate exactly where near-dup mass
    * is). Shared with the cap audit so both count the same artifact.
    */
  private[operators] def simhashSigsCached(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"simhash_rep_sigs:$dir")(
      DfCache.stagedFrame(spark, s"simhash_rep_sigs:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet")) {
        val members = minhashMembers(spark, dir)
        val reps = corpusWithDups(spark, dir, perturb = true)
          .join(members.where(col("doc_id") === col("rep_id"))
            .select(col("doc_id")), Seq("doc_id"), "left_semi")
        simhashSigs(reps)
      })

  /** The qualifying pair stream of [[dedupSimhash]], quotient-
    * expanded: hamming-≤ 6 pairs are found between GROUP
    * REPRESENTATIVES ([[simhashSigsCached]] — so the half-bucket cap
    * spends its slots on distinct texts), then expanded over the
    * exact-content groups:
    *  - WITHIN a group, members pair at hamming 0 (identical
    *    signatures). The group is itself a degenerate hot bucket, so
    *    the same build-side cap applies: semantically every member
    *    pairs with the group's first [[SimhashBucketCap]] members
    *    (the oracle's spelling); groups whose text has no token have
    *    no signature and pair with nothing.
    *  - ACROSS groups, a verified rep pair lifts to combos of the two
    *    groups' first-[[SimhashBucketCap]] member slates at the reps'
    *    hamming — at most cap² semantic rows per rep edge,
    *    INDEPENDENT of group size. Cross recall is carried by one
    *    slate per DISTINCT TEXT (the contraction's whole point); the
    *    group_cap audit row reports exactly how many members sat
    *    beyond the slate. (The earlier either-side rule re-admitted
    *    |Ga|·|Gb| combos whenever both groups fit under the cap —
    *    215M candidate pairs at the 64× rung, measured — so the
    *    expansion grew with clone count, the very dependence the
    *    quotient exists to remove.)
    * The implementation emits the dominance-TRIMMED subset of those
    * semantics (see the body): shuffled volume pk·n + 2·cap·pk per
    * edge, with [[dedupSimhash]]'s final output provably identical.
    * Clones beyond a slate's first pk successors don't reach the
    * partner REPORT in either spelling — that is the partner cap's
    * design; complete clone enumeration is the exact-dedup family's
    * job ([[dedupExact]]/[[dedupClusters]]), not this report's. Both
    * the partner cap and the group cap are audited ([[capAudit]]);
    * the oracle mirrors the semantic stages.
    */
  /** The verified hamming-≤6 pair set over the staged rep signature
    * table — deterministic in the corpus like the sig table itself,
    * so it stages as the detect-stage artifact of the simhash index
    * (the minhash family's `minhash_pairs` twin): a warm pass reads
    * parquet instead of re-running banding + XOR verify + distinct
    * per invocation (r18; StageProbe showed the rebuild chain in
    * every pass).
    */
  private[operators] def simhashRepPairsCached(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"simhash_rep_pairs:$dir")(
      DfCache.stagedFrame(spark, s"simhash_rep_pairs:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(
        simhashQualifying(simhashSigsCached(spark, dir))))

  private[operators] def simhashExpandedQualifying(spark: SparkSession, dir: String): DataFrame =
    simhashExpandedQualifyingOf(minhashMembers(spark, dir),
      simhashSigsCached(spark, dir),
      repQ0 = Some(simhashRepPairsCached(spark, dir)))

  /** The expansion body over an explicit (doc_id, rep_id) quotient
    * and rep signature table — the seam ScaleSmokeSpec uses to prove
    * the cross bound is group-size-free on a synthetic mega-group
    * corpus no gate dir contains.
    */
  private[graft] def simhashExpandedQualifyingOf(members: DataFrame,
      sigs: DataFrame, repQ0: Option[DataFrame] = None): DataFrame = {
    val cap = SimhashBucketCap
    val pk = SimhashPartnerCap
    // callers with a staged pair table pass it in; the seam default
    // derives it from the sig frame (one spelling — the staged table
    // IS this expression's output)
    val repQ = repQ0.getOrElse(simhashQualifying(sigs))
    // DOMINANCE TRIM, applied to both streams below: the partner cap
    // keeps each doc's pk best pairs by (hamming asc, b_id asc), and
    // within one stream instance (a group's clique, or one rep edge)
    // every pair carries the SAME hamming — so a candidate outranked
    // by pk same-hamming smaller-id candidates charged to the same
    // doc can never reach its TopK(pk) list. Emitting only those pk
    // per (doc, instance) leaves [[dedupSimhash]]'s output BIT-
    // IDENTICAL (ScaleSmokeSpec asserts equality against the
    // untrimmed spelling, which the oracle still spells) while the
    // shuffled candidate volume drops from cap·n + cap²·|edges| to
    // pk·n + 2·cap·pk·|edges|.
    val gw = Window.partitionBy(col("rep_id")).orderBy(col("doc_id"))
    // a slate member's within-partners are exactly the group members
    // AFTER it in id order (pairs charge to their min side), so its
    // pk best are the next pk ids — read off the SAME window pass
    // that ranks the slate, no extra shuffle
    val ranked = members
      .withColumn("grk", row_number().over(gw))
      .withColumn("nxt",
        array((1 to pk).map(i => lead(col("doc_id"), i).over(gw)): _*))
    val eligible = ranked.join(
      sigs.select(col("doc_id").as("rep_id")), Seq("rep_id"), "left_semi")
    // MATERIALIZED multi-consumer frames (r17, guide §2.4/§5): `slate`
    // feeds the within stream AND the slate-array aggregate, and
    // `slates` sits on BOTH sides of the cross join — left as plain
    // lineage, the planner re-derives the members window + semi-join
    // chain once per consumer (the r17 plan-metrics receipt showed the
    // Window/Exchange subtree FOUR times: ~4× the task time of one
    // pass at every scale). The cachedPosting persist makes each
    // compute once per invocation; at 100 TB these are the
    // detect-stage staging tables (cachedPosting's documented analog).
    val slate = cachedPosting(eligible.where(col("grk") <= cap))
    val within = slate
      .select(col("doc_id").as("a_id"),
        explode(filter(col("nxt"), x => x.isNotNull)).as("b_id"))
      .select(col("a_id"), col("b_id"), lit(0L).as("hamming"))
    // bounded (≤ cap ids, sorted) slate arrays carry the cross lift;
    // filter+slice is the same trim against the partner group's slate.
    // `g` (full group size) rides along for the saturation trim below.
    val slates = cachedPosting(slate.groupBy(col("rep_id"))
      .agg(sort_array(collect_list(col("doc_id"))).as("slate"),
        max(col("grk")).as("slate_n"))
      .join(members.groupBy(col("rep_id")).agg(count(lit(1)).as("g")),
        Seq("rep_id")))
    val crossE = repQ
      .join(slates.select(col("rep_id").as("a_id"), col("slate").as("sa"),
        col("g").as("ga")), Seq("a_id"))
      .join(slates.select(col("rep_id").as("b_id"), col("slate").as("sb"),
        col("g").as("gb")), Seq("b_id"))
    // SATURATION TRIM (second dominance rule, r15): a slate member at
    // group rank i with at least pk successors in its own group
    // (i ≤ g − pk) already holds pk hamming-0 within-candidates, so a
    // cross candidate at hamming ≥ 1 can never enter its TopK(pk) —
    // only hamming-0 cross edges, and the ≤ pk unsaturated tail
    // members of each slate, still need cross rows. On replicated
    // corpora (clone groups ≫ pk) this collapses the cross stream
    // from ~2·cap·pk·|edges| to ~0 while [[dedupSimhash]]'s output
    // stays BIT-IDENTICAL (ScaleSmokeSpec asserts equality against
    // the untrimmed spelling, which the oracle still spells). The
    // slate array is sorted by doc_id = group-rank order, so a
    // member's rank is its posexplode position + 1.
    def half(mine: String, theirs: String, gmine: String): DataFrame = crossE
      .select(col("hamming"), posexplode(col(mine)).as(Seq("i", "m")),
        col(theirs).as("othr"), col(gmine).as("g"))
      .where(col("hamming") === 0L || (col("i") + 1) > (col("g") - pk))
      .select(col("m").as("a_id"),
        explode(slice(filter(col("othr"), x => x > col("m")), 1, pk)).as("b_id"),
        col("hamming"))
      .select(col("a_id"), col("b_id"), col("hamming"))
    within.unionAll(half("sa", "sb", "ga")).unionAll(half("sb", "sa", "gb"))
  }

  /** Capped verified simhash partner pairs of any (doc_id, text)
    * frame — split from [[dedupSimhash]] so the linear-output bound is
    * directly testable (ScaleSmokeSpec: pair count stays ≤ cap·n when
    * one half-bucket holds the whole corpus).
    */
  private[graft] def simhashPartners(corpus: DataFrame): DataFrame =
    simhashPartnersOfSigs(simhashSigs(corpus))

  /** (doc_id, simhash) signature table — an index artifact: built
    * once per session and staged cross-process ([[DfCache]]) for the
    * oracle query; per-bit majority votes of token md5s.
    */
  private[graft] def simhashSigs(corpus: DataFrame): DataFrame = {
    val tok = corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), md5Long(col("t"), 1, 8).as("h"))
    val bitVotes = (0 until SimhashBits).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$bit")
    }
    tok.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map { bit =>
          when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(0L)
        }.reduce(_ + _).as("simhash"))
  }

  /** The two 16-bit half-key blocking rows per signature. */
  private[operators] def simhashHalves(sim: DataFrame): DataFrame =
    sim.select(col("doc_id"), col("simhash"),
        lit(0).as("half_idx"), shiftright(col("simhash"), 16).as("half"))
      .unionAll(sim.select(col("doc_id"), col("simhash"),
        lit(1).as("half_idx"), col("simhash").bitwiseAND(0xFFFFL).as("half")))

  /** Raw candidate stream — the half-bucket join's INTERMEDIATE, the
    * stage [[SimhashBucketCap]] bounds: probe side is every half row
    * (carrying its OWN bucket rank `a_brk`), build side only each
    * bucket's first `bucketCap` occupants, so the output is
    * ≤ Σ_buckets bucket·min(bucket, cap) ≤ 2·cap·n rows
    * (ScaleSmokeSpec floods one bucket with the whole corpus and
    * counts this frame). The probe-side rank lets the qualifying
    * stage emit each in-cap pair ONCE by construction (`a_id < b_id`
    * when both sit in the cap) instead of once per join order.
    */
  private[graft] def simhashCandidates(sim: DataFrame, bucketCap: Int): DataFrame = {
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("half_idx"), col("half")).orderBy(col("doc_id"))
    val ranked = simhashHalves(sim)
      .withColumn("brk", row_number().over(bw))
    val bcap = ranked
      .where(col("brk") <= bucketCap)
      .select(col("half_idx"), col("half"),
        col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    ranked.select(col("half_idx"), col("half"),
        col("doc_id").as("a_id"), col("simhash").as("a_sim"),
        col("brk").as("a_brk"))
      .join(bcap, Seq("half_idx", "half"))
      .where(col("a_id") =!= col("b_id"))
  }

  /** Pre-partner-cap qualifying pair stream (hamming ≤ 6, each pair
    * exactly once) — split from the capped tail so the cap audit can
    * count what [[SimhashPartnerCap]] drops.
    */
  private[operators] def simhashQualifying(sim: DataFrame): DataFrame =
    simhashQualifying(sim, SimhashBucketCap)

  private[graft] def simhashQualifying(sim: DataFrame, bucketCap: Int): DataFrame =
    simhashCandidates(sim, bucketCap)
      // within one bucket each pair emits once: the a<b orientation
      // when both members are in the cap, the (out-of-cap → in-cap)
      // orientation otherwise — a map-side filter, no dedup shuffle
      // for the single-bucket case
      .where(col("a_brk") > bucketCap || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long").as("hamming"))
      .where(col("hamming") <= 6)
      // a pair colliding in BOTH halves still surfaces twice (once per
      // half): the distinct collapses it, shuffling only the
      // hamming-qualified once-per-bucket stream (≤ cap·n rows + the
      // both-halves overlap), never the full bucket² pair set
      .distinct()

  private def simhashPartnersOfSigs(sim: DataFrame): DataFrame =
    partnerCapped(simhashQualifying(sim))

  /** Natural-corpus distinct-shingle posting list, cached per
    * (session, dir) and staged as parquet — shared by ngram_jaccard,
    * contamination_check and repetition_score; a fresh JVM re-reads
    * the staged table instead of re-hashing every shingle.
    */
  private[graft] def natPosting(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrCompute(spark, s"nat_posting:$dir")(
      DfCache.stagedFrame(spark, s"nat_posting:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(
        shinglePosting(Tables.documents(spark, dir), col("doc_id"), col("text"), 3)))

  /** Shingles per doc used as blocking keys in ngram_jaccard (the
    * prefix-filter size of similarity-join literature).
    */
  val NgramPrefix = 5
  /** Max docs considered per blocking shingle (bucket cap): bounds
    * candidate volume even when the relative df ceiling grows with
    * the corpus.
    */
  val NgramBucketCap = 64
  /** FLOOR of the exact-verification budget: candidate pairs that get
    * EXACT Jaccard verification, selected by the cheap
    * blocking-evidence proxy. The effective budget is
    * [[ngramVerifyBudget]] — corpus-relative, like the df window: an
    * absolute constant would silently shrink the detector's recall as
    * the corpus grows past it (cap_audit made that visible; this
    * makes it scale).
    */
  val NgramVerifyBudget = 200

  /** Effective verify budget for an `nDocs`-document corpus:
    * max(floor, ⌈nDocs/25⌉) — identical formula in the DuckDB oracle.
    * Verification cost stays linear in corpus size (each verified
    * pair is one bounded posting-list intersection).
    */
  def ngramVerifyBudget(nDocs: Long): Long =
    math.max(NgramVerifyBudget.toLong, (nDocs + 24L) / 25L)

  /** Word-3-gram Jaccard over the natural corpus: top-20 most-similar
    * pairs. Three rules keep this correct AND linear at 100×:
    *
    *  - CORPUS-RELATIVE rarity window, df ∈ [2, max(5, ⌈N/100⌉)] for
    *    N documents — an absolute upper bound silently collapses
    *    recall at scale (every shingle's df outgrows it while the
    *    query stays green);
    *  - BOUNDED BLOCKING: each doc contributes its [[NgramPrefix]]
    *    rarest in-window shingles as blocking keys, and each blocking
    *    shingle pairs at most [[NgramBucketCap]] docs — candidates
    *    are ≤ prefix·cap·n no matter how the df ceiling grows (the
    *    relative window alone re-admits Σ C(df,2) blow-up on
    *    duplicate-heavy corpora, where EVERY shingle lands in-window);
    *  - TWO-STAGE RANKING: candidates are ranked by cheap blocking
    *    evidence (shared rare shingles, then rarest-shared df) and
    *    only the [[ngramVerifyBudget]] strongest get the exact
    *    posting-list Jaccard — the budget scales with the corpus
    *    (max(200, ⌈n/25⌉)) so verification stays LINEAR in corpus
    *    size while recall no longer shrinks past the floor.
    *
    * RECALL CONTRACT: a pair reaches the verify stage iff it shares a
    * shingle that is (a) inside the relative window, (b) among one
    * side's NgramPrefix rarest, (c) within the first NgramBucketCap
    * occupants of that shingle's bucket, and (d) carries enough
    * blocking evidence to rank in the verify budget. True near-dups
    * share most shingles including their rarest, so they satisfy all
    * four with high probability — the standard prefix-filter
    * argument; pairs whose only common shingles are corpus-common are
    * deliberately never compared.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val posting = natPosting(spark, dir)
    // the ranked candidate set is a detect-stage artifact (like the
    // minhash pair source): built once per session, staged cross-process
    val ranked = DfCache.getOrCompute(spark, s"ngram_cand:$dir")(
      DfCache.stagedFrame(spark, s"ngram_cand:$dir",
        DfCache.inputFingerprint(spark, s"$dir/documents.parquet"))(
        ngramCandidates(posting,
          Tables.documents(spark, dir).select(col("doc_id")))))
    jaccardOf(ranked, posting)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** The blocked-Jaccard body over an explicit posting list + corpus
    * id frame — split out so the relative-window recall property is
    * testable (ScaleSmokeSpec: candidates stay nonzero under 8×
    * corpus replication, where the old absolute window found none,
    * and runtime stays bounded).
    */
  private[graft] def ngramJaccardOf(posting: DataFrame, docIds: DataFrame): DataFrame =
    jaccardOf(ngramCandidates(posting, docIds), posting)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)

  /** In-window (s, doc_id, df) blocking entries — the stage both caps
    * act on; split out so the cap audit can count what they drop.
    */
  private[operators] def ngramBlocked(posting: DataFrame, docIds: DataFrame): DataFrame = {
    // single-row broadcast: the corpus-relative df ceiling
    val nDocs = docIds.agg(count(lit(1)).as("n_docs"))
    val dfq = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") >= 2 &&
        col("df") <= greatest(lit(5L), expr("(n_docs + 99) div 100")))
      .select(col("s"), col("df"))
    posting.join(dfq, "s")   // ids only — no arrays in the join
  }

  /** Uncapped grouped candidate pairs with their blocking evidence
    * (`shared` blocking shingles, rarest shared `mdf`) — everything
    * before the [[NgramVerifyBudget]] top-K.
    */
  private[operators] def ngramRankedPairs(posting: DataFrame, docIds: DataFrame): DataFrame = {
    val blocked = ngramBlocked(posting, docIds)
    // per-doc prefix: rarest in-window shingles. Both windows partition
    // into small bounded groups (≤ shingles-per-doc / ≤ df rows) and
    // pick blocking keys, not output ranks.
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = blocked
      .withColumn("rnk", row_number().over(pw))
      .where(col("rnk") <= NgramPrefix)
      .select(col("s"), col("doc_id"), col("df"))
    // per-shingle bucket cap: deterministic first occupants
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("doc_id"))
    val bcap = blocked
      .withColumn("brnk", row_number().over(bw))
      .where(col("brnk") <= NgramBucketCap)
      .select(col("s"), col("doc_id"))
    val cand0 = prefix.select(col("s"), col("doc_id").as("a_id"), col("df"))
      .join(bcap.select(col("s"), col("doc_id").as("b_id")), Seq("s"))
      .where(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("s"), col("df"))
      .distinct()
    cand0.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"), min(col("df")).as("mdf"))
  }

  /** Blocking + proxy-ranking stage: the [[ngramVerifyBudget]]
    * strongest candidate pairs by blocking evidence — shared blocking
    * shingles desc, rarest shared df asc; a bounded global top-K
    * (TakeOrdered), then exact verification. The corpus count is one
    * driver-side aggregate per candidate build (the build itself is
    * staged, so steady state never pays it).
    */
  private def ngramCandidates(posting: DataFrame, docIds: DataFrame): DataFrame = {
    val budget = ngramVerifyBudget(docIds.count())
    ngramRankedPairs(posting, docIds)
      .orderBy(col("shared").desc, col("mdf"), col("a_id"), col("b_id"))
      .limit(math.min(budget, Int.MaxValue.toLong).toInt)
      .select(col("a_id"), col("b_id"))
  }

  /** Benchmark-contamination check — the train/eval overlap audit an
    * LLM data pipeline runs before training: for every corpus doc,
    * the max fraction of its distinct 3-gram shingles found in any
    * single benchmark doc (eval set = every 101st doc, a stand-in for
    * a held-out suite), flagged at ≥ 0.5. The benchmark posting list
    * is broadcast — eval suites are tiny by nature, so the corpus
    * side streams through map-side without a shuffle of corpus
    * shingles.
    */
  def contaminationCheck(spark: SparkSession, dir: String,
                         floor: Double = Curate.ContaminationFloor): DataFrame =
    benchMaxOverlap(natPosting(spark, dir))
      .select(col("doc_id"), col("max_overlap"),
        (col("max_overlap") >= floor).as("contaminated"))
      .orderBy(col("doc_id"))

  /** THE benchmark-overlap rule — per training doc (id % 101 ≠ 0),
    * the round4 max fraction of its distinct shingles found in any
    * single benchmark doc (id % 101 = 0) — over any posting list;
    * shared by [[contaminationCheck]] and the curation funnel's
    * decontamination stage so the split and the threshold rule have
    * one spelling. Output: (doc_id, max_overlap), one row per
    * training doc with ≥ 1 posting.
    */
  private[graft] def benchMaxOverlap(posting: DataFrame): DataFrame = {
    val bench = posting.where(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("bench_id"), col("s"))
    val corpus = posting.where(col("doc_id") % 101 =!= 0)
    val counts = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val maxHits = corpus.join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("hits"))
      .groupBy(col("doc_id")).agg(max(col("hits")).as("mh"))
    counts.join(maxHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        Par.round4(coalesce(col("mh"), lit(0L)).cast("double") / col("n"))
          .as("max_overlap"))
  }

  /** "No silent caps": per-cap (candidates, emitted) counts for every
    * bounded stage in this file — what [[SimhashPartnerCap]],
    * [[NgramBucketCap]] and [[NgramVerifyBudget]] actually dropped on
    * this corpus, as data instead of a doc comment. Each row is one
    * aggregate over the same staged artifact its query consumes.
    * `unit` says what is being counted (verified pairs vs blocking
    * entries). Collected by [[graft.Audit]]; reported by Bench.
    *
    * READ THE UNITS: the `dedup_simhash.bucket_cap` row counts bucket
    * OCCUPANTS (how many half-bucket rows sat beyond the build-side
    * cap), NOT lost verified pairs — a qualifying pair is lost only
    * when BOTH members rank beyond the cap in BOTH shared halves, so
    * occupant drops overstate the pair cost. The direct
    * uncapped-vs-capped pair measurement (too expensive to run inside
    * the audit at ladder scale — uncapped is the Σ bucket² join the
    * cap exists to avoid) lives in ScaleSmokeSpec's bucket-cap recall
    * test: capped pairs ⊆ uncapped pairs, and every doc with any
    * uncapped partner keeps a capped partner (cluster coverage 1.0)
    * even on a single-bucket flood where pair-level recall drops.
    */
  def capAudit(spark: SparkSession, dir: String): DataFrame = {
    def summarize(perKey: DataFrame, stage: String, cap: Long, unit: String): DataFrame =
      perKey
        .agg(coalesce(sum(col("c")), lit(0L)).as("candidates"),
          coalesce(sum(least(col("c"), lit(cap))), lit(0L)).as("emitted"))
        .select(lit(stage).as("stage"), lit(cap).as("cap"),
          lit(unit).as("unit"), col("candidates"), col("emitted"))
    val sigs = simhashSigsCached(spark, dir)
    val sim = summarize(
      simhashExpandedQualifying(spark, dir)
        .groupBy(col("a_id")).agg(count(lit(1)).as("c")),
      "dedup_simhash.partner_cap", SimhashPartnerCap.toLong, "verified_pairs")
    // rep-level half buckets: after the quotient contraction the cap
    // competes over DISTINCT texts, so this row shows how many
    // distinct-text signatures each hot half-bucket actually holds
    val simBucket = summarize(
      simhashHalves(sigs).groupBy(col("half_idx"), col("half"))
        .agg(count(lit(1)).as("c")),
      "dedup_simhash.bucket_cap", SimhashBucketCap.toLong, "bucket_occupants")
    // exact-content group sizes vs the expansion's member cap — the
    // quotient twin of the bucket row (a group is a degenerate bucket
    // of identical signatures)
    val simGroup = summarize(
      minhashMembers(spark, dir).groupBy(col("rep_id"))
        .agg(count(lit(1)).as("c")),
      "dedup_simhash.group_cap", SimhashBucketCap.toLong, "group_members")
    val posting = natPosting(spark, dir)
    val docIds = Tables.documents(spark, dir).select(col("doc_id"))
    val bucket = summarize(
      ngramBlocked(posting, docIds).groupBy(col("s")).agg(count(lit(1)).as("c")),
      "ngram_jaccard.bucket_cap", NgramBucketCap.toLong, "blocking_entries")
    val verify = summarize(
      ngramRankedPairs(posting, docIds).agg(count(lit(1)).as("c")),
      "ngram_jaccard.verify_budget", ngramVerifyBudget(docIds.count()),
      "candidate_pairs")
    // grouped-minhash receipts (r15, the r14 "unexplained superlinear"
    // closure): the full expanded pair set is Θ(Σ g² + Σ ga·gb) — REAL
    // quadratic-in-clone-multiplicity semantics, computed here
    // arithmetically as `candidates` — while the report's trimmed
    // stream (`emitted`) is slate-bounded and rung-flat. The group
    // row shows where the slate binds.
    val slateN = 51L
    val gSizes = minhashMembersGrouped(spark, dir)
      .groupBy(col("rep_id")).agg(count(lit(1)).as("c"))
    val mgGroups = summarize(gSizes,
      "dedup_minhash_grouped.group_slate", slateN, "group_members")
    val fullWithin = gSizes
      .join(minhashGroupedEligibleReps(spark, dir), Seq("rep_id"), "left_semi")
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0))
        .cast("long").as("fw"))
    val fullCross = minhashGroupedRepPairs(spark, dir)
      .join(gSizes.select(col("rep_id").as("a_id"), col("c").as("ga")), Seq("a_id"))
      .join(gSizes.select(col("rep_id").as("b_id"), col("c").as("gb")), Seq("b_id"))
      .agg(coalesce(sum(col("ga") * col("gb")), lit(0L)).as("fc"))
    val mgTrim = fullWithin.crossJoin(fullCross)
      .crossJoin(groupedReportStream(spark, dir).agg(count(lit(1)).as("t")))
      .select(lit("dedup_minhash_grouped.slate_trim").as("stage"),
        lit(slateN).as("cap"), lit("expanded_pairs").as("unit"),
        (col("fw") + col("fc")).as("candidates"), col("t").as("emitted"))
    sim.unionByName(simBucket).unionByName(simGroup)
      .unionByName(bucket).unionByName(verify)
      .unionByName(mgGroups).unionByName(mgTrim)
  }
}
