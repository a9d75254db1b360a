package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Par, TextFunctions, TopK, VectorFunctions => V}
import graft.sources.Tables

/** The reference's FAISS search surface re-expressed for Spark
  * (core/utils.py:194 `search_similar_chunks`,
  * embed_pdfs.py:227 `IndexFlatIP`): the index is a columnar table of
  * vectors; a query batch is the small broadcast side; top-k is a
  * per-query window over a pruned candidate set.
  *
  * Scale shape: the corpus scan prunes to (id, vector); queries are
  * broadcast (never shuffle the corpus by query); IVF prunes the
  * scan to probed centroid buckets — at 100 TB the bucket id becomes
  * a partition column and probing is partition pruning.
  */
object VectorSearch {

  val K        = 5
  val NQueries = 10
  val Threshold = 0.2
  val NProbe   = 2

  /** embeddings as (vec_id, emb: array<double>, label). */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), V.toDouble(col("embedding")).as("emb"))

  private[operators] def rank(cosCol: String, byId: String, part: String): org.apache.spark.sql.Column =
    row_number().over(Window.partitionBy(col(part))
      .orderBy(col(cosCol).desc, col(byId))).cast("long")

  /** Bounded top-k per query via the map-side-combining TopKAgg
    * (graft.functions.TopK) — the shuffle carries ≤ k rows per query
    * and map partition, never the full candidate set (SURVEY.md §5).
    */
  private[operators] def topKExplode(scored: DataFrame, k: Int, idName: String): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(TopK.topK(k)(col("cos"), col(idName)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "hit")))
      .select(col("q_id"), col("hit.id").as(idName), col("hit.score").as("cos"),
        (col("i") + 1).cast("long").as("rk"))
      .orderBy(col("q_id"), col("rk"))

  /** Brute-force cosine top-k: query batch (vec_id < 10) broadcast
    * against the rest of the corpus — the exact-search baseline
    * (FAISS IndexFlatIP.search, core/utils.py:221).
    */
  def knnBrute(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = v.where(col("vec_id") >= NQueries)
    topKExplode(corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("emb")).as("cos")), k, "vec_id")
  }

  /** Top-k with a similarity threshold — search_similar_chunks'
    * `score >= similarity_threshold` filter (core/utils.py:228);
    * `threshold` mirrors the reference's `similarity_threshold` API
    * parameter.
    */
  def knnThreshold(spark: SparkSession, dir: String,
                   threshold: Double = Threshold, k: Int = 2 * K): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = v.where(col("vec_id") >= NQueries)
    topKExplode(corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("emb")).as("cos"))
      .where(col("cos") >= threshold), k, "vec_id")
  }

  /** Per-label mean centroids of the embeddings table — the IVF
    * coarse-quantizer table, built ONCE per (session, dir) and staged
    * cross-process as a ≤ #labels-row parquet table (graft.DfCache).
    * Centroid dims go through DECIMAL so the mean is
    * order-independent and oracle-exact. At 100 TB this is the
    * index-BUILD step (MLIndex.kmeansIvf / ChunkIndex own the richer
    * persisted form); the query path must read a tiny prebuilt table,
    * never re-average the corpus per execution.
    */
  private[graft] def centroidsOf(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"ivf_centroids:$dir")(
      graft.DfCache.stagedFrame(spark, s"ivf_centroids:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        // long-form → decimal-exact per-dim mean → assembled centroid
        vectors(spark, dir)
          .select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim"))
          .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") / count(lit(1))).as("cv"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
            s => s.getField("cv")).as("c_emb"))
      })

  /** IVF-style approximate search: probe the nProbe nearest centroids
    * per query, then search only those label buckets. Uses the
    * session's prebuilt centroid table ([[centroidsOf]]) so every
    * execution scans the corpus exactly once (PlanAuditSpec asserts
    * it); pass a persisted centroid frame to [[annIvfWith]] to search
    * against an externally built index (MLIndex.kmeansIvf output). At
    * scale the bucket is a partition key: probing = partition
    * pruning, and the fine search touches nProbe/K of the corpus.
    */
  def annIvf(spark: SparkSession, dir: String,
             nProbe: Int = NProbe): DataFrame =
    annIvfWith(spark, dir, centroidsOf(spark, dir), nProbe)

  /** IVF fine search against an explicit (label, c_emb) centroid
    * frame — the prebuilt-index seam.
    */
  def annIvfWith(spark: SparkSession, dir: String, cent: DataFrame,
                 nProbe: Int = NProbe): DataFrame =
    ivfFineSearch(vectors(spark, dir), cent, nProbe)

  val KmClusters = 8
  val KmIters    = 3

  /** Deterministic Lloyd's k-means coarse quantizer over the corpus —
    * the data-adaptive centroid build of MLIndex.kmeansIvf
    * re-expressed so it is ORACLE-CHECKABLE: MLlib's KMeans folds
    * float partial sums in partition order (bit-nondeterministic, so
    * no cross-engine oracle can replay it), while this build is the
    * same algorithm from order-independent pieces — init = the
    * [[KmClusters]] smallest corpus vec_ids, assignment by
    * parity-rounded cosine (tie → smaller cluster id), DECIMAL-exact
    * per-dim means, an emptied cluster keeps its previous centroid —
    * and DuckDB replays the identical [[KmIters]] unrolled
    * iterations. Each iteration is one corpus pass against the
    * broadcast ≤ k-row centroid table (the standard distributed
    * Lloyd's cost); the result is staged like [[centroidsOf]].
    */
  private[graft] def kmeansCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"kmeans_centroids:$KmClusters:$KmIters:$dir")(
      graft.DfCache.stagedFrame(spark, s"kmeans_centroids:$KmClusters:$KmIters:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        val corpus = vectors(spark, dir).where(col("vec_id") >= NQueries)
          .select(col("vec_id"), col("emb"))
        val init = corpus.orderBy(col("vec_id")).limit(KmClusters)
          .withColumn("label",
            (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
          .select(col("label"), col("emb").as("c_emb"))
        lloydsRefine(corpus, init, Seq("label"), "emb", "c_emb", KmIters,
          assignClusters)
      })

  /** The deterministic-Lloyd's refinement loop shared by
    * [[kmeansCentroids]] (keys = label) and [[pqCodebooks]] (keys =
    * m, label): `iters` rounds of assign → DECIMAL-exact per-dim
    * means → empty-cluster carry. `assign(corpus, cent)` must return
    * `keyCols` plus `vecCol`; the ≤ k-row centroid table is
    * localCheckpointed each round (it is referenced twice — the
    * assignment broadcast and the carry join) so every iteration is
    * exactly one corpus pass by construction. Keeping ONE copy of
    * this loop is load-bearing: the oracle twins replay the identical
    * unrolled recipe, so a fix applied to only one Spark spelling
    * would silently break the other family's parity.
    */
  private def lloydsRefine(corpus: DataFrame, init: DataFrame,
      keyCols: Seq[String], vecCol: String, centCol: String, iters: Int,
      assign: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var cent = init.localCheckpoint()
    for (_ <- 1 to iters) {
      val means = assign(corpus, cent)
        .select(keyCols.map(col) :+ posexplode(col(vecCol)).as(Seq("dim", "x")): _*)
        .groupBy((keyCols :+ "dim").map(col): _*)
        .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double")
          / count(lit(1))).as("cv"))
        .groupBy(keyCols.map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          s => s.getField("cv")).as("_new"))
      cent = cent.join(means, keyCols, "left")
        .select(keyCols.map(col) :+ coalesce(col("_new"), col(centCol)).as(centCol): _*)
        .localCheckpoint()
    }
    cent
  }

  /** Nearest-centroid assignment (parity-rounded cosine, tie →
    * smaller cluster id) of a (vec_id, emb) frame against a (label,
    * c_emb) centroid table — the shared step of the Lloyd's loop and
    * the index relabeling, and the unit VectorSearchSpec checks
    * against a driver-side argmax.
    */
  private[graft] def assignClusters(corpus: DataFrame, cent: DataFrame): DataFrame =
    assignClustersCos(corpus, cent)
      .select(col("vec_id"), col("label"), col("emb"))

  /** IVF search over the k-means index: corpus relabeled by its final
    * cluster assignment, probes and fine search shared with every
    * other IVF variant via [[ivfFineSearch]] — the production
    * composition of a data-adaptive coarse quantizer with the probe-
    * pruned search path, under the full DuckDB oracle. At scale the
    * assignment is the partition key of the stored index (exactly the
    * staged-codes shape ann_ivf_quantized reads); here it is
    * recomputed per execution to keep the staged artifact at k rows.
    */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val cent = kmeansCentroids(spark, dir)
    // drop the data label: the cluster assignment is the index label
    val relabeled = assignClusters(
      v.where(col("vec_id") >= NQueries).select(col("vec_id"), col("emb")), cent)
      .select(col("vec_id"), col("label"), col("emb"))
    ivfFineSearch(
      v.where(col("vec_id") < NQueries)
        .select(col("vec_id"), col("label"), col("emb"))
        .unionByName(relabeled),
      cent)
  }

  /** The shared IVF pipeline over any (vec_id, label, emb) frame:
    * split queries/corpus at NQueries, probe the NProbe nearest
    * centroids per query (broadcast), fine-search only probed
    * labels, bounded top-3 — serves both the full-precision and the
    * dequantized-int8 index so probe/rank semantics cannot drift.
    */
  private def ivfFineSearch(v: DataFrame, cent: DataFrame,
                            nProbe: Int = NProbe): DataFrame = {
    val q = v.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_emb"), col("label"),
        V.cosine4(col("q_emb"), col("c_emb")).as("c_cos"))
      .withColumn("prk", rank("c_cos", "label", "q_id"))
      .where(col("prk") <= nProbe)
    val corpus = v.where(col("vec_id") >= NQueries)
    topKExplode(corpus.join(broadcast(probes), Seq("label"))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("emb")).as("cos")), 3, "vec_id")
  }

  val LshPlanes = 6

  val LshMaxDim = 1024   // covers common model dims (384/768/1024)

  /** Hyperplane component (plane i, dim d), derived deterministically
    * from md5("i_d") — identical to the oracle's SQL md5 derivation,
    * but computed ONCE at plan-construction time: the constants don't
    * depend on the row, so hashing them per vector (6 planes × dims
    * md5 calls per row) would be pure waste in the hot path.
    */
  private lazy val lshPlanes: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until LshPlanes).map { i =>
      (0 until LshMaxDim).map { d =>
        val hex = md.digest(s"${i}_$d".getBytes("UTF-8"))
          .take(4).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
      }
    }
  }

  /** Random-hyperplane LSH code: bit i is the sign of the dot product
    * with pseudo-random hyperplane i (constants above). 6 planes → 64
    * buckets. Computed by the native fused-loop expression
    * (plans.LshSignCode — one codegen'd pass over the vector for all
    * planes); oversized vectors fail loudly.
    */
  private[graft] def lshCode(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftBridge
    graftBridge.columnOf(graft.plans.LshSignCode(
      graftBridge.expressionOf(emb), lshPlanes))
  }

  /** The original higher-order-function formulation, kept as the
    * independent parity oracle for [[lshCode]] (CosineExprSpec): per
    * plane, slice to the vector's own length, interpreted
    * zip_with/aggregate dot, sign bit; loud beyond [[LshMaxDim]].
    */
  private[graft] def lshCodeHof(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val code = (0 until LshPlanes).map { i =>
      val plane = slice(lit(lshPlanes(i).toArray), lit(1), size(emb))
      val s = aggregate(zip_with(emb, plane, (x, p) => x * p),
        lit(0.0), (a, x) => a + x)
      when(s > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    // beyond the precomputed planes the null-padded zip would silently
    // put EVERY vector in bucket 0 — fail loudly instead
    when(size(emb) > LshMaxDim,
      raise_error(concat(lit(s"lshCode supports at most $LshMaxDim dims, got "),
        size(emb).cast("string"))).cast("long"))
      .otherwise(code)
  }

  /** Corpus vectors with their LSH sign code — an INDEX artifact
    * (the coded table is what a deployed LSH index persists), built
    * once per session and staged cross-process keyed by the
    * embeddings fingerprint. Shared by ann_lsh, ann_lsh_recall and
    * dedup_embedding; at 100 TB the code becomes a partition column
    * and this staging table IS the index.
    */
  private[graft] def codedVectors(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"lsh_codes:$dir")(
      graft.DfCache.stagedFrame(spark, s"lsh_codes:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"))(
        vectors(spark, dir).withColumn("code", lshCode(col("emb")))))

  /** MULTI-PROBE LSH search: each query probes its own sign-bucket
    * plus the 6 hamming-1 neighbor buckets (one plane flipped), the
    * standard fix for single-probe's zero-recall queries — a vector
    * just across one hyperplane lands one bit away. At scale the code
    * is a partition key and a probe reads (planes+1)/2^planes of the
    * corpus; a corpus vector has exactly one code, so the probe join
    * never duplicates candidates.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshWith(spark, dir, multiProbe = true)

  /** LSH search with the probe set as a seam so recall of single- vs
    * multi-probe is measurable (VectorSearchSpec).
    */
  private[graft] def annLshWith(spark: SparkSession, dir: String,
      multiProbe: Boolean): DataFrame = {
    val v = codedVectors(spark, dir)
    val q = v.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("code"))
    val probeCodes =
      if (multiProbe) col("code") +:
        (0 until LshPlanes).map(i => col("code").bitwiseXOR(lit(1L << i)))
      else Seq(col("code"))
    val probes = q.select(col("q_id"), col("q_emb"),
      explode(array(probeCodes: _*)).as("code"))
    val corpus = v.where(col("vec_id") >= NQueries)
    topKExplode(corpus.join(broadcast(probes), Seq("code"))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("emb")).as("cos")), 3, "vec_id")
  }

  /** Recall@3 of the multi-probe LSH search against exact brute
    * force — mirror of [[annRecall]] for the LSH index path.
    */
  def annLshRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annLsh(spark, dir), spark, dir)

  /** Recall@3 of an approximate top-3 result against exact brute
    * force — the quality metric an ANN index owner monitors;
    * self-measuring (both sides are this library's own operators).
    */
  private def recallOf(approx0: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    // r18: the exact-search GROUND-TRUTH table is a session memo —
    // eight *_recall queries each re-ran the brute-force top-3 per
    // invocation, but a recall monitor computes the exact baseline
    // once per corpus version and scores every ANN variant against
    // it (the same assign-once class as kmeansProbes/semClusters;
    // disclosed via Bench's memo_computes). knn_brute the DECLARED
    // query still computes fresh per invocation — only the recall
    // harness's baseline is memoized.
    val exact = graft.DfCache.getOrCompute(spark, s"knn_exact_top3:$dir")(
      knnBrute(spark, dir).where(col("rk") <= 3)
        .select(col("q_id"), col("vec_id")).localCheckpoint())
    val approx = approx0.select(col("q_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("q_id"), col("hits"),
        Par.round4(col("hits").cast("double") / 3.0).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Recall@3 of the IVF probe search against exact brute force. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annIvf(spark, dir), spark, dir)

  /** Int8 symmetric scalar quantization of an (vec_id, emb) frame:
    * per-vector scale s = 127/max|x|, codes c = floor(x·s + 0.5) ∈
    * [-127, 127]. The 100 TB memory story for the vector index —
    * int8 codes + one double scale are ~4× smaller than the float
    * source (32× vs the double compute form), so 4× more corpus fits
    * a cluster's executor storage before search fans out to disk.
    * (FAISS ships the same trade as IndexScalarQuantizer QT_8bit;
    * reference embed_pdfs.py:227 uses flat float vectors.)
    */
  private[graft] def quantizeInt8(v: DataFrame): DataFrame =
    v.withColumn("q_scale", lit(127.0) /
        greatest(aggregate(transform(col("emb"), x => abs(x)),
          lit(0.0), (a, x) => greatest(a, x)), lit(1e-12)))
      .withColumn("codes",
        transform(col("emb"), x => floor(x * col("q_scale") + lit(0.5)).cast("int")))

  /** The quantized index as a staged artifact: (vec_id, q_scale,
    * codes) persisted cross-process like the LSH codes table — this
    * IS the stored form of the index (int8 codes + one double scale,
    * ~4× smaller than the float vectors), built once per corpus
    * fingerprint, never re-derived per execution.
    */
  private[operators] def quantizedVectors(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"int8_codes:$dir")(
      graft.DfCache.stagedFrame(spark, s"int8_codes:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"))(
        quantizeInt8(vectors(spark, dir))
          .select(col("vec_id"), col("label"), col("q_scale"), col("codes"))))

  /** Brute-force top-k over the int8-quantized index: both sides are
    * dequantized (c/s) at compare time, so the scoring plan is the
    * exact knn_brute plan over a 4×-smaller stored column (int codes
    * and the double scale round-trip parquet exactly, so staging
    * preserves oracle exactness). Scores drift from exact cosine by
    * the quantization error (≤ 0.5/s per element) —
    * annQuantizedRecall tracks the retrieval impact.
    */
  def annQuantized(spark: SparkSession, dir: String): DataFrame = {
    val dq = quantizedVectors(spark, dir)
      .withColumn("demb", transform(col("codes"), c => c.cast("double") / col("q_scale")))
      .select(col("vec_id"), col("demb"))
    val q = dq.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("demb").as("q_emb"))
    val corpus = dq.where(col("vec_id") >= NQueries)
    topKExplode(corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("demb")).as("cos")), K, "vec_id")
  }

  /** Recall@3 of quantized search against exact brute force — the
    * accuracy cost of the 4× memory saving, as a queryable frame.
    */
  def annQuantizedRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annQuantized(spark, dir).where(col("rk") <= 3), spark, dir)

  /** The production composition: IVF probe pruning over the int8
    * index — full-precision centroids pick nProbe buckets per query,
    * the fine search reads only those buckets' QUANTIZED codes and
    * dequantizes at compare time. At 100 TB this is the real vector
    * index: probing = partition pruning of a 4×-smaller table, so a
    * cluster holds 4× more corpus per executor AND touches nProbe/K
    * of it per query.
    */
  def annIvfQuantized(spark: SparkSession, dir: String): DataFrame =
    ivfFineSearch(
      quantizedVectors(spark, dir)
        .withColumn("emb", transform(col("codes"), c => c.cast("double") / col("q_scale")))
        .select(col("vec_id"), col("label"), col("emb")),
      centroidsOf(spark, dir))

  val PqM     = 8   // subspaces
  val PqKsub  = 16  // centroids per subspace codebook
  val PqIters = 3   // Lloyd's iterations (unrolled in the oracle)

  /** (vec_id, m, sub) subvector long form: subspace m carries dims
    * [m·D/M, (m+1)·D/M). A dimension count not divisible by [[PqM]]
    * fails loudly — a silent slice would drop tail dims.
    */
  private def pqSubvectors(v: DataFrame): DataFrame = {
    val emb = when(pmod(size(col("emb")), lit(PqM)) =!= 0,
      raise_error(concat(lit(s"ann_pq needs dim divisible by $PqM, got "),
        size(col("emb")).cast("string"))).cast("array<double>"))
      .otherwise(col("emb"))
    val subDim = (size(col("emb")) / lit(PqM)).cast("int")
    v.select(col("vec_id"), emb.as("emb"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("emb"))
      .select(col("vec_id"), col("m"),
        slice(col("emb"), col("m") * subDim + lit(1), subDim).as("sub"))
  }

  /** Nearest-codebook-entry assignment per (vector, subspace):
    * parity-rounded squared L2 expanded as
    * dot(x,x) + dot(c,c) − 2·dot(x,c) (the oracle spells the same
    * tree over the proven-deterministic sequential-fold dot), tie →
    * smaller label. The shared step of the per-subspace Lloyd's loop
    * and the encoding pass.
    */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = Par.round4(
      (V.dot(col("sub"), col("sub")) + V.dot(col("c_sub"), col("c_sub")))
        - (lit(2.0) * V.dot(col("sub"), col("c_sub"))))
    subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("sub"), col("label"), d2.as("d2"))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("d2"), col("label"))).cast("long"))
      .where(col("ark") === 1)
      .select(col("vec_id"), col("m"), col("label"), col("sub"))
  }

  /** Per-subspace PQ codebooks (m, label, c_sub) — FAISS IndexPQ's
    * train() as the deterministic Lloyd's recipe of
    * [[kmeansCentroids]], keyed by (subspace, label) so all
    * [[PqM]] subspaces train in the SAME corpus pass per iteration:
    * init = the [[PqKsub]] smallest corpus vec_ids' subvectors,
    * assignment by parity-rounded squared L2 (tie → smaller label),
    * DECIMAL-exact per-dim means, an emptied cluster keeps its
    * previous centroid; [[PqIters]] iterations replayed by the
    * oracle as unrolled SQL. Staged like every index artifact.
    */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"pq_codebooks:$PqM:$PqKsub:$PqIters:$dir")(
      graft.DfCache.stagedFrame(spark, s"pq_codebooks:$PqM:$PqKsub:$PqIters:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        val corpusSub = pqSubvectors(
          vectors(spark, dir).where(col("vec_id") >= NQueries)
            .select(col("vec_id"), col("emb")))
        val init = corpusSub
          .withColumn("r", row_number().over(
            Window.partitionBy(col("m")).orderBy(col("vec_id"))))
          .where(col("r") <= PqKsub)
          .select(col("m"), (col("r") - 1).cast("long").as("label"),
            col("sub").as("c_sub"))
        lloydsRefine(corpusSub, init, Seq("m", "label"), "sub", "c_sub",
          PqIters, pqAssign)
      })

  /** PQ codes — the stored index: [[PqM]] 4-bit codes per vector
    * (plus the M×[[PqKsub]]-row codebook), conceptually M·log₂Ksub =
    * 32 bits vs D·64 = 4096 bits of double source (~128×). Staged
    * cross-process like the int8 codes table; at 100 TB this IS the
    * vector index on disk.
    */
  private[graft] def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"pq_codes:$PqM:$PqKsub:$PqIters:$dir")(
      graft.DfCache.stagedFrame(spark, s"pq_codes:$PqM:$PqKsub:$PqIters:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"))(
        pqAssign(pqSubvectors(vectors(spark, dir).select(col("vec_id"), col("emb"))),
          pqCodebooks(spark, dir))
          .select(col("vec_id"), col("m"), col("label"))))

  /** Codebook decode of a (…, m, label) codes frame: broadcast-join
    * the tiny codebook and concatenate per-subspace centroids in
    * subspace order into a `recon` vector, grouped by `keyCols`. ONE
    * copy of the decode expression — [[annPq]] and [[annIvfPq]] must
    * reconstruct identically (spec-asserted on shared pairs).
    */
  private def pqDecode(spark: SparkSession, dir: String, codes: DataFrame,
      keyCols: Seq[String]): DataFrame =
    pqDecodeWith(pqCodebooks(spark, dir), codes, keyCols)

  /** The decode body against an EXPLICIT codebook frame — the
    * residual variant decodes against its residual-trained codebooks
    * through this same single spelling.
    */
  private def pqDecodeWith(cb: DataFrame, codes: DataFrame,
      keyCols: Seq[String]): DataFrame =
    codes.join(broadcast(cb), Seq("m", "label"))
      .groupBy(keyCols.map(col): _*)
      .agg(flatten(transform(array_sort(collect_list(struct(col("m"), col("c_sub")))),
        s => s.getField("c_sub"))).as("recon"))

  /** (vec_id, recon) codebook reconstruction of every CORPUS vector —
    * the corpus float vectors are never read at search time.
    */
  private def pqReconstruction(spark: SparkSession, dir: String): DataFrame =
    pqDecode(spark, dir,
      pqCodes(spark, dir).where(col("vec_id") >= NQueries), Seq("vec_id"))

  /** Product-quantization search — FAISS IndexPQ.search, asymmetric:
    * the full-precision query scores against the codebook
    * RECONSTRUCTION of each corpus vector, so compression error
    * applies to the corpus side only. annPqRecall tracks the
    * retrieval cost of the ~64× compression.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val q = vectors(spark, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    topKExplode(pqReconstruction(spark, dir).crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("recon")).as("cos")), K, "vec_id")
  }

  /** Recall@3 of PQ search against exact brute force — the accuracy
    * cost of the ~64× memory saving, as a queryable frame.
    */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annPq(spark, dir).where(col("rk") <= 3), spark, dir)

  /** The stored IVF+PQ index: one (vec_id, m, label) code row per
    * vector-subspace, written Hive-PARTITIONED BY the coarse k-means
    * cluster `cl`. At 100 TB this directory layout IS the index — a
    * probe reads only its clusters' partitions (parquet partition
    * pruning), i.e. NProbe/KmClusters of a ~128×-compressed table,
    * and the float corpus is read by neither the probe nor the fine
    * stage. The read-back select normalizes the partition column
    * (type-inferred from dir names) per the stagedFrame contract.
    * `persist = false` is LOAD-BEARING: a MEMORY_AND_DISK persist
    * would interpose an InMemoryRelation that caches every
    * partition on first touch and swallows the probe filter before
    * it reaches the file scan — unpersisted, the `cl IN (…)`
    * predicate lands on the parquet scan as a PartitionFilter
    * (Catalyst unwraps the read-back int→long cast), which is the
    * entire point of the layout.
    */
  private[graft] def ivfpqIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = s"ivfpq_index:$KmClusters:$KmIters:$PqM:$PqKsub:$PqIters:$dir"
    graft.DfCache.getOrCompute(spark, key)(
      graft.DfCache.stagedFrame(spark, key,
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"),
        persist = false, partitionCols = Seq("cl")) {
        val corpus = vectors(spark, dir).where(col("vec_id") >= NQueries)
          .select(col("vec_id"), col("emb"))
        assignClusters(corpus, kmeansCentroids(spark, dir))
          .select(col("vec_id"), col("label").as("cl"))
          .join(pqCodes(spark, dir), Seq("vec_id"))
          .select(col("cl"), col("vec_id"), col("m"), col("label"))
      }.select(col("cl").cast("long").as("cl"),
        col("vec_id"), col("m"), col("label")))
  }

  /** IVF+PQ — FAISS IndexIVFPQ (non-residual variant): the k-means
    * coarse quantizer of [[annIvfKmeans]] prunes the search to the
    * [[NProbe]] nearest clusters per query, and fine search scores
    * the full-precision query against the PQ reconstruction of ONLY
    * the probed clusters' code rows read from the partitioned
    * [[ivfpqIndex]]. The probed-cluster set is collected first — a
    * bounded metadata-plane read (≤ NQueries·NProbe longs, the
    * ChunkIndex partition-probe pattern) — so the pruning filter is
    * STATIC: it reaches the parquet scan as a partition filter
    * rather than relying on runtime DPP.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val probes = kmeansProbes(spark, dir)
    val recon = pqDecode(spark, dir,
      ivfpqIndex(spark, dir).where(col("cl").isin(probedClOf(probes): _*)),
      Seq("cl", "vec_id"))
    topKExplode(recon.join(broadcast(probes), Seq("cl"))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("recon")).as("cos")), 3, "vec_id")
  }

  /** The probe stage shared by [[annIvfPq]] and
    * [[annIvfPqResidual]]: (q_id, q_emb, cl) — each query's NProbe
    * nearest coarse clusters; localCheckpointed because it is
    * referenced twice (the probed-label collect and the scoring
    * join).
    */
  private def kmeansProbes(spark: SparkSession, dir: String): DataFrame =
    // session memo (r17): four queries build on this frame (IVF+PQ and
    // residual, plus their recalls), and each build paid the eager
    // checkpoint job again — the FAISS-style "assign queries to probe
    // lists once per loaded index" step, same class as semClusters
    graft.DfCache.getOrCompute(spark, s"kmeans_probes:$dir") {
      val cent = kmeansCentroids(spark, dir)
      vectors(spark, dir).where(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        .crossJoin(broadcast(cent))
        .select(col("q_id"), col("q_emb"), col("label").as("cl"),
          V.cosine4(col("q_emb"), col("c_emb")).as("c_cos"))
        .withColumn("prk", rank("c_cos", "cl", "q_id"))
        .where(col("prk") <= NProbe)
        .select(col("q_id"), col("q_emb"), col("cl"))
        .localCheckpoint()
    }

  /** Bounded metadata-plane collect of the probed cluster set (≤
    * NQueries·NProbe longs) — the static partition-pruning predicate.
    */
  private def probedClOf(probes: DataFrame): Array[Long] =
    probes.select(col("cl")).distinct().collect().map(_.getLong(0)).sorted

  /** Recall@3 of IVF+PQ against exact brute force — compounds the
    * probe loss measured by ann_recall with the quantization loss
    * measured by ann_pq_recall.
    */
  def annIvfPqRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annIvfPq(spark, dir), spark, dir)

  /** (vec_id, cl, emb=residual) corpus residuals against the k-means
    * coarse quantizer: r = x − c(x). Elementwise double subtraction
    * of two oracle-replayed values is itself oracle-replayable (one
    * correctly-rounded IEEE op per dim, no fold), so the whole
    * residual chain stays under the DuckDB gate.
    */
  private def residualCorpus(spark: SparkSession, dir: String): DataFrame = {
    val cent = kmeansCentroids(spark, dir)
    assignClusters(
      vectors(spark, dir).where(col("vec_id") >= NQueries)
        .select(col("vec_id"), col("emb")), cent)
      .join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label").as("cl"),
        zip_with(col("emb"), col("c_emb"), (x, c) => x - c).as("emb"))
  }

  /** Residual-trained PQ codebooks — FAISS IndexIVFPQ's DEFAULT
    * encoding (by_residual): codebooks quantize x − c(x) instead of
    * x. Residuals are centered near zero with much less of the
    * corpus-wide structure the coarse quantizer already captured, so
    * a 16-entry codebook spends its capacity on local detail — the
    * property that keeps PQ recall usable at high compression on
    * real corpora. Same deterministic Lloyd's recipe and staging as
    * [[pqCodebooks]].
    */
  private[graft] def pqResCodebooks(spark: SparkSession, dir: String): DataFrame =
    // KmIters is part of the key: the residuals depend on the
    // KmIters-iterated centroids, so a changed iteration count must
    // re-stage these codebooks too (the sibling index key agrees)
    graft.DfCache.getOrCompute(spark, s"pqres_codebooks:$KmClusters:$KmIters:$PqM:$PqKsub:$PqIters:$dir")(
      graft.DfCache.stagedFrame(spark, s"pqres_codebooks:$KmClusters:$KmIters:$PqM:$PqKsub:$PqIters:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        val corpusSub = pqSubvectors(
          residualCorpus(spark, dir).select(col("vec_id"), col("emb")))
        val init = corpusSub
          .withColumn("r", row_number().over(
            Window.partitionBy(col("m")).orderBy(col("vec_id"))))
          .where(col("r") <= PqKsub)
          .select(col("m"), (col("r") - 1).cast("long").as("label"),
            col("sub").as("c_sub"))
        lloydsRefine(corpusSub, init, Seq("m", "label"), "sub", "c_sub",
          PqIters, pqAssign)
      })

  /** The stored residual IVF+PQ index — same Hive-partitioned-by-`cl`
    * layout and probe-pruning contract as [[ivfpqIndex]], but the
    * codes quantize residuals against [[pqResCodebooks]].
    */
  private[graft] def ivfpqResIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = s"ivfpq_res_index:$KmClusters:$KmIters:$PqM:$PqKsub:$PqIters:$dir"
    graft.DfCache.getOrCompute(spark, key)(
      graft.DfCache.stagedFrame(spark, key,
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"),
        persist = false, partitionCols = Seq("cl")) {
        val res = residualCorpus(spark, dir).localCheckpoint()
        pqAssign(pqSubvectors(res.select(col("vec_id"), col("emb"))),
          pqResCodebooks(spark, dir))
          .select(col("vec_id"), col("m"), col("label"))
          .join(res.select(col("vec_id"), col("cl")), Seq("vec_id"))
          .select(col("cl"), col("vec_id"), col("m"), col("label"))
      }.select(col("cl").cast("long").as("cl"),
        col("vec_id"), col("m"), col("label")))
  }

  /** Residual IVF+PQ — FAISS IndexIVFPQ's default by_residual
    * variant: probe as [[annIvfPq]], but reconstruction is
    * c(x) + decode(code) — the coarse centroid plus the
    * residual-codebook reconstruction — so the stored code only has
    * to capture the within-cluster offset. Same partitioned index
    * layout, same bounded probe collect, same single decode
    * spelling ([[pqDecodeWith]]).
    */
  def annIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val probes = kmeansProbes(spark, dir)
    val resRecon = pqDecodeWith(pqResCodebooks(spark, dir),
      ivfpqResIndex(spark, dir).where(col("cl").isin(probedClOf(probes): _*)),
      Seq("cl", "vec_id"))
    val cent = kmeansCentroids(spark, dir)
    val recon = resRecon
      .join(broadcast(cent.select(col("label").as("cl"), col("c_emb"))), Seq("cl"))
      .select(col("cl"), col("vec_id"),
        zip_with(col("c_emb"), col("recon"), (c, r) => c + r).as("recon"))
    topKExplode(recon.join(broadcast(probes), Seq("cl"))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("recon")).as("cos")), 3, "vec_id")
  }

  /** Recall@3 of residual IVF+PQ vs exact — the measured gain of
    * residual encoding over [[annIvfPqRecall]]'s non-residual
    * variant on the same corpus.
    */
  def annIvfPqResidualRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annIvfPqResidual(spark, dir), spark, dir)

  // ----------------------------------------------------------------
  // OPQ: seeded orthonormal pre-rotation before PQ — the FAISS
  // index_factory "OPQ8,PQ8x4" spelling (beyond-reference: the
  // reference is IndexFlatIP only, embed_pdfs.py:227)
  // ----------------------------------------------------------------

  /** The rotation's fixed dimensionality (the corpus embedding dim;
    * Hadamard needs a power of two). Oversized/undersized vectors
    * fail loudly in [[opqRotate]].
    */
  val OpqDim  = 64
  /** Seed namespace for the diagonal sign flip — interpolated into
    * BOTH the Scala derivation and the oracle's md5 SQL (SparkEntry
    * builds the CTE from this constant), so the two cannot drift.
    */
  val OpqSeed = "opq1"

  /** Seeded diagonal D: sign j from the first hex nibble of
    * md5("opq1_j") — the [[lshPlanes]] derivation discipline, replayed
    * verbatim by the oracle CTE.
    */
  private lazy val opqSigns: IndexedSeq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until OpqDim).map { j =>
      val hex = f"${md.digest(s"${OpqSeed}_$j".getBytes("UTF-8")).head & 0xff}%02x"
      if (java.lang.Long.parseLong(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** R = H·D/8: R[i][j] = (−1)^popcount(i AND j) · D[j] · 0.125 — the
    * 64-point Hadamard matrix times the seeded sign flip, scaled by
    * 1/√64. EXACTLY orthonormal (H·Hᵀ = 64·I and √64 = 8 is exact),
    * so rotated cosines equal original cosines up to FP roundoff; and
    * every entry is ±2⁻³ (an exact binary fraction), so each product
    * in the matrix multiply is an exact FP scaling and the
    * sequential-fold dot replays bit-for-bit in DuckDB. HD with a
    * random diagonal is the standard structured random rotation of
    * the randomized-Hadamard-transform family — the form of OPQ
    * pre-rotation that stays oracle-checkable (a LEARNED OPQ rotation
    * needs per-iteration SVD, which no cross-engine oracle can
    * replay; see IndexFactory's grammar note).
    */
  private lazy val opqRows: IndexedSeq[Seq[Double]] =
    (0 until OpqDim).map { i =>
      (0 until OpqDim).map { j =>
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        h * opqSigns(j) * 0.125
      }
    }

  /** Apply the rotation: out[i] = dot(R_i, emb) — the matrix multiply
    * the oracle replays as a generated-row list_dot_product CTE.
    * Constant-folded plane rows (computed once at plan construction,
    * like [[lshPlanes]]); a non-[[OpqDim]] vector fails loudly.
    */
  private[graft] def opqRotate(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rot = array(opqRows.map(r => V.dot(lit(r.toArray), emb)): _*)
    when(size(emb) =!= OpqDim,
      raise_error(concat(lit(s"OPQ rotation needs exactly $OpqDim dims, got "),
        size(emb).cast("string"))).cast("array<double>"))
      .otherwise(rot)
  }

  /** The corpus in rotated space — queries and vectors alike; the
    * whole OPQ chain (training, encoding, search) lives here, and
    * because R is orthonormal the rotated-space cosine IS the
    * original-space cosine, so no inverse rotation is ever needed.
    */
  private def opqVectors(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).select(col("vec_id"), opqRotate(col("emb")).as("emb"))

  /** OPQ codebooks: the [[pqCodebooks]] recipe verbatim, trained on
    * the ROTATED corpus — same deterministic Lloyd's, same staging.
    */
  private[graft] def opqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    val key = s"opq_codebooks:$OpqSeed:$PqM:$PqKsub:$PqIters:$dir"
    graft.DfCache.getOrCompute(spark, key)(
      graft.DfCache.stagedFrame(spark, key,
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        val corpusSub = pqSubvectors(
          opqVectors(spark, dir).where(col("vec_id") >= NQueries))
        val init = corpusSub
          .withColumn("r", row_number().over(
            Window.partitionBy(col("m")).orderBy(col("vec_id"))))
          .where(col("r") <= PqKsub)
          .select(col("m"), (col("r") - 1).cast("long").as("label"),
            col("sub").as("c_sub"))
        lloydsRefine(corpusSub, init, Seq("m", "label"), "sub", "c_sub",
          PqIters, pqAssign)
      })
  }

  /** OPQ codes over the rotated vectors — the stored index, staged
    * like [[pqCodes]].
    */
  private[graft] def opqCodes(spark: SparkSession, dir: String): DataFrame = {
    val key = s"opq_codes:$OpqSeed:$PqM:$PqKsub:$PqIters:$dir"
    graft.DfCache.getOrCompute(spark, key)(
      graft.DfCache.stagedFrame(spark, key,
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet"))(
        pqAssign(pqSubvectors(opqVectors(spark, dir)), opqCodebooks(spark, dir))
          .select(col("vec_id"), col("m"), col("label"))))
  }

  /** OPQ search — FAISS "OPQ8,PQ8x4": asymmetric PQ search run
    * entirely in rotated space (rotated query vs rotated-codebook
    * reconstruction; orthonormality makes the scores directly
    * comparable to exact original-space cosines). Same decode
    * spelling ([[pqDecodeWith]]) and plan shape as [[annPq]].
    */
  def annOpq(spark: SparkSession, dir: String): DataFrame = {
    val q = opqVectors(spark, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val recon = pqDecodeWith(opqCodebooks(spark, dir),
      opqCodes(spark, dir).where(col("vec_id") >= NQueries), Seq("vec_id"))
    topKExplode(recon.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        V.cosine4(col("q_emb"), col("recon")).as("cos")), K, "vec_id")
  }

  /** Recall@3 of OPQ search against exact brute force (original
    * space — valid because the rotation preserves the true ranking):
    * the measured effect of the pre-rotation vs [[annPqRecall]] on
    * the same corpus.
    */
  def annOpqRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annOpq(spark, dir).where(col("rk") <= 3), spark, dir)

  /** End-to-end text search: literal query strings → hashed-BoW
    * embedding (Ingest.embedVector) → cosine against doc_embed vectors →
    * top-k docs. Mirror of search_similar_chunks (core/utils.py:194):
    * embed the query, inner-product against the normalized index.
    * Both sides are unit vectors so cosine == dot over the matching
    * dims (long-form sparse dot via a join on dim).
    */
  def knnText(spark: SparkSession, dir: String): DataFrame =
    searchByText(spark, dir, KeywordSearch.standardQueries(spark), K)

  /** Brute-force cosine top-k over the MODEL-ARTIFACT embeddings
    * (Ingest.modelEmbedCached — a real projection-model file loaded
    * per partition through the TextEmbedder seam, reference
    * core/utils.py:105 embed_texts): first [[NQueries]] documents as
    * the query batch against the rest of the corpus, same plan shape
    * as [[knnBrute]]. The oracle replays this search from the staged
    * vectors — inference happens exactly once per corpus, in Spark.
    */
  def knnModel(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    modelVectorSearch(Ingest.modelEmbedCached(spark, dir), k)

  /** [[knnModel]] over the TRAINED artifact (Ingest.pcaEmbedCached —
    * weights LEARNED from the corpus by exact-moment power-method
    * PCA, not seeded): same staged-vector search, same oracle replay;
    * only the model file differs. Together the pair proves the
    * TextEmbedder seam end to end at both artifact provenances a
    * deployment meets (shipped weights vs corpus-trained weights).
    */
  def knnModelTrained(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    modelVectorSearch(Ingest.pcaEmbedCached(spark, dir), k)

  /** Shared brute-force cosine top-k over a staged (doc_id, emb)
    * model-embedding frame: first [[NQueries]] docs are the query
    * batch, broadcast against the rest of the corpus — [[knnBrute]]'s
    * plan shape.
    */
  private def modelVectorSearch(vectors: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("doc_id"), col("emb"))
    val q = v.where(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = v.where(col("doc_id") >= NQueries)
    topKExplode(corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("doc_id"),
        V.cosine4(col("q_emb"), col("emb")).as("cos")), k, "doc_id")
  }

  /** Text search against the cached doc index for any (q_id, q_text)
    * frame — the shared tail of knn_text and image_search: hashed-BoW
    * embed the queries, broadcast them, sparse-dot against the index
    * long form, bounded top-k.
    *
    * Each query row is embedded on its own by the row-local
    * [[Ingest.embedVector]] (no shuffle), so `q_id` must be unique:
    * the callers' ids are `standardQueries`' ordinals and
    * image_search's `documents.doc_id`, the table's key.
    */
  private[operators] def searchByText(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int): DataFrame = {
    val qemb = queries
      .select(col("q_id"), Ingest.embedVector(col("q_text")).as("v"))
      .select(col("q_id"), inline(col("v")))
      .select(col("q_id"), col("dim"), col("weight").as("qw"))
    val demb = Ingest.docEmbedCached(spark, dir)
      .select(col("doc_id"), col("dim"), col("weight").as("dw"))
    topKExplode(demb.join(broadcast(qemb), Seq("dim"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(Par.round4(sum(col("qw") * col("dw"))).as("cos")), k, "doc_id")
  }

  val PairCap = 8

  /** Build-side occupancy cap of a (label, code) block in the
    * REP-level pair join, and the member-slate size carrying a
    * group's share of cross-group lifts — the embedding twins of
    * [[Dedup.SimhashBucketCap]]'s two roles. Both are audited
    * ([[capAudit]]) and mirrored exactly by the oracle.
    */
  val EmbBucketCap = 64

  /** Exact-content quotient of an embedding corpus: (vec_id, rep_id,
    * grk) where rep_id is the minimum vec_id sharing the identical
    * embedding (md5 of the JSON spelling — injective on doubles) and
    * grk the member's rank within its group (vec_id order). The same
    * contraction the dedup family applies before MinHash/SimHash
    * (Dedup.quotientOf, the r11 treatment): identical content ⇒
    * identical embedding ⇒ the same (label, code) block and cosine
    * exactly 1.0 after round4, so a boilerplate-heavy corpus (every
    * crawl is clone-heavy by construction) otherwise pays Σ group²
    * inside the blocked self-join BEFORE the partner cap can trim
    * output — the join INTERMEDIATE, not the result, was the
    * unbounded stage.
    */
  private[graft] def embMembersOf(v: DataFrame): DataFrame = {
    val gw = Window.partitionBy(col("h"))
    v.select(col("vec_id"), md5(to_json(col("emb"))).as("h"))
      .withColumn("rep_id", min(col("vec_id")).over(gw))
      .withColumn("grk", row_number().over(gw.orderBy(col("vec_id"))))
      .select(col("vec_id"), col("rep_id"), col("grk"))
  }

  /** The quotient of the corpus at `dir`, cached per (session, dir)
    * like Dedup.minhashMembers — one window pass however many
    * consumers (query, audit) run.
    */
  private[graft] def embMembers(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"emb_members:$dir")(
      embMembersOf(codedVectors(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Bucket-capped (label, code) block join over group
    * REPRESENTATIVES — each in-cap rep pair exactly once, with its
    * cosine. The probe side carries its OWN bucket rank so the
    * once-per-pair rule is a map-side filter
    * ([[Dedup.simhashCandidates]]'s shape): `a<b` when both sit
    * inside the cap, the (out-of-cap → in-cap) orientation otherwise.
    * Join INTERMEDIATE ≤ Σ_buckets bucket·min(bucket, cap)
    * ≤ 2·cap·n_reps rows BY CONSTRUCTION — and n_reps counts DISTINCT
    * embeddings, so a clone flood cannot grow it at all.
    */
  private[graft] def embeddingRepPairs(reps: DataFrame,
      bucketCap: Int = EmbBucketCap): DataFrame = {
    val bw = Window.partitionBy(col("label"), col("code")).orderBy(col("vec_id"))
    val ranked = reps.withColumn("brk", row_number().over(bw))
    val bcap = ranked.where(col("brk") <= bucketCap)
      .select(col("label"), col("code"), col("vec_id").as("b_id"),
        col("emb").as("b_emb"))
    ranked.select(col("label"), col("code"), col("vec_id").as("a_id"),
        col("emb").as("a_emb"), col("brk").as("a_brk"))
      .join(bcap, Seq("label", "code"))
      .where(col("a_id") =!= col("b_id"))
      .where(col("a_brk") > bucketCap || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        V.cosine4(col("a_emb"), col("b_emb")).as("cos"))
  }

  /** The qualifying pair stream of [[dedupEmbedding]], quotient-
    * expanded with the dominance trim (the r11 simhash recipe,
    * [[Dedup.simhashExpandedQualifyingOf]] — see its scaladoc for the
    * full argument; only the deltas are noted here):
    *  - WITHIN a group, members pair at cosine exactly 1.0 (identical
    *    vectors; round4 collapses the ≤ 2-ulp norm noise in both
    *    engines). Pairs charge to their min side, so semantically a
    *    slate member pairs with every group successor; the trim emits
    *    only its next [[PairCap]] successors — same-cos smaller-id
    *    dominance makes the rest unreachable in its TopK list.
    *  - ACROSS groups, a rep pair found by [[embeddingRepPairs]]
    *    lifts to slate × slate combos at the reps' cosine (identical
    *    members ⇒ every member combo has the rep pair's exact
    *    double); the trim keeps each member's first PairCap
    *    greater-id partners per edge.
    * Unlike simhash there is no signature-eligibility filter (every
    * vector has a code) and no both-halves `distinct` (one blocking
    * key per vector ⇒ each pair surfaces exactly once). Stream volume
    * ≤ PairCap·n + 2·cap·PairCap·|edges|; [[dedupEmbedding]]'s output
    * is bit-identical to the untrimmed capped semantics the oracle
    * spells (ScaleSmokeSpec asserts both the bound and the equality).
    */
  private[graft] def embeddingExpandedPairsOf(members: DataFrame,
      coded: DataFrame, repQ0: Option[DataFrame] = None): DataFrame = {
    val cap = EmbBucketCap
    val pk = PairCap
    // callers with a staged rep-pair table pass it in (the dir query
    // path below); the seam default derives it from the coded frame
    val repQ = repQ0.getOrElse(embeddingRepPairs(coded.join(
      members.where(col("vec_id") === col("rep_id")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")))
    val gw = Window.partitionBy(col("rep_id")).orderBy(col("vec_id"))
    val ranked = members.withColumn("nxt",
      array((1 to pk).map(i => lead(col("vec_id"), i).over(gw)): _*))
    // MATERIALIZED multi-consumer frames (r17, guide §2.4/§5) — same
    // receipt as Dedup.simhashExpandedQualifyingOf: left as lineage,
    // the members window re-derives once per consumer (within, the
    // slate aggregate, and both cross-join sides), ~4× the subtree's
    // task time at every scale; persisted, each computes once per
    // invocation (cachedPosting's documented 100 TB staging analog)
    val slate = ranked.where(col("grk") <= cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val within = slate
      .select(col("vec_id").as("a_id"),
        explode(filter(col("nxt"), x => x.isNotNull)).as("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("cos"))
    val slates = slate.groupBy(col("rep_id"))
      .agg(sort_array(collect_list(col("vec_id"))).as("slate"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val crossE = repQ
      .join(slates.select(col("rep_id").as("a_id"), col("slate").as("sa")),
        Seq("a_id"))
      .join(slates.select(col("rep_id").as("b_id"), col("slate").as("sb")),
        Seq("b_id"))
    def half(mine: String, theirs: String): DataFrame = crossE
      .select(col("cos"), explode(col(mine)).as("m"), col(theirs).as("othr"))
      .select(col("m").as("a_id"),
        explode(slice(filter(col("othr"), x => x > col("m")), 1, pk)).as("b_id"),
        col("cos"))
      .select(col("a_id"), col("b_id"), col("cos"))
    within.unionAll(half("sa", "sb")).unionAll(half("sb", "sa"))
  }

  /** Partner-capped candidate pairs over any (vec_id, label, emb[,
    * code]) frame — quotient built inline; the (spark, dir) query
    * path goes through [[embMembers]]' cached quotient instead.
    */
  private[graft] def embeddingDupCandidates(v: DataFrame): DataFrame = {
    // a frame from the coded index skips the per-execution code build
    val coded =
      if (v.columns.contains("code")) v
      else v.withColumn("code", lshCode(col("emb")))
    embeddingDupCandidatesOf(embMembersOf(coded), coded)
  }

  /** The verified rep-level cosine pair set over the staged coded
    * index — deterministic in the embeddings table (codes and the
    * quotient both are), so it stages as the detect-stage artifact of
    * the embedding dedup index (r18, the simhash_rep_pairs twin): a
    * warm pass reads parquet instead of re-running the (label, code)
    * block join + cosine per invocation.
    */
  private[operators] def embRepPairsCached(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"emb_rep_pairs:$dir")(
      graft.DfCache.stagedFrame(spark, s"emb_rep_pairs:$dir",
        graft.DfCache.inputFingerprint(spark, s"$dir/embeddings.parquet")) {
        val coded = codedVectors(spark, dir)
        embeddingRepPairs(coded.join(
          embMembers(spark, dir)
            .where(col("vec_id") === col("rep_id")).select(col("vec_id")),
          Seq("vec_id"), "left_semi"))
      })

  private def embeddingDupCandidatesOf(members: DataFrame,
      coded: DataFrame, repQ0: Option[DataFrame] = None): DataFrame =
    embeddingExpandedPairsOf(members, coded, repQ0)
      .groupBy(col("a_id"))
      .agg(graft.functions.TopK.topK(PairCap)(col("cos"), col("b_id")).as("top"))
      .select(col("a_id"), explode(col("top")).as("hit"))
      .select(col("a_id"), col("hit.id").as("b_id"), col("hit.score").as("cos"))

  /** Embedding-cosine near-duplicate report: top-20 bounded candidate
    * pairs by cosine — SURVEY.md §2.F `dedup_embedding`. Three
    * bounded stages, each audited: exact-content quotient (clone
    * floods contract to one rep), bucket-capped rep block join on
    * (label, LSH sign code) (≤ 2·cap·n_reps intermediate), slate
    * expansion + per-vector partner cap (≤ PairCap·n output).
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingDupCandidatesOf(embMembers(spark, dir), codedVectors(spark, dir),
        repQ0 = Some(embRepPairsCached(spark, dir)))
      .orderBy(col("cos").desc, col("a_id"), col("b_id"))
      .limit(20)

  val DiversityQuota = 64

  /** Cluster-balanced diversity sample over the embedding corpus —
    * the coverage-sampling complement to Pack.datasetMix: where the
    * mixer balances by a METADATA stratum (language, source), this
    * balances by EMBEDDING-SPACE region, the cluster-then-sample
    * shape of semantic-diversity curation (SemDeDup-style pruning's
    * sampling dual): assign every corpus vector to its nearest
    * [[kmeansCentroids]] cluster, then keep a deterministic
    * fixed-quota sample per cluster so over-represented regions
    * (boilerplate, templates) cannot crowd the subset.
    *
    * Scale shape — ONE aggregation, no window, no second corpus
    * pass: the per-cluster quota rides the map-side-combining
    * TopKAgg (each map partition reduces to ≤ k·quota buffer rows
    * before the shuffle, so the k-groups aggregate is skew-free by
    * construction — a row_number window over 8 clusters would sort
    * the whole corpus on 8 reducers), and `cluster_n` is a count in
    * the SAME agg, not a join. The sampling coin is the
    * deterministic md5(vec_id) spelling of [[Dedup.deterministicSample]]
    * — reproducible regardless of partitioning or cluster count.
    * Output ≤ k·quota rows at every scale. Oracle: the unrolled
    * kmeansCte chain (kasF) + a per-label row_number replay.
    */
  def diversitySample(spark: SparkSession, dir: String,
                      quota: Int = DiversityQuota): DataFrame = {
    val cent = kmeansCentroids(spark, dir)
    val corpus = vectors(spark, dir).where(col("vec_id") >= NQueries)
      .select(col("vec_id"), col("emb"))
    val assigned = assignClusters(corpus, cent)
      .select(col("vec_id"), col("label"))
    // coin is 32-bit (exact in double); TopK orders score DESC with
    // id-asc tie-break, so -coin == (coin asc, vec_id asc) — the
    // oracle's ORDER BY coin, vec_id
    val coin = TextFunctions.md5Long(col("vec_id").cast("string"), 1, 8)
    assigned
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_n"),
        TopK.topK(quota)(-coin.cast("double"), col("vec_id")).as("top"))
      .select(col("label"), col("cluster_n"),
        posexplode(col("top")).as(Seq("i", "hit")))
      .select(col("label"), col("hit.id").as("vec_id"),
        (col("i") + 1).cast("long").as("srk"), col("cluster_n"))
      .orderBy(col("label"), col("srk"))
  }

  // ----- SemDeDup + prototype pruning (SURVEY.md §2.F semdedup /
  // semdedup_apply / proto_select) -------------------------------------

  /** Pair-cosine threshold of [[semDedup]] — chosen so the rule
    * discriminates on the synthetic corpus (the within-cluster cosine
    * tail sits at q99.9 ≈ 0.35–0.37 across SFs; real-text SemDeDup
    * deployments run ε ≈ 0.96 on contrastive embeddings, but this
    * corpus is near-orthogonal noise by construction). Boundary
    * parity holds because BOTH engines spell the rounding as the
    * identical floor(c·10⁴+0.5)/10⁴ expression (Par.round4 via
    * cosine4 / Par.sql in the oracle — Spark's decimal-string
    * `round(c,4)` is never used here): same IEEE ops on the same
    * inputs yield the same k/10⁴ value on each side, and the literal
    * 0.35 and the division 3500/10⁴ parse/round to the same double.
    * If either side ever switched rounding spellings this argument
    * would no longer hold (the two spellings differ near .00005
    * boundaries); the gates pin the parity empirically as well.
    */
  val SemTau = 0.35

  /** Cluster assignment of the embedding corpus (vec_id ≥ NQueries)
    * against the deterministic [[kmeansCentroids]], KEEPING the
    * winning parity-rounded centroid cosine — `ccos` is SemDeDup's
    * within-group keep priority (Abbas et al. 2023 keep the example
    * with LOW similarity to the centroid) and SSL-prototypes'
    * prototypicality metric (Sorscher et al. 2022), so one assignment
    * pass serves both stages. Cached per (session, dir) like
    * [[embMembers]]: one corpus × broadcast-⩽k scan however many of
    * the three queries run.
    */
  private[graft] def semClusters(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"sem_clusters:$dir")(
      assignClustersCos(
        vectors(spark, dir).where(col("vec_id") >= NQueries)
          .select(col("vec_id"), col("emb")),
        kmeansCentroids(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** [[assignClusters]] keeping the winning cosine — the ONE
    * assignment spelling (assignClusters delegates here and drops
    * `ccos`, so the IVF/k-means and SemDeDup assignments cannot
    * drift BY CONSTRUCTION, not by convention).
    */
  private[graft] def assignClustersCos(corpus: DataFrame, cent: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("emb"), col("label"),
        V.cosine4(col("emb"), col("c_emb")).as("ccos"))
      .withColumn("ark", rank("ccos", "label", "vec_id"))
      .where(col("ark") === 1)
      .select(col("vec_id"), col("label"), col("emb"), col("ccos"))

  /** Exact-content quotient of the clustered corpus — [[embMembersOf]]
    * over [[semClusters]], cached for the report/apply/prune trio.
    */
  private[graft] def semMembers(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"sem_members:$dir")(
      embMembersOf(semClusters(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Rep-level qualifying SemDeDup pairs: the [[embeddingRepPairs]]
    * block join with the CLUSTER as the whole blocking key (code
    * pinned to 0 — SemDeDup's candidate scope is the k-means cell
    * itself, per the paper), build side capped at [[EmbBucketCap]]
    * reps per cluster in vec_id order, filtered to cosine ≥
    * [[SemTau]]. Join INTERMEDIATE ≤ cap·n_reps BY CONSTRUCTION, and
    * n_reps counts DISTINCT embeddings — the ScaleGen clone ladder
    * (exact copies at every rung) cannot grow it at all.
    */
  private[graft] def semQualifyingPairsOf(cl: DataFrame,
      members: DataFrame): DataFrame = {
    val reps = cl
      .join(members.where(col("vec_id") === col("rep_id")).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .withColumn("code", lit(0L))
    embeddingRepPairs(reps).where(col("cos") >= SemTau)
  }

  /** SemDeDup (Abbas et al. 2023) as a DOMINATION rule — semantic
    * near-duplicate pruning over the embedding corpus: cluster with
    * the deterministic k-means quantizer, then inside each cluster
    * drop every vector that has a τ-close candidate partner with
    * better keep priority, where priority = LOWER centroid cosine
    * (keep the cell's least-prototypical witness, the paper's rule),
    * ties to the smaller vec_id. Candidate pairs are the capped
    * rep-level block join of [[semQualifyingPairs]] plus, implicitly,
    * every exact-content member against its own group rep (identical
    * vectors ⇒ cosine exactly 1.0 ≥ τ, identical ccos, smaller-id rep
    * wins) — so the quotient is EXACT for the keep set: a non-rep
    * member is always dominated by its rep, and a member can never
    * dominate a vector its rep does not (same cosine to everything,
    * strictly worse priority). No slate expansion is needed at all —
    * domination only asks EXISTENCE of a better τ-close partner, so
    * the whole query is: quotient → capped rep pairs → one
    * directed-edge priority filter → distinct. Report: every corpus
    * vector with its cluster, centroid cosine and keep verdict.
    *
    * Reference: the pipeline dedups retrieval chunks by cosine
    * (core/utils.py:240 near-identical suppression); this is the
    * corpus-curation form at training-data scale.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semReport(spark, dir)
      .select(col("vec_id"), col("label"), col("ccos"), col("keep"))
      .orderBy(col("vec_id"))

  /** [[semDedup]]'s apply form: the surviving corpus. */
  def semDedupApply(spark: SparkSession, dir: String,
                    sorted: Boolean = true): DataFrame =
    Present.presented(
      semReport(spark, dir).where(col("keep"))
        .select(col("vec_id"), col("label"), col("ccos")),
      sorted, "vec_id")

  /** The domination report, memoized per (session, dir) like
    * [[semClusters]]: `protoSelectOf` references its survivor frame
    * FOUR times (histogram build, band join, boundary and clear
    * branches), and without the persist each reference re-ran the
    * whole qualifying-pair + domination chain — proto_select benched
    * 5.5 s at the 8× rung while semdedup itself took 0.24 s. One
    * computed report now serves all three queries and the tie-band
    * audit.
    */
  private def semReport(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"sem_report:$dir")(
      // localCheckpoint, not persist (r18): the memo already
      // guarantees computed-once; truncating the lineage keeps the
      // three consumer queries' task closures from serializing the
      // whole qualifying-pair + domination DAG into every near-empty
      // read task (StageProbe: 306 ms task DESERIALIZE on a 64-task
      // zero-shuffle proto_select pass)
      semReportOf(semClusters(spark, dir), semMembers(spark, dir))
        .localCheckpoint())

  /** The domination report over any clustered (vec_id, label, emb,
    * ccos) frame + its quotient — the frame-level seam the spec's
    * planted corpora exercise directly.
    */
  private[graft] def semReportOf(cl: DataFrame, members: DataFrame): DataFrame = {
    val qual = semQualifyingPairsOf(cl, members)
    val pri = cl.select(col("vec_id"), col("ccos"))
    val directed = qual.select(col("a_id").as("x"), col("b_id").as("p"))
      .unionAll(qual.select(col("b_id").as("x"), col("a_id").as("p")))
    val dropped = directed
      .join(pri.select(col("vec_id").as("x"), col("ccos").as("xc")), Seq("x"))
      .join(pri.select(col("vec_id").as("p"), col("ccos").as("pc")), Seq("p"))
      .where(col("pc") < col("xc")
        || (col("pc") === col("xc") && col("p") < col("x")))
      .select(col("x").as("vec_id"))
      .distinct()
      .withColumn("dom", lit(true))
    cl.join(members, Seq("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("ccos"),
        (col("grk") === 1 && col("dom").isNull).as("keep"))
  }

  /** Prototype-pruning stage of D4 (Tirumala et al. 2023 = SemDeDup
    * then SSL-prototypes): from the [[semDedup]] survivors, drop the
    * ⌊n/4⌋ MOST prototypical per cluster — highest centroid cosine
    * first, ties to the larger vec_id — and keep the rest. Scale
    * shape: `ccos` is round4 (≤ 20,001 distinct values), so the
    * per-cluster order statistic is a HISTOGRAM cutoff, not a corpus
    * sort — a (label, ccos) count aggregate (≤ k·20,001 rows), a
    * cumulative window over that tiny frame, then one corpus filter;
    * only the boundary tie band (audited: `proto_select.tie_band`)
    * needs a row_number, partitioned by (label, ccos) so it never
    * funnels the corpus through k reducers (the diversity_sample
    * scaladoc's warning, applied). The oracle spells the naive
    * per-cluster row_number — same semantics, different plan, the
    * gopher precedent.
    */
  def protoSelect(spark: SparkSession, dir: String): DataFrame =
    // the banded survivor table is memoized per (session, dir) — the
    // r17 per-invocation persist leaked one cache entry per call and
    // re-populated it per bench pass; a checkpointed memo computes it
    // once and keeps the branch tasks' closures lineage-free (r18)
    protoSelectTail(graft.DfCache.getOrCompute(spark, s"proto_full:$dir")(
      protoFullOf(semReport(spark, dir).where(col("keep"))
        .select(col("vec_id"), col("label"), col("ccos")))
        .localCheckpoint()))

  /** The histogram-cutoff prune over any (vec_id, label, ccos)
    * survivor frame — the frame-level seam the spec's tie-band
    * corpora exercise directly. Materializes the banded table per
    * invocation (callers with a session scope use the memoized
    * [[protoSelect]] path).
    */
  private[graft] def protoSelectOf(kept: DataFrame): DataFrame =
    protoSelectTail(protoFullOf(kept).localCheckpoint())

  /** Survivors joined to their (label, ccos) band row — consumed by
    * BOTH the boundary and clear-kept branches of the prune (r17,
    * guide §2.4/§5), so callers materialize it.
    */
  private def protoFullOf(kept: DataFrame): DataFrame =
    kept.join(protoBands(kept), Seq("label", "ccos"))

  /** Branch/union/sort tail of the histogram prune over a
    * materialized banded survivor table.
    */
  private def protoSelectTail(full: DataFrame): DataFrame = {
    // bands with cum <= dropN are dropped whole; bands with
    // prev >= dropN are kept whole; only the one straddling band ranks
    val boundary = full.where(protoStraddles)
    val tw = Window.partitionBy(col("label"), col("ccos"))
      .orderBy(col("vec_id").desc)
    val boundaryKept = boundary
      .withColumn("trk", row_number().over(tw).cast("long"))
      .where(col("trk") > col("dropN") - col("prev"))
      .select(col("vec_id"), col("label"), col("ccos"))
    val clearKept = full.where(col("prev") >= col("dropN"))
      .select(col("vec_id"), col("label"), col("ccos"))
    clearKept.unionByName(boundaryKept)
      .orderBy(col("label"), col("vec_id"))
  }

  /** The cutoff-straddling-band predicate, shared by [[protoSelectOf]]
    * and the tie-band audit so the audit can never drift from the
    * band the operator actually ranks.
    */
  private def protoStraddles: org.apache.spark.sql.Column =
    col("prev") < col("dropN") && col("dropN") < col("cum")

  /** Shared histogram scaffolding of [[protoSelect]] and its audit
    * row: per-(cluster, ccos) counts with the cumulative-from-top
    * (`cum`), previous-cumulative (`prev`) and per-cluster drop
    * budget ⌊total/4⌋ (`dropN`) columns. n/4.0 is an exponent shift —
    * exact in IEEE for any count < 2⁵², so floor matches DuckDB
    * bit-for-bit.
    */
  private def protoBands(kept: DataFrame): DataFrame = {
    val hist = kept.groupBy(col("label"), col("ccos"))
      .agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy(col("label")).orderBy(col("ccos").desc)
    val tw = Window.partitionBy(col("label"))
    hist
      .withColumn("cum", sum(col("cnt")).over(cw))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("dropN", floor(sum(col("cnt")).over(tw).cast("double") / 4.0))
  }

  /** Boundary tie-band occupancy of [[protoSelect]] — a cap-0
    * MEASUREMENT row (the splitBridgeAudit convention): candidates =
    * rows sharing the cutoff (label, ccos) band, emitted = the rows
    * the row_number actually had to rank. A flood here (a corpus
    * whose survivors all share one round4 ccos) is the one input that
    * makes the histogram design degrade to the naive sort; the audit
    * makes it visible instead of silent.
    */
  private def protoTieBand(spark: SparkSession, dir: String): DataFrame = {
    val kept = semReport(spark, dir).where(col("keep"))
      .select(col("vec_id"), col("label"), col("ccos"))
    kept.join(protoBands(kept), Seq("label", "ccos"))
      .where(protoStraddles)
      .groupBy(col("label"), col("ccos")).agg(count(lit(1)).as("c"))
  }

  /** "No silent caps": what the three [[dedupEmbedding]] bounds
    * actually dropped on this corpus — see Dedup.capAudit for the
    * column contract. `pair_cap` counts the expanded qualifying
    * stream vs [[PairCap]] (like simhash's partner_cap row);
    * `bucket_cap` counts rep-level (label, code) block occupants vs
    * [[EmbBucketCap]]; `group_cap` counts exact-content group members
    * vs the slate size (the quotient twin of the bucket row).
    * `semdedup.bucket_cap` is the SemDeDup twin of the bucket row
    * (blocks = whole k-means cells); `proto_select.tie_band` is the
    * cutoff-band measurement row.
    */
  def capAudit(spark: SparkSession, dir: String): DataFrame = {
    def summarize(perKey: DataFrame, stage: String, cap: Long, unit: String): DataFrame =
      perKey
        .agg(coalesce(sum(col("c")), lit(0L)).as("candidates"),
          coalesce(sum(least(col("c"), lit(cap))), lit(0L)).as("emitted"))
        .select(lit(stage).as("stage"), lit(cap).as("cap"),
          lit(unit).as("unit"), col("candidates"), col("emitted"))
    val members = embMembers(spark, dir)
    val coded = codedVectors(spark, dir)
    val reps = coded.join(
      members.where(col("vec_id") === col("rep_id")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    val pair = summarize(
      embeddingExpandedPairsOf(members, coded)
        .groupBy(col("a_id")).agg(count(lit(1)).as("c")),
      "dedup_embedding.pair_cap", PairCap.toLong, "blocked_pairs")
    val bucket = summarize(
      reps.groupBy(col("label"), col("code")).agg(count(lit(1)).as("c")),
      "dedup_embedding.bucket_cap", EmbBucketCap.toLong, "bucket_occupants")
    val group = summarize(
      members.groupBy(col("rep_id")).agg(count(lit(1)).as("c")),
      "dedup_embedding.group_cap", EmbBucketCap.toLong, "group_members")
    val semM = semMembers(spark, dir)
    val semReps = semClusters(spark, dir).join(
      semM.where(col("vec_id") === col("rep_id")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    val semBucket = summarize(
      semReps.groupBy(col("label")).agg(count(lit(1)).as("c")),
      "semdedup.bucket_cap", EmbBucketCap.toLong, "cell_rep_occupants")
    // semdedup has no group/slate cap: the quotient is EXACT for the
    // domination keep set (members are dominated by their rep at any
    // group size), so the only bound to audit is the cell build cap.
    // tie_band is a cap-0 MEASUREMENT row, not a bound: every band
    // row IS ranked (nothing is silently dropped), so emitted =
    // candidates — summarize's least(c, cap) spelling would publish
    // emitted = 0 and read as "all dropped".
    val tie = protoTieBand(spark, dir)
      .agg(coalesce(sum(col("c")), lit(0L)).as("candidates"))
      .select(lit("proto_select.tie_band").as("stage"), lit(0L).as("cap"),
        lit("cutoff_band_rows").as("unit"), col("candidates"),
        col("candidates").as("emitted"))
    pair.unionByName(bucket).unionByName(group)
      .unionByName(semBucket).unionByName(tie)
  }
}
