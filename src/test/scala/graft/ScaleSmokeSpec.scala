package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Relational, VectorSearch}
import graft.sources.Tables

/** Scale-behavior smoke: the same operators on an 8×-replicated input
  * must stay correct (decimal sums scale EXACTLY linearly) and keep
  * their plan shape — the local stand-in for a scale-factor jump.
  */
class ScaleSmokeSpec extends SparkSpec {

  private val mult = 8

  test("q1 sums scale exactly linearly under 8x replication") {
    val tmp = Files.createTempDirectory("graft_scale").toString
    val li = Tables.lineitem(spark, sfDir)
    (1 to mult).map(_ => li).reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val base = Relational.q1Pricing(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val scaled = Relational.q1Pricing(spark, tmp).collect()
    assert(scaled.length == base.size)
    scaled.foreach { r =>
      val b = base((r.getString(0), r.getString(1)))
      // decimal-routed sums are exact: 8x data = exactly 8x the sum
      assert(r.getAs[Double]("sum_qty") == mult * b.getAs[Double]("sum_qty"))
      assert(r.getAs[Double]("sum_base_price") == mult * b.getAs[Double]("sum_base_price"))
      assert(r.getAs[Long]("count_order") == mult * b.getAs[Long]("count_order"))
      // averages are invariant under replication
      assert(math.abs(r.getAs[Double]("avg_qty") - b.getAs[Double]("avg_qty")) < 1e-9)
    }
  }

  test("knn results are invariant under corpus duplication with distinct ids") {
    val tmp = Files.createTempDirectory("graft_scale_knn").toString
    val emb = Tables.embeddings(spark, sfDir)
    // duplicate the corpus under shifted ids: the top-k COSINES per
    // query must be unchanged (duplicates tie but scores identical)
    emb.unionAll(emb.where(col("vec_id") >= VectorSearch.NQueries)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val base = VectorSearch.knnBrute(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos")).toSeq }
    val scaled = VectorSearch.knnBrute(spark, tmp).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos")).toSeq }
    assert(scaled.keySet == base.keySet)
    base.foreach { case (q, cos) =>
      // each base hit now exists twice; top-k = duplicated list re-truncated
      val expected = cos.flatMap(c => Seq(c, c)).take(VectorSearch.K)
      assert(scaled(q) == expected, s"query $q changed")
    }
  }

  test("simhash pair count stays <= cap*n when one half-bucket holds the whole corpus") {
    import spark.implicits._
    // boilerplate-heavy corpus: every doc shares a long common prefix,
    // so (near-)identical simhashes flood one half-bucket — the shape
    // that made the uncapped join O(bucket²)
    val n = 200
    val boiler = (1 to 30).map(i => s"common$i").mkString(" ")
    val docs = (0L until n.toLong).map(i => (i, s"$boiler unique$i"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.simhashPartners(docs).collect()
    assert(pairs.nonEmpty, "hot bucket produced no verified pairs at all")
    assert(pairs.length <= graft.operators.Dedup.SimhashPartnerCap * n,
      s"cap failed: ${pairs.length} pairs for $n docs")
    val perVec = pairs.groupBy(_.getAs[Long]("a_id")).map(_._2.length)
    assert(perVec.max <= graft.operators.Dedup.SimhashPartnerCap)
  }

  test("simhash JOIN INTERMEDIATE stays <= 2*cap*n when one bucket holds the whole corpus") {
    import spark.implicits._
    // n identical texts: every signature is identical, so BOTH halves
    // put all n docs in one bucket — the uncapped join's intermediate
    // was 2*n^2 rows here; the bucket cap must hold it to 2*cap*n
    val n = 5000
    val cap = 16
    val docs = (0L until n.toLong).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sigs = graft.operators.Dedup.simhashSigs(docs)
    val intermediate = graft.operators.Dedup.simhashCandidates(sigs, cap).count()
    assert(intermediate <= 2L * cap * n,
      s"join intermediate $intermediate exceeds 2*cap*n = ${2L * cap * n}")
    assert(intermediate > 0, "capped join produced no candidates at all")
    // the qualifying stream is still found and pair-canonical
    val pairs = graft.operators.Dedup.simhashQualifying(sigs, cap).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
    assert(pairs.length == pairs.map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).distinct.length,
      "duplicate pairs survived the canonicalizing distinct")
  }

  test("bucket cap recall: capped vs uncapped qualifying pairs, measured") {
    import spark.implicits._
    import graft.operators.Dedup
    def pairsOf(sigs: org.apache.spark.sql.DataFrame, cap: Int): Set[(Long, Long)] =
      Dedup.simhashQualifying(sigs, cap).select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1. the REAL dedup_simhash corpus at this SF: the cap must not
    //    bite at all — capped == uncapped, pair recall exactly 1.0
    //    (the small-scale ground-truth check the audit's occupant
    //    counts cannot provide; see Dedup.capAudit's unit note)
    val nat = Dedup.simhashSigs(
      Dedup.corpusWithDups(spark, sfDir, perturb = true)).localCheckpoint()
    val natCapped = pairsOf(nat, Dedup.SimhashBucketCap)
    val natFull = pairsOf(nat, Int.MaxValue)
    assert(natCapped == natFull,
      s"cap bites on the natural corpus: ${natFull.size - natCapped.size} " +
        s"of ${natFull.size} qualifying pairs lost")
    // 2. a single-bucket flood (the cap's worst case): pair recall
    //    drops by design, but soundness and CLUSTER COVERAGE hold —
    //    capped ⊆ uncapped, and every doc with an uncapped partner
    //    still has a capped partner, so no duplicate escapes detection
    val n = 200
    val boiler = (1 to 30).map(i => s"common$i").mkString(" ")
    val flood = Dedup.simhashSigs(
      (0L until n.toLong).map(i => (i, s"$boiler unique$i"))
        .toDF("doc_id", "text")).localCheckpoint()
    val fCapped = pairsOf(flood, Dedup.SimhashBucketCap)
    val fFull = pairsOf(flood, Int.MaxValue)
    assert(fCapped.subsetOf(fFull), "capped stream invented pairs")
    def docs(ps: Set[(Long, Long)]) = ps.flatMap(p => Seq(p._1, p._2))
    assert(docs(fCapped) == docs(fFull),
      "cap removed a doc's LAST partner — a duplicate would escape detection")
    // the measured pair-level cost of the cap on the flood (≈ 0.28
    // here): in-cap pairs + (out-of-cap → in-cap) survive, the
    // out-of-cap × out-of-cap tail is delegated to the in-cap
    // representatives — quantified, not silent
    val recall = fCapped.size.toDouble / fFull.size
    assert(recall > 0.1 && recall < 1.0,
      s"flood pair recall $recall outside the expected capped band")
  }

  test("quotient cross expansion is group-size-free and trim-exact") {
    import spark.implicits._
    import graft.operators.Dedup
    val cap = Dedup.SimhashBucketCap
    // two near-identical templates (one word dropped), each duplicated
    // far past the cap: doc-level cross would be n*n combos per edge;
    // the group-slate rule must emit at most cap^2 — independent of n
    val n = 200          // n >> cap so the slate genuinely truncates
    val boiler = (1 to 40).map(i => s"common$i").mkString(" ")
    val corpus = (
      (0L until n.toLong).map(i => (i, boiler)) ++
      (10000L until (10000L + n)).map(i => (i, boiler.stripSuffix(" common40")))
    ).toDF("doc_id", "text")
    val members = corpus
      .withColumn("rep_id", when(col("doc_id") < 10000L, lit(0L)).otherwise(lit(10000L)))
      .select(col("doc_id"), col("rep_id"))
    val sigs = Dedup.simhashSigs(
      Seq((0L, boiler), (10000L, boiler.stripSuffix(" common40")))
        .toDF("doc_id", "text")).localCheckpoint()
    // precondition: the two reps actually qualify (hamming in 1..6),
    // otherwise the cross set is empty and the bound check is vacuous
    val repPairs = Dedup.simhashQualifying(sigs, cap).collect()
    assume(repPairs.length == 1 && repPairs.head.getAs[Long]("hamming") > 0,
      "template edit did not land in the qualifying hamming band — adjust the corpus")
    val pk = Dedup.SimhashPartnerCap
    val q = Dedup.simhashExpandedQualifyingOf(members, sigs)
      .select(col("a_id"), col("b_id"), col("hamming")).collect()
    val cross = q.filter(_.getAs[Long]("hamming") > 0)
    assert(cross.length <= 2 * cap * pk,
      s"cross expansion emitted ${cross.length} rows for ONE rep edge " +
        s"(bound: 2*cap*pk = ${2 * cap * pk}) — group size leaked back in")
    // r15 saturation trim: every slate member of a 200-member group
    // has pk hamming-0 successors, so NO hamming>0 cross row can reach
    // its TopK — the stream must now be empty here, and the capped
    // OUTPUT equality below proves dropping them changed nothing
    assert(cross.isEmpty,
      s"saturated slates should emit no hamming>0 cross rows, got ${cross.length}")
    // within is trimmed to each slate member's next-pk group ids
    val within = q.length - cross.length
    assert(within <= pk.toLong * 2 * cap,
      s"within expansion $within exceeded pk per slate member")
    // EXACTNESS of the dominance trim: the partner-capped output must
    // be row-identical to the UNTRIMMED expansion the oracle spells
    // (every group member vs the slate; full slate x slate per edge)
    def capped(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      Dedup.partnerCappedForTest(pairs).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("hamming"))).toSet
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep_id")).orderBy(col("doc_id"))
    val ranked = members.withColumn("grk", row_number().over(gw))
    val slate = ranked.where(col("grk") <= cap)
      .select(col("rep_id"), col("doc_id").as("b_id"))
    val naiveWithin = ranked
      .select(col("rep_id"), col("doc_id").as("a_id"), col("grk").as("a_grk"))
      .join(slate, Seq("rep_id"))
      .where(col("a_id") =!= col("b_id"))
      .where(col("a_grk") > cap || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), lit(0L).as("hamming"))
    val naiveCross = Dedup.simhashQualifying(sigs, cap)
      .join(slate.select(col("rep_id").as("a_id"), col("b_id").as("ma")), Seq("a_id"))
      .join(slate.select(col("rep_id").as("b_id"), col("b_id").as("mb")), Seq("b_id"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("hamming"))
    val naive = capped(naiveWithin.unionAll(naiveCross))
    val trimmed = capped(Dedup.simhashExpandedQualifyingOf(members, sigs))
    assert(trimmed == naive,
      s"dominance trim changed the partner-capped output: " +
        s"missing=${(naive -- trimmed).take(3)} extra=${(trimmed -- naive).take(3)}")

    // UNSATURATED twin: groups smaller than pk — members lack pk
    // within-successors, so the saturation rule must KEEP their
    // hamming>0 cross rows and those pairs genuinely surface in the
    // capped output (the case the trim is not allowed to touch)
    val n2 = 5L
    val corpus2 = (
      (0L until n2).map(i => (i, boiler)) ++
      (10000L until (10000L + n2)).map(i => (i, boiler.stripSuffix(" common40")))
    ).toDF("doc_id", "text")
    val members2 = corpus2
      .withColumn("rep_id", when(col("doc_id") < 10000L, lit(0L)).otherwise(lit(10000L)))
      .select(col("doc_id"), col("rep_id"))
    val q2 = Dedup.simhashExpandedQualifyingOf(members2, sigs)
      .select(col("a_id"), col("b_id"), col("hamming")).collect()
    assert(q2.exists(_.getAs[Long]("hamming") > 0),
      "unsaturated groups emitted no cross rows — the trim over-prunes")
    val ranked2 = members2.withColumn("grk", row_number().over(gw))
    val slate2 = ranked2.where(col("grk") <= cap)
      .select(col("rep_id"), col("doc_id").as("b_id"))
    val naiveWithin2 = ranked2
      .select(col("rep_id"), col("doc_id").as("a_id"), col("grk").as("a_grk"))
      .join(slate2, Seq("rep_id"))
      .where(col("a_id") =!= col("b_id"))
      .where(col("a_grk") > cap || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), lit(0L).as("hamming"))
    val naiveCross2 = Dedup.simhashQualifying(sigs, cap)
      .join(slate2.select(col("rep_id").as("a_id"), col("b_id").as("ma")), Seq("a_id"))
      .join(slate2.select(col("rep_id").as("b_id"), col("b_id").as("mb")), Seq("b_id"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("hamming"))
    val naive2 = capped(naiveWithin2.unionAll(naiveCross2))
    val trimmed2 = capped(Dedup.simhashExpandedQualifyingOf(members2, sigs))
    assert(trimmed2 == naive2,
      s"unsaturated trim changed the capped output: " +
        s"missing=${(naive2 -- trimmed2).take(3)} extra=${(trimmed2 -- naive2).take(3)}")
    assert(trimmed2.exists(_._3 > 0),
      "no cross pair surfaced for unsaturated groups — corpus degenerate")
  }

  test("embedding clone flood: quotient contracts the blocked join; expansion bounded and trim-exact") {
    import spark.implicits._
    val cap = VectorSearch.EmbBucketCap
    val pk = VectorSearch.PairCap
    // two near-identical vectors (same label + LSH code, cosine < 1)
    // each cloned far past the slate cap — the ScaleGen-replication /
    // boilerplate-crawl shape that made the doc-level blocked self-join
    // pay ~ (2n)^2 in ONE bucket before the partner cap could trim
    val n = 200L
    val va = Array.tabulate(8)(d => 1.0 + d)
    val vb = va.clone(); vb(7) += 0.5  // big enough that round4(cos) < 1.0
    val corpus = (
      (0L until n).map(i => (i, "hot", va)) ++
      (10000L until (10000L + n)).map(i => (i, "hot", vb)) ++
      Seq((50000L, "cold", Array.tabulate(8)(d => -1.0 - d)))
    ).toDF("vec_id", "label", "emb")
    val coded = corpus.withColumn("code",
      graft.operators.VectorSearch.lshCode(col("emb"))).localCheckpoint()
    // precondition: the two templates really collide in one bucket
    val codes = coded.where(col("label") === "hot")
      .select(col("code")).distinct().collect()
    assume(codes.length == 1, "perturbation flipped an LSH plane — shrink it")
    val members = VectorSearch.embMembersOf(coded).localCheckpoint()
    // quotient: 401 vectors -> 3 reps; the rep-level block join sees
    // ONE edge, not ~80k in-bucket combos
    val reps = coded.join(
      members.where(col("vec_id") === col("rep_id")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    assert(reps.count() == 3)
    val repQ = VectorSearch.embeddingRepPairs(reps).collect()
    assert(repQ.length == 1, s"expected one rep edge, got ${repQ.length}")
    assert(repQ.head.getAs[Double]("cos") < 1.0,
      "templates collapsed to cosine 1.0 — the edge no longer exercises the cross path")
    // expansion stream volume: <= pk per slate member (within) +
    // 2*cap*pk for the single edge — group size n never appears
    val q = VectorSearch.embeddingExpandedPairsOf(members, coded).collect()
    val cross = q.filter(_.getAs[Double]("cos") < 1.0)
    val within = q.length - cross.length
    assert(cross.nonEmpty && cross.length <= 2 * cap * pk,
      s"cross expansion ${cross.length} rows for one edge (bound ${2 * cap * pk})")
    assert(within <= pk.toLong * 2 * cap,
      s"within expansion $within exceeded pk per slate member")
    // EXACTNESS of the dominance trim: partner-capped output must be
    // row-identical to the UNTRIMMED capped semantics the oracle
    // spells (every member vs its group's slate at cos 1.0; full
    // slate x slate per rep edge at the reps' cosine)
    def capped(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      pairs.groupBy(col("a_id"))
        .agg(graft.functions.TopK.topK(pk)(col("cos"), col("b_id")).as("top"))
        .select(col("a_id"), explode(col("top")).as("hit"))
        .select(col("a_id"), col("hit.id").as("b_id"), col("hit.score").as("cos"))
        .collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Double]("cos"))).toSet
    val slate = members.where(col("grk") <= cap)
      .select(col("rep_id"), col("vec_id").as("b_id"))
    val naiveWithin = members
      .select(col("rep_id"), col("vec_id").as("a_id"), col("grk").as("a_grk"))
      .join(slate, Seq("rep_id"))
      .where(col("a_id") =!= col("b_id"))
      .where(col("a_grk") > cap || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), lit(1.0).as("cos"))
    val naiveCross = VectorSearch.embeddingRepPairs(reps)
      .join(slate.select(col("rep_id").as("a_id"), col("b_id").as("ma")), Seq("a_id"))
      .join(slate.select(col("rep_id").as("b_id"), col("b_id").as("mb")), Seq("b_id"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("cos"))
    val naive = capped(naiveWithin.unionAll(naiveCross))
    val trimmed = capped(VectorSearch.embeddingExpandedPairsOf(members, coded))
    assert(trimmed == naive,
      s"dominance trim changed the partner-capped output: " +
        s"missing=${(naive -- trimmed).take(3)} extra=${(trimmed -- naive).take(3)}")
  }

  test("embedding rep join INTERMEDIATE stays <= 2*cap*n when one bucket holds all reps") {
    import spark.implicits._
    // n DISTINCT vectors in one (label, code) bucket — the quotient is
    // the identity here, so only the build-side bucket cap stands
    // between the rep join and n^2; mirrors the simhash JOIN
    // INTERMEDIATE test one family over
    val n = 4096
    val cap = 16
    val reps = (0 until n).map { i =>
      (i.toLong, "hot", Array.tabulate(8)(d => 1.0 + d + i * 1e-9), 7L)
    }.toDF("vec_id", "label", "emb", "code")
    val pairs = VectorSearch.embeddingRepPairs(reps, cap)
    assert(pairs.count() <= 2L * cap * n,
      s"rep join exceeded 2*cap*n = ${2L * cap * n}")
    val sample = pairs.limit(5000).collect()
    assert(sample.nonEmpty)
    assert(sample.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
    assert(sample.length == sample.map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).distinct.length,
      "a rep pair surfaced twice")
  }

  test("quotiented dedup_embedding equals the doc-level spelling where no cap binds") {
    import spark.implicits._
    // mixed corpus: clone groups of 5 and 3 plus singletons, two
    // buckets — groups and buckets all under the caps, so the capped
    // semantics ARE the doc-level semantics and the outputs must be
    // row-identical (incl. within-group literal cos 1.0 == the
    // doc-level round4 of identical vectors)
    val va = Array.tabulate(8)(d => 1.0 + d)
    val vb = { val v = va.clone(); v(7) += 0.5; v }  // cross pairs at cos < 1.0
    val vc = Array.tabulate(8)(d => -1.0 - d)
    val rows =
      (0L until 5L).map(i => (i, "hot", va)) ++
      (100L until 103L).map(i => (i, "hot", vb)) ++
      Seq((200L, "cold", vc), (201L, "cold", vc.map(_ * 2.0)))
    val coded = rows.toDF("vec_id", "label", "emb")
      .withColumn("code", graft.operators.VectorSearch.lshCode(col("emb"))).localCheckpoint()
    def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos"))).toSet
    // the pre-r14 doc-level spelling, inline: full blocked self-join,
    // then the same partner cap
    val a = coded.select(col("label"), col("code"), col("vec_id").as("a_id"), col("emb").as("a_emb"))
    val b = coded.select(col("label"), col("code"), col("vec_id").as("b_id"), col("emb").as("b_emb"))
    val docLevel = a.join(b, Seq("label", "code"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.cosine4(col("a_emb"), col("b_emb")).as("cos"))
      .groupBy(col("a_id"))
      .agg(graft.functions.TopK.topK(VectorSearch.PairCap)(col("cos"), col("b_id")).as("top"))
      .select(col("a_id"), explode(col("top")).as("hit"))
      .select(col("a_id"), col("hit.id").as("b_id"), col("hit.score").as("cos"))
    assert(collectPairs(VectorSearch.embeddingDupCandidates(coded)) ==
      collectPairs(docLevel))
  }

  test("ngram_jaccard relative window still finds candidates under 8x replication") {
    import spark.implicits._
    import graft.functions.TextFunctions.shinglePosting
    // 8 copies of each of 100 texts: every shingle's df is 8 — the old
    // absolute df<=5 window finds NOTHING here; the corpus-relative
    // ceiling max(5, ceil(800/100))=8 keeps the duplicates visible
    val docs = (for { t <- 0 until 100; c <- 0 until mult }
      yield ((c * 1000 + t).toLong, s"alpha$t beta$t gamma$t delta$t epsilon$t"))
      .toDF("doc_id", "text")
    val posting = shinglePosting(docs, col("doc_id"), col("text"), 3)
    val top = graft.operators.Dedup.ngramJaccardOf(posting, docs.select(col("doc_id")))
      .collect()
    assert(top.length == 20, s"expected a full top-20, got ${top.length}")
    assert(top.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("ngram verify budget is corpus-relative above its floor") {
    import graft.operators.Dedup
    // below 5000 docs the floor holds (sf0.01/sf0.1 outputs unchanged);
    // past it the budget tracks the corpus, so recall doesn't silently
    // shrink at 100x — the same formula the DuckDB oracle applies
    assert(Dedup.ngramVerifyBudget(500) == 200)
    assert(Dedup.ngramVerifyBudget(5000) == 200)
    assert(Dedup.ngramVerifyBudget(40000) == 1600)
    assert(Dedup.ngramVerifyBudget(1000000) == 40000)
  }

  test("rank-based overlap count survives a hot window with no quadratic intermediate") {
    import spark.implicits._
    // 10^4 mutually-overlapping sessions (one per user): the pair-
    // enumerating overlap join would materialize ~n²/2 = 5·10⁷ rows
    // in this single hot window regardless of bucketing; the rank
    // formulation must keep every shuffle O(n). Shuffle records
    // written across the whole action is the direct witness.
    val n = 10000
    val sess = (1L to n.toLong).map(i => (i, 1L, 1000L + i % 97, 100000L + i % 89))
      .toDF("user_id", "session_id", "start_ms", "end_ms")
      .repartition(8).localCheckpoint()
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val w = graft.operators.Analytics.SessionGapMs
      val withAllLe = graft.operators.RangeJoin.countUnder(sess, "end_ms",
        sess.select($"start_ms".as("_v")), "_v", strict = false, w, "_all_le")
      val withAllLt = graft.operators.RangeJoin.countUnder(withAllLe, "start_ms",
        sess.select($"end_ms".as("_v")), "_v", strict = true, w, "_all_lt")
      val withUsrLe = graft.operators.RangeJoin.countUnder(withAllLt, "end_ms",
        sess.select($"user_id", $"start_ms".as("_v")), "_v",
        strict = false, w, "_usr_le", keys = Seq("user_id"))
      val withUsrLt = graft.operators.RangeJoin.countUnder(withUsrLe, "start_ms",
        sess.select($"user_id", $"end_ms".as("_v")), "_v",
        strict = true, w, "_usr_lt", keys = Seq("user_id"))
      val rows = withUsrLt.select($"user_id",
          ($"_all_le" - $"_all_lt" - $"_usr_le" + $"_usr_lt").as("n_overlap"))
        .collect()
      // every session overlaps all n-1 others (distinct users)
      assert(rows.length == n)
      assert(rows.forall(_.getAs[Long]("n_overlap") == n - 1L),
        rows.take(3).mkString(", "))
      Obs.drain(spark.sparkContext)
      // 4 passes × (union shuffle + window sort + bucket totals) over
      // ~2n rows each stays well under 50n; the pair join would need
      // ≥ n²/2 ≈ 5·10⁷ records just to exist
      assert(shuffleRecords.get() < 50L * n,
        s"shuffle records ${shuffleRecords.get()} suggests a quadratic intermediate")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("components runs exactly one Spark job per propagation round") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .localCheckpoint()
    // the claim under test is "no separate probe ACTION": every driver-
    // blocking materialization is a localCheckpoint; a probe would
    // surface as a `count`/`collect` job. Async broadcast-exchange
    // sub-jobs (withThreadLocalCaptured) belong to the same action.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = s.stageInfos.map(_.name.takeWhile(_ != ' ')).distinct.mkString("+")
        if (site.contains("localCheckpoint")) jobs.incrementAndGet()
        else if (!site.contains("withThreadLocalCaptured")) probes.add(site)
      }
    }
    // AQE splits one action into a job per shuffle stage; disable it
    // here so jobs == actions and the no-separate-probe claim is
    // directly countable
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (labels, rounds) = graft.operators.Dedup.componentsWithRounds(pairs)
      Obs.drain(spark.sparkContext)
      // edges checkpoint + initial labels checkpoint + 1 job per round:
      // the convergence flag rides the checkpoint job's accumulator,
      // not a separate probe action
      assert(jobs.get() == 2 + rounds,
        s"expected ${2 + rounds} checkpoint jobs (2 setup + $rounds rounds), saw ${jobs.get()}")
      // exactly TWO non-checkpoint actions are sanctioned, both
      // one-time SETUP counts for the endpoint-coverage invariant
      // (materialized round_0 nodes + edge-list endpoints) — never
      // per round; the loop itself must stay probe-free
      assert(probes.size == 2 && probes.toArray.forall(_.toString.contains("count")),
        "expected only the two setup endpoint-invariant counts, saw: " +
          probes.toArray.mkString(", "))
      assert(labels.collect().forall(_.getAs[Long]("cluster_id") == 0L))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("components fixpoint retains at most the final labels frame's blocks") {
    import spark.implicits._
    // each round localCheckpoints a fresh labels frame; the loop must
    // unpersist the dead rounds (and the edge list) or a billion-doc
    // corpus pins ~12 label tables in executor storage
    val pairs = (0L until 255L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .localCheckpoint()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val (labels, rounds) = graft.operators.Dedup.componentsWithRounds(pairs)
    assert(labels.collect().forall(_.getAs[Long]("cluster_id") == 0L))
    assert(rounds >= 4, s"chain of 256 should need several rounds, took $rounds")
    // unpersist is async: wait for the dead rounds' blocks to drain
    var leftover = Seq.empty[String]
    var spins = 0
    while ({
      leftover = spark.sparkContext.getRDDStorageInfo.toSeq
        .filterNot(i => before(i.id)).map(_.name)
      leftover.length > 1 && spins < 50
    }) { Thread.sleep(100); spins += 1 }
    assert(leftover.length <= 1,
      s"fixpoint leaked checkpoint blocks after $rounds rounds: $leftover")
  }

  test("reliable checkpoint mode stages rounds to parquet, keeps only the final round") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ck").toString
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) =
      graft.operators.Dedup.componentsWithRounds(pairs, Some(tmp))
    val out = labels.collect()
    assert(out.length == 64)
    assert(out.forall(_.getAs[Long]("cluster_id") == 0L))
    // every superseded round dir AND the edge stage must be deleted;
    // the returned frame reads from the surviving final round only
    val kept = new java.io.File(tmp).listFiles.map(_.getName).toSet
    assert(kept == Set(s"round_$rounds"), s"stale checkpoint dirs: $kept")
  }

  test("components converges in O(log diameter) rounds on a 1024-node chain") {
    import spark.implicits._
    // worst case for plain min-propagation: one long path. Pointer
    // doubling must converge in ~log2(1024)=10 rounds, not ~1024.
    val n = 1024
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("a_id", "b_id")
    val (labels, rounds) = graft.operators.Dedup.componentsWithRounds(pairs)
    val out = labels.collect()
    assert(out.length == n)
    assert(out.forall(_.getAs[Long]("cluster_id") == 0L),
      "chain did not collapse to one component")
    assert(rounds <= 12, s"pointer doubling failed: $rounds rounds for diameter $n")
  }

  test("perplexity scoring join spreads a stopword-prefix flood via the deterministic salt") {
    import spark.implicits._
    // Bigram streams are Zipfian: one stopword bigram can be percents
    // of a 100 TB stream, and the scoring joins key on exactly that
    // value. The probe history here matters: AQE's OptimizeSkewedJoin
    // only fires when both join children are dedicated
    // ENSURE_REQUIREMENTS shuffle stages, and the model side of the
    // scoring join routinely REUSES its aggregation's partitioning —
    // the same flood split at one broadcast threshold and serialized
    // 204k records through one task at another. Hence the
    // deterministic doc-hash salt (Perplexity.ScoreSaltWidth); this
    // test is its receipt. Flood: 2000 docs of "the"×101 + a unique
    // tail token, so ~99% of the 204k scored bigrams share the single
    // key (the,the) and every prefix is "the".
    val flood = (1 to 2000).map { i =>
      (i.toLong, (Seq.fill(101)("the") :+ s"u$i").mkString(" "))
    }.toDF("doc_id", "text").repartition(8).localCheckpoint()
    val model = graft.operators.Perplexity.modelOf(spark, flood)

    def scores() = graft.operators.Perplexity.scoreAgainst(model, flood)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("xent")).toMap

    // reference run under the DEFAULT plan (vocab-sized model side
    // broadcasts — no shuffle to skew; the plan small scale picks)
    val expected = scores()

    // force the 100 TB shape: model too big to broadcast => shuffled
    // joins on the hot keys; enough reduce partitions that the 16
    // salted twins of the hot key actually land apart
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val totalRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          maxTaskRecords.getAndUpdate(v => math.max(v, m.shuffleReadMetrics.recordsRead))
          totalRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
        }
      }
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      // 204k copies of one string pair run-length-compress to a few
      // KB, so AQE's byte-based partition coalescing would merge the
      // whole salted shuffle back into one task at test scale —
      // byte-blind here, never at 100 TB where partitions are GBs.
      // Disable it for the measured run; the salt spread is what is
      // under test.
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.sparkContext.addSparkListener(listener)
      val got = scores()
      // plan change must not change a single score
      assert(got === expected)
      Obs.drain(spark.sparkContext)
      // the witness: no task read the whole hot key. Unsalted, each
      // scoring join serializes >= 200k records through ONE task (the
      // observed AQE failure mode); salted 16-way, the hot key's
      // per-task share is ~total/16 + the vocab-sized replicas.
      assert(totalRecords.get() > 200000L,
        s"flood did not exercise a shuffled join (total ${totalRecords.get()})")
      assert(maxTaskRecords.get() < 60000L,
        s"hot bigram key was not spread: one task read ${maxTaskRecords.get()} records")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }
}
