package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** ENGINE-ONLY rung checker: replication-arithmetic invariants that
  * extend the scaling trend past the oracle's resource ceiling.
  * DuckDB is the binding constraint above 128× (two documented
  * oracle-side resource deaths at 128×, none engine-side), so this
  * rung is verified WITHOUT an oracle — against invariants that hold
  * BY CONSTRUCTION of ScaleGen's replication:
  *
  *   - facts replicate with shifted keys, dimensions stay single ⇒
  *     per-group decimal sums and row counts scale exactly ×mult,
  *     and (for a power-of-two mult) double-cast sums and averages
  *     are BIT-equal ×mult / unchanged — scaling a double by 2^k is
  *     exact, and rounding commutes with it;
  *   - documents replicate content-identically with doc_id shifted
  *     by k·10⁷, events with user_id shifted by k·10⁶ ⇒ per-entity
  *     outputs must contain exactly mult shifted twins of every base
  *     row.
  *
  * These are the same invariants ScaleSmokeSpec pins at 8× in-memory,
  * applied to the materialized rung through the very SparkEntry
  * query entries the oracle gate runs. Clearly labeled: this checks
  * the ENGINE's internal consistency across a 2× data jump, not
  * cross-engine parity (that is proven through 128× where the oracle
  * can follow).
  *
  * Usage: `runMain graft.ScaleInvariants <baseSfDir> <scaledDir> <mult>`
  * — prints one JSON line, exits 1 on any violated invariant.
  */
object ScaleInvariants {

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scaled = args(1)
    val mult = args(2).toInt
    require(mult > 0 && (mult & (mult - 1)) == 0,
      s"mult must be a power of two for the bit-exact double claims, got $mult")
    val spark = Sessions.builderFromEnv().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    def check(name: String)(body: => Unit): Unit =
      try { body; results(name) = "pass" }
      catch {
        case e: Throwable =>
          results(name) = "FAIL: " + String.valueOf(e.getMessage)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(160)
      }
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def byKey(df: DataFrame, keys: String*): Map[Seq[Any], Row] =
      df.collect().map(r => keys.map(k => r.getAs[Any](k)) -> r).toMap

    // q1: per-(flag,status) decimal sums ×mult bit-exact after the
    // double cast; averages bit-unchanged; counts ×mult
    check("q1_pricing_sums_x" + mult) {
      val b = byKey(q("q1_pricing", base), "l_returnflag", "l_linestatus")
      val s = byKey(q("q1_pricing", scaled), "l_returnflag", "l_linestatus")
      require(b.keySet == s.keySet, s"group sets differ: ${b.keySet} vs ${s.keySet}")
      b.foreach { case (k, rb) =>
        val rs = s(k)
        Seq("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge").foreach { c =>
          val exp = rb.getAs[Double](c) * mult
          val got = rs.getAs[Double](c)
          require(got == exp, s"$k.$c: $got != $exp (base × $mult)")
        }
        Seq("avg_qty", "avg_price").foreach { c =>
          require(rs.getAs[Double](c) == rb.getAs[Double](c),
            s"$k.$c changed under replication")
        }
        require(rs.getAs[Long]("count_order") == rb.getAs[Long]("count_order") * mult,
          s"$k.count_order not ×$mult")
      }
    }

    // q5: per-nation revenue ×mult bit-exact (facts replicate against
    // single-copy dims, decimal sum, power-of-two double scaling)
    check("q5_region_join_revenue_x" + mult) {
      val b = byKey(q("q5_region_join", base), "n_name")
      val s = byKey(q("q5_region_join", scaled), "n_name")
      require(b.keySet == s.keySet, "nation sets differ")
      b.foreach { case (k, rb) =>
        val exp = rb.getAs[Double]("revenue") * mult
        val got = s(k).getAs[Double]("revenue")
        require(got == exp, s"$k.revenue: $got != $exp")
      }
    }

    // contribution_analytics: per-event-type n/total ×mult, avg
    // bit-unchanged
    check("contribution_analytics_x" + mult) {
      val b = byKey(q("contribution_analytics", base), "event_type")
      val s = byKey(q("contribution_analytics", scaled), "event_type")
      require(b.keySet == s.keySet, "event_type sets differ")
      b.foreach { case (k, rb) =>
        val rs = s(k)
        require(rs.getAs[Long]("n") == rb.getAs[Long]("n") * mult, s"$k.n not ×$mult")
        require(rs.getAs[Double]("total_value") == rb.getAs[Double]("total_value") * mult,
          s"$k.total_value not ×$mult")
        require(rs.getAs[Double]("avg_value") == rb.getAs[Double]("avg_value"),
          s"$k.avg_value changed under replication")
      }
    }

    // session_stats: every copy replays the same sessions in the same
    // (single, max-ts-anchored) clock ⇒ all three counters ×mult
    check("session_stats_x" + mult) {
      val rb = q("session_stats", base).collect().head
      val rs = q("session_stats", scaled).collect().head
      Seq("total_sessions", "active_sessions", "today_sessions").foreach { c =>
        require(rs.getAs[Long](c) == rb.getAs[Long](c) * mult, s"$c not ×$mult")
      }
    }

    // token_vocab: same tokens, counts ×mult (content-identical doc
    // copies), same deterministic order
    check("token_vocab_x" + mult) {
      val b = q("token_vocab", base).collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt")))
      val s = q("token_vocab", scaled).collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt")))
      require(b.map(_._1).toSeq == s.map(_._1).toSeq, "token order differs")
      b.zip(s).foreach { case ((t, cb), (_, cs)) =>
        require(cs == cb * mult, s"$t: $cs != ${cb * mult}")
      }
    }

    // token_count: the scaled output must be EXACTLY mult shifted
    // twins of every base row — doc_id mod the 10⁷ copy offset maps a
    // twin to its original, n_tok must match, multiplicity must be
    // mult for every base doc
    check("token_count_twins_x" + mult) {
      val cols = Seq("ws_tokens", "bpe_ish_tokens", "chars")
      val b = q("token_count", base)
        .select(col("doc_id").as("orig_id") +: cols.map(c => col(c).as(c + "_b")): _*)
      val s = q("token_count", scaled)
        .select(pmod(col("doc_id"), lit(10000000L)).as("orig_id") +: cols.map(col): _*)
      val joined = s.join(b, Seq("orig_id"), "full")
        .agg(
          count(lit(1)).as("n"),
          count(when(cols.map(c => col(c).isNull || col(c + "_b").isNull)
            .reduce(_ || _), 1)).as("unmatched"),
          count(when(cols.map(c => col(c) =!= col(c + "_b"))
            .reduce(_ || _), 1)).as("mismatched"))
        .collect().head
      val nBase = q("token_count", base).count()
      require(joined.getAs[Long]("unmatched") == 0, "unmatched twin rows")
      require(joined.getAs[Long]("mismatched") == 0, "twin column mismatch")
      require(joined.getAs[Long]("n") == nBase * mult,
        s"twin multiplicity: ${joined.getAs[Long]("n")} != ${nBase * mult}")
    }

    // gopher_quality: every metric is a pure CONTENT function (one
    // native GopherGramStats pass per doc, round4-deterministic), so
    // the scaled report must be exactly mult shifted twins of every
    // base row — same metrics, same keep verdict, multiplicity mult
    check("gopher_quality_twins_x" + mult) {
      val cols = Seq("n_words", "mean_word_len", "n_stop", "top2_frac",
        "top3_frac", "top4_frac", "dup5_frac", "keep")
      val b = q("gopher_quality", base)
        .select(col("doc_id").as("orig_id") +: cols.map(c => col(c).as(c + "_b")): _*)
      val s = q("gopher_quality", scaled)
        .select(pmod(col("doc_id"), lit(10000000L)).as("orig_id") +: cols.map(col): _*)
      val joined = s.join(b, Seq("orig_id"), "full")
        .agg(
          count(lit(1)).as("n"),
          count(when(cols.map(c => col(c).isNull || col(c + "_b").isNull)
            .reduce(_ || _), 1)).as("unmatched"),
          count(when(cols.map(c => col(c) =!= col(c + "_b"))
            .reduce(_ || _), 1)).as("mismatched"))
        .collect().head
      val nBase = q("gopher_quality", base).count()
      require(joined.getAs[Long]("unmatched") == 0, "unmatched twin rows")
      require(joined.getAs[Long]("mismatched") == 0, "twin metric mismatch")
      require(joined.getAs[Long]("n") == nBase * mult,
        s"twin multiplicity: ${joined.getAs[Long]("n")} != ${nBase * mult}")
    }

    // plain ×mult row-count checks on row-per-entity surfaces
    Seq("validate_docs", "doc_chunk", "sessionize", "vec_normalize").foreach { name =>
      check(s"${name}_rows_x" + mult) {
        val nb = q(name, base).count()
        val ns = q(name, scaled).count()
        require(ns == nb * mult, s"$ns != ${nb * mult}")
      }
    }

    // --- r16 additions: the r15 C4/FineWeb/BPE family + this round's
    // queries (r15 verdict #7) ------------------------------------------

    // c4_line_stats: the derived-lines prep flips per-(doc_id, line)
    // coins, and replica doc_ids draw FRESH coins — twin equality is
    // out of reach by design of the prep. What replication must
    // preserve: one report row per doc (×mult) and the RATE each
    // page verdict fires at (coin fractions concentrate at corpus
    // size; 1% tolerance at ≥ 8× is ~10 sigma).
    check("c4_keep_rate_flat_x" + mult) {
      def rate(dir: String): (Double, Long) = {
        val r = q("c4_line_stats", dir)
          .agg(count(lit(1)).as("n"), count(when(col("keep"), 1)).as("k"))
          .collect().head
        (r.getAs[Long]("k").toDouble / r.getAs[Long]("n"), r.getAs[Long]("n"))
      }
      val (rb, nb) = rate(base)
      val (rs, ns) = rate(scaled)
      require(ns == nb * mult, s"report rows $ns != ${nb * mult}")
      require(math.abs(rs - rb) <= 0.01,
        s"keep rate drifted under replication: $rs vs $rb")
    }

    // fineweb_linededup: every replica carries a HIGHER doc_id than
    // every base doc, so no replica can steal a first-winner from the
    // base slice — the base docs' rebuilt rows must be IDENTICAL to
    // the base-corpus run (first-winner stability).
    check("fineweb_base_winners_x" + mult) {
      type R = (Long, Long, String)
      def rows(df: DataFrame): Map[Long, R] = df.collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
      val b = rows(q("fineweb_linededup", base))
      val s = rows(q("fineweb_linededup", scaled)
        .where(col("doc_id") < 10000000L))
      require(b.keySet == s.keySet, "base doc set differs")
      val bad = b.keys.filter(k => b(k) != s(k))
      require(bad.isEmpty, s"base winners moved under replication: ${bad.take(3)}")
    }

    // sequence_pack_bpe: the artifact retrains per corpus (adaptive
    // sample), so per-doc counts need not twin; the LAYOUT must stay
    // exactly self-consistent — one row per doc (×mult), every count
    // positive, per-shard offset arithmetic closed (max doc end ==
    // shard token total), fertility >= 1 vs whitespace in aggregate.
    check("sequence_pack_bpe_layout_x" + mult) {
      val df = q("sequence_pack_bpe", scaled)
      val nb = q("sequence_pack_bpe", base).count()
      require(df.count() == nb * mult, "layout rows not ×mult")
      require(df.where(col("n_tok") <= 0).count() == 0, "non-positive count")
      val budget = graft.operators.Pack.DefaultSeqTokens
      val bad = df
        .select(col("shard"),
          (col("seq_id") * budget + col("tok_offset")).as("start"), col("n_tok"))
        .groupBy("shard")
        .agg(max(col("start") + col("n_tok")).as("mx"), sum(col("n_tok")).as("sm"))
        .where(col("mx") =!= col("sm")).count()
      require(bad == 0, "per-shard cumsum not closed")
      val tok = df.agg(sum(col("n_tok"))).collect().head.getLong(0)
      val ws = spark.read.parquet(s"$scaled/documents.parquet")
        .agg(sum(size(split(col("text"), " ")))).collect().head.getLong(0)
      require(tok >= ws, s"aggregate fertility below 1: $tok BPE vs $ws ws")
    }

    // session_cleanup (r16 one-aggregate form): every copy replays the
    // same sessions in the single max-ts-anchored clock ⇒ all three
    // audit counters ×mult; the apply form's kept frame ×mult rows.
    check("session_cleanup_x" + mult) {
      val rb = q("session_cleanup", base).collect().head
      val rs = q("session_cleanup", scaled).collect().head
      Seq("total_before", "deleted", "total_after").foreach { c =>
        require(rs.getAs[Long](c) == rb.getAs[Long](c) * mult, s"$c not ×$mult")
      }
      require(q("session_cleanup_apply", scaled).count()
        == q("session_cleanup_apply", base).count() * mult,
        "kept sessions not ×mult")
    }

    // knn_model: the projection artifact is seeded (corpus-
    // independent) and vectors are pure content functions — and
    // replication puts each QUERY doc's own content-identical
    // replicas INTO the corpus side (replica ids exceed NQueries),
    // so the rank-1 hit must be a clone of the query itself:
    // round4(cos(v, v)) == 1.0 exactly, for every query. (The first
    // 512× run spelled this as base-equality and failed for exactly
    // this reason — the replica self-hit IS the invariant.)
    check("knn_model_top1_x" + mult) {
      def top1(dir: String): Map[Long, Double] =
        q("knn_model", dir).where(col("rk") === 1L).collect()
          .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
      val b = top1(base)
      val s = top1(scaled)
      require(b.keySet == s.keySet, "query set differs")
      val bad = s.filter { case (_, c) => c != 1.0 }
      require(bad.isEmpty,
        s"query replicas in the corpus must self-hit at cos 1.0: ${bad.take(3)}")
    }

    // --- r17 additions: the late-r16 pair + this round's queries ------

    // c4_span_dedup: replica ids all exceed base ids, so no replica
    // can steal a span winner from the base slice — base docs'
    // rebuilt rows identical to the base-corpus run (the
    // fineweb_base_winners argument at span grain).
    check("c4_span_base_winners_x" + mult) {
      type R = (Long, Long, String)
      def rows(df: DataFrame): Map[Long, R] = df.collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
      val b = rows(q("c4_span_dedup", base))
      val s = rows(q("c4_span_dedup", scaled)
        .where(col("doc_id") < 10000000L))
      require(b.keySet == s.keySet, "base doc set differs")
      val bad = b.keys.filter(k => b(k) != s(k))
      require(bad.isEmpty, s"base span winners moved under replication: ${bad.take(3)}")
    }

    // doc_decode / doc_decode_pdf: pure content functions of the text
    // through a real codec round-trip — the scaled report must be
    // exactly mult shifted twins of every base row.
    Seq("doc_decode", "doc_decode_pdf").foreach { name =>
      check(s"${name}_twins_x" + mult) {
        val cols = Seq("text_md5", "n_chars", "n_words")
        val b = q(name, base)
          .select(col("doc_id").as("orig_id") +: cols.map(c => col(c).as(c + "_b")): _*)
        val s = q(name, scaled)
          .select(pmod(col("doc_id"), lit(10000000L)).as("orig_id") +: cols.map(col): _*)
        val joined = s.join(b, Seq("orig_id"), "full")
          .agg(
            count(lit(1)).as("n"),
            count(when(cols.map(c => col(c).isNull || col(c + "_b").isNull)
              .reduce(_ || _), 1)).as("unmatched"),
            count(when(cols.map(c => col(c) =!= col(c + "_b"))
              .reduce(_ || _), 1)).as("mismatched"))
          .collect().head
        val nBase = q(name, base).count()
        require(joined.getAs[Long]("unmatched") == 0, "unmatched twin rows")
        require(joined.getAs[Long]("mismatched") == 0, "twin column mismatch")
        require(joined.getAs[Long]("n") == nBase * mult,
          s"twin multiplicity: ${joined.getAs[Long]("n")} != ${nBase * mult}")
      }
    }

    // knn_model_trained: replication scales the EXACT moment matrix
    // n·G − s·sᵀ by mult² (a power of two squared), which cancels
    // bit-exactly in the max-abs normalization — so the TRAINED
    // artifact must come out BIT-IDENTICAL on the scaled corpus, and
    // the search must self-hit like knn_model (query replicas enter
    // the corpus side at cos 1.0).
    check("knn_model_trained_weights_x" + mult) {
      import graft.operators.Ingest
      def weights(dir: String): Seq[Float] = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val (n, sV, gV) = Ingest.bowMoments(spark, docs, Ingest.RpInDim)
        Ingest.trainPcaWeights(n, sV, gV, Ingest.RpInDim, Ingest.PcaOutDim).toSeq
      }
      val wb = weights(base)
      val ws = weights(scaled)
      require(wb == ws,
        "trained weights drifted under replication (mult^2 moment scaling must cancel)")
    }
    check("knn_model_trained_top1_x" + mult) {
      def top1(dir: String): Map[Long, Double] =
        q("knn_model_trained", dir).where(col("rk") === 1L).collect()
          .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
      val b = top1(base)
      val s = top1(scaled)
      require(b.keySet == s.keySet, "query set differs")
      val bad = s.filter { case (_, c) => c != 1.0 }
      require(bad.isEmpty,
        s"query replicas in the corpus must self-hit at cos 1.0: ${bad.take(3)}")
    }

    val failed = results.valuesIterator.count(_ != "pass")
    val js = results.map { case (k, v) => s"""\"$k\":\"$v\"""" }.mkString("{", ",", "}")
    println(s"""{"engine_only":true,"base":"$base","scaled":"$scaled","mult":$mult,""" +
      s""""checks":${results.size},"failed":$failed,"invariants":$js}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
