package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Percentiles

/** Corpus-curation funnel operators — the acceptance/rejection reports a
  * training-data pipeline produces after the per-doc signals (TextOps)
  * are computed: which rule rejected how much of each source, and the
  * per-language length bands that adaptive filtering keeps.
  *
  * The reference has no corpus layer (its documents are order/event
  * JSON); these extend the builder-prompt LLM-pipeline surface the same
  * way q19–q25 did, reusing the determinism machinery already proven:
  * integer cross-multiplied ratio thresholds (no float compares at rule
  * boundaries) and the mirrored-lerp histogram percentiles of
  * [[graft.ops.Percentiles]] (q122/q123).
  */
object Curation {

  /** The "high-quality target domain" stand-in for [[dsirWeights]]:
    * importance is estimated toward these sources' unigram
    * distribution. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2")

  /** q203 — DSIR-style data-selection importance weights (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling", reduced to unigram features): every document is scored
    * by how much more likely its tokens are under the TARGET domain's
    * add-one-smoothed unigram distribution than under the raw corpus's.
    * The published estimator sums per-feature log-likelihood ratios; to
    * stay engine-exact the per-TOKEN ratio is micro-rounded to an
    * integer FIRST (the q152 discipline: round before the sum, so the
    * aggregation is an order-free BIGINT sum instead of an
    * order-sensitive float fold), and the per-doc weight is the exact
    * integer mean of those micros — a monotone transform of the
    * arithmetic-mean-ratio score, which ranks documents for resampling
    * exactly like the ratio itself.
    *
    * Scale: token explode → ONE groupBy(token) builds the joint
    * (target, raw) vocabulary in a single pass (map-side partial
    * aggregation); totals are a 1-row broadcast; the score join is
    * shuffle-by-token with AQE owning skew on stopword-heavy keys, then
    * one groupBy(doc_id). The smoothed ratio is computed with each
    * factor cast to DOUBLE before multiplying, so the expression never
    * overflows BIGINT at any corpus size and both engines evaluate the
    * identical IEEE sequence. */
  /** q239 — per-document PERPLEXITY under a bigram LM of the TARGET
    * domain (the CCNet recipe, Wenzek et al. 2019, with the n-gram LM
    * reduced to Laplace-smoothed bigrams): every doc is scored by its
    * per-token cross-entropy −(1/n)·Σ ln P(w₂|w₁) with
    * P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) estimated on the
    * [[DsirTargetSources]] corpus — the quality-filtering signal that
    * complements q203's importance RATIO: DSIR asks "target-like vs
    * corpus-like?", perplexity asks "how surprising is this doc to the
    * target LM at all?" (gibberish and boilerplate both score high).
    * Distinct from q129's [[graft.text.TextOps.bigramLmScore]], which
    * averages micro-rounded probabilities under a WHOLE-CORPUS model —
    * this is the cross-entropy/perplexity form against a held TARGET
    * domain, the number CCNet actually thresholds.
    *
    * Determinism (the q235 discipline): counts and V are exact
    * integers; each distinct (doc, bigram)'s negative log-likelihood is
    * nano-rounded BEFORE multiplying by its exact occurrence count and
    * order-free summing — no float accumulates across rows, so the
    * per-doc totals (≤ ~2⁴⁷, double-exact) replay bit-for-bit and the
    * derived `ce_micro`/`ppl_milli` round identically cross-engine.
    *
    * Scale: one target-sources scan builds the LM (bigram counts, a
    * head rollup OF that result, a distinct-token count — all bounded
    * by target vocabulary, a persistent index artifact in production);
    * scoring is the per-doc bigram partial-agg joined to the LM tables
    * keyed by bigram, then one per-doc sum. Docs under 2 tokens have no
    * bigrams and are absent on both sides. */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame = {
    // memoized END-TO-END (the q129 bigramLmScore rule): the scored
    // frame feeds q239 itself, the q244 curriculum and the q257 keep
    // list in one session — without this each re-ran the LM build +
    // scoring join
    graft.Tables.memoCache(spark, s"doc-ppl/$dir") {
      val docs = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
      nllScored(docs, docs.filter(col("source").isin(DsirTargetSources: _*)))
    }
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        expr("CAST(FLOOR(CAST(total_nano AS DOUBLE) / (1000.0 * n_bigrams) + 0.5) AS BIGINT)")
          .as("ce_micro"),
        expr("CAST(FLOOR(1000.0 * EXP(CAST(total_nano AS DOUBLE) / (1.0e9 * n_bigrams)) + 0.5) AS BIGINT)")
          .as("ppl_milli"))
      .orderBy("doc_id")
  }

  /** The scoring core shared by [[docPerplexity]] (LM = target sources)
    * and [[splitGap]] (LM = train split): per doc, the exact bigram
    * count and the nano-rounded total NLL under a Laplace-smoothed
    * bigram LM of `lmDocs`. */
  private[graft] def nllScored(docs: DataFrame, lmDocs: DataFrame): DataFrame = {
    val cbg = lmDocs
      .select(explode(expr("graft_ngram_counts(text, 2)")).as("g"))
      .groupBy(col("g.gram").as("bigram")).agg(sum(col("g.ct")).as("c_ab"))
    val cw1 = cbg.withColumn("w1", expr("split(bigram, ' ')[0]"))
      .groupBy("w1").agg(sum(col("c_ab")).as("c_w1"))
    val vocab = lmDocs
      .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("tok"))
      .agg(countDistinct(col("tok")).as("v_types"))
    val docBg = docs
      .select(col("doc_id"), col("source"),
        explode(expr("graft_ngram_counts(text, 2)")).as("g"))
      .select(col("doc_id"), col("source"), col("g.gram").as("bigram"),
        col("g.ct").cast("long").as("m"))
      .withColumn("w1", expr("split(bigram, ' ')[0]"))
    docBg
      .join(cbg, Seq("bigram"), "left")
      .join(cw1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("source"), col("m"), expr(
        """CAST(FLOOR(1000000000.0
          | * (-LN(CAST(COALESCE(c_ab, 0) + 1 AS DOUBLE)
          |        / CAST(COALESCE(c_w1, 0) + v_types AS DOUBLE)))
          | + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")).as("nll_nano"))
      .groupBy("doc_id", "source")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("nll_nano")).as("total_nano"))
  }

  /** q249 — per-source GENERALIZATION GAP: a bigram LM is fit on the
    * TRAIN split only (the q130-style md5 split of
    * [[graft.text.TextOps.splitCol]]) and both splits are scored
    * against it; per (source, split) the POOLED cross-entropy
    * (Σ m·nll / Σ m — order-free exact sums, one final division) shows
    * how much harder unseen same-source text is than the text the LM
    * memorized. A near-zero eval−train gap for a source is the
    * leakage/contamination smell q161 then localizes doc-by-doc; an
    * outsized gap flags a source too heterogeneous for its volume.
    *
    * Scale: the LM tables aggregate the train split once (vocabulary-
    * bounded artifacts); scoring is the q239 bigram-keyed join; the
    * report is a bounded (source × split) partial agg. */
  def splitGap(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("split", graft.text.TextOps.splitCol)
    val scored = nllScored(docs, docs.filter(col("split") === "train"))
    scored
      .join(docs.select("doc_id", "split"), "doc_id")
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("total_nano")).as("total_nano"))
      .select(col("source"), col("split"), col("n_docs"), col("n_bigrams"),
        expr("CAST(FLOOR(CAST(total_nano AS DOUBLE) / (1000.0 * n_bigrams) + 0.5) AS BIGINT)")
          .as("ce_micro"))
      .orderBy("source", "split")
  }

  /** q244 — deterministic CURRICULUM ORDER manifest: the step that
    * turns q239's difficulty signal into an actual training order.
    * Docs are banded into `nStages` perplexity quartiles (easy → hard,
    * the curriculum-learning schedule), pseudo-shuffled WITHIN each
    * stage by the md5 of the doc id (a pure function — the "random"
    * order an engineer can replay anywhere), and dealt round-robin
    * onto `nShards` data shards. Every training job that consumes the
    * corpus reads this manifest, so it must be bit-reproducible across
    * runs, partitionings, and engines — which is exactly what the
    * md5-order + total tie-breaks give.
    *
    * Scale: the stage assignment is one global NTILE over
    * (ce, doc_id) — a range-partitioned sort at corpus scale (the
    * q55 banded-global-rank shape); the within-stage shuffle is a
    * stage-partitioned window. Nothing else shuffles. */
  def curriculumOrder(spark: SparkSession, dir: String,
                      nStages: Int = 4, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docPerplexity(spark, dir).select("doc_id", "ce_micro")
    scored
      .withColumn("stage", ntile(nStages).over(
        Window.orderBy(col("ce_micro").asc, col("doc_id").asc)).cast("long"))
      .withColumn("shuffle_key", md5(concat(lit("cur:"), col("doc_id").cast("string"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("stage"))
          .orderBy(col("shuffle_key").asc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("stage"), col("pos"),
        ((col("pos") - 1L) % nShards).as("shard"))
      .orderBy("stage", "pos")
  }

  /** q257 — the ranked CURATION KEEP-LIST: every scored doc ordered by
    * a composite of the two round-11 per-doc risk signals — target-LM
    * cross-entropy (q239: surprising docs are gibberish/boilerplate
    * risks) and hapax share (q247: corpus-unique-token-dense docs are
    * memorization/PII risks), weighted 1:2 (a unit of hapax share is
    * rarer and more alarming than a unit of CE; the weights are policy,
    * documented, and trivially re-tuned). The top-`k` SAFEST docs with
    * their component scores are the artifact a human review samples
    * and the batch a pilot training run starts from — the composition
    * endpoint of the scoring stack, the way q244 is the ordering
    * endpoint of the difficulty stack.
    *
    * Scale: both component frames are per-doc aggregates already
    * bounded by the corpus; the combination is a doc-keyed join + one
    * TakeOrdered(k). */
  def curationRank(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val ppl = docPerplexity(spark, dir).select("doc_id", "source", "ce_micro")
    val hapax = graft.text.TextOps.hapaxRisk(spark, dir)
      .select(col("doc_id"), col("hapax_micro"))
    ppl.join(hapax, "doc_id")
      .select(col("doc_id"), col("source"), col("ce_micro"), col("hapax_micro"),
        (col("ce_micro") + lit(2L) * col("hapax_micro")).as("risk_micro"))
      .orderBy(col("risk_micro").asc, col("doc_id").asc)
      .limit(k)
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    // repartition BEFORE the tokenize+explode projection: the single-
    // row-group parquet would otherwise run the whole token fan-out in
    // ONE task (TextOps.withTokens discipline).
    // Opt r19: the scored frame IS the DSIR artifact — the per-doc
    // importance weights a resampling run persists and reads (q216's
    // lift audit consumes exactly this frame) — session-cached per
    // corpus version like the q200 manifest; the display orderBy stays
    // outside the cache.
    Tables.memoCache(spark, s"dsir-weights/$dir/" +
        Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      dsirCore(graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism))
    }.orderBy("doc_id")

  private[graft] def dsirCore(docs: DataFrame): DataFrame = {
    val isT = col("source").isin(DsirTargetSources: _*)
    // Opt r19 (guide §2.4): tokenize ONCE. The old shape referenced the
    // raw token explode twice (vocab agg + per-doc score join) and each
    // reference re-ran the tokenizer over the whole corpus — the two
    // heaviest stages of the query (measured 16.3 s + 10.6 s of task
    // time at sf0.1). Pre-aggregating to per-(doc, token) COUNTS
    // compresses the frame to the distinct pair domain; exchange reuse
    // alone does NOT dedupe it (the two consumers prune different
    // columns — the vocab branch drops doc_id — so their exchanges are
    // not byte-identical), hence the EAGER localCheckpoint: the
    // tokenize+agg job runs once and both branches read the
    // materialized pair frame. Checkpointed frames lose size stats, so
    // the ratios join carries an explicit broadcast hint (vocab-sized
    // build side — the same bound the old AQE-chosen BHJ relied on).
    // Integer sums over (ratio · cnt) equal the per-instance sums
    // exactly.
    val docTok = docs
      .select(col("doc_id"), col("source"),
        explode(expr(graft.text.TextOps.TokensExpr)).as("token"))
      .groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = docTok
      .groupBy("token")
      .agg(sum(col("cnt")).as("cr"),
        sum(when(isT, col("cnt")).otherwise(0L)).as("ct"))
    val totals = vocab.agg(
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("nv"))
    val ratios = vocab.crossJoin(broadcast(totals))
      .select(col("token"), expr(
        """CAST(FLOOR(1000000.0
          |  * (CAST(ct + 1 AS DOUBLE) * CAST(nr + nv AS DOUBLE))
          |  / (CAST(cr + 1 AS DOUBLE) * CAST(nt + nv AS DOUBLE)) + 0.5) AS BIGINT)"""
          .stripMargin).as("ratio_micro"))
    docTok.join(broadcast(ratios), "token")
      .groupBy("doc_id", "source")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("ratio_micro") * col("cnt")).as("imp_sum_micro"))
      .select(col("doc_id"), col("source"),
        when(isT, 1L).otherwise(0L).as("is_target"),
        col("n_tokens"), col("imp_sum_micro"),
        expr("imp_sum_micro div n_tokens").as("avg_imp_micro"))
      .orderBy("doc_id")
  }

  /** q208 — water-filling token-budget allocation across sources: given
    * each source's token supply and a global budget B (half the corpus
    * here), find the unique level L with Σ min(sᵢ, L) = B — small
    * sources keep everything, large sources are clipped to the common
    * level (the max-min-fair allocation; the planning complement of
    * q152's temperature weights, which REWEIGHT, and q174's budget cut,
    * which SELECTS). Entirely integer: sort sources ascending by
    * (supply, source); the affordability statistic
    * f(k) = P(k−1) + sₖ·(n−k+1) is nondecreasing in k, so the cutoff is
    * simply the COUNT of affordable rows; the residual R = B − P(k*)
    * splits as base = R div m with the `R mod m` leftover units handed
    * to the first remainder sources in sort order — fully deterministic,
    * no floats anywhere.
    *
    * Scale: the windows run over the SOURCE domain (bounded — 20 here,
    * a few hundred at worst), never over documents; supplies come from
    * one partial-agg pass over the corpus. The 1-row cutoff aggregate
    * broadcasts back. */
  def waterfillBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Opt r19: supplies from the session-cached token proxy (one
    // tokenize per corpus version, shared with q152/q188/q241) — the
    // per-source sums are identical by sum associativity
    val supplies = graft.text.TextOps.tokenProxy(spark, dir)
      .groupBy("source").agg(sum(col("n_tokens")).as("supply"))
    val w = Window.orderBy(col("supply").asc, col("source").asc)
    val ranked = supplies
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pk", sum(col("supply")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = ranked.agg(sum(col("supply")).as("total"),
      count(lit(1)).as("n"))
    val affordable = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 2"))
      .withColumn("f", col("pk") - col("supply") +
        col("supply") * (col("n") - col("k") + 1))
      .withColumn("full", (col("f") <= col("budget")).cast("long"))
    val cut = affordable.agg(
      sum(col("full")).as("kstar"),
      sum(when(col("full") === 1L, col("supply")).otherwise(0L)).as("full_total"))
    affordable.crossJoin(broadcast(cut))
      .select(col("source"), col("supply"),
        when(col("full") === 1L, col("supply"))
          .otherwise(
            expr("(budget - full_total) div (n - kstar)") +
              when(col("k") - col("kstar") <= expr("(budget - full_total) % (n - kstar)"),
                1L).otherwise(0L))
          .as("allocated"),
        (lit(1L) - col("full")).as("capped"))
      .orderBy("source")
  }

  /** q216 — selector lift audit: rank every document by its q203 DSIR
    * weight, cut the ranking into deciles, and report each decile's
    * target-document share — the standard "does the selector actually
    * concentrate the target domain at the top" evaluation (the q153
    * recall-harness pattern applied to importance resampling; a useless
    * selector shows a flat ~15% everywhere, a working one shows the top
    * deciles enriched). Deciles via the banded-rank construction is
    * unnecessary here — the decile of a row is a pure function of its
    * rank, so ntile over the bounded ordering... which IS a global
    * window; instead the decile comes from a row_number banded the
    * q174/q188 way at scale. At this corpus the window is the
    * doc-count domain and the oracle replays it literally.
    *
    * All integer: ranks, counts, micro shares. Tie-break (weight desc,
    * doc_id asc) pins the decile assignment. */
  def dsirLift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = dsirWeights(spark, dir)
      .select(col("doc_id"), col("is_target"), col("avg_imp_micro"))
    val n1 = Window.orderBy(col("avg_imp_micro").desc, col("doc_id").asc)
    // Opt r19: n_docs rides the SAME WindowExec as the rank (full-frame
    // count over the identical partition/order spec) — the old
    // crossJoin(scored.agg(count)) was a second reference to `scored`
    // that re-evaluated the whole DSIR scoring pipeline
    scored
      .withColumn("rk", row_number().over(n1).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(
        n1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("decile", expr("((rk - 1) * 10) div n_docs"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_target")).as("n_target"),
        min(col("avg_imp_micro")).as("min_weight"),
        max(col("avg_imp_micro")).as("max_weight"))
      .withColumn("target_micro",
        expr("CAST(FLOOR(1000000.0 * n_target / n_docs + 0.5) AS BIGINT)"))
      .orderBy("decile")
  }

  /** q219 — within-source quality calibration: map each document's raw
    * quality score (lexical diversity, integer micro) to its PERCENTILE
    * RANK inside its own source. Raw scores are not comparable across
    * sources (a boilerplate-heavy crawl and a curated corpus have
    * different score distributions); rank-normalizing per source is the
    * standard quantile-calibration step before a cross-source quality
    * threshold or mixture rule. pct = (rank − 1)·10⁶ div (n − 1), all
    * integer, tie-broken by doc_id.
    *
    * Scale: one narrow score map, then windows partitioned by SOURCE —
    * per-source doc lists parallelize across sources; no global sort. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        expr(s"${graft.text.TextOps.TokensExpr}").as("toks"))
      .select(col("doc_id"), col("source"),
        expr("CAST(FLOOR(1000000.0 * size(array_distinct(toks)) / size(toks) + 0.5) AS BIGINT)")
          .as("score_micro"))
    val w = Window.partitionBy("source").orderBy(col("score_micro").asc, col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("pct_micro",
        when(col("n_src") > 1L, expr("((rk - 1) * 1000000) div (n_src - 1)"))
          .otherwise(lit(500000L)))
      .select("doc_id", "source", "score_micro", "pct_micro")
      .orderBy("doc_id")
  }

  /** q222 — quality-cutoff operating curve: for each candidate score
    * threshold (an 11-point grid over the [0, 1] diversity-score range),
    * how many documents and tokens survive `score ≥ t` — the curve a
    * curator reads to pick the cutoff (the selection complement of
    * q135's fixed cascade: q135 reports WHERE data is lost for one rule
    * set, this reports HOW MUCH for every candidate rule).
    *
    * One pass: band each doc by `score div 100000`, aggregate docs and
    * tokens per band (bounded 11-key domain), then the retained-at-
    * threshold numbers are SUFFIX sums over that domain. All integer. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(expr(s"${graft.text.TextOps.TokensExpr}").as("toks"))
      .select(size(col("toks")).cast("long").as("n_tokens"),
        expr("CAST(FLOOR(1000000.0 * size(array_distinct(toks)) / size(toks) + 0.5) AS BIGINT)")
          .as("score_micro"))
    val bands = scored
      .groupBy(expr("score_micro div 100000").as("band"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("toks"))
    val totals = bands.agg(sum(col("docs")).as("all_docs"),
      sum(col("toks")).as("all_toks"))
    val w = Window.orderBy(col("band").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    bands
      .withColumn("docs_retained", sum(col("docs")).over(w))
      .withColumn("tokens_retained", sum(col("toks")).over(w))
      .crossJoin(broadcast(totals))
      .select((col("band") * 100000L).as("threshold_micro"),
        col("docs_retained"), col("tokens_retained"),
        expr("CAST(FLOOR(1000000.0 * tokens_retained / all_toks + 0.5) AS BIGINT)")
          .as("token_share_micro"))
      .orderBy("threshold_micro")
  }

  /** q230 — greedy coverage-maximizing selection (submodular data
    * curation): pick `k` documents one at a time, each maximizing the
    * number of NOT-YET-COVERED distinct bigrams it contributes — the
    * facility-location/set-cover shape behind coverage-driven corpus
    * subset selection, with the greedy algorithm's classic (1 − 1/e)
    * guarantee. Marginal gains decrease monotonically (submodularity —
    * pinned in the spec); ties break by doc_id.
    *
    * Shape: the per-doc bigram sets stay DISTRIBUTED (cached once);
    * the covered set lives DRIVER-SIDE and is shipped each round as a
    * torrent **broadcast variable** consulted inside a predicate UDF —
    * never a plan literal and never a join relation — so the plan is
    * CONSTANT-SIZE in |covered| (pinned in Round9fSpec via
    * `roundNovel`) AND each round is exactly ONE narrow map over the
    * cached sets + TakeOrdered(1): no per-round shuffle, no
    * checkpoint. The covered set is inherently small — bounded by the
    * union of the k winners' bigram vocabularies (k docs' worth, NOT
    * the corpus vocabulary), so it broadcasts in O(k · doc_vocab)
    * regardless of corpus size. The argmax row carries the winner's
    * novel bigrams as payload (one doc's array), which the driver
    * folds into the covered set — k rounds ⇒ k narrow jobs, the
    * q99/q111 iterative pattern. covered_types is the exact running
    * sum of gains (each gain IS the count of newly covered types).
    * The oracle replays the identical greedy as a recursive CTE with
    * ORDER BY/LIMIT in the recursive term. */
  def greedyCoverage(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    greedyCoverageCore(spark, graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism), k)

  /** Per-doc distinct-bigram sets from any (doc_id, text) frame — the
    * shared input builder of the exact and lazy greedy. */
  private[graft] def bigramSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(s"${graft.text.TextOps.TokensExpr}").as("t"))
      .select(col("doc_id"), expr(
        """array_distinct(CASE WHEN size(t) >= 2
          |THEN transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))
          |ELSE array() END)""".stripMargin).as("s"))

  /** Core over any (doc_id, text) frame (Round13Spec's exact reference). */
  private[graft] def greedyCoverageCore(spark: SparkSession, docs: DataFrame,
                                        k: Int): DataFrame = {
    import spark.implicits._
    val sets = bigramSetsOf(docs).cache()
    var covered = Set.empty[String]
    var coveredTypes = 0L
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    try {
      for (iter <- 1 to k) {
        val bc = spark.sparkContext.broadcast(covered)
        val row =
          try roundNovel(sets, bc)
            .orderBy(col("gain").desc, col("doc_id").asc)
            .limit(1).collect().head
          finally bc.destroy()
        val (winner, gain) = (row.getLong(0), row.getInt(1).toLong)
        covered ++= row.getSeq[String](2)
        coveredTypes += gain // gain = |novel| = newly covered type count
        picks += ((iter.toLong, winner, gain, coveredTypes))
      }
    } finally {
      sets.unpersist(blocking = false)
    }
    picks.toSeq.toDF("iter", "picked", "gain", "covered_types")
      .orderBy("iter")
  }

  /** Evaluation/IO counters of one [[greedyCoverageLazy]] run — the
    * numbers SCALE.md quotes: `evals` = docs whose gain was recomputed
    * (exact greedy recomputes k·N), `jobs` = distributed jobs launched,
    * `loadedRows` = (doc_id, ub) rows pulled to the driver (exact
    * greedy pulls k argmax rows; here it is the candidate FRONTIER —
    * docs whose upper bound exceeds the running winner gains). */
  case class LazyGreedyStats(evals: Long, jobs: Long, loadedRows: Long,
                             bulkRounds: Long = 0L)

  /** q262 — q230's DISTRIBUTED LAZY-greedy variant (Minoux's
    * accelerated greedy), the escape hatch SCALE.md documents for when
    * k · doc_vocab outgrows a per-round full-corpus evaluation: instead
    * of recomputing EVERY doc's marginal gain each round, the driver
    * keeps a priority queue of STALE gains (initialized from the
    * distributed upper bounds |s|, loaded lazily in (ub desc, id asc)
    * order) and re-evaluates only the queue's top candidates — by
    * submodularity a stale gain is an upper bound on the true gain, so
    * when the top entry is FRESH (re-evaluated this round) every other
    * candidate's true gain is ≤ its stale bound ≤ the top's gain, with
    * the (gain desc, doc_id asc) queue order reproducing the exact
    * tie-break. The PICK SEQUENCE is therefore IDENTICAL to
    * [[greedyCoverage]] (spec-pinned at sf0.01 in Round12Spec, and the
    * shared recursive-CTE oracle hash-verifies both).
    *
    * Hunt cost is JOB-bounded, not only eval-bounded: per round, two
    * escalating top-slice batches (×4 growth), then — if the stale
    * bounds still aren't pruning (this corpus's vocabulary overlap is
    * heavy, the adversarial regime for Minoux) — the round and all
    * later rounds fall back to EXACT-greedy rounds (sticky `bulkMode`):
    * one argmax job over the cached corpus whose single collected row
    * carries the winner's payload — exactly greedyCoverage's per-round
    * cost (1 job, N evals, a 1-row driver pull), which is the floor
    * for a non-pruning corpus. Without the fallback the pure-Minoux
    * hunt launched 873 jobs at sf0.1 and per-job overhead swamped the
    * eval savings — the regression Round12Spec's job bound pins. On
    * sparse-overlap corpora (the intended regime, MEASURED at 1×/10×:
    * 304 evals constant vs k·N of 40k/400k, SCALE.md r13) the
    * queue prunes and the fallback never fires; either way every
    * evaluation stays distributed and the driver holds the frontier —
    * or one row — never the corpus.
    *
    * Shape: one distributed TakeOrdered per frontier load (rare —
    * candidates whose ub can still win), one narrow
    * `roundNovel(isin batch)` job per re-evaluation batch, the covered
    * set still a broadcast VARIABLE (the q230 plan-size discipline). */
  def greedyCoverageLazy(spark: SparkSession, dir: String, k: Int = 20,
                         evalBatch: Int = 16,
                         loadChunk: Int = 256): DataFrame =
    greedyCoverageLazyWithStats(spark, dir, k, evalBatch, loadChunk)._1

  private[graft] def greedyCoverageLazyWithStats(
      spark: SparkSession, dir: String, k: Int,
      evalBatch: Int, loadChunk: Int): (DataFrame, LazyGreedyStats) =
    greedyCoverageLazyCore(spark, graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism),
      k, evalBatch, loadChunk)

  /** Core over any (doc_id, text) frame — Round13Spec pins the
    * sparse-overlap regime where the Minoux queue actually prunes on a
    * synthetic corpus (measured at 1×/10×, SCALE.md r13). */
  private[graft] def greedyCoverageLazyCore(
      spark: SparkSession, docs: DataFrame, k: Int,
      evalBatch: Int, loadChunk: Int): (DataFrame, LazyGreedyStats) = {
    import spark.implicits._
    val sets = bigramSetsOf(docs).cache()
    var evals = 0L; var jobs = 0L; var loadedRows = 0L; var bulkRounds = 0L
    // entry: (staleGain, doc_id, freshAtRound); queue max = (gain, -id)
    case class Ent(gain: Int, id: Long, freshAt: Int)
    implicit val ord: Ordering[Ent] = Ordering.by(e => (e.gain, -e.id))
    val pq = scala.collection.mutable.PriorityQueue.empty[Ent]
    val picked = scala.collection.mutable.Set.empty[Long]
    var covered = Set.empty[String]
    var coveredTypes = 0L
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    // lazy frontier loader over the DISTRIBUTED upper bounds |s|
    var cursor: Option[(Int, Long)] = None // (ub, id) of last loaded row
    var exhausted = false
    val ubFrame = sets.select(col("doc_id"), size(col("s")).as("ub"))
    def loadMore(): Unit = {
      val base = cursor match {
        case None => ubFrame
        case Some((ub0, id0)) => ubFrame.filter(
          col("ub") < ub0 || (col("ub") === ub0 && col("doc_id") > id0))
      }
      val rows = base.orderBy(col("ub").desc, col("doc_id").asc)
        .limit(loadChunk).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      jobs += 1; loadedRows += rows.length
      if (rows.isEmpty) exhausted = true
      else {
        // before the first pick the upper bound IS the true gain
        // (covered is empty), so round-1 loads arrive already FRESH —
        // the exact greedy's first full sweep costs zero re-evaluations
        val freshAt = if (coveredTypes == 0L) 1 else 0
        rows.foreach { case (id, ub) => pq.enqueue(Ent(ub, id, freshAt)) }
        cursor = Some((rows.last._2, rows.last._1))
      }
    }
    // once a round's hunt has had to fall back, later rounds skip the
    // queue entirely: on a corpus whose stale bounds don't prune, the
    // escalating batches are pure overhead every round (measured: they
    // were ~2.3 s of q262's 4.6 s at sf0.1). The fallback IS an
    // exact-greedy round — ONE argmax job whose single collected row
    // carries the winner's novel payload, so a non-pruning corpus pays
    // exactly greedyCoverage's cost per round (1 job, N evals) and the
    // driver pull is one row (the advisor-r12 member-filtered bulk
    // refresh, strengthened: nothing frontier-sized returns either).
    // A corpus where the queue prunes never sets this.
    var bulkMode = false
    var corpusN = -1L
    try {
      for (iter <- 1 to k) {
        var bc: org.apache.spark.broadcast.Broadcast[Set[String]] = null
        def bcNow(): org.apache.spark.broadcast.Broadcast[Set[String]] = {
          if (bc == null) bc = spark.sparkContext.broadcast(covered)
          bc
        }
        try {
          var winner: Option[Ent] = None
          var huntBatches = 0
          while (winner.isEmpty && !bulkMode) {
            // an UNLOADED doc's ub ≤ the cursor's ub; it can only beat
            // the queue top (incl. by id tie-break) while top ≤ cursor
            while (!exhausted &&
              (pq.isEmpty || pq.head.gain <= cursor.map(_._1).getOrElse(Int.MaxValue)))
              loadMore()
            // saturation contract (advisor r12): the exact greedy's
            // saturated regime re-picks the smallest-id doc at gain 0
            // over ALL docs (picked included) — a domain the lazy queue,
            // which removes picked docs permanently, cannot reproduce.
            // k > |docs| (empty queue after exhaustion) fails LOUDLY
            // here instead of pq.dequeue() throwing NoSuchElement.
            require(pq.nonEmpty, s"greedyCoverageLazy: candidate queue " +
              s"exhausted at iter $iter (k > distinct docs) — the " +
              "saturated regime is out of contract; use greedyCoverage")
            val top = pq.dequeue()
            if (top.freshAt == iter) winner = Some(top)
            else if (huntBatches >= 2) {
              // a round whose hunt needs a 3rd job means the stale
              // bounds are not pruning on this corpus (heavy vocabulary
              // overlap) — per-batch jobs would then cost more scans
              // than the exact greedy's one. Flip to exact rounds (the
              // fallback below); the queue keeps its entries for
              // consistency but is never consulted again.
              pq.enqueue(top)
              bulkMode = true
            } else {
              // batch: the top stale entries (fresh ones go straight
              // back); batch size escalates 4x per extra hunt job so a
              // slow hunt converges in bounded jobs
              val cap = evalBatch * (1 << (2 * huntBatches))
              val batch = scala.collection.mutable.ArrayBuffer(top)
              val keep = scala.collection.mutable.ArrayBuffer.empty[Ent]
              while (batch.length < cap && pq.nonEmpty) {
                val e = pq.dequeue()
                if (e.freshAt == iter) keep += e else batch += e
              }
              keep.foreach(pq.enqueue(_))
              val ids: Seq[Any] = batch.map(_.id).toSeq
              val fresh = roundNovel(
                sets.filter(col("doc_id").isin(ids: _*)), bcNow())
                .select(col("doc_id"), col("gain")).collect()
                .map(r => (r.getLong(0), r.getInt(1)))
              jobs += 1; evals += fresh.length; huntBatches += 1
              fresh.foreach { case (id, g) => pq.enqueue(Ent(g, id, iter)) }
            }
          }
          // second half of the saturation contract (both branches): a
          // fresh max gain of 0 means every remaining doc is fully
          // covered — the exact greedy would re-pick the smallest-id
          // doc over ALL docs (picked included), which the queue's
          // picked-removal cannot mirror, so the divergence fails
          // loudly instead of silently.
          def saturated(): Nothing = throw new IllegalArgumentException(
            s"requirement failed: greedyCoverageLazy: corpus saturated " +
              s"at iter $iter (max marginal gain 0) — out of contract; " +
              "use greedyCoverage for the saturated tie-break domain")
          val (wId, wGain, novel) = winner match {
            case Some(w) =>
              if (w.gain <= 0) saturated()
              // gains travel skinny; only the WINNER's novel payload is
              // materialized — one single-doc narrow job per round
              jobs += 1
              val nv = roundNovel(sets.filter(col("doc_id") === w.id), bcNow())
                .collect().head.getSeq[String](2)
              (w.id, w.gain.toLong, nv)
            case None =>
              // EXACT round (bulkMode): one argmax job over the whole
              // cached corpus — identical to greedyCoverage's round,
              // winner AND payload in the single collected row
              if (corpusN < 0L) { corpusN = sets.count(); jobs += 1 }
              val row = roundNovel(sets, bcNow())
                .orderBy(col("gain").desc, col("doc_id").asc)
                .limit(1).collect().head
              jobs += 1; evals += corpusN; bulkRounds += 1
              if (row.getInt(1) <= 0) saturated()
              (row.getLong(0), row.getInt(1).toLong, row.getSeq[String](2))
          }
          picked += wId
          covered ++= novel
          coveredTypes += wGain
          picks += ((iter.toLong, wId, wGain, coveredTypes))
        } finally if (bc != null) bc.destroy()
      }
    } finally {
      sets.unpersist(blocking = false)
    }
    (picks.toSeq.toDF("iter", "picked", "gain", "covered_types")
      .orderBy("iter"),
      LazyGreedyStats(evals, jobs, loadedRows, bulkRounds))
  }

  /** One greedy round's candidate frame: per doc, the bigrams NOT yet
    * covered (`novel`) and their count (`gain`) — semantically
    * `array_except(s, covered)`, but the covered set arrives through a
    * broadcast VARIABLE read inside the UDF closure, so the query plan
    * contains only the UDF reference: its size is invariant in
    * |covered| (the Round9fSpec plan-size pin). Docs with no bigrams
    * (or fully covered) yield gain 0, preserving the all-docs
    * tie-break domain. One narrow map; no shuffle. */
  private[graft] def roundNovel(sets: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Set[String]]): DataFrame = {
    val novelUdf = udf((s: Seq[String]) =>
      if (s == null) Seq.empty[String] else s.filterNot(bc.value.contains))
    sets.select(col("doc_id"), novelUdf(col("s")).as("novel"))
      .select(col("doc_id"), size(col("novel")).as("gain"), col("novel"))
  }

  /** One trained BPE artifact per (session, dir, merges): the merge
    * table rows plus the final vocabulary segmentation (vocab-sized
    * frame, localCheckpoint'd). Memoized because q277 and q278 are two
    * faces of the SAME training run — re-deriving it per query would
    * re-launch the k-round loop; the held state is k rows + a
    * vocabulary-sized frame, negligible against the Bench heap note on
    * [[graft.Tables.clearMemo]]. */
  private val bpeMemo =
    new graft.SessionMemo[(Seq[(Long, String, String, String, Long)], DataFrame)]

  /** q277 — BPE merge-loop TRAINING: the "train the tokenizer" face of
    * the fertility/OOV audit family (q250's pair statistics pick ONE
    * merge; this iterates `merges` of them). Words are whitespace
    * tokens; the initial segmentation is boundary-delimited characters;
    * each round counts adjacent symbol pairs weighted by word frequency,
    * merges the (count desc, pair asc) argmax corpus-wide, and
    * re-tokenizes. Output: one row per executed merge (the loop stops
    * early if every word collapses to a single symbol).
    *
    * Cross-engine determinism (the q266 replay discipline, applied to
    * strings instead of floats): pair counts are exact BIGINT sums;
    * the argmax tie-break is binary string order in both engines; and
    * re-tokenization is `replace(s, ' a b ', ' ab ')` over the
    * boundary-delimited segmentation — leftmost non-overlapping
    * replacement, which IS BPE's greedy one-pass merge order, and
    * which Spark's `replace` and DuckDB's `replace` implement
    * identically. The oracle replays the whole loop as a recursive CTE
    * whose state is the segmented vocabulary; a single diverging merge
    * derails every later row, so the hash pins the full sequence.
    *
    * Scale: training state is the WORD-FREQUENCY table (vocabulary-
    * sized, never corpus-sized — the one corpus scan is the word
    * count); each round is one narrow pair-explode + a partial agg on
    * the pair domain + a TakeOrdered(1), with the winner merged in-row
    * via codegen `replace`. k rounds ⇒ k bounded jobs (the q230/q99
    * iterative-driver pattern); the driver holds only the k winners. */
  /** Default merge count of the BPE training family — interpolated
    * into the oracle CTE chain in SparkEntry so the two faces cannot
    * desynchronize (advisor r13). */
  private[graft] val BpeDefaultMerges = 12

  def bpeTrain(spark: SparkSession, dir: String,
               merges: Int = BpeDefaultMerges): DataFrame = {
    import spark.implicits._
    bpeArtifacts(spark, dir, merges)._1
      .toDF("merge_idx", "pair_a", "pair_b", "merged", "pair_count")
      .orderBy("merge_idx")
  }

  /** q278 — tokenizer fertility BEFORE/AFTER the q277 training run, per
    * source: chars-per-token (the untrained character tokenizer) vs
    * symbols-per-token under the trained merges — the measurement that
    * says whether a tokenizer trained on the whole corpus serves every
    * source equally or leaves one source paying a fertility tax (the
    * q269 fertility audit, now against OUR OWN trained tokenizer).
    * The per-source word tables join the GLOBAL final segmentation
    * (one tokenizer, per-source fertility — vocab-sized broadcast). */
  def bpeFertility(spark: SparkSession, dir: String,
                   merges: Int = BpeDefaultMerges): DataFrame = {
    val (_, finalSeg) = bpeArtifacts(spark, dir, merges)
    val vocab = finalSeg.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms"))
    val sw = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"),
        explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    sw.join(broadcast(vocab), Seq("word"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("chars_total"),
        sum(col("freq") * col("n_syms")).as("syms_total"))
      .select(col("source"), col("n_tokens"), col("chars_total"),
        col("syms_total"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * chars_total / n_tokens + 0.5d) AS BIGINT)")
          .as("base_fertility_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_total / n_tokens + 0.5d) AS BIGINT)")
          .as("bpe_fertility_micro"))
      .orderBy("source")
  }

  private def bpeArtifacts(spark: SparkSession, dir: String, merges: Int):
      (Seq[(Long, String, String, String, Long)], DataFrame) =
    // fingerprint-keyed (drift/gate convention): regenerated documents
    // at the same path retrain rather than serving a stale merge table
    bpeMemo.get(spark, s"bpe/$dir/$merges/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val words = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      bpeTrainCore(spark, words, merges)
    }

  /** (word, n_syms) of the trained tokenizer — the broadcastable
    * frozen-vocabulary artifact the streaming OOV monitor
    * ([[graft.text.Tokenizer.CharBpe]]) joins against. */
  def bpeVocab(spark: SparkSession, dir: String,
               merges: Int = BpeDefaultMerges): DataFrame =
    bpeArtifacts(spark, dir, merges)._2.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms"))

  /** Corpus/fresh boundary of the q285 drift audit (the q258
    * convention) — interpolated into the oracle SQL. */
  private[graft] val DriftSplitAt = 250L

  private val bpeDriftMemo =
    new graft.SessionMemo[(Seq[(Long, String, String, String, Long)], DataFrame)]

  /** q285 — tokenizer DRIFT audit (judge r13 task 3): freeze a
    * tokenizer trained on the CORPUS side only (doc_id < `splitAt`),
    * ingest the fresh batch (doc_id >= splitAt), and report per source
    * what the frozen tokenizer costs on it vs a retrain on everything —
    * the "when do I retrain the tokenizer" decision table: OOV rate
    * under the frozen vocabulary plus fertility under frozen vs
    * retrained merges, and their gap.
    *
    * The frozen-side segmentation of UNSEEN words is exact BPE (apply
    * the frozen merge sequence to the raw character segmentation), and
    * it falls out of the training loop itself: train over the UNION
    * vocabulary at CORPUS-side frequencies — fresh-only words carry
    * freq 0, contribute zero weight to every pair count (so the merge
    * sequence is EXACTLY what corpus-only training picks; the cnt >= 1
    * stop guard in [[bpeTrainCore]] keeps even the exhaustion point
    * identical, Round14Spec pins both), yet every word's state is
    * re-tokenized by each merge along the way — the merge-chain
    * application for free, no second pass. The OOV flag is the q278
    * join-semantics fix made explicit (advisor r13 "what's wrong #3"):
    * fresh words LEFT-join the corpus vocabulary and the freq-0 bucket
    * IS the OOV bucket, never silently dropped. The retrained side is
    * q277's memoized full-corpus artifact.
    *
    * Scale: two vocabulary-sized training runs (the q277 k-narrow-jobs
    * shape) + one fresh-words aggregate against two broadcast vocab
    * tables; integer micro outputs, fully hash-verified — the oracle
    * replays BOTH merge recursions. */
  def bpeDrift(spark: SparkSession, dir: String,
               merges: Int = BpeDefaultMerges,
               splitAt: Long = DriftSplitAt): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val corpusWords = docs.filter(col("doc_id") < splitAt)
      .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val freshWords = docs.filter(col("doc_id") >= splitAt)
      .select(col("source"),
        explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    val (_, finalSegA) = bpeDriftMemo.get(spark,
      s"bpe-drift/$dir/$merges/$splitAt/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val unionVocab = corpusWords.select("word")
        .unionByName(freshWords.select("word")).distinct()
        .join(corpusWords, Seq("word"), "left_outer")
        .select(col("word"), coalesce(col("freq"), lit(0L)).as("freq"))
      bpeTrainCore(spark, unionVocab, merges)
    }
    val vocabA = finalSegA.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms_a"),
      (col("freq") === 0L).cast("long").as("is_oov"))
    val vocabB = bpeArtifacts(spark, dir, merges)._2.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms_b"))
    freshWords
      .join(broadcast(vocabA), Seq("word"))
      .join(broadcast(vocabB), Seq("word"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * col("is_oov")).as("n_oov"),
        sum(col("freq") * col("n_syms_a")).as("syms_frozen"),
        sum(col("freq") * col("n_syms_b")).as("syms_retrained"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * n_oov / n_tokens + 0.5d) AS BIGINT)")
          .as("oov_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_frozen / n_tokens + 0.5d) AS BIGINT)")
          .as("frozen_fertility_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_retrained / n_tokens + 0.5d) AS BIGINT)")
          .as("retrained_fertility_micro"))
      .withColumn("drift_micro",
        col("frozen_fertility_micro") - col("retrained_fertility_micro"))
      .orderBy("source")
  }

  /** Merge-frequency floor of the q292 pruned tokenizer, as a PERCENT
    * of total corpus word occurrences — relative, not absolute, so the
    * same knob means the same thing at every scale factor (an absolute
    * floor that prunes nothing at sf0.1 would prune everything at
    * sf0.001). Interpolated into the oracle SQL (shared-constant
    * discipline). */
  private[graft] val PrunedBpePct = 5L

  private val bpePrunedMemo =
    new graft.SessionMemo[(Seq[(Long, String, String, String, Long)], DataFrame)]

  /** q292 — vocabulary-PRUNED BPE (the PLANS.md r14 prep candidate):
    * the q277 trainer with the classic `min_frequency` stop — training
    * ends at the first round whose best pair covers less than `pct`% of
    * corpus word occurrences — versus the full 12-merge tokenizer, as a
    * per-source fertility table. The "how much tokenizer do I actually
    * need" decision artifact: merges below the floor are memorizing
    * tail strings, and the table shows per source what dropping them
    * costs in symbols-per-token (the q278 fertility measure), next to
    * the merge count actually executed.
    *
    * Cross-engine: the floor is integer ceiling arithmetic over the
    * exact BIGINT token total (both engines), and the pruned recursion
    * is the q277 chain with the HAVING floor raised — the oracle
    * replays both trainings; stopping one merge early or late breaks
    * every downstream fertility integer.
    *
    * Scale: two vocabulary-sized training runs (k narrow jobs each,
    * memoized) + one per-source word aggregate against two broadcast
    * vocab tables — the q285 shape without the split. */
  def bpePruned(spark: SparkSession, dir: String,
                merges: Int = BpeDefaultMerges,
                pct: Long = PrunedBpePct): DataFrame = {
    val words = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val (prunedMerges, finalSegP) = bpePrunedMemo.get(spark,
      s"bpe-pruned/$dir/$merges/$pct/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val tot = words.agg(sum(col("freq"))).head().getLong(0)
      bpeTrainCore(spark, words, merges, minCount = (tot * pct + 99L) / 100L)
    }
    val vocabFull = bpeArtifacts(spark, dir, merges)._2.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms_full"))
    val vocabPruned = finalSegP.select(
      regexp_replace(trim(col("s")), " ", "").as("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms_pruned"))
    val sw = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"),
        explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    sw.join(broadcast(vocabFull), Seq("word"))
      .join(broadcast(vocabPruned), Seq("word"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * col("n_syms_full")).as("syms_full"),
        sum(col("freq") * col("n_syms_pruned")).as("syms_pruned"))
      .select(col("source"), col("n_tokens"), col("syms_full"),
        col("syms_pruned"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_full / n_tokens + 0.5d) AS BIGINT)")
          .as("full_fertility_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_pruned / n_tokens + 0.5d) AS BIGINT)")
          .as("pruned_fertility_micro"),
        lit(prunedMerges.length.toLong).as("n_merges_pruned"))
      .withColumn("fertility_tax_micro",
        col("pruned_fertility_micro") - col("full_fertility_micro"))
      .orderBy("source")
  }

  /** Core over any (word, freq) frame (also called by specs and
    * StreamDemo). Returns (merge rows, final boundary-delimited
    * segmentation). */
  private[graft] def bpeTrainCore(spark: SparkSession, words: DataFrame,
                                  merges: Int, minCount: Long = 1L):
      (Seq[(Long, String, String, String, Long)], DataFrame) = {
    // '  c1  c2  ..  ck  ': every symbol carries TWO boundary spaces on
    // each side. One space of each double gap belongs to the merge
    // pattern ' a  b ' (so it can never match across a symbol boundary:
    // [xa, b] renders '  xa  b  ', which does not contain ' a  b '),
    // and one survives the replacement ' ab ' — so CONSECUTIVE
    // occurrences in a run don't share a matched character and the
    // engines' leftmost-continue replace implements canonical one-pass
    // BPE: [a,a,a,a] -> [aa,aa], not the [aa,a,a] a single-space form
    // yields (probe r13; pinned in Round13Spec).
    val seg0 = words.select(
      concat(lit("  "),
        concat_ws("  ", filter(split(col("word"), ""), x => x =!= lit(""))),
        lit("  ")).as("s"),
      col("freq"))
    bpeMergeLoop(spark, seg0, merges, minCount, (a, b) => a + b)
  }

  /** Spark-faithful symbol parse of one boundary-delimited segmentation
    * string — the driver mirror of `split(trim(s), '  ')`: strips
    * SPACES only (0x20 — `String.trim` would also strip control chars
    * Spark's `trim` keeps; tokens can legally contain them) and splits
    * on the literal two-space gap keeping trailing empties, exactly the
    * column form's semantics. */
  private def segSyms(s: String): Array[String] = {
    var i = 0; var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    if (j <= i) Array("") else s.substring(i, j).split("  ", -1)
  }

  /** Spark's string ordering is BINARY over UTF-8 bytes (UTF8String);
    * Scala's `<` compares UTF-16 code units, which diverges on
    * supplementary characters — the merge argmax tie-break must follow
    * the engine order the oracle replays. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** The BPE merge loop over ANY boundary-delimited segmentation frame
    * (`s`, `freq`, plus carried columns the replaces never touch) —
    * factored so the byte-level variant (q304) trains with the
    * IDENTICAL recursion over a byte alphabet (judge r15 task 5).
    * `joinSym` names the merged symbol: character BPE concatenates
    * (`th`), byte BPE dash-joins (`116-104`) because decimal byte names
    * concatenate ambiguously ("116104" could parse two ways).
    *
    * Opt r19 (guide §1.2; the centroid/codebook discipline): the
    * segmentation frame is the DISTINCT-WORD table — vocab-sized by the
    * same doctrine that broadcasts it downstream (bpeFertility, the OOV
    * monitor) — yet the loop paid one scheduled pair-count job per
    * merge round over it (12 rounds × 4 trained families dominated the
    * bench's cold block). The frame is now collected ONCE and the merge
    * recursion runs as driver arithmetic with engine-identical
    * semantics, replayed rule for rule:
    *   - pair extraction mirrors `split(trim(s), '  ')` ([[segSyms]]);
    *   - pair counts are exact integer sums (`Math.addExact` — a wrap
    *     would raise, as ANSI sum does);
    *   - the argmax tie-break (cnt desc, a asc, b asc) compares strings
    *     in UTF-8 byte order ([[utf8Lt]] — Spark's binary ordering);
    *   - the replace is `java.lang.String.replace`, the same leftmost
    *     non-overlapping literal-substring rule as Spark's `replace`
    *     (the Round13 '[a,a,a,a] -> [aa,aa]' pin covers it).
    * The final segmentation returns as one local relation — the same
    * model-sized table the callers broadcast anyway. Round13/14/15Spec
    * pin the merge tables; the oracle replays both recursions in full. */
  private def bpeMergeLoop(spark: SparkSession, seg0: DataFrame,
                           merges: Int, minCount: Long,
                           joinSym: (String, String) => String):
      (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val schema = seg0.schema
    val sIdx = schema.fieldIndex("s")
    val freqIdx = schema.fieldIndex("freq")
    val rows: Array[Array[Any]] = seg0.collect()
      .map(r => Array.tabulate[Any](schema.length)(r.get))
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, String, Long)]
    var done = false
    for (i <- 1 to merges if !done) {
      val cnt = new java.util.HashMap[(String, String), Long]
      rows.foreach { r =>
        val arr = segSyms(r(sIdx).asInstanceOf[String])
        val f = r(freqIdx).asInstanceOf[Long]
        var k = 0
        while (k < arr.length - 1) {
          cnt.merge((arr(k), arr(k + 1)), f,
            (x, y) => Math.addExact(x, y))
          k += 1
        }
      }
      // best pair: cnt desc, then (a, b) ascending in engine order;
      // pairs under minCount never win (the q285 frozen-vocab and q292
      // min-frequency stop semantics, unchanged)
      var best: ((String, String), Long) = null
      cnt.forEach { (k, v) =>
        if (v >= minCount && (best == null || v > best._2 ||
            (v == best._2 && (utf8Lt(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Lt(k._2, best._1._2))))))
          best = (k, v)
      }
      if (best == null) done = true // vocabulary fully collapsed
      else {
        val ((a, b), c) = best
        val ab = joinSym(a, b)
        out += ((i.toLong, a, b, ab, c))
        val pat = s" $a  $b "
        val rep = s" $ab "
        rows.foreach { r =>
          r(sIdx) = r(sIdx).asInstanceOf[String].replace(pat, rep)
        }
      }
    }
    val finalSeg = spark.createDataFrame(
      java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq)): _*),
      schema)
    (out.toSeq, finalSeg)
  }

  /** The boundary-delimited BYTE segmentation of a word column:
    * '  116  104  101  ' for "the" — symbols are decimal byte values.
    * The testdata corpus is ASCII, where UTF-8 bytes ≡ code points;
    * [[byteBpeArtifacts]] REQUIRES that loudly (a non-ASCII corpus
    * would need per-byte extraction both engines lack as a shared
    * primitive), so `ascii(char)` IS the byte in both engines. */
  private def byteSegCol(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("  "),
      concat_ws("  ", transform(
        filter(split(word, ""), x => x =!= lit("")),
        ch => ascii(ch).cast("string"))),
      lit("  "))

  private val byteBpeMemo =
    new graft.SessionMemo[(Seq[(Long, String, String, String, Long)], DataFrame)]

  /** Trained byte-level artifacts: (merge rows, final segmentation WITH
    * the word column carried — byte names are not invertible the way
    * character concatenations are, so the fertility join keys on the
    * carried word instead of reconstructing it). */
  private[graft] def byteBpeArtifacts(spark: SparkSession, dir: String,
                                      merges: Int):
      (Seq[(Long, String, String, String, Long)], DataFrame) =
    byteBpeMemo.get(spark, s"byte-bpe/$dir/$merges/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val words = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val maxCp = words
        .select(max(expr("array_max(transform(filter(split(word, ''), x -> x != ''), ch -> ascii(ch)))")))
        .head().getInt(0)
      require(maxCp <= 127,
        s"byte-level BPE assumes an ASCII corpus (bytes ≡ code points); " +
          s"found code point $maxCp — per-byte extraction for multi-byte " +
          "UTF-8 has no shared Spark/DuckDB primitive")
      bpeMergeLoop(spark,
        words.select(col("word"), byteSegCol(col("word")).as("s"), col("freq")),
        merges, 1L, (a, b) => a + "-" + b)
    }

  /** q304 — BYTE-level BPE training (the PLANS r16 candidate; judge r15
    * task 5): the q277 recursion unchanged over a byte alphabet —
    * symbols are decimal byte values, merges dash-join names. Removes
    * the char-vocab OOV edge entirely: every possible input word is a
    * byte sequence, so the frozen tokenizer SEGMENTS anything (the
    * [[graft.text.Tokenizer.ByteBpe]] monitor
    * applies the merges in-row with no vocabulary lookup and no
    * fallback branch — the branch is structurally absent, not papered
    * over). Oracle: the q277 chain with the byte seg + dash names. */
  def byteBpeTrain(spark: SparkSession, dir: String,
                   merges: Int = BpeDefaultMerges): DataFrame = {
    import spark.implicits._
    byteBpeArtifacts(spark, dir, merges)._1
      .toDF("merge_idx", "pair_a", "pair_b", "merged", "pair_count")
      .orderBy("merge_idx")
  }

  /** q305 — per-source fertility under the byte tokenizer (the q278
    * face over bytes): bytes-per-token (the untrained byte tokenizer)
    * vs symbols-per-token under the trained byte merges. The join keys
    * on the CARRIED word column of the final segmentation. */
  def byteBpeFertility(spark: SparkSession, dir: String,
                       merges: Int = BpeDefaultMerges): DataFrame = {
    val (_, finalSeg) = byteBpeArtifacts(spark, dir, merges)
    val vocab = finalSeg.select(col("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms"))
    val sw = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"),
        explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    sw.join(broadcast(vocab), Seq("word"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("bytes_total"),
        sum(col("freq") * col("n_syms")).as("syms_total"))
      .select(col("source"), col("n_tokens"), col("bytes_total"),
        col("syms_total"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * bytes_total / n_tokens + 0.5d) AS BIGINT)")
          .as("base_fertility_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * syms_total / n_tokens + 0.5d) AS BIGINT)")
          .as("bpe_fertility_micro"))
      .orderBy("source")
  }

  /** In-row application of a FROZEN byte-merge sequence: byte-segment
    * the word, then fold the merges as chained `replace`s — the exact
    * training-time re-tokenization, so ANY word (seen or not) gets its
    * true frozen-tokenizer segmentation with no vocabulary lookup.
    * This is what makes the byte monitor's fallback branch provably
    * dead (Round16Spec pins an unseen word containing a trained pair
    * segmenting BELOW its byte count — the char-fallback would have
    * overcounted it). */
  private[graft] def byteSegApplied(word: org.apache.spark.sql.Column,
      mergeSeq: Seq[(String, String, String)]): org.apache.spark.sql.Column =
    mergeSeq.foldLeft(byteSegCol(word)) { case (acc, (a, b, ab)) =>
      call_function("replace", acc, lit(s" $a  $b "), lit(s" $ab "))
    }

  /** q268 — pairwise SOURCE DIVERGENCE (Hellinger²) between add-one-
    * smoothed unigram distributions: the mixture-design table that says
    * which sources are near-duplicates of each other distribution-wise
    * (upweighting both buys little diversity) and which are outliers.
    * Hellinger is chosen over KL deliberately: it needs only √ — which
    * IEEE 754 requires to be CORRECTLY ROUNDED, so both engines compute
    * identical terms — where KL's ln is libm-dependent and would flip
    * micro-roundings between JVM and DuckDB.
    *
    * Algebra (so only CO-OCCURRING terms ever join): with smoothed
    * p_s(w) = (c_s(w)+1)/(N_s+V) over the global vocab V,
    * BC·√(D_a·D_b) = Σ_{w∈A∩B}√((c_a+1)(c_b+1))
    *   + (S_a − Σ_{∩}√(c_a+1)) + (S_b − Σ_{∩}√(c_b+1))
    *   + (V − P_a − P_b + |∩|), where D_s = N_s+V, S_s = Σ_{w∈s}√(c_s+1),
    * P_s = |terms in s| — per-source scalars plus ONE shared-term join.
    * Every √ term is nano-rounded to BIGINT before the order-free sum
    * (the q231/q235 discipline); H² = 1 − BC, micro-rounded.
    *
    * Scale: the join is keyed by term over vocabulary-sized per-source
    * count tables (never documents); pair count is |sources|². */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val cnt = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), explode(expr(graft.text.TextOps.TokensExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val f = cnt.select(col("source"), col("w"), col("c"),
      expr("CAST(FLOOR(1000000000.0d * sqrt(CAST(c + 1 AS DOUBLE)) + 0.5d) AS BIGINT)")
        .as("f_nano"))
    val per = f.groupBy("source").agg(
      sum(col("f_nano")).as("s_nano"),
      count(lit(1)).as("p_terms"),
      sum(col("c")).as("n_toks"))
    val vocab = cnt.select("w").distinct().count()
    val shared = f.as("a").join(f.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(
        sum(expr("""CAST(FLOOR(1000000000.0d
               |  * sqrt(CAST((a.c + 1) * (b.c + 1) AS DOUBLE)) + 0.5d) AS BIGINT)"""
          .stripMargin.replace("\n", ""))).as("ff_nano"),
        sum(col("a.f_nano")).as("fa_shared_nano"),
        sum(col("b.f_nano")).as("fb_shared_nano"),
        count(lit(1)).as("n_shared"))
    val pairs = per.as("pa").join(per.as("pb"),
        col("pa.source") < col("pb.source"))
      .select(col("pa.source").as("source_a"), col("pb.source").as("source_b"),
        col("pa.s_nano").as("sa_nano"), col("pb.s_nano").as("sb_nano"),
        col("pa.p_terms").as("pa_terms"), col("pb.p_terms").as("pb_terms"),
        col("pa.n_toks").as("na_toks"), col("pb.n_toks").as("nb_toks"))
    pairs.join(shared, Seq("source_a", "source_b"), "left_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("ff_nano"), lit(0L))
          + (col("sa_nano") - coalesce(col("fa_shared_nano"), lit(0L)))
          + (col("sb_nano") - coalesce(col("fb_shared_nano"), lit(0L)))
          + (lit(vocab) - col("pa_terms") - col("pb_terms")
            + coalesce(col("n_shared"), lit(0L))) * lit(1000000000L)).as("bc_num_nano"),
        ((col("na_toks") + lit(vocab)) * (col("nb_toks") + lit(vocab))).as("dd"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("""CAST(FLOOR(1000000.0d * (1.0d - (CAST(bc_num_nano AS DOUBLE) / 1000000000.0d)
               |  / sqrt(CAST(dd AS DOUBLE))) + 0.5d) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("h2_micro"))
      .orderBy("source_a", "source_b")
  }

  /** q271 — context-budget TRUNCATION-WASTE sweep: for each candidate
    * context length, how many docs fit whole, how many get truncated,
    * the token mass kept vs lost to truncation, and the padding waste
    * if every kept doc were padded to the budget (the two losses trade
    * against each other: small budgets truncate, large budgets pad —
    * this table is where the training-efficiency choice is read off;
    * q55/q188's packing is the remedy the pad column prices). One doc
    * token-count projection crossed with a literal budget list, one
    * bounded-domain agg; all-integer sums + micro divisions. */
  def truncationWaste(spark: SparkSession, dir: String,
                      budgets: Seq[Long] = Seq(128L, 256L, 512L, 1024L)): DataFrame = {
    import spark.implicits._
    val b = budgets.toDF("budget")
    graft.Tables.documents(spark, dir)
      .select(expr(s"CAST(size(${graft.text.TextOps.TokensExpr}) AS BIGINT)").as("toks"))
      .crossJoin(broadcast(b))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("toks") <= col("budget"), 1L).otherwise(0L)).as("docs_fit"),
        sum(least(col("toks"), col("budget"))).as("tokens_kept"),
        sum(greatest(col("toks") - col("budget"), lit(0L))).as("tokens_lost"))
      .select(col("budget"), col("n_docs"), col("docs_fit"),
        (col("n_docs") - col("docs_fit")).as("docs_truncated"),
        col("tokens_kept"), col("tokens_lost"),
        expr("""CAST(FLOOR(1000000.0d * tokens_lost
               |  / (tokens_kept + tokens_lost) + 0.5d) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("lost_share_micro"),
        expr("""CAST(FLOOR(1000000.0d * (n_docs * budget - tokens_kept)
               |  / (n_docs * budget) + 0.5d) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("pad_share_micro"))
      .orderBy("budget")
  }

  /** Quality filter cascade: classify every document by its FIRST
    * failing rule — the funnel report (per source × verdict: doc count
    * and token mass) a corpus builder reads to see where data is lost.
    * Rule priority mirrors production cascades: hard length gate first,
    * then the cheap stopword signal, then lexical diversity.
    *
    * Determinism: the diversity threshold is evaluated as
    * `n_distinct·100 < n_tokens·35` — integer cross-multiplication, so
    * no engine ever compares a rounded ratio at the rule boundary.
    * Scale: one narrow map per doc (two one-pass expressions), then a
    * partial-agg shuffle keyed by (source, verdict) — a bounded domain.
    */
  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    filterCascadeCore(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism))
  }

  /** [[filterCascade]] over any (source, text) frame (spec hook). */
  private[graft] def filterCascadeCore(docs: DataFrame): DataFrame =
    docs
      // struct projected ONCE, fields extracted in a second select: the
      // multi-referenced alias blocks CollapseProject from inlining the
      // interpreted expression into every field access (q20's idiom)
      .select(col("source"), expr("graft_text_stats(text)").as("st"),
        expr("cast(size(graft_token_counts(text)) as bigint)").as("n_distinct"))
      .select(col("source"),
        col("st.n_tokens").as("n_tokens"),
        col("st.stop_ct").as("stop_ct"),
        col("n_distinct"))
      .withColumn("verdict",
        when(col("n_tokens") < 20, "too_short")
          .when(col("stop_ct") === 0, "no_stopwords")
          .when(col("n_distinct") * 100 < col("n_tokens") * 35, "low_diversity")
          .otherwise("kept"))
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("token_sum"))
      .orderBy("source", "verdict")

  /** Per-language adaptive length filter: keep documents whose token
    * count sits inside the language's OWN [p05, p95] band — the
    * length-outlier filter that a fixed global threshold gets wrong for
    * verbose vs terse languages. Percentiles come from
    * [[Percentiles.fromHistogram]] — the shuffle carries one row per
    * distinct (lang, token-count), never a fact-scale buffer — and the
    * |langs|-row band table broadcasts back onto the doc stats for one
    * more map-side partial aggregate. Band values are the exact lerp
    * percentiles, mirrored op-for-op in the oracle SQL (q122's idiom).
    */
  def lengthBandFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("lang"), expr("graft_text_stats(text).n_tokens").as("n_tokens"))
    val hist = toks
      .groupBy(col("lang"), col("n_tokens").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val bands = Percentiles.fromHistogram(hist, "lang",
        Seq("p05_tokens" -> 0.05, "p95_tokens" -> 0.95))
      .select(col("lang"), col("p05_tokens"), col("p95_tokens"))
    val keep = col("n_tokens") >= col("p05_tokens") &&
      col("n_tokens") <= col("p95_tokens")
    toks.join(broadcast(bands), "lang")
      .groupBy("lang")
      .agg(
        min(col("p05_tokens")).as("p05_tokens"),
        min(col("p95_tokens")).as("p95_tokens"),
        sum(when(keep, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        sum(when(keep, lit(0L)).otherwise(lit(1L))).as("n_dropped"),
        sum(when(keep, col("n_tokens")).otherwise(lit(0L))).as("tokens_kept"))
      .orderBy("lang")
  }

  /** Per-source perplexity-band filter over the corpus-trained bigram
    * LM — the fluency-filtering step that follows q129's scoring: each
    * scored document is classified against its source's OWN
    * [p10, p90] band of `avg_p_micro` (sources differ systematically in
    * register, so a global threshold over- or under-filters). Low band =
    * text the corpus LM finds improbable (drop candidates); high band =
    * suspiciously predictable (template/boilerplate candidates).
    *
    * Determinism: `avg_p_micro` is q129's integer-rounded score, so the
    * per-source histogram is exact; the p10/p90 lerp is
    * [[Percentiles.fromHistogram]] mirrored op-for-op in the oracle
    * (q122/q136's idiom), and the band compare promotes BIGINT to the
    * identical double in both engines.
    *
    * Shape at scale: scoring is q129's plan (pre-aggregated bigram rows,
    * two model aggregates, shuffle joins); the band step adds one
    * partial-agg shuffle whose size is the distinct (source, score)
    * domain, a |sources|-row broadcast back onto the scored frame, and a
    * final partial agg on the bounded (source, band) domain. */
  def perplexityBands(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.bigramLmScore(spark, dir)
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    perplexityBandsCore(scored.join(src, "doc_id"))
  }

  /** [[perplexityBands]] over any scored (doc_id, source, n_bigrams,
    * avg_p_micro, rare_micro) frame (spec hook). */
  private[graft] def perplexityBandsCore(s: DataFrame): DataFrame = {
    val hist = s.groupBy(col("source"), col("avg_p_micro").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val bands = Percentiles.fromHistogram(hist, "source",
        Seq("p10_score" -> 0.10, "p90_score" -> 0.90))
      .select(col("source"), col("p10_score"), col("p90_score"))
    s.join(broadcast(bands), "source")
      .withColumn("band",
        when(col("avg_p_micro") < col("p10_score"), "low")
          .when(col("avg_p_micro") > col("p90_score"), "high")
          .otherwise("mid"))
      .groupBy("source", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("bigram_sum"),
        sum(col("rare_micro")).as("rare_sum"))
      .orderBy("source", "band")
  }

  /** Memoized per-doc (doc_id, source, gram, ct) 5-gram table from the
    * one-pass `graft_ngram_counts` expression — one row per DISTINCT
    * 5-gram per doc (the bigramTable pattern, n = 5). Shared by
    * [[boilerplateProfile]] and [[topBoilerplate]]. */
  private def gramTable(spark: SparkSession, dir: String, n: Int): DataFrame =
    Tables.memoCache(spark, s"grams$n/$dir") {
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          explode(expr(s"graft_ngram_counts(text, $n)")).as("g"))
        .select(col("doc_id"), col("source"),
          col("g.gram").as("gram"), col("g.ct").as("ct"))
    }

  /** Cross-doc boilerplate profile: a 5-gram appearing in ≥ `minDf`
    * DISTINCT documents is boilerplate (headers, footers, template
    * text — the shingle-level signal boilerplate strippers key on);
    * report, per source, how much of its token-gram mass is boilerplate.
    *
    * Shape at scale: the doc-frequency table has one row per distinct
    * gram — corpus-sized vocabulary, so the join back onto the gram rows
    * is deliberately UNHINTED (q52's df-table rule: AQE broadcasts it
    * only when it measures small); everything else is partial-agg
    * shuffles. All-integer output (counts + one micro-rounded ratio). */
  def boilerplateProfile(spark: SparkSession, dir: String,
                         n: Int = 5, minDf: Int = 3): DataFrame =
    boilerplateCore(gramTable(spark, dir, n), minDf)

  /** [[boilerplateProfile]] over any (doc_id, source, gram, ct) frame
    * (also called by Round5bSpec). */
  private[graft] def boilerplateCore(grams: DataFrame, minDf: Int): DataFrame = {
    // rows are distinct (doc, gram) by construction → df = plain count
    val dfTab = grams.groupBy("gram").agg(count(lit(1)).as("dfreq"))
    grams.join(dfTab, "gram")
      .withColumn("bp", col("dfreq") >= minDf)
      .groupBy("source")
      .agg(sum(col("ct")).as("gram_occ"),
        sum(when(col("bp"), col("ct")).otherwise(0L)).as("bp_occ"),
        countDistinct(when(col("bp"), col("doc_id"))).as("docs_with_bp"))
      .select(col("source"), col("gram_occ"), col("bp_occ"),
        expr("cast(floor(1000000.0d * bp_occ / gram_occ + 0.5d) as bigint)")
          .as("bp_micro"),
        col("docs_with_bp"))
      .orderBy("source")
  }

  /** The boilerplate grams themselves: top-k 5-grams by document
    * frequency (then total occurrences, then the gram text — a total
    * deterministic order), df ≥ `minDf`. The content-level view a
    * curator reads before writing strip rules. Global top-k plans as
    * TakeOrderedAndProject over the gram-domain aggregate — no full
    * sort materializes. */
  def topBoilerplate(spark: SparkSession, dir: String,
                     n: Int = 5, minDf: Int = 3, k: Int = 25): DataFrame =
    gramTable(spark, dir, n)
      .groupBy("gram")
      .agg(count(lit(1)).as("dfreq"), sum(col("ct")).as("occ"))
      .filter(col("dfreq") >= minDf)
      .orderBy(col("dfreq").desc, col("occ").desc, col("gram").asc)
      .limit(k)

  /** Deterministic quality-WEIGHTED sampling: accept a document with
    * probability proportional to its length signal (w = min(n_chars,
    * `cap`) / cap), decided by a content-keyed hash instead of an RNG —
    * the up/down-sampling primitive of corpus mixing (temperature
    * sampling per source is q152; this is the per-document variant).
    * Hash-keyed acceptance makes the sample reproducible across runs,
    * engines, and partitionings, and lets an incremental pipeline
    * re-derive exactly which docs an earlier run kept.
    *
    * Determinism at the boundary: the acceptance test is integer
    * cross-multiplication — `u32(md5(doc_id)) · cap < min(n_chars, cap)
    * · 2³²` — all BIGINT, so no engine ever compares rounded floats at
    * the accept/reject edge. Scale: one narrow map + filter, no
    * shuffle; the selection commutes with partitioning by construction. */
  def weightedSample(spark: SparkSession, dir: String,
                     cap: Long = 400L): DataFrame = {
    val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.documents(spark, dir)
      .filter(u32 * lit(cap) < least(col("n_chars"), lit(cap)) * lit(4294967296L))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  /** Token-budget corpus selection: keep the highest-priority documents
    * whose cumulative token count fits a budget (`frac` of the corpus's
    * total tokens) — the "fill the training run" cut. Priority here is
    * longest-first with doc_id as the total-order tiebreak; semantics =
    * global cumulative sum over (n_tokens DESC, doc_id ASC) kept while
    * cum ≤ budget.
    *
    * Scale: the naive plan is a single-partition global window — a
    * non-starter at 100 TB. Instead the selection is BANDED (the
    * q122/q123 pattern): docs bucket by token-count band (a narrow
    * map), per-band totals (a few hundred rows) take the global window,
    * whole bands that fit are kept outright, and only the ONE boundary
    * band runs a per-doc running sum — partitioned BY BAND, never
    * global. Within a full band order doesn't matter (all kept), and the
    * boundary band's window ordering matches the global priority, so
    * the banded plan is row-identical to the global-window oracle. */
  def tokenBudgetSelect(spark: SparkSession, dir: String,
                        frac: Double = 0.30, bandWidth: Int = 8): DataFrame =
    tokenBudgetCore(Tables.documents(spark, dir), frac, bandWidth)

  /** [[tokenBudgetSelect]] over any (doc_id, source, text) frame (also
    * the q200 funnel's budget stage). */
  private[graft] def tokenBudgetCore(docs: DataFrame,
                                     frac: Double = 0.30,
                                     bandWidth: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .cast("long").as("n_tokens"))
      .withColumn("band", floor(col("n_tokens") / lit(bandWidth)).cast("long"))
    // per-band totals: a bounded-domain frame (≤ max_tokens/bandWidth
    // rows), so the global window over it is cheap and stays cheap
    val bandCum = toks.groupBy("band")
      .agg(sum(col("n_tokens")).as("band_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("band_tokens")).over(
          Window.orderBy(col("band").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val budget = toks.agg(
      floor(sum(col("n_tokens")) * lit(frac)).cast("long").as("budget"))
    val banded = toks
      .join(broadcast(bandCum), "band")
      .crossJoin(broadcast(budget))
    val fullBand = col("cum_before") + col("band_tokens") <= col("budget")
    val boundary = !fullBand && col("cum_before") <= col("budget")
    val inBand = Window.partitionBy("band")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    banded
      .withColumn("cum",
        when(boundary, col("cum_before") + sum(col("n_tokens")).over(inBand)))
      .filter(fullBand || (boundary && col("cum") <= col("budget")))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** q188: balanced serving-shard assignment — docs dealt round-robin
    * across `nShards` in descending token order (the LPT-style greedy
    * that keeps shard token totals within one max-doc of each other,
    * the layout a training run reads). shard = (global_rank − 1) mod S.
    *
    * The global rank is the q174 banded construction, never a global
    * window: bands of n_tokens are ranked per-band (partitioned
    * window), and the rank offset is the bounded band-domain cumulative
    * count. Ordering by (n_tokens desc, doc_id) refines (band desc) —
    * floor is monotone — so banded rank ≡ global rank row-for-row; the
    * DuckDB oracle computes the naive global ROW_NUMBER and the hash
    * match is the equivalence proof over EVERY doc's assignment. */
  def shardPacking(spark: SparkSession, dir: String,
                   nShards: Int = 8, bandWidth: Int = 8): DataFrame =
    // Opt r19: token counts from the session-cached proxy (one tokenize
    // per corpus version, shared with q152/q208/q241) — same expression
    // (size of the q277 token split), so values are identical
    shardDeal(graft.text.TextOps.tokenProxy(spark, dir)
      .select(col("doc_id"), col("n_tokens")), nShards, bandWidth)

  /** The banded round-robin deal over any (doc_id, n_tokens) frame —
    * [[shardPacking]]'s rank machinery split from its tokenizer so the
    * q200 funnel can deal its own survivor set. */
  private[graft] def shardDeal(toksIn: DataFrame,
                               nShards: Int = 8,
                               bandWidth: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = toksIn
      .withColumn("band", floor(col("n_tokens") / lit(bandWidth)).cast("long"))
    val bandCum = toks.groupBy("band")
      .agg(count(lit(1)).as("band_n"))
      .withColumn("cum_before",
        coalesce(sum(col("band_n")).over(
          Window.orderBy(col("band").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("cum_before"))
    val inBand = Window.partitionBy("band")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    toks.join(broadcast(bandCum), "band")
      .withColumn("rank", col("cum_before") + row_number().over(inBand))
      .select(col("doc_id"), col("n_tokens"),
        ((col("rank") - 1) % nShards).as("shard"))
      .orderBy("doc_id")
  }

  /** q200: the end-to-end training-data manifest — the round-9 funnel
    * COMPOSED: exact dedup (q23's min-id-per-md5 rule) → the q135
    * quality gate (length, stopword, diversity — identical integer
    * cross-multiplied thresholds) → the q174 banded token-budget cut
    * (30% of surviving token mass, priority by size) → the q188 banded
    * shard deal. Output: the serving manifest (doc_id, n_tokens,
    * shard) a training run actually reads.
    *
    * Every stage is an already-hash-verified operator; this query
    * proves they COMPOSE — the DuckDB oracle chains the same four
    * stages, so any drift in stage boundaries (dedup before stats,
    * budget over kept-only mass, deal over selected-only ranks) breaks
    * the hash. Scale properties are inherited per stage: one md5
    * aggregate, narrow-map stats, two banded constructions — the only
    * unpartitioned windows remain the bounded band-domain frames. */
  def trainingManifest(spark: SparkSession, dir: String,
                       frac: Double = 0.30, nShards: Int = 8): DataFrame = {
    // Opt r19 (guide §1.2/§5): the four-stage funnel was re-derived on
    // EVERY pass by BOTH q200 and q314 (manifestTokenized consumes the
    // manifest twice more) — session-cache the manifest frame per
    // (corpus version, knobs), the shingle-ledger / q196-histogram
    // pattern. The deterministic display orderBy stays OUTSIDE the
    // cache so output order never leans on cached data order.
    val m = Tables.memoCache(spark, s"manifest/$dir/$frac/$nShards/" +
        Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val docs = Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
      val keepIds = docs.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val kept = docs.join(keepIds, "doc_id")
        .select(col("doc_id"), col("source"), col("text"),
          expr("graft_text_stats(text)").as("st"),
          expr("cast(size(graft_token_counts(text)) as bigint)").as("n_distinct"))
        .select(col("doc_id"), col("source"), col("text"),
          col("st.n_tokens").as("n_tokens"), col("st.stop_ct").as("stop_ct"),
          col("n_distinct"))
        .filter(col("n_tokens") >= 20 && col("stop_ct") > 0 &&
          col("n_distinct") * 100 >= col("n_tokens") * 35)
      val selected = tokenBudgetCore(
        kept.select("doc_id", "source", "text"), frac)
      shardDeal(selected.select(col("doc_id"), col("n_tokens")), nShards)
    }
    m.orderBy("doc_id")
  }
  // ---------------------------------------------------------------------
  // Unigram-LM tokenizer (q307/q308) — the SentencePiece-family member
  // the BPE recursions (char q277, byte q304, pruned q292) do not cover.
  // ---------------------------------------------------------------------

  /** Unigram knobs — interpolated into the oracle SQL (shared-constant
    * discipline). `UniMaxWordLen` is the coverage contract: both engines
    * train and measure over words of at most this length (the corpus max
    * is 8, so the filter is a stated bound, not a cut); `UniMaxPieceLen`
    * bounds the Viterbi fan-in at 5 candidate splits per position. */
  private[graft] val UniMaxPieceLen = 5
  private[graft] val UniSeedMultis = 120
  private[graft] val UniIters = 2
  private[graft] val UniMaxWordLen = 16

  private val uniMemo =
    new graft.SessionMemo[(Seq[(String, Int, Long, Long)], Map[String, Long])]

  /** Add-one-smoothed micro probabilities in EXACT integer arithmetic:
    * round(1e6·(cnt+1)/(tot+V)) = ⌊(2·(cnt+1)·1e6 + tot+V) / (2·(tot+V))⌋
    * — pure BIGINT both engines, no transcendental anywhere (log-space
    * unigram would hand the hash to libm; products of these micro probs
    * normalized by 1e6 are IEEE-exact multiplication chains instead). */
  private def uniProbsOf(counts: Seq[(String, Long)]): Map[String, Long] = {
    // BigInt intermediates: 2·(cnt+1)·1e6 overflows Long at cnt ≈ 4.6e12,
    // which is inside the 100 TB design point — Scala would wrap silently
    // where DuckDB raises, so the engines would diverge instead of
    // failing together. The quotient always fits a Long (≤ 1e6 + 1).
    val tot = BigInt(counts.map(_._2).sum)
    val v = BigInt(counts.size)
    counts.map { case (p, c) =>
      p -> ((BigInt(2) * (BigInt(c) + 1) * 1000000 + tot + v) /
        (BigInt(2) * (tot + v))).toLong
    }.toMap
  }

  /** The Viterbi lattice of a word under a driver-held vocabulary: one
    * in-row `aggregate` fold over positions 1..len, each step an argmin
    * over ≤ [[UniMaxPieceLen]] candidate last-pieces. The comparable is
    * struct(-score, n_pieces, -last_len, last_len) — maximize
    * probability, then fewer pieces, then the longer last piece — and
    * score is a product of (p_micro / 1e6) doubles: every factor is an
    * IEEE-exact division of an integer by 1e6 and every step one
    * multiplication, so both engines chain identical doubles (raw micro
    * products would instead FAVOR more pieces by 1e6 per factor —
    * pinned in Round16Spec). NARROW: vocabulary rides as one map
    * literal, no join, no shuffle — legal on streaming per-batch paths
    * and one pass over 100 TB of words. */
  private[graft] def uniDpCol(word: org.apache.spark.sql.Column,
                              probs: Map[String, Long],
                              maxPieceLen: Int = UniMaxPieceLen): org.apache.spark.sql.Column = {
    val pmap = typedLit(probs)
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(1.0d).as("s"), lit(0).as("np"), lit(0).as("ll"))),
      (acc, j) => {
        val cands = filter(
          transform(sequence(lit(1), least(j, lit(maxPieceLen))), l => {
            val piece = word.substr(j - l + lit(1), l)
            val pm = element_at(pmap, piece)
            val prev = element_at(acc, j - l + lit(1))
            when(pm.isNotNull, struct(
              (-(prev.getField("s")
                * (pm.cast("double") / lit(1000000.0d)))).as("a"),
              (prev.getField("np") + lit(1)).as("b"),
              (-l).as("c"),
              l.as("l"))).otherwise(lit(null))
          }),
          c => c.isNotNull)
        // get (0-based) not element_at: a word containing an UNSEEN
        // char has an empty candidate list at that position, and ANSI
        // element_at throws on it — get yields null, which propagates
        // to a null final entry the monitor's char fallback coalesces
        // (training never hits this: every corpus char is seeded)
        val best = get(array_sort(cands), lit(0))
        concat(acc, array(struct(
          (-best.getField("a")).as("s"),
          best.getField("b").as("np"),
          best.getField("l").as("ll"))))
      })
  }

  /** q318's sweep points — interpolated into the oracle (shared-constant
    * discipline): seed-substring budgets bracketing the production 120
    * by 4× each way. */
  private[graft] val UniSweepSeeds: Seq[Int] = Seq(30, 120, 480)

  /** q318 — unigram VOCAB-SIZE sweep (the q292 pruned-BPE decision
    * table in the unigram dimension): the full hard-EM training at
    * each seed-substring budget, reporting the surviving vocabulary
    * size and the corpus-wide fertility the budget buys. The fertility
    * leg runs the final Viterbi on the DISTINCT-word table (vocab-
    * sized) and weights by frequency — the q308 arithmetic without the
    * per-source split, so the three sweep points stay three cheap
    * passes. The decision this table prices: a 4× bigger seed pool
    * buys fertility only if the extra substrings SURVIVE the zero-
    * count pruning — on a small corpus most do not, and the table
    * says exactly how many did and what they bought. */
  def unigramVocabSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Opt r19 (guide §1.2): ONE pass over the distinct-word frame
    // computes all three sweep points' piece totals (one Viterbi column
    // per trained vocabulary in a single projection) — the per-point
    // loop paid three scheduled jobs over the same frame for identical
    // n_tokens/chars_total sums. Integer sums are order-free, so the
    // merged aggregate equals the per-leg aggregates exactly.
    val arts = UniSweepSeeds.map(sm => (sm, unigramArtifacts(spark, dir, sm)))
    val aggCols =
      Seq(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * length(col("word")).cast("long")).as("chars_total")) ++
      arts.zipWithIndex.map { case ((_, (_, probs)), i) =>
        sum(col("freq") *
          element_at(uniDpCol(col("word"), probs), length(col("word")) + lit(1))
            .getField("np").cast("long")).as(s"pieces_total_$i") }
    val agg = uniWords(spark, dir).agg(aggCols.head, aggCols.tail: _*).head()
    val rows = arts.zipWithIndex.map { case ((sm, (vocab, _)), i) =>
      (sm.toLong, vocab.size.toLong, vocab.count(_._2 == 0).toLong,
        agg.getLong(0), agg.getLong(1), agg.getLong(2 + i))
    }
    rows.toDF("n_seed_multis", "vocab_size", "n_multis_kept",
        "n_tokens", "chars_total", "pieces_total")
      .select(col("n_seed_multis"), col("vocab_size"), col("n_multis_kept"),
        col("n_tokens"), col("chars_total"), col("pieces_total"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * pieces_total / n_tokens + 0.5d) AS BIGINT)")
          .as("uni_fertility_micro"))
      .orderBy("n_seed_multis")
  }

  /** The [[uniDpCol]] lattice as an unboxed Scala kernel — symbol count
    * (or the char fallback) for ONE word under a driver-held
    * vocabulary. Exists for the STREAMING monitor's hot path only: the
    * Catalyst `aggregate` HOF runs interpreted per word OCCURRENCE
    * (the r15 10× scale-run lesson), which capped the unigram monitor at
    * ~9k docs/s; this kernel plus a per-partition word memo clears the
    * target with the identical semantics. The batch q308 face KEEPS the
    * column form — that is the oracle-replayable surface; this mirror
    * is pinned against it exhaustively (Round17Spec: every distinct
    * corpus word + planted unseen-char/unseen-piece edges).
    *
    * Mirrored semantics, bit for bit: score = left-to-right product of
    * IEEE-exact (pm/1e6) doubles; candidate order struct(a=-score,
    * b=np, c=-l) ascending with NULL FIRST — a candidate whose prev
    * state is poisoned (null fields) therefore WINS the sort and
    * poisons this position too, even when a valid path exists; an
    * empty candidate list poisons; a poisoned final state falls back
    * to the char count. */
  private[graft] def uniNpOrChars(word: String, probs: Map[String, Long],
                                  maxPieceLen: Int = UniMaxPieceLen): Long = {
    val n = word.length
    val s = new Array[Double](n + 1)
    val np = new Array[Int](n + 1)
    val poisoned = new Array[Boolean](n + 1)
    s(0) = 1.0d; np(0) = 0
    var j = 1
    while (j <= n) {
      var any = false
      var poisonBest = false
      var bestSet = false
      var bestA = 0.0d; var bestB = 0; var bestC = 0
      val lmax = math.min(j, maxPieceLen)
      var l = 1
      while (l <= lmax && !poisonBest) {
        val pmOpt = probs.get(word.substring(j - l, j))
        if (pmOpt.isDefined) {
          any = true
          if (poisoned(j - l)) poisonBest = true
          else {
            val a = -(s(j - l) * (pmOpt.get.toDouble / 1000000.0d))
            val b = np(j - l) + 1
            val c = -l
            if (!bestSet || a < bestA ||
                (a == bestA && (b < bestB || (b == bestB && c < bestC)))) {
              bestSet = true; bestA = a; bestB = b; bestC = c
            }
          }
        }
        l += 1
      }
      if (!any || poisonBest) poisoned(j) = true
      else { s(j) = -bestA; np(j) = bestB }
      j += 1
    }
    if (poisoned(n)) n.toLong else np(n).toLong
  }

  /** The best segmentation's PIECES of one word under a driver-held
    * vocabulary — [[uniNpOrChars]]'s lattice extended with the
    * last-piece-length column and [[uniPiecesCol]]'s backtrack walk,
    * for the driver-side trainer (opt r19). Semantics mirror the column
    * pair bit for bit: same candidate order, same struct tie-break
    * (argmin of (-score, n_pieces, -l)), same poisoning rule. Training
    * corpora are fully covered by construction (every char is seeded),
    * so a poisoned final state is a CONTRACT violation here — raised
    * loudly rather than silently segmenting differently from the column
    * form the oracle replays. Pinned against the column pair on every
    * distinct corpus word (Round19Spec). */
  private[graft] def uniDpPiecesOf(word: String, probs: Map[String, Long],
                                   maxPieceLen: Int = UniMaxPieceLen): Seq[String] = {
    val n = word.length
    val s = new Array[Double](n + 1)
    val np = new Array[Int](n + 1)
    val ll = new Array[Int](n + 1)
    val poisoned = new Array[Boolean](n + 1)
    s(0) = 1.0d; np(0) = 0
    var j = 1
    while (j <= n) {
      var any = false
      var poisonBest = false
      var bestSet = false
      var bestA = 0.0d; var bestB = 0; var bestC = 0
      val lmax = math.min(j, maxPieceLen)
      var l = 1
      while (l <= lmax && !poisonBest) {
        val pmOpt = probs.get(word.substring(j - l, j))
        if (pmOpt.isDefined) {
          any = true
          if (poisoned(j - l)) poisonBest = true
          else {
            val a = -(s(j - l) * (pmOpt.get.toDouble / 1000000.0d))
            val b = np(j - l) + 1
            val c = -l
            if (!bestSet || a < bestA ||
                (a == bestA && (b < bestB || (b == bestB && c < bestC)))) {
              bestSet = true; bestA = a; bestB = b; bestC = c
            }
          }
        }
        l += 1
      }
      if (!any || poisonBest) poisoned(j) = true
      else { s(j) = -bestA; np(j) = bestB; ll(j) = -bestC }
      j += 1
    }
    require(!poisoned(n),
      s"unigram training lattice has no path for '$word' — training " +
        "corpora are fully covered by construction (every char is seeded)")
    // uniPiecesCol's walk: last piece first
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { val l = ll(p); out += word.substring(p - l, p); p -= l }
    out.toSeq
  }

  /** Forward-backward expected piece counts of ONE word under a frozen
    * vocabulary — q319's soft-EM E-step kernel. α/β are in-order
    * left-to-right double folds (candidate terms added in l-ascending
    * order — the exact sequence the oracle's `list_reduce` replays);
    * each OCCURRENCE posterior γ = ((α[i]·pm/1e6)·β[i+l])/Z is
    * micro-rounded BEFORE any cross-occurrence sum, so every total
    * downstream is an exact integer and no engine ever sums raw
    * doubles in an unspecified order (the q231/q235 discipline applied
    * to posteriors). A word with no lattice path (unseen char, Z = 0)
    * contributes nothing — training corpora are fully covered by
    * construction. */
  private[graft] def uniSoftCountsOf(word: String, probs: Map[String, Long],
                                     maxPieceLen: Int = UniMaxPieceLen):
      Map[String, Long] = {
    val n = word.length
    val al = new Array[Double](n + 1); al(0) = 1.0d
    var j = 1
    while (j <= n) {
      var s = 0.0d
      var l = 1
      val lm = math.min(j, maxPieceLen)
      while (l <= lm) {
        probs.get(word.substring(j - l, j)).foreach { pm =>
          s += al(j - l) * (pm.toDouble / 1000000.0d)
        }
        l += 1
      }
      al(j) = s; j += 1
    }
    val bl = new Array[Double](n + 1); bl(n) = 1.0d
    var i = n - 1
    while (i >= 0) {
      var s = 0.0d
      var l = 1
      val lm = math.min(n - i, maxPieceLen)
      while (l <= lm) {
        probs.get(word.substring(i, i + l)).foreach { pm =>
          s += (pm.toDouble / 1000000.0d) * bl(i + l)
        }
        l += 1
      }
      bl(i) = s; i -= 1
    }
    val z = al(n)
    if (!(z > 0.0d)) Map.empty
    else {
      val m = scala.collection.mutable.Map.empty[String, Long]
      var p = 0
      while (p < n) {
        var l = 1
        val lm = math.min(n - p, maxPieceLen)
        while (l <= lm) {
          val piece = word.substring(p, p + l)
          probs.get(piece).foreach { pm =>
            val gamma = ((al(p) * (pm.toDouble / 1000000.0d)) * bl(p + l)) / z
            val gm = math.floor(1000000.0d * gamma + 0.5d).toLong
            m.update(piece, m.getOrElse(piece, 0L) + gm)
          }
          l += 1
        }
        p += 1
      }
      m.toMap
    }
  }

  /** q319 — soft-EM E-step under the hard-EM-trained vocabulary: the
    * PLANS r16 "soft-EM unigram" candidate, landed as the expected-
    * count table the full algorithm would iterate. Per piece: the hard
    * (Viterbi, winner-take-all) count q307 trained with, the
    * forward-backward EXPECTED count over every segmentation (micro —
    * occurrence posteriors rounded before summing, freq-weighted exact
    * integers after), and the re-estimated soft probability (add-one
    * in micro units, arbitrary-precision intermediates — HUGEINT in
    * the oracle). The decision this table informs: where soft mass
    * disagrees with hard counts, Viterbi training is starving pieces
    * the lattice actually supports — the signal a soft-EM trainer
    * would feed back.
    *
    * Scale: two in-row array folds + a bounded occurrence explode per
    * DISTINCT word (vocab-sized frame), one piece-keyed agg; model
    * state is the probability map. */
  private val uniSoftMemo =
    new graft.SessionMemo[Seq[(String, Long, Long, Long, Long)]]

  /** The q319 rows (piece, is_char, hard_cnt, soft_cnt_micro,
    * p_soft_micro) — memoized per corpus version; q320 reuses the soft
    * re-estimate as its candidate probability table. */
  private[graft] def unigramSoftRows(spark: SparkSession, dir: String):
      Seq[(String, Long, Long, Long, Long)] =
    uniSoftMemo.get(spark, s"uni-soft/$dir/$UniMaxPieceLen/$UniSeedMultis/" +
        s"$UniIters/$UniMaxWordLen/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      import spark.implicits._
      val (vocab, probs) = unigramArtifacts(spark, dir)
      // freq·gm and its per-piece sum accumulate in DECIMAL (r18
      // overflow audit): a corpus word frequency (~2e13 at the design
      // point) times a micro posterior (≤ ~1.6e7) wraps a Long PER ROW;
      // the output contract stays BIGINT, converted with longValueExact
      // — a loud throw past the horizon, never a silent wrap
      val softRows = uniWords(spark, dir)
        .as[(String, Long)]
        .mapPartitions { it =>
          it.flatMap { case (word, freq) =>
            uniSoftCountsOf(word, probs).iterator.map { case (piece, gm) =>
              (piece, freq, gm)
            }
          }
        }
        .toDF("piece", "freq", "gm")
        .groupBy("piece")
        .agg(sum(expr("cast(freq as decimal(38,0)) * gm")).as("soft_cnt_micro"))
        .collect()
        .map(r => r.getString(0) -> r.getDecimal(1).longValueExact()).toMap
      val totSoft = vocab.map(v => BigInt(softRows.getOrElse(v._1, 0L))).sum
      val vSize = BigInt(vocab.size)
      vocab.map { case (piece, isChar, hardCnt, _) =>
        val c = BigInt(softRows.getOrElse(piece, 0L))
        // add-one smoothing in MICRO units: (c + 1e6) / (tot + V·1e6),
        // micro-rounded — the q307 integer rule with micro-scaled counts
        val pSoft = ((BigInt(2) * (c + 1000000) * 1000000 +
          totSoft + vSize * 1000000) /
          (BigInt(2) * (totSoft + vSize * 1000000))).toLong
        (piece, isChar.toLong, hardCnt, softRows.getOrElse(piece, 0L), pSoft)
      }
    }

  def unigramSoftEm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramSoftRows(spark, dir)
      .toDF("piece", "is_char", "hard_cnt", "soft_cnt_micro",
        "p_soft_micro")
      .orderBy("piece")
  }

  /** q320 — what the soft re-estimate BUYS: corpus-wide Viterbi
    * fertility under the hard-EM probabilities vs under q319's
    * soft-reestimated ones (same vocabulary set, shifted mass). The
    * full soft-EM training loop would iterate E-step → re-estimate →
    * Viterbi; this is one such M-step applied, priced on the metric
    * tokenizers are judged by. An honest wash is a valid verdict — the
    * table says whether iterating is worth building. */
  def unigramSoftFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, probsHard) = unigramArtifacts(spark, dir)
    val probsSoft = unigramSoftRows(spark, dir)
      .map(r => r._1 -> r._5).toMap
    // Opt r19 (guide §1.2): both methods' piece totals in ONE pass over
    // the (memoized) distinct-word frame — the q318 merged-legs shape;
    // integer sums are order-free, so values are unchanged.
    val legs = Seq(("hard_em", probsHard), ("soft_reestimate", probsSoft))
    val aggCols = Seq(sum(col("freq")).as("n_tokens")) ++
      legs.zipWithIndex.map { case ((_, probs), i) =>
        sum(col("freq") *
          element_at(uniDpCol(col("word"), probs), length(col("word")) + lit(1))
            .getField("np").cast("long")).as(s"pieces_total_$i") }
    val agg = uniWords(spark, dir).agg(aggCols.head, aggCols.tail: _*).head()
    legs.zipWithIndex.map { case ((method, _), i) =>
      (method, agg.getLong(0), agg.getLong(1 + i),
        math.floor(1000000.0d * agg.getLong(1 + i) / agg.getLong(0) + 0.5d).toLong)
    }
      .toDF("method", "n_tokens", "pieces_total", "uni_fertility_micro")
      .orderBy("method")
  }

  /** Backtrack of [[uniDpCol]]'s lattice: walk last-piece lengths from
    * the final position — at most len steps, one in-row fold, emits the
    * best segmentation's pieces (order reversed; callers only count). */
  private[graft] def uniPiecesCol(word: org.apache.spark.sql.Column,
                                  dp: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).as("j"), typedLit(Seq.empty[String]).as("ps")),
      (st, _) => {
        val j = st.getField("j")
        val ll = element_at(dp, j + lit(1)).getField("ll")
        when(j > lit(0), struct(
          (j - ll).as("j"),
          concat(st.getField("ps"),
            array(word.substr(j - ll + lit(1), ll))).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))

  private val uniWordsMemo = new graft.SessionMemo[DataFrame]
  private val uniWordRowsMemo = new graft.SessionMemo[Seq[(String, Long)]]

  /** The collected (word, freq) rows of [[uniWords]] — the trainer's
    * driver-side input (opt r19), memoized beside the frame so the
    * three sweep-point trainings collect once. Vocab-sized by the same
    * doctrine as [[bpeMergeLoop]]'s collect. */
  private def uniWordRows(spark: SparkSession, dir: String): Seq[(String, Long)] =
    uniWordRowsMemo.get(spark, s"uni-word-rows/$dir/$UniMaxWordLen/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      uniWords(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }

  /** The corpus word table both unigram faces share: the q277 word rule
    * (lower, whitespace-split) under the [[UniMaxWordLen]] coverage
    * contract, with the byte-BPE ASCII guard (substr/length must count
    * the same units in both engines). Opt r19: memoized per corpus
    * version — q318 derived it once per SWEEP POINT and q319/q320 once
    * each per execution, each derivation a tokenize+distinct scan plus
    * the guard job over the same unchanged corpus; the checkpointed
    * frame is vocab-sized (the r18 verdict's model-sized-collect class). */
  private def uniWords(spark: SparkSession, dir: String): DataFrame =
    uniWordsMemo.get(spark, s"uni-words/$dir/$UniMaxWordLen/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val words = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
        .filter(length(col("word")).between(1, UniMaxWordLen))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val maxCp = words
        .select(max(expr("array_max(transform(filter(split(word, ''), x -> x != ''), ch -> ascii(ch)))")))
        .head().getInt(0)
      require(maxCp <= 127,
        s"unigram training assumes an ASCII corpus (chars ≡ units in both " +
          s"engines' substr/length); found code point $maxCp")
      words
    }

  /** Trained unigram artifacts: final vocabulary rows
    * (piece, is_char, count, p_micro) + the final probability map.
    *
    * Deterministic HARD-EM (Viterbi-EM), the replayable member of
    * SentencePiece's EM family (Kudo 2018 trains soft counts over the
    * full lattice; the hard variant keeps the same alternate-segment/
    * re-estimate structure with an exactly-replayable E-step): seed =
    * every character (coverage guarantee, exempt from pruning — the
    * all-chars path always exists, so segmentation is total by
    * construction) plus the top [[UniSeedMultis]] substrings of length
    * 2..[[UniMaxPieceLen]] by freq-weighted occurrence count (ties to
    * the lexicographically lower piece); each iteration Viterbi-segments
    * every distinct word, re-counts pieces over best segmentations,
    * PRUNES multi-char pieces that won zero occurrences, and
    * re-estimates add-one micro probs over the survivors.
    *
    * Scale: vocabulary-sized driver state (≤ chars + [[UniSeedMultis]]
    * entries); each E-step is ONE narrow pass over the distinct-word
    * frame (the q277 k-narrow-jobs discipline, but with k = 1 job per
    * iteration — the DP is in-row, nothing shuffles but the final
    * vocabulary-sized count). */
  private[graft] def unigramArtifacts(spark: SparkSession, dir: String,
                                      seedMultis: Int = UniSeedMultis):
      (Seq[(String, Int, Long, Long)], Map[String, Long]) =
    uniMemo.get(spark, s"unigram/$dir/$UniMaxPieceLen/$seedMultis/" +
        s"$UniIters/$UniMaxWordLen/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      // Opt r19 (the bpeMergeLoop discipline): the trainer's whole input
      // is the vocab-sized distinct-word table — collected once
      // ([[uniWordRows]]) and the seed counting + hard-EM recursion run
      // as driver arithmetic (the old shape paid 2 collect jobs + one
      // scheduled Viterbi job per EM iteration PER SWEEP POINT over the
      // same frame). Arithmetic is replayed rule for rule: exact integer
      // counts (Math.addExact raises like ANSI sum), the multi-seed
      // top-K ordering (cnt desc, piece asc — the corpus is ASCII-
      // guarded by uniWords, where Scala and engine string order agree),
      // and the E-step segments each word with [[uniDpPiecesOf]], the
      // column lattice's pinned driver mirror. The fertility FACES
      // (q308/q318/q320) keep their distributed column-form passes —
      // those are the oracle-replayable surfaces.
      val wf = uniWordRows(spark, dir)
      val charCnt = new java.util.HashMap[String, Long]
      val multiCnt = new java.util.HashMap[String, Long]
      wf.foreach { case (w, f) =>
        var i = 0
        while (i < w.length) {
          charCnt.merge(w.substring(i, i + 1), f, (x, y) => Math.addExact(x, y))
          var l = 2
          val lm = math.min(UniMaxPieceLen, w.length - i)
          while (l <= lm) {
            multiCnt.merge(w.substring(i, i + l), f, (x, y) => Math.addExact(x, y))
            l += 1
          }
          i += 1
        }
      }
      val chars = {
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        charCnt.forEach((p, c) => b += ((p, c)))
        b.sortBy(_._1).toSeq
      }
      val multis = {
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        multiCnt.forEach((p, c) => b += ((p, c)))
        b.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
          .take(seedMultis).toSeq
      }
      var vocab: Seq[(String, Int, Long)] =
        chars.map { case (p, c) => (p, 1, c) } ++
          multis.map { case (p, c) => (p, 0, c) }
      var probs = uniProbsOf(vocab.map(t => (t._1, t._3)))
      for (_ <- 1 to UniIters) {
        val cnt = new java.util.HashMap[String, Long]
        wf.foreach { case (w, f) =>
          uniDpPiecesOf(w, probs).foreach { p =>
            cnt.merge(p, f, (x, y) => Math.addExact(x, y))
          }
        }
        val newCounts = {
          val b = Map.newBuilder[String, Long]
          cnt.forEach((p, c) => b += (p -> c))
          b.result()
        }
        vocab = vocab
          .filter(t => t._2 == 1 || newCounts.getOrElse(t._1, 0L) >= 1L)
          .map(t => (t._1, t._2, newCounts.getOrElse(t._1, 0L)))
        probs = uniProbsOf(vocab.map(t => (t._1, t._3)))
      }
      (vocab.sortBy(_._1).map(t => (t._1, t._2, t._3, probs(t._1))), probs)
    }

  // ---------------------------------------------------------------------
  // Published-artifact access (judge r16 task 1): driver-side row views
  // of the three trained tokenizers — what the Sinks publishers sign and
  // swap in. All are model-sized (merge table + vocabulary), the same
  // material the monitors already broadcast.
  // ---------------------------------------------------------------------

  private[graft] def charBpeArtifactRows(spark: SparkSession, dir: String,
                                         merges: Int = BpeDefaultMerges):
      (Seq[(Long, String, String, String, Long)], Seq[(String, Long)]) = {
    val (mergeRows, _) = bpeArtifacts(spark, dir, merges)
    val vocab = bpeVocab(spark, dir, merges).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    (mergeRows, vocab)
  }

  private[graft] def byteBpeArtifactRows(spark: SparkSession, dir: String,
                                         merges: Int = BpeDefaultMerges):
      Seq[(Long, String, String, String, Long)] =
    byteBpeArtifacts(spark, dir, merges)._1

  private[graft] def unigramArtifactRows(spark: SparkSession, dir: String):
      Seq[(String, Int, Long, Long)] =
    unigramArtifacts(spark, dir)._1

  /** The artifact store the registry queries publish into: under the
    * build directory, keyed by the data dir's basename so sf0.001 and
    * sf0.1 runs never clobber each other's versions. */
  private[graft] def tokArtifactRoot(dir: String): String =
    s"target/published_tokenizers/${new java.io.File(dir).getName}"

  /** q313 — the tokenizer REGISTRY: train → publish → load → report,
    * for all three families. Each row is the verified identity of one
    * published artifact (family, payload row count, fingerprint) as
    * read BACK through [[graft.streaming.Sinks.loadTokenizer]] — so the
    * query passing means the publish/load roundtrip preserved the
    * payload bit-for-bit (the loader recomputes the checksum and
    * refuses a mismatch). The DuckDB oracle replays all three training
    * chains and folds the same modular checksum over their final
    * states: the artifact identity itself is differentially verified,
    * not just asserted. */
  def tokenizerRegistry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = tokArtifactRoot(dir)
    Seq("byte-bpe", "char-bpe", "unigram").map { fam =>
      graft.streaming.TrainingPipeline
        .trainAndPublishTokenizer(spark, dir, s"$root/$fam", fam)
      val cfg = graft.streaming.Sinks.loadTokenizer(spark, s"$root/$fam")._1
      (cfg.family, cfg.vocabSize, cfg.fingerprint)
    }.toDF("family", "vocab_size", "fingerprint").orderBy("family")
  }

  private val tokMaintMemo =
    new graft.SessionMemo[Seq[(String, Long, Long, Long, Long, Long, Long, String)]]

  /** q321 — tokenizer MAINTENANCE routing (judge r17 task 1's
    * reporting face): publish the char-BPE artifact WITH its
    * train-time fertility baseline through the production call
    * ([[graft.streaming.TrainingPipeline.trainAndPublishTokenizer]]),
    * then measure two incoming deltas against the published version
    * the way [[graft.streaming.TrainingPipeline.maintainTokenizer]]
    * does — through the fingerprint-verified artifact read path — and
    * report the routing each would take: the corpus's own fresh half
    * (same distribution → within budget → `keep`) and a letter-doubled
    * copy of it (the morphology-shift stand-in: every word segments to
    * ~2× the symbols under a vocabulary trained on single letters →
    * breach → `retrain`). Both the drift statistic and the decision
    * CASE are replayed by the DuckDB oracle over the same q277 merge
    * recursion, so the routing rule itself is differentially verified,
    * not just asserted; StreamingSpec pins the end-to-end effect
    * (breach → republish through the atomic swap, no-breach → version
    * bit-identical).
    *
    * Scale: the published artifact and baseline are model-sized; each
    * delta costs ONE monitor pass (the keep-path price at 100 TB);
    * the retrain this table gates is the full-corpus training run —
    * triggered by measurement, never by schedule. */
  def tokenizerMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    tokMaintMemo.get(spark, s"tok-maint/$dir/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val path = s"${tokArtifactRoot(dir)}/maint-char-bpe"
      TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe")
      val baseline = Sinks.loadTokenizerBaselines(spark, path)._1.getOrElse(
        throw new IllegalStateException(
          s"$path published without a baseline — trainAndPublishTokenizer " +
            "must sign one"))
      val budget = TP.TokenizerFertilityBudgetMicro
      val docs = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "source", "text")
      val fresh = docs.filter(col("doc_id") >= DriftSplitAt)
      val doubled = fresh.withColumn("text",
        regexp_replace(lower(col("text")), "([a-z])", "$1$1"))
      Seq(("doubled", doubled), ("fresh", fresh)).map { case (name, d) =>
        val (nt, sy, fert, _) = TP.tokenizerDriftStats(d, path)
        (name, nt, sy, fert, baseline, fert - baseline, budget,
          TP.tokenizerRouteOf(fert, baseline, budget))
      }
    }.toDF("delta", "n_tokens", "syms_total", "fertility_micro",
        "baseline_micro", "drift_micro", "budget_micro", "decision")
      .orderBy("delta")
  }

  private val tokOovMaintMemo = new graft.SessionMemo[Seq[(String, Long,
    Long, Long, Long, Long, Long, Long, Long, String)]]

  /** q322 — TWO-LEGGED tokenizer maintenance routing (judge r18
    * task 3): the q321 face extended with the OOV drift statistic,
    * reporting for three deltas the exact comparison
    * [[graft.streaming.TrainingPipeline.maintainTokenizer]] now acts
    * on — fertility drift OR OOV-rate drift, either leg a retrain.
    * The three deltas triangulate the rule: the corpus's fresh half
    * (both legs quiet → `keep`), the letter-doubled copy (fertility
    * breach → `retrain`), and the PLANTED short-unseen-word delta —
    * every token replaced by `repeat('~', n_syms(word))`, an unseen
    * word whose char-fallback symbol count EQUALS the original's
    * trained count, so fertility is bit-identical to the fresh delta
    * while every token misses the vocabulary. That is the drift class
    * the fertility leg structurally cannot see (oov_micro 10⁶ vs
    * baseline 0) and the reason the second leg exists. Both statistics
    * and the two-legged CASE are replayed by the DuckDB oracle over
    * the same q277 merge recursion; StreamingSpec pins the end-to-end
    * effect (the planted delta routes retrain through the production
    * call while its fertility sits inside budget). */
  def tokenizerOovMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    tokOovMaintMemo.get(spark, s"tok-oov-maint/$dir/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val path = s"${tokArtifactRoot(dir)}/maint-char-bpe"
      TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe")
      val (baseFertOpt, baseOovOpt) = Sinks.loadTokenizerBaselines(spark, path)
      val baseFert = baseFertOpt.getOrElse(
        throw new IllegalStateException(s"$path published without a baseline"))
      val baseOov = baseOovOpt.getOrElse(
        throw new IllegalStateException(
          s"$path published without an OOV baseline"))
      val fertBudget = TP.TokenizerFertilityBudgetMicro
      val oovBudget = TP.TokenizerOovBudgetMicro
      val docs = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "source", "text")
      val fresh = docs.filter(col("doc_id") >= DriftSplitAt)
      val doubled = fresh.withColumn("text",
        regexp_replace(lower(col("text")), "([a-z])", "$1$1"))
      // one planted word per token row: the monitors tokenize each
      // row's text, and the drift statistics are order-free per-token
      // sums, so a one-word-per-row delta measures identically to a
      // re-concatenated document
      val unseen = Sinks.loadTokenizer(spark, path)._2
        .wordSyms(fresh.select(col("source"),
          explode(expr(graft.text.TextOps.TokensExpr)).as("word")))
        .select(col("source"), expr("repeat('~', cast(syms as int))").as("text"))
      Seq(("doubled", doubled), ("fresh", fresh), ("unseen", unseen))
        .map { case (name, d) =>
          val (nt, sy, fert, oov) = TP.tokenizerDriftStats(d, path)
          (name, nt, sy, fert, oov, baseFert, baseOov,
            fert - baseFert, oov - baseOov,
            TP.tokenizerRouteOf(fert, baseFert, fertBudget,
              oov, baseOov, oovBudget))
        }
    }.toDF("delta", "n_tokens", "syms_total", "fertility_micro", "oov_micro",
        "baseline_micro", "baseline_oov_micro", "fert_drift_micro",
        "oov_drift_micro", "decision")
      .orderBy("delta")
  }

  /** q314 — the q200 manifest CITING its tokenizer (judge r16 task 1's
    * "q200's token counts cite the artifact fingerprint"): every
    * selected doc carries its piece total under the PUBLISHED unigram
    * tokenizer and the fingerprint of the exact version used — so a
    * consumer of the manifest can verify, not assume, which tokenizer
    * produced the counts it trains against. The piece totals run the
    * in-row Viterbi on the per-(doc, word) frame (the q308 no-join
    * shape); words outside the [1, UniMaxWordLen] coverage contract
    * count their characters (the monitor's fallback, stated rather
    * than silent). */
  def manifestTokenized(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${tokArtifactRoot(dir)}/unigram"
    graft.streaming.TrainingPipeline
      .trainAndPublishTokenizer(spark, dir, path, "unigram")
    val (cfg, uni: Tokenizer.Unigram) =
      graft.streaming.Sinks.loadTokenizer(spark, path)
    val manifest = trainingManifest(spark, dir)
    val docWords = graft.Tables.documents(spark, dir)
      .join(manifest.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
    val pieces = docWords
      .withColumn("np",
        when(length(col("word")).between(1, UniMaxWordLen),
          coalesce(
            element_at(uniDpCol(col("word"), uni.probs),
              length(col("word")) + lit(1)).getField("np").cast("long"),
            length(col("word")).cast("long")))
          .otherwise(length(col("word")).cast("long")))
      .groupBy("doc_id").agg(sum(col("np")).as("pieces_total"))
    manifest.join(pieces, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        coalesce(col("pieces_total"), lit(0L)).as("pieces_total"),
        lit(cfg.fingerprint).as("tok_fingerprint"))
      .orderBy("doc_id")
  }

  /** q307 — unigram-LM tokenizer training: the final vocabulary with
    * per-piece count (under the last hard-EM segmentation) and smoothed
    * micro probability. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramArtifacts(spark, dir)._1
      .toDF("piece", "is_char", "cnt", "p_micro")
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("is_char").cast("long").as("is_char"), col("cnt"), col("p_micro"))
      .orderBy("piece")
  }

  /** q308 — per-source fertility under the trained unigram tokenizer
    * (the q278/q305 face for the third tokenizer family): chars per
    * token vs Viterbi pieces per token. The per-word piece count is the
    * lattice's final n_pieces — no backtrack needed — computed INLINE on
    * the per-(source, word) frame: the in-row DP needs no join, so
    * nothing corpus-sized is ever broadcast (the prior shape broadcast
    * the per-DISTINCT-WORD lattice results — model-sized at sf0.x but
    * corpus-growing at 100 TB, the one such site in the repo; the
    * streaming monitor's [[graft.text.Tokenizer.Unigram]] column
    * always used this inline shape). */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, probs) = unigramArtifacts(spark, dir)
    val sw = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"),
        explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .filter(length(col("word")).between(1, UniMaxWordLen))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    sw.withColumn("dp", uniDpCol(col("word"), probs))
      .select(col("source"), col("word"), col("freq"),
        element_at(col("dp"), length(col("word")) + lit(1))
          .getField("np").cast("long").as("n_pieces"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("chars_total"),
        sum(col("freq") * col("n_pieces")).as("pieces_total"))
      .select(col("source"), col("n_tokens"), col("chars_total"),
        col("pieces_total"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * chars_total / n_tokens + 0.5d) AS BIGINT)")
          .as("base_fertility_micro"),
        expr("CAST(FLOOR(CAST(1000000 AS DOUBLE) * pieces_total / n_tokens + 0.5d) AS BIGINT)")
          .as("uni_fertility_micro"))
      .orderBy("source")
  }
}
