package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix-filtered EXACT set-similarity self-join (All-Pairs / SSJoin /
  * PPJoin family: Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06, Xiao
  * et al. WWW'08) over the 3-gram shingle sets — the third leg of the
  * near-dup pair stack:
  *
  *  - q24 `ngramJaccardPairs`: the QUADRATIC ground-truth anchor (joins
  *    every shared shingle; capped at verify SFs);
  *  - q25 `minhashLshPairs`: the probabilistic scale path (banded LSH
  *    candidates, overwhelming-probability completeness);
  *  - q204 THIS: the exact scale path — candidate generation from
  *    PREFIX postings only, with a completeness THEOREM instead of a
  *    probability: sort each doc's set by the global (df, element)
  *    order (rarest first) and keep the first n − ⌈t·n⌉ + 1 elements;
  *    any pair with J ≥ t must share a prefix element. Proof (SSJoin
  *    lemma): J ≥ t forces overlap o ≥ t·|x| and o ≥ t·|y|; if the
  *    smallest shared element e were outside x's prefix the whole
  *    intersection would sit in x's suffix of size ⌈t·|x|⌉ − 1 < o —
  *    contradiction; symmetrically for y, so e is in BOTH prefixes.
  *
  * Candidates therefore come from a self-join over ~(1−t)·n postings
  * per doc instead of all n, restricted by the size filter
  * t·|x| ≤ |y| ≤ |x|/t (necessary for J ≥ t), then verified EXACTLY —
  * output provably equals q24's. Rare-first ordering is also the
  * performance lever: prefixes prefer the corpus's rarest shingles, so
  * prefix-posting buckets are the smallest ones. No bucket cap here
  * (unlike the LSH path's [[DedupOps.DefaultMaxBucket]]): exact
  * completeness is the contract, so residual hot-prefix skew belongs
  * to AQE's skew-join handling, not to silent truncation.
  *
  * Scale: one groupBy(sh64) for df, one doc-partitioned window for the
  * prefix ranks, the skinny prefix self-join (doc_id, n, sh64 only —
  * the sets do NOT travel through candidate generation), and exact
  * verification joins the memoized per-doc arrays onto the candidate
  * list UNHINTED (the q25 discipline: a corpus-sized side must never
  * be forced to broadcast; AQE picks at runtime).
  */
object PrefixJoin {

  /** Fixed Jaccard threshold 0.7 = 7/10 — integer-exact prefix/size
    * arithmetic, and the final filter uses the same double compare as
    * q24 so the two paths are bit-identical. */
  private val TNum = 7
  private val TDen = 10

  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame =
    // the verified pair set is itself a session index artifact: q204
    // displays it, q242 aggregates it to source flows — memoized so the
    // prefix join runs once per (session, corpus), like the shingle
    // table it reads (the pair frame is near-dup-mass-sized, tiny
    // relative to the corpus)
    graft.Tables.memoCache(spark, s"ppjoin-pairs/$dir") {
      ppjoinPairsOf(DedupOps.docShingleArr(spark, dir)) // memo-cached input
    }

  /** The full join over any (doc_id, arr) set table (spec hook). */
  private[graft] def ppjoinPairsOf(withArr: DataFrame): DataFrame = {
    val sh = withArr.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh64"))
    val dfreq = sh.groupBy("sh64").agg(count(lit(1)).as("dfreq"))
    // prefix length p = n - ceil(t*n) + 1, ceil(7n/10) = (7n+9) div 10
    val w = Window.partitionBy("doc_id").orderBy(col("dfreq").asc, col("sh64").asc)
    val prefix = sh.join(dfreq, "sh64")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr(s"($TNum * n + ${TDen - 1}) div $TDen") + 1)
      .select("doc_id", "n", "sh64")
    val a = prefix.as("a"); val b = prefix.as("b")
    val cands = a.join(b,
        col("a.sh64") === col("b.sh64") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * TNum <= col("b.n") * TDen &&
          col("b.n") * TNum <= col("a.n") * TDen)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verified(withArr, cands)
  }

  /** Exact verification of candidate pairs against the per-doc shingle
    * arrays; the output filter and jaccard double mirror q24 exactly. */
  private[graft] def verified(withArr: DataFrame, cands: DataFrame): DataFrame = {
    val withA = withArr.select(col("doc_id").as("doc_a"), col("arr").as("sa"))
      .join(cands, "doc_a")
    withArr.select(col("doc_id").as("doc_b"), col("arr").as("sb"))
      .join(withA, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= TNum.toDouble / TDen)
      .orderBy("doc_a", "doc_b")
  }

  /** q264 — dedup threshold SENSITIVITY sweep: the decision table a
    * corpus builder reads before fixing the near-dup threshold — for
    * each candidate threshold t ≥ 0.7, how many verified pairs still
    * qualify, how many docs the PAIRWISE MIN-ID rule removes (doc_b of
    * any qualifying pair; the deterministic upper bound on greedy
    * keep-first removal — both engines apply the identical rule), and
    * what token share survives. Rides the MEMOIZED q204 pair ledger:
    * the ledger is complete for every t ≥ the build threshold 0.7, so
    * the sweep re-aggregates a tiny frame — no new pair generation.
    *
    * Scale: |thresholds| × |pairs| cross — pairs are near-dup-mass-
    * sized; the token table joins only the removed-doc ids. */
  def dedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thresholds = Seq(700000L, 750000L, 800000L, 850000L, 900000L, 950000L)
    val th = thresholds.toDF("threshold_micro")
    val pm = ppjoinPairs(spark, dir)
      .select(col("doc_b"),
        expr("CAST(FLOOR(1000000.0d * jaccard + 0.5d) AS BIGINT)").as("jm"))
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"CAST(size(${graft.text.TextOps.TokensExpr}) AS BIGINT)").as("n_tokens"))
    val qual = pm.crossJoin(broadcast(th))
      .filter(col("jm") >= col("threshold_micro"))
    val nPairs = qual.groupBy("threshold_micro")
      .agg(count(lit(1)).as("n_pairs"))
    val removed = qual.select("threshold_micro", "doc_b").distinct()
      .join(toks, col("doc_b") === col("doc_id"))
      .groupBy("threshold_micro")
      .agg(count(lit(1)).as("docs_removed"),
        sum(col("n_tokens")).as("tokens_removed"))
    val total = toks.agg(sum(col("n_tokens")).as("total_toks"))
    th.join(nPairs, Seq("threshold_micro"), "left_outer")
      .join(removed, Seq("threshold_micro"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("threshold_micro"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("docs_removed"), lit(0L)).as("docs_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        expr("""CAST(FLOOR(1000000.0d * (total_toks - COALESCE(tokens_removed, 0L))
               |  / total_toks + 0.5d) AS BIGINT)""".stripMargin.replace("\n", ""))
          .as("surviving_share_micro"))
      .orderBy("threshold_micro")
  }

  /** q206 — shingle CONTAINMENT pairs (quote / near-superset detection):
    * ordered pairs (a, b) with |Sa ∩ Sb| / |Sa| ≥ 3/4 — "at least 75% of
    * a's shingles also appear in b". The case Jaccard-threshold dedup
    * (q24/q25/q204) structurally misses: an eval question quoted inside
    * a long training document has tiny Jaccard (union is dominated by
    * the container) but containment ≈ 1. This is the pairwise
    * counterpart of q161's doc-vs-eval-set decontamination.
    *
    * Scale: the prefix-filter optimization is ONE-SIDED here — the
    * required overlap o ≥ ⌈t·|Sa|⌉ depends only on the contained side,
    * so only a's prefix (rare-first, length n − ⌈t·n⌉ + 1) is probed,
    * against the FULL postings of every other doc (the container's size
    * is unconstrained, so its postings cannot be pruned; the SSJoin
    * lemma argument applies to a's suffix alone). Verification is exact
    * on candidates, unhinted joins as in [[ppjoinPairs]]. */
  def containmentPairs(spark: SparkSession, dir: String,
                       minShingles: Long = 5L): DataFrame =
    // the verified containment ledger is a session index artifact
    // exactly like [[ppjoinPairs]]'s Jaccard ledger (same memo
    // rationale: near-dup-mass-sized output of the upstream dedup
    // stage, recomputed only once per (session, corpus))
    graft.Tables.memoCache(spark, s"containment-pairs/$minShingles/$dir") {
      containmentPairsOf(DedupOps.docShingleArr(spark, dir), minShingles)
    }

  private[graft] def containmentPairsOf(withArr: DataFrame,
                                        minShingles: Long): DataFrame = {
    // containment threshold 3/4; ceil(3n/4) = (3n+3) div 4
    val sh = withArr.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh64"))
    val dfreq = sh.groupBy("sh64").agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy("doc_id").orderBy(col("dfreq").asc, col("sh64").asc)
    val prefixA = sh.join(dfreq, "sh64")
      .filter(col("n") >= minShingles)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr("(3 * n + 3) div 4") + 1)
      .select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh64"))
    // size bound: the overlap can't exceed the container, so a container
    // smaller than ⌈t·na⌉ shingles can never qualify — pruned in the
    // candidate join, before the pair explosion
    val cands = prefixA
      .join(sh.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("sh64")), "sh64")
      .filter(col("doc_a") =!= col("doc_b") && col("nb") * 4 >= col("na") * 3)
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    val withA = withArr.select(col("doc_id").as("doc_a"), col("arr").as("sa"))
      .join(cands, "doc_a")
    withArr.select(col("doc_id").as("doc_b"), col("arr").as("sb"))
      .join(withA, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .filter(col("inter") * 4 >= col("na") * 3 && col("na") >= minShingles)
      .withColumn("containment_micro",
        expr("CAST(FLOOR(1000000.0 * inter / na + 0.5) AS BIGINT)"))
      .orderBy("doc_a", "doc_b")
  }

  /** Frozen ONE-SIDED prefix postings of an already-ingested corpus —
    * the q204 prefix index restated as a PERSISTENT ARTIFACT an ingest
    * path probes: (sh64, corpus_id, nb) rows for only the prefix
    * (rare-first, length n − ⌈t·n⌉ + 1) of each corpus doc's shingle
    * set, under the CORPUS's global (df, sh64) order.
    *
    * Completeness is one-sided (the [[containmentPairsOf]] argument):
    * for any fresh doc x and corpus doc y with J(x, y) ≥ t, the overlap
    * o ≥ ⌈t·|y|⌉; were no shared element in y's prefix, the whole
    * intersection would sit in y's suffix of size ⌈t·|y|⌉ − 1 < o —
    * contradiction. So probing ALL of x's shingles against these
    * postings can never miss a qualifying pair, and x needs NO prefix
    * of its own — no df lookup, no window rank — which is exactly what
    * lets the probe run as a stateless stream-static join in
    * [[graft.streaming.TrainingPipeline]]'s admission gate. */
  private[graft] def prefixPostingsOf(corpusArr: DataFrame): DataFrame = {
    val sh = corpusArr.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh64"))
    val dfreq = sh.groupBy("sh64").agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy("doc_id").orderBy(col("dfreq").asc, col("sh64").asc)
    sh.join(dfreq, "sh64")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr(s"($TNum * n + ${TDen - 1}) div $TDen") + 1)
      .select(col("sh64"), col("doc_id").as("corpus_id"), col("n").as("nb"))
  }

  /** q236 — INCREMENTAL exact set-similarity join (the q38/q154/q220
    * incremental-ingest pattern applied to q204): docs below `splitAt`
    * are the already-indexed corpus, the rest are the fresh batch, and
    * the output is every cross pair (fresh_id, corpus_id) with exact
    * 3-gram Jaccard ≥ 0.7 — the near-dup evidence an ingest gate
    * rejects on. Unlike the minhash layer inside `incrementalDedup`
    * (probabilistic completeness), this path carries q204's exact
    * completeness THEOREM into the incremental setting.
    *
    * Scale: the corpus side builds [[prefixPostingsOf]] ONCE (memoized
    * here; a persisted index artifact in production — rebuilt only when
    * the corpus grows enough to shift the df order, and an out-of-date
    * order only weakens PRUNING, never completeness, because the
    * one-sided lemma holds for any fixed per-doc prefix under any total
    * order). Fresh docs explode to (doc, sh64) and equi-join the
    * postings with the J ≥ t size filter (t·|x| ≤ |y| ≤ |x|/t) in the
    * join condition; candidates are verified exactly against the
    * memoized per-doc arrays with unhinted joins (the q25/q204
    * discipline — AQE picks broadcast vs shuffle at runtime). Probe
    * cost is O(batch shingles) joined against the smallest ~30% of
    * corpus postings; the corpus is never re-paired against itself. */
  def incrementalPpjoin(spark: SparkSession, dir: String,
                        splitAt: Long = 250L): DataFrame = {
    val withArr = DedupOps.docShingleArr(spark, dir)
    val corpusArr = withArr.filter(col("doc_id") < splitAt)
    val freshArr = withArr.filter(col("doc_id") >= splitAt)
    val postings = graft.Tables.memoCache(spark,
      s"ppjoin-prefix/$splitAt/$dir")(prefixPostingsOf(corpusArr))
    val probe = freshArr.select(col("doc_id").as("fresh_id"),
      size(col("arr")).cast("long").as("na"), explode(col("arr")).as("sh64"))
    val cands = probe.join(postings,
        Seq("sh64"))
      .filter(col("na") * TNum <= col("nb") * TDen &&
        col("nb") * TNum <= col("na") * TDen)
      .select("fresh_id", "corpus_id")
      .dropDuplicates("fresh_id", "corpus_id")
    val withF = freshArr.select(col("doc_id").as("fresh_id"), col("arr").as("sa"))
      .join(cands, "fresh_id")
    corpusArr.select(col("doc_id").as("corpus_id"), col("arr").as("sb"))
      .join(withF, "corpus_id")
      .select(col("fresh_id"), col("corpus_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .select(col("fresh_id"), col("corpus_id"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= TNum.toDouble / TDen)
      .orderBy("fresh_id", "corpus_id")
  }

  /** q242 — cross-source near-dup FLOW matrix: the q204 exact pair set
    * aggregated to source granularity — for every unordered source
    * pair, how many near-dup pairs cross it (and each pair's share of
    * the whole dup mass). The dashboard a curation team reads to see
    * WHO copies WHOM: a web source near-dupping a books source is
    * license trouble; a source near-dupping itself wants per-source
    * dedup before the global pass. Source pairs are canonicalized by
    * string order (least/greatest), so within-source flows land on the
    * diagonal (source_a = source_b).
    *
    * Scale: the heavy lifting is q204's prefix join (memoized within a
    * session via the shared shingle table); on top of it ride two
    * broadcast-able doc→source joins of the (small) pair set and a
    * bounded-domain aggregate — at most |sources|² rows out. */
  def dupFlowMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ppjoinPairs(spark, dir).select("doc_a", "doc_b")
    val src = graft.Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val labeled = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val totals = labeled.agg(count(lit(1)).as("n_all"))
    labeled.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(totals))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("CAST(FLOOR(1000000.0 * n_pairs / n_all + 0.5) AS BIGINT)")
          .as("share_micro"))
      .orderBy("source_a", "source_b")
  }

  /** q253 — DEDUP ROI report: what deduplication actually buys, per
    * source — raw token mass split into exact-dup copies (every doc
    * that is not the min-doc_id representative of its content hash,
    * the q22/q23 keep-rule), near-dup mass on top (the HIGHER side of
    * every exact-threshold q204 pair, counted only if not already an
    * exact copy — no double counting), and the EFFECTIVE remainder.
    * `dup_tax_micro` is the fraction of the source's tokens a training
    * run would re-see without dedup — the number that justifies the
    * dedup pipeline's cost, read per source to find who ships the
    * redundancy.
    *
    * Scale: one narrow stats+hash map, a content-hash partial agg for
    * representatives, the MEMOIZED q204 pair frame for the near side
    * (skinny doc_b id set), one bounded per-source rollup. */
  def dedupRoi(spark: SparkSession, dir: String): DataFrame = {
    // Opt r19 (guide §2.4): the narrow per-doc proxy feeds two consumers
    // that prune differently (reps drops source/n_tokens), so the text
    // scan + per-doc stats + md5 ran twice per execution. The eager
    // localCheckpoint materializes the ~40-byte-per-doc proxy once —
    // the §8 decide-with-small-rows shape: text is read exactly once.
    val docs = graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        expr("CAST(graft_text_stats(text).n_tokens AS BIGINT)").as("n_tokens"),
        md5(col("text")).as("fp"))
      .localCheckpoint()
    val reps = docs.groupBy("fp").agg(min(col("doc_id")).as("rep_id"))
    val nearIds = ppjoinPairs(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("is_near", lit(1L))
    docs.join(reps, "fp")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"),
        when(col("doc_id") =!= col("rep_id"), 1L).otherwise(0L).as("exact_rm"),
        when(col("doc_id") === col("rep_id") && col("is_near").isNotNull, 1L)
          .otherwise(0L).as("near_rm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("exact_rm") * col("n_tokens")).as("exact_dup_tokens"),
        sum(col("near_rm") * col("n_tokens")).as("near_dup_tokens"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("exact_dup_tokens"), col("near_dup_tokens"),
        (col("raw_tokens") - col("exact_dup_tokens") - col("near_dup_tokens"))
          .as("effective_tokens"),
        expr("CAST(FLOOR(1000000.0 * (exact_dup_tokens + near_dup_tokens) / raw_tokens + 0.5) AS BIGINT)")
          .as("dup_tax_micro"))
      .orderBy("source")
  }

  /** q256 — DEDUP-INDEX MAINTENANCE DIFF: the near-dup pair sets of
    * two corpus snapshots (old = doc_id % 23 ≠ 0, new = doc_id % 29 ≠ 0
    * — the q180 derivable-snapshot rule applied to documents)
    * full-outer diffed into `appeared` / `vanished` pairs. This is the
    * ledger an incremental dedup index maintains when membership
    * changes: content is immutable here, so EVERY diff row must be
    * explained by a membership change at one of its endpoints — the
    * invariant the spec pins (an unexplained diff row would mean the
    * index maintenance corrupted pairs between untouched docs).
    *
    * Scale: ONE prefix join — the shared q204 ledger — plus two
    * membership filters and a skinny full-outer diff keyed on the
    * pair. Because the verified pair set is the pure pairwise
    * predicate J ≥ t (completeness theorem + exact verification, df
    * order only shapes candidates), a snapshot's pairs are EXACTLY
    * the full ledger's rows whose endpoints are both members — at
    * real scale the old side is the PERSISTED pair ledger, and only
    * the delta docs' probes run (the q236 incremental path). */
  def pairDiff(spark: SparkSession, dir: String,
               oldMod: Long = 23L, newMod: Long = 29L): DataFrame = {
    // Opt r19 (guide §1.2 "don't compute things twice"): a snapshot's
    // pair set IS the full ledger restricted to its membership. The
    // verified PPJoin output is the exact pairwise predicate
    // J(a,b) ≥ t — df ordering steers only CANDIDATE generation, and
    // the completeness theorem holds within any subset — so
    // ppjoinPairsOf(docs where id % m ≠ 0) ≡ fullPairs where BOTH
    // endpoints satisfy id % m ≠ 0, row for row. The old shape built
    // two more full prefix joins (one per snapshot memo, ~4.5 s of the
    // session's cold block); this derives both snapshots from the ONE
    // ledger q204/q242/q264 already share. Round19Spec pins the
    // equivalence against a from-scratch snapshot PPJoin.
    def snapPairs(mod: Long): DataFrame =
      ppjoinPairs(spark, dir)
        .filter(col("doc_a") % mod =!= 0L && col("doc_b") % mod =!= 0L)
    val oldPairs = snapPairs(oldMod)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_old"))
    val newPairs = snapPairs(newMod)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_new"))
    oldPairs.join(newPairs, Seq("doc_a", "doc_b"), "full_outer")
      .filter(col("in_old").isNull || col("in_new").isNull)
      .select(col("doc_a"), col("doc_b"),
        when(col("in_old").isNull, "appeared").otherwise("vanished").as("op"))
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate-pair counts for the pruning spec: (prefix-filtered
    * candidates, all shared-shingle pairs). The first must contain every
    * qualifying pair (theorem) and be strictly smaller than the second
    * on any corpus where pruning matters. */
  private[graft] def candidateCounts(spark: SparkSession, dir: String): (Long, Long) = {
    val withArr = DedupOps.docShingleArr(spark, dir)
    val sh = withArr.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh64"))
    val dfreq = sh.groupBy("sh64").agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy("doc_id").orderBy(col("dfreq").asc, col("sh64").asc)
    val prefix = sh.join(dfreq, "sh64")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr(s"($TNum * n + ${TDen - 1}) div $TDen") + 1)
      .select("doc_id", "n", "sh64")
    def pairs(p: DataFrame, sizeFilter: Boolean): Long = {
      val a = p.as("a"); val b = p.as("b")
      val cond = col("a.sh64") === col("b.sh64") && col("a.doc_id") < col("b.doc_id")
      val full = if (sizeFilter)
        cond && col("a.n") * TNum <= col("b.n") * TDen &&
          col("b.n") * TNum <= col("a.n") * TDen
      else cond
      a.join(b, full)
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    }
    (pairs(prefix, sizeFilter = true), pairs(sh, sizeFilter = false))
  }
}
