package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Interactive analytics — the reference's Spring "publisher" REST queries
  * re-expressed as DataFrame queries over the materialized tables.
  *
  * Reference semantics reproduced (citations into /root/reference/):
  *  - F4 keyword match: ES bool query `filter(term) + must(match operator=AND)`
  *    — every analyzed token must match:
  *    gmall-publisher/src/main/java/com/atguigu/gmallpublisher/service/impl/PublisherServiceImpl.java:82-87.
  *    Token-boundary semantics (SURVEY §7 hard parts): lowercase WHOLE
  *    token match (standard-analyzer parity), AND across tokens.
  *  - O2 pagination: `from = (page-1)*size, size`: PublisherServiceImpl.java:97-99
  *  - A10/O3 terms agg top-k ordered by doc count: PublisherServiceImpl.java:89-95
  *  - A11/X6 banding + ratio `Math.round(x*1000/total)/10` with the third
  *    bucket computed as the complement `100 − a − b`:
  *    PublisherServiceImpl.java:125-183
  *  - W2 today-vs-yesterday hour pairing: controller fetches `date` and
  *    `date-1d` maps: gmall-publisher/.../Controller.java:76-100
  *
  * Determinism: ratios use `floor(x*1000/total + 0.5)/10` — Java
  * `Math.round` semantics, bit-identical across engines; top-k and
  * pagination carry total tie-break orders (SURVEY §7).
  */
object Publisher {

  /** q205 query terms — the multi-term ranked-retrieval analog of the
    * reference's full-text search surface. */
  val Bm25Terms: Seq[String] = Seq("spark", "query", "join")

  /** q205 — BM25 ranked retrieval over the documents table (Robertson &
    * Walker's Okapi BM25 with the Lucene idf form `ln(1 + (N−df+0.5)/
    * (df+0.5))`, k1 = 1.2, b = 0.75): the scoring layer the reference's
    * ES keyword search (F4/q09) lacks — boolean match finds documents,
    * BM25 orders them.
    *
    * Determinism: each per-(doc, term) score is micro-rounded BEFORE
    * the per-doc sum (q152/q203 discipline — the only float fold is one
    * literal-identical expression both engines evaluate per row), so
    * the aggregate is an integer add and the final ordering compares
    * BIGINTs with a doc_id tie-break. The expression text is shared
    * verbatim between the Spark plan and the DuckDB oracle.
    *
    * Scale: per-term tf is an IN-ROW array count (no token explode —
    * the query has a fixed handful of terms, so tf columns beat a
    * corpus-wide token shuffle); corpus stats (N, Σdl, per-term df) are
    * ONE partial-agg pass collapsing to a single broadcast row; the
    * top-k is TakeOrdered (per-partition heads + driver merge), never a
    * global sort. */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    // single-row-group parquet: spread BEFORE the tokenize projection
    bm25Core(Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism), Bm25Terms, k)

  private[graft] def bm25Core(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id") +: expr(graft.text.TextOps.TokensExpr).as("toks") +: Nil: _*)
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)").as(s"tf$i")
        }: _*)
    val aggCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(aggCols.head, aggCols.tail: _*)
    val termScore = terms.indices.map(i => bm25TermExpr(i)).mkString(" + ")
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        expr(termScore).as("score_micro"))
      .filter(col("score_micro") > 0)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** q240 — retrieval-quality EVAL of the q205 BM25 ranking: graded
    * nDCG@10 and full-match MRR against DERIVABLE relevance labels
    * (rel = Σ min(tf, 3) over the query terms, graded 0–9 — so nDCG
    * asks "does the ranker put high-tf multi-term docs first?", which
    * BM25's tf saturation and length normalization do NOT guarantee;
    * verified non-degenerate: the corpus's best-BM25 doc is not its
    * best-labeled doc, so a ranking bug moves the metric). The evaluation
    * stage every retrieval pipeline (RAG indexing, dedup-aware search)
    * runs before trusting its ranker.
    *
    * Determinism: gains (2^rel − 1) are CASE literals, rank discounts
    * 1/log₂(r+1) are PLAN-TIME double literals shared verbatim with
    * the oracle (the q29 plane-literal precedent — Double.toString
    * round-trips losslessly), each DCG term is nano-rounded BEFORE the
    * order-free integer sum, and nDCG is one final integer-ratio
    * division. No libm call happens at query time in either engine.
    *
    * Scale: label scan is one narrow map; the ideal list is a global
    * top-10 (TakeOrdered); metrics fold 10 rows. The ranked side
    * reuses the q205 plan unchanged. */
  def retrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    // Opt r19 (guide §2.4): the per-doc relevance labels feed BOTH the
    // ranked-side join and the ideal-DCG leg — two full tokenize passes
    // for one narrow (doc_id, rel) table. The eager localCheckpoint
    // materializes it once (16 bytes/doc — the §8 small-rows shape).
    val rels = docs
      .select(col("doc_id") +: expr(graft.text.TextOps.TokensExpr).as("toks") +: Nil: _*)
      .select(col("doc_id"), Bm25Terms.map(t =>
        expr(s"LEAST(size(filter(toks, x -> x = '$t')), 3)"))
        .reduce(_ + _).cast("long").as("rel"))
      .localCheckpoint()
    val ranked = bm25Core(docs, Bm25Terms, k)
      .join(rels, "doc_id")
      .withColumn("r", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .withColumn("gain_nano", expr(dcgTermExpr))
    val ideal = rels.orderBy(col("rel").desc, col("doc_id").asc).limit(k)
      .withColumn("r", row_number().over(
        Window.orderBy(col("rel").desc, col("doc_id").asc)).cast("long"))
      .withColumn("gain_nano", expr(dcgTermExpr))
      .agg(sum(col("gain_nano")).as("idcg_nano"))
    ranked
      .agg(count(lit(1)).as("k_eval"),
        sum(col("gain_nano")).as("dcg_nano"),
        coalesce(min(when(col("rel") === 9L, col("r"))), lit(0L)).as("first_full"))
      .crossJoin(broadcast(ideal))
      .select(col("k_eval"), col("dcg_nano"), col("idcg_nano"),
        expr("CAST(FLOOR(1000000.0 * CAST(dcg_nano AS DOUBLE) / CAST(idcg_nano AS DOUBLE) + 0.5) AS BIGINT)")
          .as("ndcg_micro"),
        col("first_full"),
        expr("CASE WHEN first_full = 0 THEN CAST(0 AS BIGINT) ELSE CAST(FLOOR(1000000.0 / first_full + 0.5) AS BIGINT) END")
          .as("mrr_full_micro"))
  }

  /** q246 — HYBRID retrieval by Reciprocal Rank Fusion (Cormack et al.
    * SIGIR'09): the q205 lexical (BM25) ranking fused with a vector
    * ranking (cosine neighbors of a fixed anchor embedding, the q27
    * contract) by RRF score Σ 1/(60 + rank) — the
    * "more-like-this AND matches-the-keywords" query every hybrid
    * search stack (RAG retrieval, dedup-aware search) serves. Docs on
    * only one list still score (the other list contributes 0); the
    * `in_lex`/`in_vec` flags make the fusion auditable.
    *
    * Determinism: both input rankings are already bit-reproducible
    * (q205's integer scores; q27's bit-identical cosines) with total
    * tie-break orders; each RRF contribution micro-rounds 1/(60+r)
    * from an integer rank — one double division, then integer adds.
    *
    * Scale: two top-`depth` lists (TakeOrdered each), a full-outer
    * join of two depth-row frames, one more TakeOrdered — the fusion
    * itself never touches corpus-sized data. */
  def hybridRrf(spark: SparkSession, dir: String, k: Int = 10,
                depth: Int = 50, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val lex = bm25Core(docs, Bm25Terms, depth)
      .withColumn("rl", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"),
        expr(s"CAST(FLOOR(1000000.0 / ($rrfK + rl) + 0.5) AS BIGINT)").as("lex_micro"))
    val vec = graft.vector.VectorOps.cosineTopK(spark, dir, 0L, depth)
      .withColumn("rv", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"),
        expr(s"CAST(FLOOR(1000000.0 / ($rrfK + rv) + 0.5) AS BIGINT)").as("vec_micro"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("lex_micro").isNotNull, 1L).otherwise(0L).as("in_lex"),
        when(col("vec_micro").isNotNull, 1L).otherwise(0L).as("in_vec"),
        (coalesce(col("lex_micro"), lit(0L)) + coalesce(col("vec_micro"), lit(0L)))
          .as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** One DCG term, nano-rounded: (2^rel − 1) as CASE literals ×
    * 1/log₂(r+1) as plan-time double literals — shared verbatim with
    * the oracle so no query-time libm call exists in either engine. */
  private[graft] def dcgTermExpr: String = {
    val gains = (0 to 9).map(v =>
      s"WHEN $v THEN ${((1 << v) - 1).toDouble}").mkString(" ")
    val discounts = (1 to 10).map { r =>
      s"WHEN $r THEN ${1.0 / (math.log(r + 1.0) / math.log(2.0))}"
    }.mkString(" ")
    s"""CAST(FLOOR(1000000000.0
       | * (CASE rel $gains ELSE 0.0 END)
       | * (CASE r $discounts ELSE 0.0 END)
       | + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")
  }

  /** The per-term BM25 micro-score — ONE expression string shared
    * verbatim with the oracle SQL (column names included), so both
    * engines run the identical IEEE sequence before the floor. */
  private[graft] def bm25TermExpr(i: Int): String =
    s"""CAST(FLOOR(1000000.0
       | * LN(1.0 + (CAST(n AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))
       | * (tf$i * 2.2)
       | / (tf$i + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
       | + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")

  /** The F4 match semantics as a reusable predicate: every analyzed
    * (lowercased) token of the keyword must appear in the column AS A
    * WHOLE TOKEN — mirroring the ES standard analyzer, which indexes
    * whole alphanumeric tokens, so "widget" does NOT match "widgetry"
    * (substring containment, the previous approximation, did). Each
    * keyword token becomes an anchored regex
    * `(^|[^a-z0-9])tok([^a-z0-9]|$)` over the lowercased column; tokens
    * are stripped to [a-z0-9] exactly as the standard analyzer would.
    * A keyword with no alphanumeric characters analyzes to zero tokens —
    * ES matches nothing on an empty analyzed query, so this returns a
    * constant false predicate rather than throwing on the empty reduce. */
  def keywordPredicate(c: org.apache.spark.sql.Column, keyword: String): org.apache.spark.sql.Column = {
    val tokens = keyword.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    if (tokens.isEmpty) lit(false)
    else tokens
      .map(t => lower(c).rlike(s"(^|[^a-z0-9])$t([^a-z0-9]|$$)"))
      .reduce(_ && _)
  }

  /** The parts whose name matches `keyword` ([[keywordPredicate]]). */
  private[ops] def keywordHits(spark: SparkSession, dir: String, keyword: String): DataFrame =
    Tables.part(spark, dir).filter(keywordPredicate(col("p_name"), keyword))

  /** Page `page` (1-based) of `hits` in part-key order. */
  private[ops] def hitsPage(hits: DataFrame, page: Int, pageSize: Int): DataFrame =
    hits
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy("p_partkey")
      .offset((page - 1) * pageSize)
      .limit(pageSize)

  /** F4 + O2: full-text-ish keyword search over part names with
    * deterministic pagination (page 2, size 10). */
  def keywordSearch(spark: SparkSession, dir: String,
                    keyword: String = "small widget",
                    page: Int = 2, pageSize: Int = 10): DataFrame =
    hitsPage(keywordHits(spark, dir, keyword), page, pageSize)

  /** A10/O3: top-k part keys by sale count (terms aggregation), doc-count
    * descending with key ascending as the tie-break. */
  def topSellers(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("l_partkey").asc)
      .limit(k)

  /** Java Math.round(x) for non-negative doubles, bit-identical in Spark
    * and DuckDB: floor(x + 0.5). */
  private def javaRound(c: org.apache.spark.sql.Column) = floor(c + 0.5)

  /** One A11/X6 percentage block over the customers: a bucket per
    * (name, predicate) plus a `rest` bucket, the complement of the
    * others, so the block always sums to 100.0. */
  private[ops] final case class RatioBlock(
      buckets: Seq[(String, org.apache.spark.sql.Column)], rest: String)

  /** Account-balance tiers, the age-band analog on this schema. */
  private[ops] val BalanceBands = RatioBlock(Seq(
    "low" -> (col("c_acctbal") < 3000),
    "mid" -> (col("c_acctbal") >= 3000 && col("c_acctbal") < 7000)), rest = "high")

  /** One market segment against the rest, the gender-ratio analog. */
  private[ops] def segmentBlock(segment: String) =
    RatioBlock(Seq("seg" -> (col("c_mktsegment") === segment)), rest = "rest")

  /** One row with a `<bucket>_ratio` column per bucket of `blocks`, all
    * from one aggregate over the customer table. Each bucket's count
    * becomes `Math.round(count*1000/total)/10` and each block's `rest`
    * is 100 minus its other buckets (the reference's rounding,
    * PublisherServiceImpl.java:125-183). */
  private[ops] def customerRatios(spark: SparkSession, dir: String,
                                  blocks: RatioBlock*): DataFrame = {
    val names = blocks.flatMap(_.buckets.map(_._1))
    val counts = blocks.flatMap(_.buckets).map { case (n, p) =>
      sum(when(p, 1).otherwise(0)).as(s"${n}_ct") }
    Tables.customer(spark, dir)
      .agg(count(lit(1)).as("total"), counts: _*)
      .select(names.map(n =>
        (javaRound(col(s"${n}_ct") * 1000.0 / col("total")) / 10.0).as(s"${n}_ratio")): _*)
      .select(blocks.flatMap { b =>
        val ratios = b.buckets.map { case (n, _) => col(s"${n}_ratio") }
        ratios :+ ratios.foldLeft(lit(100.0))(_ - _).as(s"${b.rest}_ratio")
      }: _*)
  }

  /** A11 + X6: 3-band breakdown with one-decimal percentages; the last
    * band is the complement so the three always sum to 100.0 (the
    * reference's age-band math, PublisherServiceImpl.java:125-153). Bands
    * are account-balance tiers on this schema. */
  def balanceBandRatio(spark: SparkSession, dir: String): DataFrame =
    customerRatios(spark, dir, BalanceBands)

  /** A11 gender-ratio analog: one market segment vs the rest, complement
    * rounding (PublisherServiceImpl.java:155-183). */
  def segmentRatio(spark: SparkSession, dir: String, segment: String = "BUILDING"): DataFrame =
    customerRatios(spark, dir, segmentBlock(segment))

  /** Top-k per group (the grouped variant of A10/O3): top 3 customers by
    * total spend within each nation — rank inside the group after a
    * partial-aggregated rollup, deterministic tie-break on the key. */
  /** Per-customer spend joined to nation — shared base of the window
    * (q42) and custom-operator (q63) top-k formulations. */
  private def spendWithNation(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    spend
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey")), Seq("user_id"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
  }

  def topSpendersPerNation(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name").orderBy(col("spend").desc, col("user_id").asc)
    spendWithNation(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("n_name").as("nation"), col("rk").cast("long").as("rk"),
        col("user_id"), col("spend"))
      .orderBy("nation", "rk")
  }

  /** q42's semantics through the CUSTOM grouped-top-k operator
    * ([[graft.plans.GroupTopK]]): bounded heaps instead of a full
    * per-group sort, shuffle carries ≤ k rows per (group, partition).
    * Shares q42's DuckDB oracle — the custom physical operator is held
    * to the identical bit-exact result. */
  def topSpendersPerNationCustom(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val base = spendWithNation(spark, dir)
      .select(col("n_name").as("nation"), col("user_id"), col("spend"))
    graft.plans.GroupTopK(base, Seq("nation"),
        Seq(col("spend").desc, col("user_id").asc), k)
      .select(col("nation"), col("rk"), col("user_id"), col("spend"))
      .orderBy("nation", "rk")
  }

  /** Exact interpolated percentiles per group. The HEADLINE name runs the
    * scale-safe histogram plan ([[revenuePercentilesScalable]]) — the
    * shuffle is bounded by the distinct price domain, never buffering
    * fact-scale groups in executor memory. The buffering
    * `percentile`-aggregate form survives as
    * [[revenuePercentilesBuffering]], pinned equal (±1 ulp on lerped
    * values) by CoreOpsSpec as a cross-implementation check. */
  def revenuePercentiles(spark: SparkSession, dir: String): DataFrame =
    revenuePercentilesScalable(spark, dir)

  /** The buffering exact form: Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition
    * (index p·(n−1), lerp between neighbors). SCALE NOTE: `percentile` is
    * a TypedImperativeAggregate that buffers every group value in executor
    * memory — correct but an OOM against fact-scale groups, which is why
    * the registered q43 runs the histogram plan and this form is
    * spec-only. */
  def revenuePercentilesBuffering(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5d)").as("p50"),
        expr("percentile(l_extendedprice, 0.95d)").as("p95"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** [[revenuePercentiles]] via the exact scale path: lerp percentiles
    * from a (flag, price) histogram ([[Percentiles.fromHistogram]]). The
    * shuffle carries one row per DISTINCT price per flag — the TPC-H
    * price domain is catalog-bounded (part retail prices × quantities,
    * ~10M distinct at any SF) — instead of buffering every fact row per
    * group like Spark's exact `percentile`. Oracle mirrors the lerp
    * op-for-op. */
  def revenuePercentilesScalable(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    graft.ops.Percentiles.fromHistogram(hist, "l_returnflag",
        Seq("p50" -> 0.5, "p95" -> 0.95))
      .select(col("l_returnflag"), col("p50"), col("p95"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Sketch percentiles — the 100 TB path for [[revenuePercentiles]]:
    * approx_percentile (KLL-style mergeable sketch), single pass, bounded
    * memory per group. No oracle (sketch implementations differ);
    * rows-only check. */
  def revenuePercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5d, 1000)").as("p50_approx"),
        expr("approx_percentile(l_extendedprice, 0.95d, 1000)").as("p95_approx"))
      .orderBy("l_returnflag")

  /** Default per-stratum sampling fractions shared by both stratified
    * samplers AND SparkEntry's q45 oracle SQL (one source of truth — the
    * oracle CASE expression is generated from this map). */
  private[graft] val DefaultStrataFractions: Map[String, Double] = Map(
    "click" -> 0.5, "view" -> 0.5, "purchase" -> 1.0,
    "signup" -> 0.1, "error" -> 0.1)

  /** Renders fraction `f` as the 8-hex-digit md5-prefix threshold:
    * a row is kept iff substring(md5(key),1,8) < threshold, i.e. iff the
    * first 32 hash bits fall below floor(f·2³²). Hex digits compare in
    * numeric order under ASCII, so the predicate is identical in Spark
    * and DuckDB; "g" sorts above every hex digit and encodes f ≥ 1
    * (keep everything). */
  private[graft] def hashThreshold(f: Double): String =
    if (f >= 1.0) "g" else f"${(f * 4294967296.0).toLong}%08x"

  /** Deterministic FRACTIONAL stratified sampler — the q45 headline.
    * Keep a row iff its md5-prefix uniform draw falls under the stratum's
    * threshold ([[hashThreshold]]): an order-free, shuffle-free per-row
    * predicate that reproduces bit-for-bit across engines, reruns,
    * partitionings, and cluster sizes (the property the seeded Bernoulli
    * [[stratifiedSample]] can't give, which is why that variant is now
    * spec-only). At 100 TB this is a narrow filter fused into the scan —
    * no state, no shuffle; the tiny count rollup after it is the report,
    * not the sample. */
  def stratifiedSampleDeterministic(spark: SparkSession, dir: String,
                                    fractions: Map[String, Double] =
                                      DefaultStrataFractions): DataFrame = {
    val thr = fractions.toSeq.sortBy(_._1).map { case (t, f) =>
      (t, hashThreshold(f)) }
    val thrCol = thr.foldLeft(lit("")) { case (acc, (t, h)) =>
      when(col("event_type") === t, lit(h)).otherwise(acc) }
    Tables.events(spark, dir)
      .withColumn("h8", substring(md5(col("event_id").cast("string")), 1, 8))
      .filter(col("h8") < thrCol)
      .groupBy("event_type")
      .agg(count(lit(1)).as("sampled_ct"))
      .orderBy("event_type")
  }

  /** Stratified sampling by event type (seeded, deterministic per run
    * config) — the class-balancing step of a training-data pipeline.
    * Spark's per-row Bernoulli draw isn't reproducible in another engine,
    * so the registered q45 runs [[stratifiedSampleDeterministic]] and
    * this variant is spec-only (the unit test pins determinism — same
    * seed ⇒ same sample — and per-stratum fraction tolerance). */
  def stratifiedSample(spark: SparkSession, dir: String,
                       fractions: Map[String, Double] = DefaultStrataFractions,
                       seed: Long = 42L): DataFrame =
    Tables.events(spark, dir)
      .stat.sampleBy("event_type", fractions, seed)
      .groupBy("event_type")
      .agg(count(lit(1)).as("sampled_ct"))
      .orderBy("event_type")

  /** Deterministic stratified sampling by content hash: rank rows inside
    * each stratum by md5(key) and keep the first `perStratum` — the
    * reproducible-across-engines (and across reruns, partitionings, and
    * cluster sizes) sampler, complementing the seeded Bernoulli
    * [[stratifiedSample]] whose draws are engine-specific. At scale the
    * rank-within-stratum is one shuffle; for quantile-free fixed-rate
    * sampling the same idea degrades to `md5(key) < threshold` with no
    * shuffle at all. */
  def hashStratifiedSample(spark: SparkSession, dir: String,
                           perStratum: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perStratum)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("source", "rk")
  }

  /** Event-type co-occurrence (market-basket support counts): for every
    * unordered pair of event types, how many users exhibit BOTH — the
    * support matrix association mining and recsys co-visitation start
    * from. Shape at scale: the distinct (user, type) projection partial-
    * aggregates map-side (≤ |types| rows per user), the self-join is
    * keyed on user with per-user fan-out bounded by |types|² — never a
    * corpus×corpus blowup — and the final count is one hash aggregate
    * over pair keys. */
  def eventCooccurrence(spark: SparkSession, dir: String): DataFrame =
    cooccurrenceCore(Tables.events(spark, dir))

  private[graft] def cooccurrenceCore(events: DataFrame): DataFrame = {
    val ut = events
      .select(col("user_id"), col("event_type")).distinct()
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("type_a", "type_b")
  }

  /** Frequency-sketch heavy hitters: a Count-Min sketch of event_type
    * built in one mergeable aggregate pass (the frequency member of the
    * sketch family, alongside HLL distinct q61 and approx-percentile
    * q44), probed by the custom graft_cms_estimate expression next to
    * the exact counts. At 100 TB the sketch is the only thing the
    * estimate pass needs — fixed ~ceil(e/eps)·ceil(ln(1/δ)) counters
    * regardless of cardinality, partial-aggregated map-side and unioned
    * by + like any sum. CMS never underestimates; the spec bounds the
    * overestimate at eps·N. Rows-only check (sketch layout is
    * engine-specific), exact twin in the same output. */
  def heavyHittersSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sk = ev.agg(expr("count_min_sketch(event_type, 0.0001d, 0.99d, 42)").as("sk"))
    ev.groupBy("event_type").agg(count(lit(1)).as("exact_ct"))
      .crossJoin(broadcast(sk))
      .select(col("event_type"), col("exact_ct"),
        expr("graft_cms_estimate(sk, event_type)").as("est_ct"))
      .orderBy("event_type")
  }

  /** Oracle-checkable EXACT-TWIN projection of [[heavyHittersSketch]]:
    * the `exact_ct` column that rides next to the CMS estimate, without
    * the engine-specific sketch column. Hash-verifying it pins the twin
    * that SketchesSpec bounds the estimate against, so the rows-only
    * status of q75 covers only the sketch layout itself. */
  def heavyHittersExact(spark: SparkSession, dir: String): DataFrame =
    heavyHittersSketch(spark, dir).select(col("event_type"), col("exact_ct"))
      .orderBy("event_type")

  /** Ordered conversion funnel view → click → purchase: each stage's
    * entry time is the user's first qualifying event STRICTLY AFTER the
    * previous stage's entry (not merely "did both events ever happen").
    * Three filtered min-aggregates chained by joins — each pass pushes
    * its event_type predicate to the scan, aggregates map-side to one
    * row per user, and joins on the (already-compact) user key; no
    * window sort, no per-user event collection. The stage column counts
    * how deep the user got (1-3). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def firstAfter(eventType: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === eventType)
        .join(prev.select(col("user_id"), col(prevTs)), Seq("user_id"))
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id").agg(min(col("ts")).as(outTs))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val c = firstAfter("click", v, "view_ts", "click_ts")
    val p = firstAfter("purchase", c, "click_ts", "purchase_ts")
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(
        col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        (lit(1L) + col("click_ts").isNotNull.cast("long")
          + col("purchase_ts").isNotNull.cast("long")).as("stage"))
      .orderBy("user_id")
  }

  /** Grouped argmax via ONE max(struct(...)) aggregate — the mode
    * (most-frequent value) per key without a rank+filter second pass:
    * struct comparison is lexicographic, so max over
    * (count, tie-break, value) picks the winner in the same partial-
    * aggregatable pass that counts. Tie rule: higher count wins, then
    * lexicographically LAST event_type (max over the struct) —
    * explicit, so the oracle pins it. */
  def favoriteEventType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("ct"))
      .groupBy("user_id")
      .agg(max(struct(col("ct"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.event_type").as("fav_event_type"),
        col("m.ct").as("fav_ct"))
      .orderBy("user_id")

  /** Explicit left-semi join (EXISTS): customers who placed at least one
    * order in the window — the build side is pre-filtered and only keys
    * cross the shuffle (no payload duplication, no row explosion, unlike
    * an inner-join + distinct). */
  def activeCustomers(spark: SparkSession, dir: String,
                      from: String = "1995-01-01", until: String = "1996-01-01"): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
            col("o_orderdate") < lit(until).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** INTERSECT set op (§2.10 beyond union): users active on BOTH days —
    * the day-over-day retention set. Spark plans intersect as a
    * distinct + semi-join, so only distinct keys shuffle. */
  def retainedUsers(spark: SparkSession, dir: String,
                    day: String = Dau.Day, prev: String = Dau.PrevDay): DataFrame = {
    def active(d: String) = Tables.events(spark, dir)
      .filter(Dau.dayRange(col("ts"), d)).select(col("user_id"))
    active(day).intersect(active(prev)).orderBy("user_id")
  }

  /** W2: hourly event counts for `day` paired with the previous day —
    * a single scan with two conditional aggregates (no self-join). */
  def todayVsYesterday(spark: SparkSession, dir: String,
                       day: String = Dau.Day, prev: String = Dau.PrevDay): DataFrame =
    hourPairs(spark, dir, day, prev).orderBy("lh")

  /** [[todayVsYesterday]]'s aggregate, rows in no particular order. */
  private[ops] def hourPairs(spark: SparkSession, dir: String,
                             day: String, prev: String): DataFrame =
    Tables.events(spark, dir)
      .filter(Dau.dayRange(col("ts"), prev) || Dau.dayRange(col("ts"), day))
      .withColumn("log_date", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(date_format(col("ts"), "HH").as("lh"))
      .agg(
        sum(when(col("log_date") === day, 1).otherwise(0)).as("today_ct"),
        sum(when(col("log_date") === prev, 1).otherwise(0)).as("yesterday_ct"))

  /** RFM customer segmentation: recency (days since last order as of
    * [[RfmAsOf]]), frequency (order count), monetary (decimal-exact
    * spend), each banded into quartiles, reported as segment sizes.
    *
    * Quartile banding via ntile would need a global-order window (one
    * partition holding every customer). Instead the engine computes the
    * three quartile BOUNDARIES with the exact `percentile` aggregate
    * (single pass, mergeable buffers) and bands by comparison against the
    * broadcast 1-row boundary frame — fully parallel, no global sort, and
    * deterministic: the lerp percentile definition is the engine/oracle
    * contract (proven by q43), and band edges compare identical doubles.
    * Scores: 4 = best (most recent / most frequent / highest spend). */
  val RfmAsOf = "1998-08-02"
  /** q207 — exponential time-decay customer value (half-life 180 days,
    * reference date 2001-09-01): each order contributes
    * `cents · 2^(−age/180)`, the standard recency-decayed monetary
    * feature (a smooth refinement of q79's banded R×M). Determinism: the
    * order amount goes to INTEGER cents first (q198 discipline), the
    * single libm call (POWER) is rounded to integer decayed-cents PER
    * ORDER, and the per-customer aggregate is an order-free BIGINT sum.
    * Scale: one pushed-projection scan → narrow map → one partial-agg
    * groupBy(custkey) → TakeOrdered(25); no window, no join. */
  def decayedCustomerValue(spark: SparkSession, dir: String,
                           k: Int = 25): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        datediff(lit("2001-09-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("age"),
        expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").as("vc"))
      .select(col("o_custkey"),
        col("vc"),
        expr("CAST(FLOOR(POWER(0.5, CAST(age AS DOUBLE) / 180.0) * vc + 0.5) AS BIGINT)")
          .as("dc"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("vc")).as("total_cents"),
        sum(col("dc")).as("decayed_cents"))
      .orderBy(col("decayed_cents").desc, col("o_custkey").asc)
      .limit(k)

  /** q233 — top-seller churn: month over month, how much of the top-10
    * best-seller set turned over — the set-stability monitor behind
    * "did the ranking pipeline break or did the catalog really shift"
    * alerts (a stable business churns a little every month; a data bug
    * churns everything at once). Per month: top-10 parts by shipped
    * quantity (qty desc, partkey tie-break), overlap with the previous
    * month's set, churn as exact integer micros.
    *
    * Scale: one (month, part) partial-agg pass, month-partitioned rank
    * windows (bounded per-month part domain), and a skinny
    * (month, partkey) self-join on the previous calendar month. */
  def topSellerChurn(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.lineitem(spark, dir)
      .groupBy(trunc(col("l_shipdate").cast("date"), "MM").as("month"),
        col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val w = Window.partitionBy("month").orderBy(col("qty").desc, col("l_partkey").asc)
    // Opt r19 (guide §2.4): the old shape referenced `tops` FOUR times
    // (cur/prev self-join sides, prevMonths, curCounts) and the
    // self-join's re-aliased attribute ids defeated exchange reuse —
    // the fact-table aggregate + window ran twice, byte-identical
    // (measured: two 0.6 s stages each writing the same 6.9 MB
    // shuffle; a localCheckpoint fix was measured WORSE, 3.3-3.5 s,
    // because checkpointed frames lose size stats and every downstream
    // join degraded from broadcast to shuffle). The self-join is not
    // needed: part p sits in BOTH tops(m) and tops(m−1) exactly when
    // p's latest top month before m is m−1 — one lag window PARTITIONED
    // BY PART over the months×k frame. Month inclusion (a predecessor
    // month exists) is the same lag test on the ≤#months aggregate
    // (bounded-domain global window, the band-window discipline). ONE
    // derivation of `tops`, zero self-joins.
    val tops = monthly
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("month"), col("l_partkey"))
    val wPart = Window.partitionBy("l_partkey").orderBy(col("month").asc)
    val byMonth = tops
      .withColumn("prev_m", lag(col("month"), 1).over(wPart))
      .withColumn("ret",
        when(col("prev_m").isNotNull &&
          add_months(col("prev_m"), 1) === col("month"), 1L).otherwise(0L))
      .groupBy("month")
      .agg(count(lit(1)).as("n_top"), sum(col("ret")).as("retained"))
    val wM = Window.orderBy(col("month").asc)
    byMonth
      .withColumn("pm", lag(col("month"), 1).over(wM))
      .filter(col("pm").isNotNull && add_months(col("pm"), 1) === col("month"))
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        col("n_top"), col("retained"))
      .withColumn("churn_micro",
        expr("CAST(FLOOR(1000000.0 * (n_top - retained) / n_top + 0.5) AS BIGINT)"))
      .orderBy("month")
  }

  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit(RfmAsOf).cast("date"), max(col("o_orderdate").cast("date")))
          .cast("long").as("recency"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("monetary"))
    val q = m.agg(
      expr("percentile(recency, array(0.25d, 0.5d, 0.75d))").as("rq"),
      expr("percentile(freq, array(0.25d, 0.5d, 0.75d))").as("fq"),
      expr("percentile(monetary, array(0.25d, 0.5d, 0.75d))").as("mq"))
    def band(v: org.apache.spark.sql.Column, qs: String) =
      (v > col(qs).getItem(0)).cast("int") +
        (v > col(qs).getItem(1)).cast("int") +
        (v > col(qs).getItem(2)).cast("int")
    m.crossJoin(broadcast(q))
      .select(
        (lit(4) - band(col("recency").cast("double"), "rq")).as("r_score"),
        (lit(1) + band(col("freq").cast("double"), "fq")).as("f_score"),
        (lit(1) + band(col("monetary"), "mq")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("customers"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Association rules over the q76 co-occurrence base: for every DIRECTED
    * event-type pair A→B, support (users with both), confidence
    * P(B|A) and lift P(B|A)/P(B) — the full market-basket rule mine.
    *
    * Scale shape: identical to [[eventCooccurrence]] (distinct (user,
    * type) projection partial-aggregates map-side; self-join keyed on
    * user with fan-out ≤ |types|²) plus two broadcast joins against the
    * ≤|types|-row marginals frame — no extra shuffle over the big table.
    * Determinism: confidence is ONE integer-ratio division; lift is
    * (pair·total)/(ante·cons) — exact BIGINT products, then one IEEE
    * division — never a chain of rounded doubles. */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val marginals = ut.groupBy("event_type")
      .agg(count(lit(1)).as("type_users"))
    val total = ut.agg(countDistinct(col("user_id")).as("total_users"))
    val a = ut.select(col("user_id"), col("event_type").as("antecedent"))
    val b = ut.select(col("user_id"), col("event_type").as("consequent"))
    a.join(b, Seq("user_id"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("pair_users"))
      .join(broadcast(marginals.withColumnRenamed("event_type", "antecedent")
        .withColumnRenamed("type_users", "ante_users")), Seq("antecedent"))
      .join(broadcast(marginals.withColumnRenamed("event_type", "consequent")
        .withColumnRenamed("type_users", "cons_users")), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select(
        col("antecedent"), col("consequent"), col("pair_users"),
        (col("pair_users").cast("double") / col("ante_users")).as("confidence"),
        ((col("pair_users") * col("total_users")).cast("double") /
          (col("ante_users") * col("cons_users"))).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * counts of consecutive (prev → next) event-type pairs plus the row-
    * normalized transition probability — the session-model / next-action
    * baseline every product-analytics stack ships.
    *
    * The lag window partitions BY USER (thousands of small per-key sorts
    * in parallel — never a global order), the pair count is one hash
    * aggregate, and the row normalization is a window over the ≤|types|²
    * aggregate, not over events. Ties inside a user's sequence are broken
    * by event_id so the sequence — and hence the counts — are total-order
    * deterministic. Probability is one integer-ratio IEEE division. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionsCore(Tables.events(spark, dir))

  /** Top-20 three-step user journeys (the sequence-mining extension of
    * [[eventTransitions]]): two lags over the same per-user window give
    * each event its two predecessors; the path count is one hash
    * aggregate; the top-k is over the ≤|types|³ aggregate (tie-broken by
    * the full path so the cut is total-order deterministic). */
  def pathTrigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e1", lag(col("event_type"), 2).over(w))
      .withColumn("e2", lag(col("event_type"), 1).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
      .limit(k)
  }

  private[graft] def transitionsCore(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val rowTotal = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        col("n").cast("double") / sum(col("n")).over(rowTotal))
      .orderBy("prev_type", "next_type")
  }

  /** q211 — position-based multi-touch attribution (the 40/20/40 "U"
    * model): each purchase credits its click/view touchpoints within a
    * 7-day lookback — first touch 40%, last touch 40%, middles split
    * the remaining 20% (1 touch → 100%, 2 → 50/50). The credit model
    * complement of q106's last-touch argmax.
    *
    * Determinism: shares are integer micros (the middle split is an
    * integer division — the ≤ 1-micro remainder per conversion is
    * deliberately unassigned and documented); credited cents are
    * (vc · share) div 10⁶, all BIGINT.
    *
    * Scale: user-keyed join of purchases × touches bounded by the
    * 7-day window, then per-CONVERSION windows (rank + count over
    * touch lists that are small by construction), one bounded-domain
    * groupBy(channel). */
  def multiTouchAttribution(spark: SparkSession, dir: String,
                            lookbackDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("t_us"), col("event_id").as("t_id"))
    val lookbackUs = lookbackDays.toLong * 86400000000L
    val w = Window.partitionBy("p_id").orderBy(col("t_us").asc, col("t_id").asc)
    purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - lookbackUs)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("share_micro",
        when(col("n") === 1L, 1000000L)
          .when(col("n") === 2L, 500000L)
          .when(col("rk") === 1L || col("rk") === col("n"), 400000L)
          .otherwise(expr("200000 div (n - 2)")))
      .withColumn("credit_cents", expr("(vc * share_micro) div 1000000"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_conversions"),
        sum(col("credit_cents")).as("credit_cents"))
      .orderBy("channel")
  }

  /** Last-touch revenue attribution: each purchase's value is credited to
    * the user's most recent PRECEDING non-purchase event type (the
    * "touch"); purchases with no prior touch credit 'direct'. The
    * marketing-attribution shape (q48's as-of machinery generalized from
    * view-only to any touch channel).
    *
    * Scale design: one per-user window (last over rows-preceding frame,
    * ignore-nulls — no self-join, no fan-out), then a 5-row aggregate;
    * revenue sums in exact DECIMAL before the final double cast. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("touch_type",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch_type"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("attributed"))
      .orderBy("touch_type")
  }

  /** Time-to-convert distribution for the completed [[funnel]]: among
    * users reaching stage 3 (view → click → purchase in order), exact
    * p50/p95/max of the view→purchase latency in µs. One tiny aggregate
    * over the funnel output — the funnel does the heavy lifting, this
    * adds the latency-SLO readout a growth dashboard needs.
    *
    * Scale: `percentile` over the converted-user set is the exact
    * verifiable contract; approx_percentile is the drop-in at 100 TB
    * (q43/q44 pattern). */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame =
    funnel(spark, dir)
      .filter(col("purchase_us").isNotNull)
      .withColumn("dt_us", col("purchase_us") - col("view_us"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(dt_us, 0.5d)").as("p50_us"),
        expr("percentile(dt_us, 0.95d)").as("p95_us"),
        max(col("dt_us")).as("max_us"))
}
