package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** KMV (k-minimum-values) distinct sketches and their SET ALGEBRA — the
  * member of the sketch family (HLL q61, Count-Min q75, KLL q44) that
  * supports intersection estimates, which HLL union alone cannot give.
  *
  * For each event type the sketch is the K smallest `xxhash64(user_id)`
  * values, built with the custom bounded-heap [[graft.plans.GroupTopK]]
  * operator (partial heaps below the shuffle — each partition ships at
  * most K hashes per group, never its users). Distinct estimate:
  * (K−1)/u_K with u_K the K-th smallest hash mapped to (0,1); a group
  * with fewer than K distinct hashes is EXACT (its full hash set is the
  * sketch). Pair overlap: union sketches merge by taking the K smallest
  * of the merged arrays (pure array ops on K-sized frames), and the
  * intersection estimate is inclusion-exclusion est(A)+est(B)−est(A∪B).
  * The exact intersection (the q76 co-occurrence count) rides along as
  * the in-row twin, so the error is auditable query-by-query.
  *
  * Rows-only check: xxhash64 is Spark-specific (no DuckDB equivalent);
  * SketchesSpec bounds the estimates against the exact twins at the
  * standard ~1.96/√K relative error.
  */
object Sketches {

  val K = 256

  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapCore(Tables.events(spark, dir))

  private[graft] def kmvOverlapCore(events: DataFrame): DataFrame = {
    // distinct (type, hash) before the heap — duplicate users collapse
    // map-side, so the heap sees each distinct hash once
    val uh = events
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .distinct()
    val sk = graft.plans.GroupTopK(uh, Seq("event_type"),
        Seq(col("h").asc), K)
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("h"))).as("sk"),
        count(lit(1)).as("k_actual"))
    // signed hash -> (0,1): u = h/2^64 + 0.5 (monotone, so order is kept)
    def u(c: org.apache.spark.sql.Column) =
      c.cast("double") / lit(math.pow(2.0, 64)) + lit(0.5)
    def est(skCol: String, kCol: org.apache.spark.sql.Column) =
      when(kCol < K, kCol.cast("double"))
        .otherwise(lit((K - 1).toDouble) / u(element_at(col(skCol), K)))
    val exactInter = Publisher.cooccurrenceCore(events)
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
      col("k_actual").as("ka"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
      col("k_actual").as("kb"))
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .withColumn("merged",
        slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))), 1, K))
      .withColumn("km", size(col("merged")).cast("long"))
      .withColumn("est_a", est("sk_a", col("ka")))
      .withColumn("est_b", est("sk_b", col("kb")))
      .withColumn("est_union", est("merged", col("km")))
      .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
      .join(exactInter, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"),
        col("ka"), col("kb"),
        col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("n_users").as("exact_inter"))
      .orderBy("type_a", "type_b")
  }

  /** Oracle-checkable EXACT-TWIN projection of [[kmvOverlap]]: the
    * columns of the sketch query that are DuckDB-expressible. `ka`/`kb`
    * are the heap sizes the GroupTopK sketch build actually produced —
    * `least(distinct-count, K)` by construction (the K-bounded heap over
    * distinct hashes; a 64-bit hash collision would break the equality,
    * at ~n²/2⁶⁵ probability, noted here because the oracle compares
    * exactly) — and `exact_inter` is the exact pair co-occurrence that
    * rides in-row next to the estimates. Hash-verifying this projection
    * pins the sketch BUILD path (heap sizes) and the exact twin, leaving
    * only the xxhash64-dependent estimate columns to the rows-only check
    * + SketchesSpec error bound. */
  def kmvExactTwin(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapCore(Tables.events(spark, dir))
      .select(col("type_a"), col("type_b"), col("ka"), col("kb"),
        col("exact_inter"))
      .orderBy("type_a", "type_b")
}
