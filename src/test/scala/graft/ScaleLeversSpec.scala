package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The SCALE.md levers as executable artifacts: bucketed co-located
  * joins, salted skew joins, RocksDB state store. */
class ScaleLeversSpec extends SparkSpec {
  import spark.implicits._

  /** Every node of an executed plan, descending through AQE's
    * re-optimized subtree and materialized query stages (which are leaf
    * nodes to a plain `collect`). Typed plan-tree inspection instead of
    * string-matching the rendering, which breaks across Spark upgrades
    * even when the optimization still fires (advisor r5). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val lineitem = Tables.lineitem(spark, "/root/testdata/sf0.001")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-BHJ
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() === lineitem.count())
      val executed = joined.queryExecution.executedPlan
      val plan = executed match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"expected co-located bucketed join, found ${shuffles.size} shuffles")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("dt-partitioned sink supports partition pruning on read (K3 scale path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val path = s"$dir/daily"
    val batch = Seq(
      (1L, "2024-01-05", 1.0), (2L, "2024-01-05", 2.0),
      (3L, "2024-01-06", 3.0))
      .toDF("id", "dt", "v")
    graft.streaming.Sinks.appendDailyPartitioned(batch, path, "dt", Seq("id"))
    val read = spark.read.parquet(path).filter(col("dt") === "2024-01-05")
    assert(read.count() === 2)
    // the date predicate must prune partitions at planning time, not
    // filter rows post-scan
    val scan = read.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      s"expected dt partition filter, got: ${scan.partitionFilters}")
    assert(scan.relation.location.inputFiles.length >= 2) // both dt dirs exist
  }

  test("salted skew join equals the plain inner join") {
    // heavily skewed left side: one hot key
    val left = (Seq.fill(500)(1L) ++ (2L to 50L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val right = (1L to 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = graft.ops.SkewJoin.saltedInnerJoin(left, right, "k", 8)
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted === plain)
    assert(plain.size === 549)
  }

  test("planted-skew join: AQE splits the hot partition (OptimizeSkewedJoin fires)") {
    // SCALE.md claims AQE absorbs fact-join key skew; pin it with a plan-
    // shape assertion (no timing): one hot key carrying ~8 MB vs byte-
    // sized siblings, thresholds lowered to test scale, then assert the
    // executed sort-merge join is marked isSkewJoin — i.e. the hot
    // partition was actually split, not just eligible.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
    try {
      val pad = "x" * 128
      val hot = spark.range(60000)
        .select(lit(1L).as("k"), concat(lit(pad), col("id").cast("string")).as("payload"))
      val rest = spark.range(2L, 34L)
        .select(col("id").as("k"), lit("small").as("payload"))
      val left = hot.unionAll(rest)
      val right = spark.range(1L, 34L)
        .select(col("id").as("k"), concat(lit("dim_"), col("id").cast("string")).as("name"))
      val joined = left.join(right, Seq("k"))
      // execute THIS DataFrame (count() would plan a different query and
      // leave joined's own AQE plan un-executed)
      assert(joined.collect().length === 60000 + 32)
      val nodes = allNodes(joined.queryExecution.executedPlan)
      // the SMJ must be marked skew and the hot side's shuffle read must
      // carry skewed partition splits (PartialReducerPartitionSpec)
      assert(nodes.collect { case j: SortMergeJoinExec => j }.exists(_.isSkewJoin),
        s"OptimizeSkewedJoin did not mark the join:\n${nodes.head}")
      assert(nodes.collect { case r: AQEShuffleReadExec => r }
          .exists(_.partitionSpecs.exists(_.isInstanceOf[PartialReducerPartitionSpec])),
        s"hot partition was not split by the AQE shuffle read:\n${nodes.head}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("streaming dedup runs on the RocksDB state store provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = graft.streaming.Pipelines.dauDedup(
      input.toDF().toDF("ts", "user_id"), watermark = "1 day")
    val q = deduped.writeStream.format("memory").queryName("rocks_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      .outputMode("append")
      .start()
    // provider is a per-query conf read from the session at start
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
      input.addData((t, 1L), (t, 1L), (t, 2L))
      q.processAllAvailable()
      assert(spark.table("rocks_out").count() === 2)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("bloom-filter pre-filter prunes the dedup probe with zero false negatives") {
    // The incremental-dedup fast path at 100 TB: instead of shuffling the
    // whole new batch into the fingerprint anti-join, a bloom filter
    // built from the (small) corpus fingerprint column is broadcast and
    // filters the batch map-side; only rows that MIGHT be duplicates
    // reach the exact join. False positives just lose pruning; false
    // negatives would drop real dups — bloom filters guarantee none.
    val corpus = (0L until 1000L).map(i => s"doc-$i").toDF("fp")
    val bloom = corpus.stat.bloomFilter("fp", 1000L, 0.03)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => bloomB.value.mightContainString(s))
    // new batch: 50 true duplicates + 10k fresh rows
    val batch = ((0L until 50L).map(i => s"doc-$i") ++
      (0L until 10000L).map(i => s"new-$i")).toDF("fp")
    val candidates = batch.filter(mightContain(col("fp")))
    val n = candidates.count()
    // every true duplicate survives the pre-filter (no false negatives)
    assert(candidates.join(corpus, "fp").count() === 50L)
    // and pruning is real: candidates ≈ 50 + fpp·10k ≪ batch
    assert(n >= 50L && n <= 50L + 1000L, s"candidates = $n")
  }

  test("LSH skew guard: hot buckets capped, surfaced exactly, small buckets intact") {
    // a 200-doc exact-duplicate flood: identical shingle arrays → identical
    // signatures → all 16 band buckets hold all 200 docs (the degenerate
    // band key the guard exists for). Plus one genuine near-dup pair
    // (11 tokens vs 12, J = 9/11) that must keep flowing.
    val hotText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearA = "one two three four five six seven eight nine ten eleven twelve"
    val nearB = "one two three four five six seven eight nine ten eleven thirteen"
    val docs = ((0L until 200L).map(i => (i, hotText)) ++
      Seq((500L, nearA), (501L, nearB))).toDF("doc_id", "text")
    val banded = dedup.DedupOps.bandedOf(
      docs.select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("hs")))
    val capped = dedup.DedupOps.lshCandidates(banded, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the flood's quadratic pair mass is gone (its buckets are all hot)...
    assert(!capped.exists { case (a, b) => a < 200L && b < 200L })
    // ...but the near-dup pair in its size-2 bucket still surfaces
    assert(capped.contains((500L, 501L)))
    // uncapped: the full 200·199/2 flood + the near pair
    val uncapped = dedup.DedupOps.lshCandidates(banded, Int.MaxValue).count()
    assert(uncapped === 200L * 199L / 2 + 1L)
    // the profile reports the skipped mass EXACTLY — no silent truncation
    val prof = dedup.DedupOps.lshBucketProfileOf(banded, maxBucket = 50).collect().head
    assert(prof.getAs[Long]("n_hot_buckets") === 16L)
    assert(prof.getAs[Long]("max_bucket_n") === 200L)
    assert(prof.getAs[Long]("pairs_skipped") === 16L * (200L * 199L / 2))
    // on the real corpus the guard is inert at the default cap: nothing hot
    val real = dedup.DedupOps
      .lshBucketProfile(spark, "/root/testdata/sf0.001").collect().head
    assert(real.getAs[Long]("n_hot_buckets") === 0L)
    assert(real.getAs[Long]("pairs_skipped") === 0L)
  }

  test("de-hinted linear dims: AQE broadcasts customer with NO hint in the plan") {
    // r6 broadcast policy: customer/supplier/part scale linearly with SF,
    // so they carry no broadcast() hint — at test SF AQE must still pick
    // a broadcast join (same physical plan as before the de-hint), and
    // at 100 TB the same code falls back to a shuffle join instead of a
    // forced driver OOM. Assert both halves: no ResolvedHint anywhere in
    // the analyzed logical plan, yet a BroadcastHashJoin in the executed
    // physical plan.
    val df = ops.Warehouse.revenueTopOrders(spark, "/root/testdata/sf0.001")
    assert(df.collect().length > 0)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"revenueTopOrders must carry no broadcast hints, found: $hints")
    val bhj = allNodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "AQE did not broadcast the small customer dim at test SF")
  }

  test("de-hinted 6-way TPC-H Q5 join: only nation/region are hinted, dims still broadcast") {
    val df = ops.Warehouse.localSupplierVolume(spark, "/root/testdata/sf0.001")
    assert(df.collect().length > 0)
    // assert the POLICY, not a hint count (which would break on any
    // added/removed fixed-cardinality hint): no hint may cover a subtree
    // that scans a linearly-scaling dim (customer/supplier/part)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    val linearDims = Seq("customer.parquet", "supplier.parquet", "part.parquet")
    // match the LEAF TYPE, not its string rendering: a LogicalRelation
    // stringifies as just "Relation [cols] parquet" in Spark 4, so a
    // toString.contains check can never fire (advisor r7)
    def scansLinearDim(h: ResolvedHint): Boolean =
      h.child.collectLeaves().exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(p => linearDims.exists(p.toString.contains))
          case _ => false
        }
        case _ => false
      }
    val offending = hints.filter(scansLinearDim)
    assert(offending.isEmpty,
      s"broadcast hint covers a linearly-scaling dim scan: $offending")
    // guard the guard: the leaf matcher must actually see the linear-dim
    // scans somewhere in the plan, else the assertion above is vacuous
    val allLinearLeaves = df.queryExecution.analyzed.collectLeaves().filter {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(p => linearDims.exists(p.toString.contains))
        case _ => false
      }
      case _ => false
    }
    assert(allLinearLeaves.size >= 2,
      s"leaf matcher found ${allLinearLeaves.size} linear-dim scans — detection itself broke")
    // AQE still broadcasts the linear dims while they measure small
    val bhj = allNodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2, s"expected customer+supplier broadcast at test SF, got ${bhj.size} BHJs")
  }
}
