package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, lit, lower, max, md5, regexp_replace}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Pipelines

/** Structured Streaming parity tests (SURVEY §5.4): MemoryStream-driven
  * checks of the T2/T4/T5/T6 semantics. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double, props: String)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming dau dedup emits one row per (user, day) across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val deduped = Pipelines.dauDedup(input.toDF(), watermark = "2 days")
    val q = deduped.writeStream.format("memory")
      .queryName("dau_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Ev(1, ts("2024-01-05 08:00:00"), 100, "view", 1.0, "{}"),
        Ev(2, ts("2024-01-05 09:00:00"), 100, "view", 1.0, "{}"))
      q.processAllAvailable()
      input.addData( // same user, same day, later batch → suppressed
        Ev(3, ts("2024-01-05 10:00:00"), 100, "view", 1.0, "{}"),
        // same user, next day → new row
        Ev(4, ts("2024-01-06 08:00:00"), 100, "view", 1.0, "{}"),
        Ev(5, ts("2024-01-05 11:00:00"), 200, "view", 1.0, "{}"))
      q.processAllAvailable()
      val rows = spark.table("dau_out")
        .select("user_id", "log_date").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows === Set((100L, "2024-01-05"), (100L, "2024-01-06"), (200L, "2024-01-05")))
    } finally q.stop()
  }

  test("streaming stream-stream join tolerates skew within watermark, drops beyond (T4)") {
    implicit val sq = spark.sqlContext
    val orders = MemoryStream[(Long, Timestamp)]
    val details = MemoryStream[(Long, Long, Timestamp)]
    val joined = Pipelines.saleDetailJoin(
      orders.toDF().toDF("o_order_id", "o_ts"),
      details.toDF().toDF("d_id", "d_order_id", "d_ts"),
      watermark = "10 seconds")
    val q = joined.writeStream.format("memory")
      .queryName("join_out").outputMode(OutputMode.Append()).start()
    try {
      val t0 = ts("2024-01-05 12:00:00")
      // detail arrives 5 s after its order → within tolerance, joins
      orders.addData((1L, t0))
      details.addData((11L, 1L, new Timestamp(t0.getTime + 5000)))
      // detail 15 s away from its order → outside the join range, dropped
      orders.addData((2L, t0))
      details.addData((21L, 2L, new Timestamp(t0.getTime + 15000)))
      // one order, three details → three wide rows
      orders.addData((3L, t0))
      details.addData(
        (31L, 3L, new Timestamp(t0.getTime + 1000)),
        (32L, 3L, new Timestamp(t0.getTime + 2000)),
        (33L, 3L, new Timestamp(t0.getTime + 3000)))
      q.processAllAvailable()
      val ids = spark.table("join_out").select("d_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(11L, 31L, 32L, 33L))
    } finally q.stop()
  }

  test("stream-stream join is arrival-order invariant: detail before its order still joins (J2)") {
    implicit val sq = spark.sqlContext
    val orders = MemoryStream[(Long, Timestamp)]
    val details = MemoryStream[(Long, Long, Timestamp)]
    val joined = Pipelines.saleDetailJoin(
      orders.toDF().toDF("o_order_id", "o_ts"),
      details.toDF().toDF("d_id", "d_order_id", "d_ts"),
      watermark = "10 seconds")
    val q = joined.writeStream.format("memory")
      .queryName("ooo_join_out").outputMode(OutputMode.Append()).start()
    try {
      val t0 = ts("2024-01-05 12:00:00")
      // REVERSED arrival: the detail lands a batch BEFORE its order —
      // the reference buffers the detail side in Redis for this case
      // (SaleDetailApp.scala:109-133); here the join state covers it
      details.addData((11L, 1L, new Timestamp(t0.getTime + 2000)))
      q.processAllAvailable()
      orders.addData((1L, t0))
      q.processAllAvailable()
      val ids = spark.table("ooo_join_out").select("d_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(11L))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched details null-padded after watermark") {
    implicit val sq = spark.sqlContext
    val orders = MemoryStream[(Long, Timestamp)]
    val details = MemoryStream[(Long, Long, Timestamp)]
    val joined = Pipelines.saleDetailJoinOuter(
      orders.toDF().toDF("o_order_id", "o_ts"),
      details.toDF().toDF("d_id", "d_order_id", "d_ts"),
      watermark = "10 seconds")
    val q = joined.writeStream.format("memory")
      .queryName("outer_join_out").outputMode(OutputMode.Append()).start()
    try {
      val t0 = ts("2024-01-05 12:00:00")
      // matched pair → normal inner row
      orders.addData((1L, t0))
      details.addData((11L, 1L, new Timestamp(t0.getTime + 5000)))
      // detail with NO order ever — the reference would silently drop it
      // after the 10 s TTL (SaleDetailApp.scala:93,131); the outer join
      // must emit it null-padded instead
      details.addData((21L, 2L, t0))
      q.processAllAvailable()
      // push both watermarks far past t0's join range so state evicts…
      orders.addData((9L, new Timestamp(t0.getTime + 120000)))
      details.addData((99L, 9L, new Timestamp(t0.getTime + 120000)))
      q.processAllAvailable()
      // …and one more cycle for the eviction-time emission
      orders.addData((10L, new Timestamp(t0.getTime + 240000)))
      details.addData((100L, 10L, new Timestamp(t0.getTime + 240000)))
      q.processAllAvailable()
      val rows = spark.table("outer_join_out")
        .select("d_id", "o_order_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(rows(11L) === Some(1L), "matched detail joins normally")
      assert(rows.contains(21L), "unmatched detail must be EMITTED, not dropped")
      assert(rows(21L) === None, "…with null order columns")
    } finally q.stop()
  }

  test("streaming windowed alert fires for 3 uids and is vetoed by a click (T2/A7-A9)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val alerts = Pipelines.alerts(input.toDF(),
      windowDur = "5 minutes", slide = "5 minutes",
      watermark = "0 seconds", minUids = 3)
    val q = alerts.writeStream.format("memory")
      .queryName("alert_out").outputMode(OutputMode.Update()).start()
    try {
      val t0 = ts("2024-01-05 12:00:00").getTime
      def ev(id: Long, offSec: Int, user: Long, typ: String, k: Int) =
        Ev(id, new Timestamp(t0 + offSec * 1000L), user, typ, 1.0, s"""{"k": $k}""")
      input.addData(
        ev(1, 0, 1, "purchase", 7), ev(2, 10, 1, "purchase", 8),
        ev(3, 20, 1, "purchase", 9),
        ev(4, 0, 2, "purchase", 7), ev(5, 10, 2, "purchase", 8),
        ev(6, 20, 2, "purchase", 9), ev(7, 30, 2, "click", 1))
      q.processAllAvailable()
      val fired = spark.table("alert_out").select("user_id").collect().map(_.getLong(0)).toSet
      assert(fired === Set(1L))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-key state across micro-batches (T3 custom path)") {
    import graft.streaming.CustomState
    implicit val sq = spark.sqlContext
    val input = MemoryStream[CustomState.Keyed]
    val totals = CustomState.runningTotals(input.toDS())
    val q = totals.writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(CustomState.Keyed(1, 5), CustomState.Keyed(1, 3), CustomState.Keyed(2, 7))
      q.processAllAvailable()
      input.addData(CustomState.Keyed(1, 2))
      q.processAllAvailable()
      val latest = spark.table("state_out")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("total").as("total"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(latest === Map(1L -> 10L, 2L -> 7L))
    } finally q.stop()
  }

  test("quotaAdmit: per-source token quota enforced across micro-batches") {
    import graft.streaming.TrainingPipeline
    implicit val sq = spark.sqlContext
    // 5-token docs ("a b c d e") against a 12-token quota: the 3rd doc
    // of a source must be denied (10 + 5 > 12), including when it
    // arrives in a LATER batch — state must carry across
    val input = MemoryStream[(Long, String, String)]
    val admitted = TrainingPipeline.quotaAdmit(
      input.toDF().toDF("doc_id", "source", "text"), quotaTokens = 12L)
    val q = admitted.writeStream.format("memory").queryName("quota_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "srcA", "a b c d e"), (2L, "srcA", "a b c d e"),
        (10L, "srcB", "a b c d e"))
      q.processAllAvailable()
      input.addData(
        (3L, "srcA", "a b c d e"),  // srcA already at 10/12 → denied
        (11L, "srcB", "a b c d e")) // srcB at 5/12 → admitted (10/12)
      q.processAllAvailable()
      val out = spark.table("quota_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      assert(out.map(t => (t._1, t._2)).toSet ===
        Set(("srcA", 1L), ("srcA", 2L), ("srcB", 10L), ("srcB", 11L)))
      // cumulative token accounting never exceeds the quota
      assert(out.forall(_._3 <= 12L))
      assert(out.filter(_._1 == "srcA").map(_._3).max === 10L)
    } finally q.stop()
  }

  test("oovMonitor: running per-source OOV/fertility under a frozen vocabulary, char-fallback for unseen words, state across batches") {
    import graft.streaming.TrainingPipeline
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // frozen vocab: 'ab' tokenizes to 1 symbol, 'cd' to 2. 'zzz' is
    // UNSEEN → char fallback (3 symbols, counted OOV).
    val vocab = graft.text.Tokenizer.CharBpe(Seq.empty, Seq(("ab", 1L), ("cd", 2L)))
    val input = MemoryStream[(Long, String, String)]
    val mon = TrainingPipeline.tokenizerMonitor(
      input.toDF().toDF("doc_id", "source", "text"), vocab)
    val q = mon.writeStream.format("memory").queryName("oov_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "srcA", "ab cd"), (2L, "srcB", "ab ab"))
      q.processAllAvailable()
      input.addData((3L, "srcA", "zzz ab")) // unseen word arrives later
      q.processAllAvailable()
      val rows = spark.table("oov_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      // srcA batch 1: 2 tokens, 0 oov, 3 syms; after batch 2: 4 tokens,
      // 1 oov (zzz), 3+3+1=7 syms → oov 250000, fertility 1750000
      val aFinal = rows.filter(t => t._1 == "srcA" && t._2 == 4L)
      assert(aFinal.toSeq === Seq(("srcA", 4L, 1L, 7L, 250000L, 1750000L)))
      assert(rows.filter(t => t._1 == "srcA" && t._2 == 2L).toSeq ===
        Seq(("srcA", 2L, 0L, 3L, 0L, 1500000L)))
      // srcB: 2 tokens 'ab ab' → 2 syms, no oov, fertility 1.0
      assert(rows.filter(_._1 == "srcB").toSeq ===
        Seq(("srcB", 2L, 0L, 2L, 0L, 1000000L)))
      // batch-frame face: the same data through the same operator in
      // one pass lands on the stream's final totals
      val batch = TrainingPipeline.tokenizerMonitor(
        Seq((1L, "srcA", "ab cd"), (2L, "srcB", "ab ab"), (3L, "srcA", "zzz ab"))
          .toDF("doc_id", "source", "text"), vocab)
        .collect().map(s => (s.source, s.n_tokens, s.n_oov, s.syms_total))
        .toSet
      assert(batch === Set(("srcA", 4L, 1L, 7L), ("srcB", 2L, 0L, 2L)))
    } finally q.stop()
  }

  test("unigram fertility monitor: in-row lattice, unseen-CHAR fallback pinned, stream totals equal the q308 batch face on real data") {
    import graft.streaming.TrainingPipeline
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // hand-worked: p(ab) beats p(a)p(b) → 'abab' = 2 pieces, 'ab' = 1;
    // 'zq' contains an unseen CHAR (q) → no lattice path → char fallback
    // (2) — unigram's structural coverage limit, unlike byte BPE
    val probs = Map("a" -> 300000L, "b" -> 300000L, "z" -> 100000L,
      "ab" -> 350000L)
    val input = MemoryStream[(Long, String, String)]
    val mon = TrainingPipeline.tokenizerMonitor(
      input.toDF().toDF("doc_id", "source", "text"),
      graft.text.Tokenizer.Unigram(probs.toSeq.map { case (p, m) => (p, 0, 0L, m) }))
    val q = mon.writeStream.format("memory").queryName("unifert_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "srcA", "abab ab"))
      q.processAllAvailable()
      input.addData((2L, "srcA", "zq"))
      q.processAllAvailable()
      val rows = spark.table("unifert_out")
        .select("source", "n_tokens", "syms_total", "fertility_micro").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // batch 1: 2 tokens, 2+1 pieces; after batch 2: 3 tokens, 3+2
      assert(rows.toSet === Set(("srcA", 2L, 3L, 1500000L),
        ("srcA", 3L, 5L, 1666667L)))
    } finally q.stop()
    // real-data parity: final running totals per source ≡ the
    // oracle-verified q308 face (same frozen probs, same word rule)
    val dir = "/root/testdata/sf0.001"
    val (vocabF, _) = graft.text.Curation.unigramArtifacts(spark, dir)
    val want = graft.text.Curation.unigramFertility(spark, dir)
      .select("source", "n_tokens", "pieces_total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = TrainingPipeline.tokenizerMonitor(
      graft.Tables.documents(spark, dir)
        .select("doc_id", "source", "text"), graft.text.Tokenizer.Unigram(vocabF))
      .collect().map(s => (s.source, s.n_tokens, s.syms_total)).toSet
    assert(batch === want,
      "monitor totals must equal the hash-verified q308 face")
  }

  test("incremental index maintenance: append ≡ full for every tier, drift routes append vs retrain, a restarted gate sees the appended corpus") {
    import graft.streaming.{Sinks, TrainingPipeline}
    import graft.vector.{GateIndex, VectorOps => V}
    import org.apache.spark.sql.DataFrame
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val e = V.vecs(spark, dir)
    val delta = e.filter(col("vec_id") >= V.IncrBaseAt &&
      col("vec_id") < V.GateSplitAt)
    def rowsOf(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // --- append ≡ full, all four tiers: base-only publish + the
    // production append path loads back EXACTLY the single-shot table
    def corpusOf(p: String): DataFrame = Sinks.loadGateIndex(spark, p)._2.corpus
    val (cents, assigned) = V.frozenIvfIndex(spark, dir)
    Sinks.publishGateIndex(s"$base/full", GateIndex.Full(cents,
      assigned.filter(col("corpus_id") < V.IncrBaseAt)))
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/full", delta)
    assert(rowsOf(corpusOf(s"$base/full")
        .select("cell", "corpus_id")) ===
      rowsOf(assigned.select("cell", "corpus_id")))
    val GateIndex.Pq(_, cbP, codesP) = V.frozenPqIvfIndex(spark, dir)
    Sinks.publishGateIndex(s"$base/pq", GateIndex.Pq(cents, cbP,
      codesP.filter(col("corpus_id") < V.IncrBaseAt)))
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/pq", delta)
    assert(rowsOf(corpusOf(s"$base/pq")) ===
      rowsOf(codesP))
    val GateIndex.Sq8(_, mn, mx, codesS) = V.frozenSq8IvfIndex(spark, dir)
    Sinks.publishGateIndex(s"$base/sq8", GateIndex.Sq8(cents, mn, mx,
      codesS.filter(col("corpus_id") < V.IncrBaseAt)))
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/sq8", delta)
    assert(rowsOf(corpusOf(s"$base/sq8")) ===
      rowsOf(codesS))
    val (opq, _) = V.frozenOpqIvfIndex(spark, dir)
    Sinks.publishGateIndex(s"$base/opq",
      opq.copy(codes = opq.codes.filter(col("corpus_id") < V.IncrBaseAt)))
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/opq", delta)
    assert(rowsOf(corpusOf(s"$base/opq")) ===
      rowsOf(opq.codes))
    // appends are idempotent: re-appending the same delta anti-joins
    // to nothing and the table is unchanged
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/pq", delta)
    assert(rowsOf(corpusOf(s"$base/pq")) ===
      rowsOf(codesP))
    // --- a crashed append (segment written, manifest swap never ran)
    // leaves the served version untouched
    val segsBefore = Sinks.loadSegmentNames(spark, s"$base/pq")
    codesP.limit(3).write.parquet(s"$base/pq__segs/seg-99999")
    assert(Sinks.loadSegmentNames(spark, s"$base/pq") === segsBefore)
    assert(rowsOf(corpusOf(s"$base/pq")) ===
      rowsOf(codesP))
    // --- drift routing: the undrifted fresh half appends (measured
    // 28-40k micro, budget 100k); a delta collapsed onto ONE corpus
    // point breaches and retrains
    val freshHalf = e.filter(col("vec_id") >= V.GateSplitAt)
    assert(TrainingPipeline.maintainIndex(spark, dir, s"$base/m", "pq",
      freshHalf) === "retrain", "first call trains from scratch")
    // EVERY maintenance path must index the batch that triggered it
    // (advisor r17: the retrain used to drop newVecs — the gate would
    // re-admit copies of those vectors forever): the fresh half is in
    // the loaded index right after the from-scratch retrain
    def indexedIds(p: String): Set[Long] =
      corpusOf(p)
        .select("corpus_id").collect().map(_.getLong(0)).toSet
    val freshIds = freshHalf.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(freshIds.subsetOf(indexedIds(s"$base/m")),
      "the batch that triggered a retrain must be appended to the " +
        "freshly published index")
    assert(TrainingPipeline.maintainIndex(spark, dir, s"$base/m", "pq",
      freshHalf) === "append", "undrifted delta must take the cheap path")
    val onePoint = e.filter(col("vec_id") === 0L)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
    assert(TrainingPipeline.maintainIndex(spark, dir, s"$base/m", "pq",
      onePoint) === "retrain", "a collapsed delta must breach the budget")
    assert(indexedIds(s"$base/m").contains(100000L),
      "a drift-breaching batch must still be indexed after the retrain")
    // --- legacy pre-segment layout: an index published before segment
    // storage has an empty manifest; maintainIndex must route it to a
    // migrating retrain instead of crash-looping on the append-side
    // require (advisor r17)
    val legacy = s"$base/legacy"
    Sinks.publishGateIndex(legacy, GateIndex.Pq(cents, cbP,
      codesP.filter(col("corpus_id") < V.IncrBaseAt)))
    // simulate the pre-r17 layout: drop the manifest, park the codes as
    // the in-directory table the legacy reader resolves
    val fsL = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val codesSnap = corpusOf(legacy).localCheckpoint()
    codesSnap.write.parquet(s"$legacy/codes")
    fsL.delete(new org.apache.hadoop.fs.Path(s"$legacy/segments"), true)
    fsL.delete(new org.apache.hadoop.fs.Path(s"${legacy}__segs"), true)
    assert(Sinks.loadSegmentNames(spark, legacy).isEmpty)
    assert(TrainingPipeline.maintainIndex(spark, dir, legacy, "pq",
      freshHalf) === "retrain",
      "an empty segment manifest must route to the migrating retrain")
    assert(Sinks.loadSegmentNames(spark, legacy).nonEmpty &&
      freshIds.subsetOf(indexedIds(legacy)),
      "the migrating retrain leaves a segmented index holding the batch")
    // --- gate restart pickup: a fresh vector identical to a DELTA
    // corpus vector is admitted by the base-only gate (not yet in the
    // index) and rejected after the append, through the SAME entry
    // point — the operational point of the whole task
    import spark.implicits._
    val dupOfDelta = e.filter(col("vec_id") === lit(V.IncrBaseAt + 7))
      .select(lit(77777L).as("vec_id"), lit(0L).as("label"), col("v"))
    Sinks.publishGateIndex(s"$base/gate", GateIndex.Full(cents,
      assigned.filter(col("corpus_id") < V.IncrBaseAt)))
    val before = TrainingPipeline
      .annGateFromIndex(dupOfDelta, s"$base/gate").count()
    assert(before === 1L, "duplicate of an un-indexed vector must pass")
    TrainingPipeline.appendToPublishedIndex(spark, s"$base/gate", delta)
    val after = TrainingPipeline
      .annGateFromIndex(dupOfDelta, s"$base/gate").count()
    assert(after === 0L,
      "after the append, the SAME gate entry point must reject the dup")
  }

  test("segment compaction: appended segments rewrite to ONE with codes and gate verdicts unchanged; single-segment compaction is a no-op") {
    import graft.streaming.{Sinks, TrainingPipeline}
    import graft.vector.{VectorOps => V}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$base/pq"
    val e = V.vecs(spark, dir)
    val index = V.frozenPqIvfIndex(spark, dir)
    Sinks.publishGateIndex(path,
      index.copy(codes = index.codes.filter(col("corpus_id") < V.IncrBaseAt)))
    // two appends → three segments
    TrainingPipeline.appendToPublishedIndex(spark, path,
      e.filter(col("vec_id") >= V.IncrBaseAt && col("vec_id") < 190L))
    TrainingPipeline.appendToPublishedIndex(spark, path,
      e.filter(col("vec_id") >= 190L && col("vec_id") < V.GateSplitAt))
    assert(Sinks.loadSegmentNames(spark, path).size === 3)
    val fresh = e.filter(col("vec_id") >= V.GateSplitAt)
      .select(col("vec_id"), col("label"), col("v"))
    def verdicts(): Set[Long] = TrainingPipeline
      .annGateFromIndex(fresh, path)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def rowsOf(): Set[String] = Sinks.loadGateIndex(spark, path)._2.corpus
      .collect().map(_.mkString("|")).toSet
    val (rowsBefore, admitBefore) = (rowsOf(), verdicts())
    assert(TrainingPipeline.compactIndexSegments(spark, path) === 3)
    assert(Sinks.loadSegmentNames(spark, path).size === 1)
    assert(rowsOf() === rowsBefore, "compaction must not touch a code row")
    assert(verdicts() === admitBefore,
      "gate verdicts must be identical over the compacted index")
    // the replaced segments are gone from disk (GC'd by the publish)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(
      new org.apache.hadoop.fs.Path(path + "__segs")).length === 1)
    // idempotent: a single-segment index is a no-op
    assert(TrainingPipeline.compactIndexSegments(spark, path) === 1)
  }

  test("maintainIndex compaction policy: an append that pushes the manifest past the threshold compacts in the same call; under it, appends accumulate") {
    import graft.streaming.{Sinks, TrainingPipeline}
    import graft.vector.{VectorOps => V}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_cpol").toString
    val path = s"$base/p"
    val fresh0 = V.vecs(spark, dir).filter(col("vec_id") >= V.GateSplitAt)
    // distinct NEW vectors per call (same geometry — undrifted), the
    // shape a real ingest cron sees
    def shifted(i: Int) = fresh0.select(
      (col("vec_id") + lit(100000L * i)).as("vec_id"),
      col("label"), col("v"))
    def segsN: Int = Sinks.loadSegmentNames(spark, path).size
    def rowsOf(): Set[String] = Sinks.loadGateIndex(spark, path)._2.corpus
      .collect().map(_.mkString("|")).toSet
    // first call trains (1 seg) + appends the batch (2 segs)
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "pq",
      fresh0, compactAt = 3) === "retrain")
    assert(segsN === 2)
    // a fresh undrifted delta grows the manifest but stays under the
    // threshold — no compaction
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "pq",
      shifted(1), compactAt = 3) === "append")
    assert(segsN === 3)
    val before = rowsOf()
    // this append crosses the threshold (4 > 3): the SAME call compacts
    // back to one segment with the code rows untouched
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "pq",
      shifted(2), compactAt = 3) === "append+compact")
    assert(segsN === 1)
    assert(rowsOf().size === before.size + shifted(2).count(),
      "compaction must carry every appended row and nothing else")
    // the cycle restarts under the threshold
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "pq",
      shifted(3), compactAt = 3) === "append")
    assert(segsN === 2)
    // an ALL-DUPLICATE batch is a TRUE no-op: no empty segment, no
    // swap (r18 — a no-op cron call must not accrete manifest entries
    // toward a pointless compaction)
    val rowsBeforeDup = rowsOf()
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "pq",
      shifted(3), compactAt = 3) === "append")
    assert(segsN === 2, "an empty delta must not write a segment")
    assert(rowsOf() === rowsBeforeDup)
  }

  test("maintainIndex retrains when the published tier is not the requested one, and the batch lands in the new tier's index") {
    import graft.streaming.{Sinks, TrainingPipeline}
    import graft.vector.{VectorOps => V}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_tierswitch").toString
    val path = s"$base/idx"
    val freshHalf = V.vecs(spark, dir).filter(col("vec_id") >= V.GateSplitAt)
    Sinks.publishGateIndex(path, V.frozenPqIvfIndex(spark, dir))
    // undrifted against the published quantizer: on drift alone this
    // batch would take the append path into the pq index
    assert(TrainingPipeline.publishedIndexDriftMicro(spark, path, freshHalf)
      <= TrainingPipeline.IndexDriftBudgetMicro)
    assert(TrainingPipeline.maintainIndex(spark, dir, path, "sq8",
      freshHalf) === "retrain", "a cron switched to sq8 must get sq8")
    val (cfg, index) = Sinks.loadGateIndex(spark, path)
    assert(cfg.tier === "sq8")
    assert(index.isInstanceOf[graft.vector.GateIndex.Sq8])
    val indexed = index.corpus.select("corpus_id").collect()
      .map(_.getLong(0)).toSet
    assert(freshHalf.select("vec_id").collect().map(_.getLong(0)).toSet
      .subsetOf(indexed), "the batch must be in the new tier's index")
  }

  test("the gate tier is parsed in one file, the one holding GateIndex, and no per-tier index publish/load remains") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles.toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    def filesMatching(re: String): Set[String] = files(root).filter { f =>
      re.r.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
    }.map(f => root.toPath.relativize(f.toPath).toString).toSet
    val home = filesMatching("""sealed trait GateIndex\b""")
    assert(home.size === 1, s"GateIndex defined in $home")
    Seq("full", "pq", "sq8", "opq").foreach { tier =>
      assert(filesMatching(java.util.regex.Pattern.quote(s"""case "$tier"""")) === home,
        s"tier '$tier' is matched outside GateIndex")
    }
    assert(filesMatching("""def (publish|load)\w*IvfIndex\b""") === Set.empty)
    // the tokenizer family is parsed in the file holding Tokenizer, one
    // publish serves every family, and every filesystem is resolved
    // from its path
    val tokHome = filesMatching("""sealed trait Tokenizer\b""")
    assert(tokHome.size === 1, s"Tokenizer defined in $tokHome")
    Seq("char-bpe", "byte-bpe", "unigram").foreach { fam =>
      assert(filesMatching(java.util.regex.Pattern.quote(s"""case "$fam"""")) === tokHome,
        s"family '$fam' is matched outside Tokenizer")
    }
    assert(filesMatching("""def publish(CharBpe|ByteBpe|Unigram)Tokenizer\b""") === Set.empty)
    assert(filesMatching("""FileSystem\.get\(""") === Set.empty)
  }

  test("keyed sinks resolve the filesystem from the table path, not the default filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.alt.impl", classOf[AltSchemeFs].getName)
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_altfs").toString
      val path = s"alt:$base/t"
      graft.streaming.Sinks.upsertByKey(
        Seq((1L, 1L, 1L, "a")).toDF("k", "ts", "tie", "v"),
        path, Seq("k"), "ts", "tie")
      graft.streaming.Sinks.upsertByKey(
        Seq((1L, 2L, 1L, "b"), (2L, 1L, 1L, "c")).toDF("k", "ts", "tie", "v"),
        path, Seq("k"), "ts", "tie")
      val got = spark.read.parquet(path).select("k", "v").as[(Long, String)]
        .collect().toSet
      assert(got === Set((1L, "b"), (2L, "c")))
    } finally conf.unset("fs.alt.impl")
  }

  test("maintainTokenizer: drift routes keep vs retrain against the published baseline; breach republishes a NEW version through the atomic swap, no-breach leaves it bit-identical") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    val src = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_tokmaint").toString
    val dirA = s"$base/corpusA"
    val dirB = s"$base/corpusB"
    src.filter(col("doc_id") < 250L).write.parquet(s"$dirA/documents.parquet")
    val path = s"$base/tok"
    val fresh = src.filter(col("doc_id") >= 250L)
    // corpus B = A's docs PLUS the drifted mass (the retrain contract:
    // dir reflects the corpus including the batch that breached) — the
    // synthetic corpora share one word pool, so without genuinely new
    // words a retrain reproduces the identical artifact
    val driftedMass = fresh
      .withColumn("doc_id", col("doc_id") + lit(1000L))
      .withColumn("text",
        regexp_replace(lower(col("text")), "([a-z])", "$1$1"))
    src.unionByName(driftedMass).write.parquet(s"$dirB/documents.parquet")
    // missing artifact: the first call trains from scratch and signs a
    // baseline with the version
    assert(TP.maintainTokenizer(spark, dirA, path, "char-bpe", fresh)
      === "retrain")
    val v1 = Sinks.loadTokenizer(spark, path)._1
    assert(Sinks.loadTokenizerBaselines(spark, path)._1.nonEmpty,
      "trainAndPublishTokenizer must publish the train-time baseline")
    // undrifted same-distribution delta: keep, version bit-identical
    assert(TP.maintainTokenizer(spark, dirA, path, "char-bpe", fresh)
      === "keep")
    assert(Sinks.loadTokenizer(spark, path)._1 === v1,
      "a keep must not touch the published version")
    // drifted delta (letter-doubled text): breach -> retrain on the
    // corpus that now includes the shifted mass -> NEW version visible
    // through the one read path
    val doubled = fresh.withColumn("text",
      regexp_replace(lower(col("text")), "([a-z])", "$1$1"))
    assert(TP.maintainTokenizer(spark, dirB, path, "char-bpe", doubled)
      === "retrain")
    val v2 = Sinks.loadTokenizer(spark, path)._1
    assert(v2.fingerprint !== v1.fingerprint,
      "a breach retrain on a changed corpus must publish a new version")
    // legacy pre-baseline artifact: migrate via retrain, never crash
    val art = Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe]
    val legacy = s"$base/legacy"
    Sinks.publishTokenizer(spark, legacy, art)
    assert(Sinks.loadTokenizerBaselines(spark, legacy)._1.isEmpty)
    assert(TP.maintainTokenizer(spark, dirB, legacy, "char-bpe", fresh)
      === "retrain")
    assert(Sinks.loadTokenizerBaselines(spark, legacy)._1.nonEmpty,
      "the migrating retrain signs a baseline")
    // family mismatch: the requested family wins via retrain
    assert(TP.maintainTokenizer(spark, dirB, legacy, "unigram", fresh)
      === "retrain")
    assert(Sinks.loadTokenizer(spark, legacy)._1.family === "unigram")
    // and the q321 reporting face agrees with the routing the
    // maintenance call actually takes on the same corpus
    val routes = graft.text.Curation
      .tokenizerMaintenance(spark, "/root/testdata/sf0.001")
      .select("delta", "decision").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(routes === Map("doubled" -> "retrain", "fresh" -> "keep"))
  }

  test("fertilityMonitorFromArtifact: one read path dispatches all three families and equals each family's hash-verified batch face") {
    import graft.streaming.TrainingPipeline
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_tokmon").toString
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    // char-bpe: artifact monitor ≡ the q278 face's totals
    TrainingPipeline.trainAndPublishTokenizer(spark, dir,
      s"$base/char-bpe", "char-bpe")
    val charGot = TrainingPipeline
      .fertilityMonitorFromArtifact(docs, s"$base/char-bpe")
      .collect().map(s => (s.source, s.n_tokens, s.syms_total)).toSet
    val charWant = graft.text.Curation.bpeFertility(spark, dir)
      .select("source", "n_tokens", "syms_total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(charGot === charWant)
    // byte-bpe: artifact monitor ≡ the q305 face's totals
    TrainingPipeline.trainAndPublishTokenizer(spark, dir,
      s"$base/byte-bpe", "byte-bpe")
    val byteGot = TrainingPipeline
      .fertilityMonitorFromArtifact(docs, s"$base/byte-bpe")
      .collect().map(s => (s.source, s.n_tokens, s.syms_total)).toSet
    val byteWant = graft.text.Curation.byteBpeFertility(spark, dir)
      .select("source", "n_tokens", "syms_total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(byteGot === byteWant)
    // unigram: artifact monitor ≡ the q308 face's totals
    TrainingPipeline.trainAndPublishTokenizer(spark, dir,
      s"$base/unigram", "unigram")
    val uniGot = TrainingPipeline
      .fertilityMonitorFromArtifact(docs, s"$base/unigram")
      .collect().map(s => (s.source, s.n_tokens, s.syms_total)).toSet
    val uniWant = graft.text.Curation.unigramFertility(spark, dir)
      .select("source", "n_tokens", "pieces_total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(uniGot === uniWant,
      "artifact-loaded monitor must equal the hash-verified q308 face")
  }

  test("tokenizer version swap: a running monitor keeps its loaded version; the swap is visible only to monitors created after the rename") {
    import graft.streaming.{Sinks, TrainingPipeline}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tokswap").toString
    val path = s"$base/uni"
    // v1: only chars — 'abab' segments to 4 pieces
    Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.Unigram(
      Seq(("a", 1, 5L, 300000L), ("b", 1, 5L, 300000L))))
    val input = MemoryStream[(Long, String, String)]
    val mon1 = TrainingPipeline.fertilityMonitorFromArtifact(
      input.toDF().toDF("doc_id", "source", "text"), path)
    val q = mon1.writeStream.format("memory").queryName("tokswap_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "srcA", "abab"))
      q.processAllAvailable()
      // v2 lands mid-stream: 'ab' piece added — 'abab' would be 2 pieces
      Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.Unigram(
        Seq(("a", 1, 2L, 150000L), ("b", 1, 2L, 150000L),
          ("ab", 0, 4L, 400000L))))
      input.addData((2L, "srcA", "abab"))
      q.processAllAvailable()
      val rows = spark.table("tokswap_out")
        .select("source", "n_tokens", "syms_total").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // the RUNNING monitor keeps v1's lattice for both batches (its
      // plan captured the loaded version — the gate restart contract):
      // 1 token/4 pieces, then 2 tokens/8 pieces
      assert(rows === Set(("srcA", 1L, 4L), ("srcA", 2L, 8L)))
    } finally q.stop()
    // a monitor created AFTER the rename sees v2 (batch frame: one fold)
    val after = TrainingPipeline.fertilityMonitorFromArtifact(
      Seq((3L, "srcA", "abab")).toDF("doc_id", "source", "text"), path)
      .collect().map(s => (s.source, s.n_tokens, s.syms_total)).toSet
    assert(after === Set(("srcA", 1L, 2L)),
      "post-swap monitor must run the v2 lattice ('abab' → ab·ab)")
  }

  test("trainAndPublishIndex: one call per tier publishes state + tuned operating point; the unified gate runs the opq tier at that point") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_trainpub").toString
    Seq("full", "pq", "sq8", "opq").foreach { tier =>
      graft.streaming.TrainingPipeline
        .trainAndPublishIndex(spark, dir, s"$base/$tier", tier)
      val cfg = graft.streaming.Sinks.loadGateConfig(spark, s"$base/$tier").get
      assert(cfg.tier === tier)
      // each tier carries ITS OWN sweep's operating point (q290/q311/
      // q312; full keeps the semantic default)
      assert(cfg.thresholdMicro ===
        graft.vector.VectorOps.tunedThresholdMicroFor(spark, dir, tier),
        s"$tier index must carry its own sweep's operating point")
    }
    // the opq tier end-to-end at its TUNED point: stream admissions
    // through the unified gate equal the batch face at that threshold
    val tuned = graft.vector.VectorOps
      .tunedThresholdMicroFor(spark, dir, "opq")
    val want = graft.vector.VectorOps
      .opqAdmission(spark, dir, thresholdMicro = tuned)
      .filter(col("adc_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val freshRows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 250L)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => Vec(r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val input = MemoryStream[Vec]
    val q = graft.streaming.TrainingPipeline
      .annGateFromIndex(input.toDF(), s"$base/opq")
      .writeStream.format("memory").queryName("trainpub_opq")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(freshRows.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("trainpub_opq")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally q.stop()
    val err = intercept[IllegalArgumentException] {
      graft.streaming.TrainingPipeline
        .trainAndPublishIndex(spark, dir, s"$base/x", "hnsw")
    }
    assert(err.getMessage.contains("unknown gate tier"))
  }

  test("streaming per-minute throttle: two qualifying events in one minute emit once (T6)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val throttled = Pipelines.throttlePerMinuteStreaming(
      input.toDF().toDF("ts", "user_id"), watermark = "10 minutes")
    val q = throttled.writeStream.format("memory").queryName("throttle_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-05 12:00:05"), 1L))
      q.processAllAvailable()
      input.addData( // same device, same minute, LATER batch → suppressed
        (ts("2024-01-05 12:00:40"), 1L),
        // same device, next minute → emitted
        (ts("2024-01-05 12:01:10"), 1L))
      q.processAllAvailable()
      assert(spark.table("throttle_out").count() === 2)
    } finally q.stop()
  }

  test("parseEvents is PERMISSIVE: missing JSON fields become null, not errors (P1)") {
    val raw = Seq(
      """{"event_id": 1, "ts": "2024-01-05T10:00:00", "user_id": 7, "event_type": "view", "value": 1.5, "props": "{}"}""",
      """{"event_id": 2, "user_id": 8}""", // most fields absent
      """not json at all""")
      .toDF("value")
    val out = Pipelines.parseEvents(raw).collect()
    assert(out.length === 3)
    assert(out(0).getLong(0) === 1L && out(0).getString(3) === "view")
    assert(out(1).getLong(0) === 2L && out(1).isNullAt(3)) // event_type null
    assert(out(2).isNullAt(0)) // unparseable row → all-null record
  }

  test("checkpointed replay + idempotent keyed sink = effective exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    Seq((10L, "alice", ts("2024-01-05 10:00:00"), 1L),
        (20L, "bob", ts("2024-01-05 10:00:00"), 2L))
      .toDF("user_id", "name", "ts", "seq")
      .write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.Sinks.upsertByKey(batch, out, Seq("user_id"), "ts", "seq")
        }.start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() === 2)
    // restart against the same checkpoint: offsets say "done", and even a
    // re-delivered batch would upsert idempotently — still exactly 2 rows
    runOnce()
    assert(spark.read.parquet(out).count() === 2)
    // new data arrives, second restart picks up ONLY the delta
    Seq((30L, "carol", ts("2024-01-05 11:00:00"), 3L))
      .toDF("user_id", "name", "ts", "seq")
      .write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(out).count() === 3)
  }

  test("crash recovery: query killed mid-stream replays the uncommitted batch and converges to the batch answer") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeFile(rows: Seq[(Long, String, java.sql.Timestamp, Long)]): Unit =
      rows.toDF("user_id", "name", "ts", "seq")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // three files → three micro-batches under maxFilesPerTrigger = 1
    writeFile(Seq((10L, "alice-v1", ts("2024-01-05 10:00:00"), 1L),
      (20L, "bob", ts("2024-01-05 10:00:00"), 2L)))
    writeFile(Seq((10L, "alice-v2", ts("2024-01-05 11:00:00"), 3L),
      (30L, "carol", ts("2024-01-05 11:00:00"), 4L)))
    writeFile(Seq((40L, "dave", ts("2024-01-05 12:00:00"), 5L)))
    def run(injectCrash: Boolean): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Sinks.upsertByKey(batch, out, Seq("user_id"), "ts", "seq")
          // die AFTER the sink write but BEFORE the offset commit — the
          // worst crash point: the restart MUST re-deliver this batch,
          // and only sink idempotency keeps the output exactly-once
          if (injectCrash && id == 0L)
            throw new RuntimeException("injected crash before offset commit")
        }.start()
      try q.awaitTermination() catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          if (!injectCrash) throw e
      }
    }
    run(injectCrash = true) // killed during batch 0
    run(injectCrash = false) // recovery: replays batch 0, then 1 and 2
    val got = spark.read.parquet(out)
      .select("user_id", "name", "seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // the batch answer: last-write-wins compaction over ALL source rows
    val expected = graft.streaming.Pipelines.compactLatest(
        spark.read.parquet(srcDir), Seq("user_id"), "ts", "seq")
      .select("user_id", "name", "seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.map(_._1) === Set(10L, 20L, 30L, 40L))
    assert(got.find(_._1 == 10L).get._2 === "alice-v2") // replay kept the later write
  }

  test("keyed upsert compacts by the FULL composite key (regression)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert2").toString
    val path = s"$dir/dau"
    // one user, two days in ONE batch — compaction must keep BOTH rows
    val b = Seq(
      (10L, "2024-01-05", ts("2024-01-05 10:00:00"), 1L),
      (10L, "2024-01-06", ts("2024-01-06 10:00:00"), 2L))
      .toDF("user_id", "log_date", "ts", "seq")
    graft.streaming.Sinks.upsertByKey(b, path, Seq("user_id", "log_date"), "ts", "seq")
    val out = spark.read.parquet(path).select("user_id", "log_date").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((10L, "2024-01-05"), (10L, "2024-01-06")))
  }

  test("foreachBatch keyed upsert is idempotent and last-write-wins (K1/T8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val path = s"$dir/dim"
    val b1 = Seq(
      (10L, "alice", ts("2024-01-05 10:00:00"), 1L),
      (20L, "bob", ts("2024-01-05 10:00:00"), 2L))
      .toDF("user_id", "name", "ts", "seq")
    graft.streaming.Sinks.upsertByKey(b1, path, Seq("user_id"), "ts", "seq")
    val b2 = Seq( // update alice (newer), insert carol
      (10L, "alice2", ts("2024-01-05 11:00:00"), 3L),
      (10L, "alice3", ts("2024-01-05 11:00:00"), 4L), // same ts → seq breaks tie
      (30L, "carol", ts("2024-01-05 10:30:00"), 5L))
      .toDF("user_id", "name", "ts", "seq")
    graft.streaming.Sinks.upsertByKey(b2, path, Seq("user_id"), "ts", "seq")
    val out = spark.read.parquet(path).select("user_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((10L, "alice3"), (20L, "bob"), (30L, "carol")))
  }

  test("CDC apply sink merges insert/update/delete and replays idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val path = s"$dir/snap"
    def apply(b: org.apache.spark.sql.DataFrame): Unit =
      graft.streaming.Sinks.applyCdc(b, path, Seq("k"), Seq("name"), "ts", "seq")
    def state(): Set[(Long, String)] =
      spark.read.parquet(path).select("k", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val b1 = Seq(
      (10L, "insert", "alice", ts("2024-01-05 10:00:00"), 1L),
      (20L, "insert", "bob", ts("2024-01-05 10:00:00"), 2L),
      (30L, "insert", "carol", ts("2024-01-05 10:00:00"), 3L))
      .toDF("k", "op", "name", "ts", "seq")
    apply(b1)
    assert(state() === Set((10L, "alice"), (20L, "bob"), (30L, "carol")))
    // update + delete + an insert→delete netting to delete INSIDE a batch
    val b2 = Seq(
      (10L, "update", "alice2", ts("2024-01-05 11:00:00"), 4L),
      (20L, "delete", null, ts("2024-01-05 11:00:00"), 5L),
      (40L, "insert", "dave", ts("2024-01-05 11:00:00"), 6L),
      (40L, "delete", null, ts("2024-01-05 11:30:00"), 7L))
      .toDF("k", "op", "name", "ts", "seq")
    apply(b2)
    val afterB2 = state()
    assert(afterB2 === Set((10L, "alice2"), (30L, "carol")))
    // replaying the committed batch must be a no-op on the applied state
    apply(b2)
    assert(state() === afterB2)
    // delete → later re-insert across batches resurrects the key
    apply(Seq((20L, "insert", "bob2", ts("2024-01-05 12:00:00"), 8L))
      .toDF("k", "op", "name", "ts", "seq"))
    assert(state() === Set((10L, "alice2"), (30L, "carol"), (20L, "bob2")))
  }

  test("CDC apply: a winning null or unknown op drops an existing key; insert→delete inside one batch nets to delete") {
    val path = java.nio.file.Files.createTempDirectory("graft_cdc_ops").toString + "/snap"
    def apply(rows: (Long, String, String, Timestamp, Long)*): Unit =
      graft.streaming.Sinks.applyCdc(rows.toDF("k", "op", "name", "ts", "seq"),
        path, Seq("k"), Seq("name"), "ts", "seq")
    def state(): Set[(Long, String)] =
      spark.read.parquet(path).select("k", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    apply((10L, "insert", "a", ts("2024-01-05 10:00:00"), 1L),
      (20L, "insert", "b", ts("2024-01-05 10:00:00"), 2L),
      (30L, "insert", "c", ts("2024-01-05 10:00:00"), 3L),
      (40L, "insert", "d", ts("2024-01-05 10:00:00"), 4L))
    apply((10L, null, "a2", ts("2024-01-05 11:00:00"), 5L),
      (20L, "upsert", "b2", ts("2024-01-05 11:00:00"), 6L),
      (30L, "update", "c2", ts("2024-01-05 11:00:00"), 7L),
      (40L, "insert", "d2", ts("2024-01-05 11:00:00"), 8L),
      (40L, "delete", null, ts("2024-01-05 11:30:00"), 9L),
      (50L, "insert", "e", ts("2024-01-05 11:00:00"), 10L),
      (50L, "delete", null, ts("2024-01-05 11:30:00"), 11L))
    assert(state() === Set((30L, "c2")))
  }

  test("keyed upsert replays a batch with a null key component idempotently") {
    val path = java.nio.file.Files.createTempDirectory("graft_upsert_null").toString + "/dau"
    def upsert(rows: (Long, Option[String], String, Timestamp, Long)*): Unit =
      graft.streaming.Sinks.upsertByKey(rows.toDF("user_id", "log_date", "name", "ts", "seq"),
        path, Seq("user_id", "log_date"), "ts", "seq")
    def state(): Set[(Long, Option[String], String)] =
      spark.read.parquet(path).select("user_id", "log_date", "name").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    val batch = Seq((10L, Some("2024-01-05"), "alice", ts("2024-01-05 10:00:00"), 1L),
      (20L, None, "bob", ts("2024-01-05 10:00:00"), 2L))
    (1 to 3).foreach { _ =>
      upsert(batch: _*)
      assert(spark.read.parquet(path).count() === 2L)
      assert(state() === Set((10L, Some("2024-01-05"), "alice"), (20L, None, "bob")))
    }
    // a null key component still matches itself: the later write replaces it
    upsert((20L, None, "bob2", ts("2024-01-05 11:00:00"), 3L))
    assert(state() === Set((10L, Some("2024-01-05"), "alice"), (20L, None, "bob2")))
  }

  test("keyed sinks evaluate a micro-batch once when merging onto an existing table") {
    import org.apache.spark.sql.functions.udf
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_reads").toString
    val rows = Seq(
      (10L, "insert", "alice", ts("2024-01-05 10:00:00"), 1L),
      (20L, "insert", "bob", ts("2024-01-05 10:00:00"), 2L),
      (20L, "update", "bob2", ts("2024-01-05 10:30:00"), 3L),
      (30L, "insert", "carol", ts("2024-01-05 11:00:00"), 4L))
    rows.toDF("k", "op", "name", "ts", "seq").write.parquet(s"$dir/src")
    val reads = spark.sparkContext.longAccumulator("sink-batch-reads")
    val seen = udf { (k: Long) => reads.add(1); k }
    // a scanned source (not a local relation, which the optimizer would
    // evaluate on the driver), every row through the counting UDF
    def batch() = spark.read.parquet(s"$dir/src").withColumn("k", seen(col("k")))
    def evaluations(write: => Unit): Long = {
      reads.reset()
      write
      reads.value
    }
    val up = s"$dir/up"
    val cdc = s"$dir/cdc"
    def upsert() = graft.streaming.Sinks.upsertByKey(batch(), up, Seq("k"), "ts", "seq")
    def applyCdc() =
      graft.streaming.Sinks.applyCdc(batch(), cdc, Seq("k"), Seq("name"), "ts", "seq")
    assert(evaluations(upsert()) === rows.size)
    assert(evaluations(upsert()) === rows.size)
    assert(evaluations(applyCdc()) === rows.size)
    assert(evaluations(applyCdc()) === rows.size)
    assert(spark.read.parquet(cdc).select("k", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((10L, "alice"), (20L, "bob2"), (30L, "carol")))
  }

  test("a keyed sink's table read starts no job and has the inferred schema, watermark metadata included") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_schema").toString
    val up = s"$dir/up"
    val cdc = s"$dir/cdc"
    val input = MemoryStream[(Long, String, String, Timestamp, Long)]
    val q = input.toDF().toDF("k", "op", "name", "ts", "seq")
      .withWatermark("ts", "10 seconds")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.Sinks.upsertByKey(b, up, Seq("k"), "ts", "seq")
        graft.streaming.Sinks.applyCdc(b, cdc, Seq("k"), Seq("name", "ts"), "ts", "seq")
      }.start()
    try {
      Seq(
        Seq((10L, "insert", "alice", ts("2024-01-05 10:00:00"), 1L),
          (20L, "insert", "bob", ts("2024-01-05 10:00:00"), 2L)),
        Seq((10L, "update", "alice2", ts("2024-01-05 10:01:00"), 3L),
          (30L, "insert", "carol", ts("2024-01-05 10:01:00"), 4L))
      ).foreach { rows =>
        input.addData(rows)
        q.processAllAvailable()
        Seq(up, cdc).foreach { p =>
          val inferred = spark.read.parquet(p)
          assert(inferred.schema("ts").metadata.contains("spark.watermarkDelayMs"))
          assert(jobsStartedBy(graft.streaming.Sinks.readTable(spark, p)) === 0)
          val read = graft.streaming.Sinks.readTable(spark, p)
          assert(read.schema === inferred.schema)
          assert(read.collect().toSet === inferred.collect().toSet)
        }
      }
    } finally q.stop()
    assert(spark.read.parquet(up).count() === 3L)
  }

  case class Doc(doc_id: Long, source: String, lang: String, text: String)

  test("streaming top-sellers counts accumulate across micro-batches (A10 realtime)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val counts = Pipelines.topSellersStreaming(
      input.toDF().toDF("order_id", "sku_id"))
    val q = counts.writeStream.format("memory").queryName("top_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, 10L), (2L, 10L), (3L, 20L))
      q.processAllAvailable()
      input.addData((4L, 20L), (5L, 20L), (6L, 30L))
      q.processAllAvailable()
      // update-mode sink: latest row per key wins; rank on read
      val latest = spark.table("top_out")
        .groupBy("sku_id").agg(max("ct").as("ct"))
        .orderBy(col("ct").desc, col("sku_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(latest.toSeq === Seq((20L, 3L), (10L, 2L), (30L, 1L)))
    } finally q.stop()
  }

  test("per-batch dim refresh: foreachBatch enrichment sees dim updates (J3 refresh)") {
    // A stream-static join snapshots the static side's FILE LISTING at
    // plan time (overwriting the dim mid-query throws FILE_NOT_EXIST),
    // so the refreshable-dim pattern is a fresh read inside foreachBatch
    // — each micro-batch enriches against the dim as of that batch. The
    // reference polls Redis per batch for the same reason
    // (SaleDetailApp.scala:146). Sinks.upsertByKey's bak/tmp swap keeps
    // a complete dim readable at every instant of its own rewrite.
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dimref").toString
    val dimDir = s"$dir/dim"; val outDir = s"$dir/out"
    Seq((100L, "bronze")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("event_id", "user_id").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.sparkSession.read.parquet(dimDir)
          .join(batch, Seq("user_id"))
          .write.mode("append").parquet(outDir)
      }.start()
    try {
      input.addData((1L, 100L))
      q.processAllAvailable()
      Seq((100L, "gold")).toDF("user_id", "tier")
        .write.mode("overwrite").parquet(dimDir)
      input.addData((2L, 100L))
      q.processAllAvailable()
      val out = spark.read.parquet(outDir).select("event_id", "tier").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out === Map(1L -> "bronze", 2L -> "gold"))
    } finally q.stop()
  }

  test("streaming funnel state machine advances across batches, suppresses no-ops") {
    implicit val sq = spark.sqlContext
    import graft.streaming.CustomState.{FunnelEv, funnelStream}
    val input = MemoryStream[FunnelEv]
    val q = funnelStream(input.toDS()).toDF().writeStream.format("memory")
      .queryName("funnel_out").outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 views then clicks; user 2 clicks with NO view (ignored)
      input.addData(
        FunnelEv(1L, 1000L, "view"), FunnelEv(1L, 2000L, "click"),
        FunnelEv(2L, 1000L, "click"))
      q.processAllAvailable()
      val b1 = spark.table("funnel_out").collect()
      assert(b1.map(_.getLong(0)).toSet === Set(1L), "user 2 emitted nothing")
      assert(b1.head.getLong(4) === 2L)
      // batch 2: user 1 purchases (advances to stage 3); a LATE view for
      // user 1 at ts 500 must not rewind the greedy state; user 2 still dark
      input.addData(
        FunnelEv(1L, 3000L, "purchase"), FunnelEv(1L, 500L, "view"),
        FunnelEv(2L, 4000L, "error"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").collect().filter(_.getLong(0) == 1L)
      val last = rows.maxBy(_.getLong(4))
      assert(last.getLong(4) === 3L)
      assert(last.getLong(1) === 1000L, "greedy state keeps the first-seen view")
      assert(last.getLong(3) === 3000L)
      assert(!spark.table("funnel_out").collect().exists(_.getLong(0) == 2L))
    } finally q.stop()
  }

  test("streaming funnel matches the batch operator on in-order real data") {
    implicit val sq = spark.sqlContext
    import graft.streaming.CustomState.{FunnelEv, funnelStream}
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
      .select(col("user_id"), org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .orderBy("ts_us").as[FunnelEv].collect()
    val input = MemoryStream[FunnelEv]
    val q = funnelStream(input.toDS()).toDF().writeStream.format("memory")
      .queryName("funnel_parity_out").outputMode(OutputMode.Update()).start()
    try {
      // feed in timestamp order split across three batches
      events.grouped(math.max(1, events.length / 3)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // latest emission per user == the batch funnel
      val streamed = spark.table("funnel_parity_out").collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.maxBy(_.getLong(4)) }
      val batch = graft.ops.Publisher.funnel(spark, dir).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(streamed.keySet === batch.keySet)
      batch.foreach { case (u, b) =>
        val s = streamed(u)
        (1 to 3).foreach { i =>
          assert(b.isNullAt(i) === s.isNullAt(i), s"null parity user $u col $i")
          if (!b.isNullAt(i)) assert(b.getLong(i) === s.getLong(i), s"user $u col $i")
        }
        assert(b.getLong(4) === s.getLong(4), s"stage for $u")
      }
    } finally q.stop()
  }

  test("streaming n-gram counts accumulate across batches (update mode)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Doc]
    val counts = input.toDF()
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr("graft_ngram_counts(text, 2)")).as("g"))
      .groupBy(col("g.gram").as("bigram"))
      .agg(org.apache.spark.sql.functions.sum(col("g.ct")).as("ct"))
    val q = counts.writeStream.format("memory")
      .queryName("ngram_out").outputMode(OutputMode.Update()).start()
    try {
      input.addData(Doc(1, "web", "en", "a b a b"))
      q.processAllAvailable()
      input.addData(Doc(2, "web", "en", "a b c"))
      q.processAllAvailable()
      // update-mode memory sink keeps every emission; latest state per key
      // is the last row — "a b" must have accumulated 2 (batch 1) + 1
      val latest = spark.table("ngram_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(latest("a b") === 3L)
      assert(latest("b a") === 1L)
      assert(latest("b c") === 1L)
    } finally q.stop()
  }

  test("streaming corpus ingest: quality gate + cross-batch dedup + chunking") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline.corpusIngest(
      input.toDF(), chunkLen = 4, stride = 2, minTokens = 3,
      stopRatioMin = 0.0, stopRatioMax = 1.0)
    val q = out.writeStream.format("memory")
      .queryName("corpus_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Doc(1, "web", "en", "the quick brown fox jumps over the lazy dog"), // 9 tokens
        Doc(2, "web", "en", "too short"))                                   // gated out
      q.processAllAvailable()
      input.addData(
        Doc(3, "web", "en", "The  quick brown fox jumps over the lazy DOG"), // dup of 1 after normalization
        Doc(4, "books", "en", "one two three four five six"))                // 6 tokens
      q.processAllAvailable()
      val rows = spark.table("corpus_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      // doc 1: 9 tokens, stride 2 → starts 0,2,4,6,8 → 5 chunks
      assert(rows.count(_._1 == 1L) === 5)
      // doc 2 gated, doc 3 deduped (same normalized content as 1)
      assert(!rows.exists(_._1 == 2L) && !rows.exists(_._1 == 3L))
      // doc 4: 6 tokens → starts 0,2,4 → 3 chunks; first chunk text exact
      val d4 = rows.filter(_._1 == 4L).sortBy(_._3)
      assert(d4.length === 3)
      assert(d4.head._4 === "one two three four" && d4.head._2 === "books")
    } finally q.stop()
  }

  test("streaming near-dup admission: prefix-index matches die at exact threshold, sub-threshold docs survive") {
    implicit val sq = spark.sqlContext
    // frozen corpus: a 12-token doc (10 shingles, prefix length
    // 10 - ceil(7) + 1 = 4) and an unrelated filler doc
    val corpusArr = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (101L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce trece"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("arr"))
    val postings = graft.dedup.PrefixJoin.prefixPostingsOf(corpusArr)
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline.corpusIngest(
      input.toDF(), chunkLen = 4, stride = 4, minTokens = 3,
      stopRatioMin = 0.0, stopRatioMax = 1.0,
      nearDupIndex = Some((postings, corpusArr)))
    val q = out.writeStream.format("memory")
      .queryName("neardup_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        // 14 tokens = 12 shingles sharing corpus doc 100's 10:
        // J = 10/12 > 0.7 -> rejected despite a NOVEL md5
        Doc(1, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"),
        // 9 tokens = corpus doc's first 7 shingles, all shared:
        // J = 7/(7 + 10 - 7) = 0.7 EXACTLY -> rejected (>= threshold),
        // and sits exactly on the size-filter boundary (7*10 == 10*7)
        Doc(2, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india"),
        // shares the "alpha bravo charlie" shingle only: J = 1/18 -> admitted
        Doc(3, "web", "en", "alpha bravo charlie completely different continuation of twelve unrelated words here"),
        // nothing shared at all -> admitted
        Doc(4, "books", "en", "entirely novel text with no overlap against the frozen corpus index"))
      q.processAllAvailable()
      input.addData(
        // later batch still probes the frozen index -> rejected
        Doc(5, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima oscar papa"),
        // in-stream exact dup of admitted doc 4 -> killed by the fp state
        Doc(6, "web", "en", "entirely novel text with no overlap against the frozen corpus index"))
      q.processAllAvailable()
      val ids = spark.table("neardup_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(3L, 4L),
        s"near-dups (1, 2, 5) and in-stream dup (6) must die; got $ids")
    } finally q.stop()
  }

  test("near-dup gate + fp dedup admit the IDENTICAL set under the default and RocksDB state stores; state is bounded by admitted fingerprints") {
    // the 100 TB state story (judge r11 task 5): the in-stream dedup
    // state must be (a) provider-portable — the HDFS-backed default and
    // RocksDB produce the same admitted set for the same input — and
    // (b) bounded by DISTINCT ADMITTED fingerprints, never by docs seen
    implicit val sq = spark.sqlContext
    val corpusArr = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("arr"))
    val postings = graft.dedup.PrefixJoin.prefixPostingsOf(corpusArr)
    def run(provider: Option[String], name: String): (Set[Long], Long) = {
      provider.foreach(p =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      try {
        val input = MemoryStream[Doc]
        val out = graft.streaming.TrainingPipeline.corpusIngest(
          input.toDF(), chunkLen = 4, stride = 4, minTokens = 3,
          stopRatioMin = 0.0, stopRatioMax = 1.0,
          nearDupIndex = Some((postings, corpusArr)))
        val q = out.writeStream.format("memory").queryName(name)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"graft_$name").toString)
          .outputMode(OutputMode.Append()).start()
        try {
          input.addData(
            // near-dup of corpus 100 -> rejected by the gate
            Doc(1, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"),
            // novel -> admitted
            Doc(2, "web", "en", "alpha bravo charlie completely different continuation of twelve unrelated words here"),
            Doc(3, "books", "en", "entirely novel text with no overlap against the frozen corpus index"))
          q.processAllAvailable()
          input.addData(
            // exact in-stream dup of 3 -> killed by the fp state
            Doc(4, "web", "en", "entirely novel text with no overlap against the frozen corpus index"),
            // frozen index still probed in batch 2 -> rejected
            Doc(5, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima oscar papa"))
          q.processAllAvailable()
          val ids = spark.table(name).select("doc_id")
            .collect().map(_.getLong(0)).toSet
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          (ids, stateRows)
        } finally q.stop()
      } finally provider.foreach(_ =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))
    }
    val (idsDefault, rowsDefault) = run(None, "gate_hdfs")
    val (idsRocks, rowsRocks) = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "gate_rocks")
    assert(idsDefault === Set(2L, 3L), s"expected {2, 3}; got $idsDefault")
    assert(idsRocks === idsDefault,
      s"provider changed the admitted set: $idsRocks vs $idsDefault")
    // bounded state: one fp row per DISTINCT ADMITTED fingerprint (2) —
    // the rejected docs (1, 5), the dup (4) and the gate's own
    // flatMapGroupsWithState (state never updated) contribute ZERO rows
    assert(rowsDefault === 2L, s"default-provider state rows: $rowsDefault")
    assert(rowsRocks === 2L, s"rocksdb state rows: $rowsRocks")
  }

  case class Vec(vec_id: Long, label: Long, v: Seq[Double])

  test("streaming ANN admission: frozen-IVF probe rejects at the exact micro threshold, admits sub-threshold and unprobed-cell misses") {
    implicit val sq = spark.sqlContext
    // frozen index fixture (2-D so every cosine is exact rational
    // integer arithmetic): quantizer cells c0=(1,0), c1=(0,1); corpus
    // vector 100=(3,4) pinned to cell 0, 101=(0,5) to cell 1.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpusAssigned = Seq(
      (0, 100L, Seq(3.0, 4.0)),
      (1, 101L, Seq(0.0, 5.0)))
      .toDF("cell", "corpus_id", "cv")
    val input = MemoryStream[Vec]
    // threshold = the exact micro value of fresh 1's cosine (24/25):
    // the >= boundary must REJECT, one micro below must survive
    val out = graft.streaming.TrainingPipeline.annGate(
      input.toDF(), graft.vector.GateIndex.Full(cents, corpusAssigned),
      nProbe = 1, thresholdMicro = 960000L)
    val q = out.writeStream.format("memory")
      .queryName("anngate_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        // d(v,c0)=18 < d(v,c1)=20 -> probes cell 0; cos vs 100 =
        // 24/25 -> micro 960000, EXACTLY the threshold -> rejected
        Vec(1, 0, Seq(4.0, 3.0)),
        // probes cell 0; cos vs 100 = 15/25 = 0.6 -> 600000 -> admitted
        Vec(2, 0, Seq(5.0, 0.0)),
        // probes cell 1; cos vs 101 = 45/45 = 1.0 -> rejected
        Vec(3, 0, Seq(0.0, 9.0)))
      q.processAllAvailable()
      input.addData(
        // later micro-batch still probes the FROZEN index -> rejected
        Vec(4, 0, Seq(0.0, 7.0)),
        // RECALL-limited by design: (3,4) probes cell 1 (d=18 vs 20),
        // missing its true near-dup 100=(3,4) pinned in cell 0; the
        // probed cos vs 101 = 20/25 -> 800000 < threshold -> admitted
        Vec(5, 0, Seq(3.0, 4.0)))
      q.processAllAvailable()
      val got = spark.table("anngate_out")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(2L, 5L),
        s"boundary (1), exact dup (3), late dup (4) must die; " +
          s"sub-threshold (2) and unprobed-cell miss (5) survive; got $got")
      // the admitted rows carry the embedding payload through the gate
      val v2 = spark.table("anngate_out").filter(col("vec_id") === 2L)
        .select("v").head().getSeq[Double](0)
      assert(v2 === Seq(5.0, 0.0))
    } finally q.stop()
  }

  test("streaming PSI monitor matches the batch windowedPsi day-for-day on in-order data") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // arm the monitor with the frozen reference the batch op derives
    val cents = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val Array(lo, hi) = cents.agg(
        org.apache.spark.sql.functions.min(col("cents")),
        max(col("cents"))).collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val refCounts = cents
      .withColumn("band", expr(
        s"GREATEST(0L, LEAST(9L, ((cents - ${lo}L) * 10) div (${hi}L - ${lo}L + 1)))"))
      .groupBy("band").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = (0 to 9).map(b => refCounts.getOrElse(b.toLong, 0L))
    val input = MemoryStream[Ev]
    val out = Pipelines.psiStream(input.toDF(), lo, hi, ref)
    val q = out.writeStream.format("memory")
      .queryName("psi_out").outputMode(OutputMode.Update()).start()
    try {
      val evs = graft.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .collect().map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getString(3), r.getDouble(4), r.getString(5)))
      input.addData(evs.toIndexedSeq: _*)
      q.processAllAvailable()
      // update mode re-emits on change; all data in one batch -> one row
      // per day, which must equal the batch frame exactly
      val got = spark.table("psi_out")
        .select("day", "n_events", "psi_micro", "drifted").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map(_._2.last).toSeq.sortBy(_._1)
      val want = graft.ops.Quality.windowedPsi(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(got === want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("near-dup gate + fp-dedup state survive a checkpointed restart") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_gate_ckpt").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val corpusArr = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("arr"))
    val postings = graft.dedup.PrefixJoin.prefixPostingsOf(corpusArr)
    def writeFile(rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("doc_id", "source", "lang", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val chunks = graft.streaming.TrainingPipeline.corpusIngest(
        stream, chunkLen = 4, stride = 4, minTokens = 3,
        stopRatioMin = 0.0, stopRatioMax = 1.0,
        nearDupIndex = Some((postings, corpusArr)))
      val q = chunks.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(Seq(
      (1L, "web", "en", "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"), // near-dup of corpus
      (2L, "web", "en", "completely novel sentence with seven brand new words")))
    runOnce()
    writeFile(Seq(
      (3L, "web", "en", "completely novel sentence with seven brand new words"), // exact dup of 2 ACROSS the restart
      (4L, "books", "en", "another genuinely new document for the corpus here")))
    runOnce()
    val ids = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 dies at the frozen prefix index, 3 dies in the RESTORED fp-dedup
    // state (the restart must reload both stateful operators' stores)
    assert(ids === Set(2L, 4L),
      s"state must survive the checkpointed restart; got $ids")
  }

  test("ANN admission gate survives a checkpointed restart against the frozen index") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_anngate_ckpt").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpusAssigned = Seq(
      (0, 100L, Seq(3.0, 4.0)), (1, 101L, Seq(0.0, 5.0)))
      .toDF("cell", "corpus_id", "cv")
    def writeFile(rows: Seq[(Long, Long, Seq[Double])]): Unit =
      rows.toDF("vec_id", "label", "v")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = graft.streaming.TrainingPipeline.annGate(
          stream, graft.vector.GateIndex.Full(cents, corpusAssigned),
          nProbe = 1, thresholdMicro = 960000L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(Seq(
      (1L, 0L, Seq(4.0, 3.0)),  // cos 24/25 = threshold -> rejected
      (2L, 0L, Seq(5.0, 0.0)))) // cos 0.6 -> admitted
    runOnce()
    writeFile(Seq(
      (3L, 0L, Seq(0.0, 9.0)),  // frozen index STILL probed post-restart -> rejected
      (4L, 0L, Seq(-7.0, 0.0)))) // cos 0 -> admitted
    runOnce()
    val ids = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L),
      s"gate must keep rejecting via the frozen index across the restart; got $ids")
  }

  test("ANN gate picks up an ATOMICALLY re-balanced index across a restart; crash-mid-swap still loads a complete old index") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ivfswap").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val idx = s"$base/ivf_index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // v1 = the q261 fixture: (3,4) probes cell 1 and MISSES its exact
    // dup corpus 100=(3,4) assigned to cell 0 — the recall seam the
    // q263 re-balance then fixes by re-assigning 100 to cell 1
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val v1Assigned = Seq((0, 100L, Seq(3.0, 4.0)), (1, 101L, Seq(0.0, 5.0)))
      .toDF("cell", "corpus_id", "cv")
    val v2Assigned = Seq((1, 100L, Seq(3.0, 4.0)), (1, 101L, Seq(0.0, 5.0)))
      .toDF("cell", "corpus_id", "cv")
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Full(cents, v1Assigned))
    def writeFile(rows: Seq[(Long, Long, Seq[Double])]): Unit =
      rows.toDF("vec_id", "label", "v")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // the gate loads WHATEVER index version is current at (re)start —
    // the maintenance handoff under test
    def runOnce(): Unit = {
      val (_, index) = graft.streaming.Sinks.loadGateIndex(spark, idx)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = graft.streaming.TrainingPipeline.annGate(
          stream, index, nProbe = 1, thresholdMicro = 960000L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // each micro-batch's expected admission = the ORACLE-VERIFIED batch
    // arithmetic (annGateCandidates IS the shared code) on that batch's
    // index version
    def batchAdmit(rows: Seq[(Long, Long, Seq[Double])],
                   assigned: org.apache.spark.sql.DataFrame): Set[Long] = {
      val df = rows.toDF("vec_id", "label", "v")
      val rejected = graft.vector.VectorOps
        .annGateCandidates(df, cents, assigned, nProbe = 1)
        .filter(expr("CAST(FLOOR(1000000.0d * cos + 0.5d) AS BIGINT) >= 960000"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      rows.map(_._1).toSet -- rejected
    }
    val batch1 = Seq(
      (1L, 0L, Seq(3.0, 4.0)),  // v1 seam: probes cell 1, cos 0.8 -> ADMITTED
      (2L, 0L, Seq(4.0, 3.0)))  // probes cell 0, cos 24/25 -> rejected
    writeFile(batch1)
    runOnce()
    assert(batchAdmit(batch1, v1Assigned) === Set(1L))
    // maintenance computes v2, then CRASHES between the two renames:
    // tmp fully written, dst moved aside — the worst swap instant
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("cell", "v")
      .write.parquet(idx + "__tmp/centroids")
    v2Assigned.write.parquet(idx + "__tmp/assigned")
    fs.rename(p(idx), p(idx + "__bak"))
    assert(!fs.exists(p(idx)))
    val midAssigned = graft.streaming.Sinks.loadGateIndex(spark, idx)._2.corpus
    assert(midAssigned.filter(col("corpus_id") === 100L)
      .head().getInt(0) === 0,
      "crash-mid-swap must recover the COMPLETE v1 index, not the torn tmp")
    fs.delete(p(idx + "__tmp"), true)
    // now the real atomic publish, then the gate restarts from the SAME
    // checkpoint and must probe v2
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Full(cents, v2Assigned))
    val batch2 = Seq(
      (3L, 0L, Seq(3.0, 4.0)),  // v2: probes cell 1, exact dup present -> REJECTED
      (4L, 0L, Seq(5.0, 0.0)))  // probes cell 0, now EMPTY -> admitted
    writeFile(batch2)
    runOnce()
    assert(batchAdmit(batch2, v2Assigned) === Set(4L))
    val ids = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 4L),
      s"admitted sets must match the per-version batch faces; got $ids")
  }

  test("PQ-compressed ADC gate admits EXACTLY the q284 batch face's adc_admit set (stream-batch parity on real data)") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val index = graft.vector.VectorOps.frozenPqIvfIndex(spark, dir)
    val want = graft.vector.VectorOps.pqAdmission(spark, dir)
      .filter(col("adc_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val freshRows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 250L)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => Vec(r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val (b1, b2) = freshRows.splitAt(freshRows.length / 2)
    val input = MemoryStream[Vec]
    val out = graft.streaming.TrainingPipeline.annGate(input.toDF(), index)
    val q = out.writeStream.format("memory")
      .queryName("adcgate_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("adcgate_out")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === want,
        s"stream admissions must equal the oracle-verified batch face; " +
          s"diff ${(got -- want) ++ (want -- got)}")
      // the gate actually filters on this data (not vacuous)
      assert(want.nonEmpty && want.size < freshRows.length)
    } finally q.stop()
  }

  test("decontamination gate admits EXACTLY the train docs q161 does not drop (stream-batch parity on real data)") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val dropped = graft.text.TextOps.decontaminate(spark, dir)
      .filter(col("dropped") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trainDocs = graft.Tables.documents(spark, dir)
      // q161's train side of the split rule
      .filter(expr("substring(md5(cast(doc_id as string)), 1, 1) not in ('0', '1')"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3)))
    val want = trainDocs.map(_.doc_id).toSet -- dropped
    val evalSet = graft.text.TextOps.evalShingleSet(spark, dir).cache()
    val (b1, b2) = trainDocs.splitAt(trainDocs.length / 2)
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline.decontamGate(
      input.toDF().select("doc_id", "source", "text"), evalSet)
    val q = out.writeStream.format("memory")
      .queryName("decontam_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("decontam_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want,
        s"stream admissions must equal q161's keep set; " +
          s"diff ${(got -- want) ++ (want -- got)}")
      // the gate actually drops on this data (not vacuous)
      assert(dropped.nonEmpty && want.nonEmpty)
    } finally q.stop()
  }

  test("SQ8-compressed gate admits EXACTLY the q297 batch face's sq8_admit set (stream-batch parity on real data)") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val index = graft.vector.VectorOps.frozenSq8IvfIndex(spark, dir)
    val want = graft.vector.VectorOps.sq8Admission(spark, dir)
      .filter(col("sq8_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val freshRows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 250L)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => Vec(r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val (b1, b2) = freshRows.splitAt(freshRows.length / 2)
    val input = MemoryStream[Vec]
    val out = graft.streaming.TrainingPipeline.annGate(input.toDF(), index)
    val q = out.writeStream.format("memory")
      .queryName("sq8gate_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("sq8gate_out")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === want,
        s"stream admissions must equal the oracle-verified batch face; " +
          s"diff ${(got -- want) ++ (want -- got)}")
      assert(want.nonEmpty && want.size < freshRows.length)
    } finally q.stop()
  }

  test("PQ-compressed ADC gate admits the IDENTICAL set under default and RocksDB state stores") {
    implicit val sq = spark.sqlContext
    // 2-D fixture, m=2 (subDim 1), c=2: corpus 100=(5,4) has codes
    // [1,1] -> recon (5,4) EXACTLY, so ADC cosine arithmetic is exact
    val cents = Seq(Seq(1.0, 0.0))
    val cb = Map((0, 0) -> Seq(1.0), (0, 1) -> Seq(5.0),
      (1, 0) -> Seq(0.0), (1, 1) -> Seq(4.0))
    val corpusCodes = Seq((0, 100L, Seq(1, 1)))
      .toDF("cell", "corpus_id", "codes")
    def run(provider: Option[String], name: String): Set[Long] = {
      provider.foreach(p =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      try {
        val input = MemoryStream[Vec]
        val out = graft.streaming.TrainingPipeline.annGate(
          input.toDF(), graft.vector.GateIndex.Pq(cents, cb, corpusCodes),
          nProbe = 1, thresholdMicro = 900000L)
        val q = out.writeStream.format("memory").queryName(name)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"graft_$name").toString)
          .outputMode(OutputMode.Append()).start()
        try {
          input.addData(
            Vec(1, 0, Seq(5.0, 4.0)),   // recon dup, cos 1.0 -> rejected
            Vec(2, 0, Seq(1.0, -1.0)))  // cos ~0.11 -> admitted
          q.processAllAvailable()
          input.addData(
            Vec(3, 0, Seq(5.0, 4.0)),   // frozen codes still probed -> rejected
            Vec(4, 0, Seq(-5.0, -4.0))) // cos -1.0 -> admitted
          q.processAllAvailable()
          spark.table(name).select("vec_id").collect().map(_.getLong(0)).toSet
        } finally q.stop()
      } finally provider.foreach(_ =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))
    }
    val idsDefault = run(None, "adcgate_hdfs")
    val idsRocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "adcgate_rocks")
    assert(idsDefault === Set(2L, 4L), s"expected {2, 4}; got $idsDefault")
    assert(idsRocks === idsDefault,
      s"provider changed the admitted set: $idsRocks vs $idsDefault")
  }

  test("SQ8 gate index + SPANS swap atomically; crash-mid-swap loads a complete, mutually CONSISTENT old version") {
    val base = java.nio.file.Files.createTempDirectory("graft_sq8swap").toString
    val idx = s"$base/sq8_index"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val cents = Seq(Seq(1.0, 0.0))
    // v1 spans put corpus 100=(5,4) at the top of both dims (codes
    // [255,255]); v2 doubles the spans so the SAME vector codes to
    // [128,128] — a torn load (v2 spans + v1 codes) re-encodes
    // differently and fails the consistency check
    val (mnV1, mxV1) = (Seq(0.0, 0.0), Seq(5.0, 4.0))
    val (mnV2, mxV2) = (Seq(0.0, 0.0), Seq(10.0, 8.0))
    def codesOf(mn: Seq[Double], mx: Seq[Double]): Seq[Int] =
      Seq((100L, Seq(5.0, 4.0))).toDF("corpus_id", "cv")
        .select(graft.vector.VectorOps.sq8CodesCol(col("cv"), mn, mx).as("codes"))
        .head().getSeq[Int](0)
    val codesV1 = Seq((0, 100L, codesOf(mnV1, mxV1)))
      .toDF("cell", "corpus_id", "codes")
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Sq8(cents, mnV1, mxV1, codesV1))
    // round-trip equality
    val (_, graft.vector.GateIndex.Sq8(c1, lm1, lx1, lc1)) =
      graft.streaming.Sinks.loadGateIndex(spark, idx)
    assert(c1 === cents && lm1 === mnV1 && lx1 === mxV1)
    assert(lc1.select("codes").head().getSeq[Int](0) === codesOf(mnV1, mxV1))
    // maintenance computes v2 (spans AND codes), then CRASHES between
    // the two renames: tmp fully written, dst moved aside
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("cell", "v")
      .write.parquet(idx + "__tmp/centroids")
    mnV2.zip(mxV2).zipWithIndex.map { case ((lo, hi), d) => (d, lo, hi) }
      .toDF("dim", "mn", "mx").write.parquet(idx + "__tmp/spans")
    Seq((0, 100L, codesOf(mnV2, mxV2))).toDF("cell", "corpus_id", "codes")
      .write.parquet(idx + "__tmp/codes")
    fs.rename(p(idx), p(idx + "__bak"))
    assert(!fs.exists(p(idx)))
    val (_, graft.vector.GateIndex.Sq8(_, midMn, midMx, midCodes)) =
      graft.streaming.Sinks.loadGateIndex(spark, idx)
    // MUTUAL consistency of whatever version loaded: re-encoding the
    // corpus vector under the LOADED spans must reproduce the LOADED
    // codes
    val stored = midCodes.filter(col("corpus_id") === 100L)
      .select("codes").head().getSeq[Int](0)
    assert(stored === codesOf(midMn, midMx),
      "torn load: spans and codes from different versions")
    // and the recovered version is the complete v1
    assert(midMn === mnV1 && midMx === mxV1)
    assert(stored === codesOf(mnV1, mxV1))
  }

  test("OPQ gate index + ROTATION swap atomically; crash-mid-swap loads a complete, mutually CONSISTENT old version") {
    val base = java.nio.file.Files.createTempDirectory("graft_opqswap").toString
    val idx = s"$base/opq_index"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val cents = Seq(Seq(1.0, 0.0))
    val alloc = Map(0 -> Seq(0, 1))
    // one subspace, two entries: (3,4) vs (4,-3). The corpus vector
    // (3,4) transforms to itself under the v1 identity rotation (code
    // 0) and to (4,-3) under the v2 90° rotation (code 1) — a torn load
    // (v2 rotation + v1 codes) re-encodes differently and fails the
    // consistency check
    val cb = Map((0, 0) -> Seq(3.0, 4.0), (0, 1) -> Seq(4.0, -3.0))
    val rotV1 = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rotV2 = Seq(Seq(0.0, -1.0), Seq(1.0, 0.0)) // columns (0,1),(-1,0)
    def codesOf(rm: Seq[Seq[Double]]): Seq[Int] =
      Seq((100L, Seq(3.0, 4.0))).toDF("corpus_id", "v")
        .select(graft.vector.VectorOps
          .opqTransformCol(col("v"), rm, alloc).as("t"))
        .select(graft.vector.VectorOps.pqCodesCol("t", cb, 1, 2).as("codes"))
        .head().getSeq[Int](0)
    assert(codesOf(rotV1) !== codesOf(rotV2),
      "test setup: the two rotations must code differently")
    val codesV1 = Seq((0, 100L, codesOf(rotV1)))
      .toDF("cell", "corpus_id", "codes")
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Opq(rotV1, alloc, cents, cb, codesV1))
    // round-trip equality
    val (_, graft.vector.GateIndex.Opq(r1, a1L, c1, cb1, lc1)) =
      graft.streaming.Sinks.loadGateIndex(spark, idx)
    assert(r1 === rotV1 && a1L === alloc && c1 === cents && cb1 === cb)
    assert(lc1.select("codes").head().getSeq[Int](0) === codesOf(rotV1))
    // maintenance computes v2 (rotation AND codes), then CRASHES between
    // the two renames: tmp fully written, dst moved aside
    rotV2.zipWithIndex.map { case (row, i) => (i, row) }.toDF("i", "vals")
      .write.parquet(idx + "__tmp/rotation")
    alloc.toSeq.map { case (s, ds) => (s, ds) }.toDF("sub", "dims")
      .write.parquet(idx + "__tmp/alloc")
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("cell", "v")
      .write.parquet(idx + "__tmp/centroids")
    cb.toSeq.map { case ((s, k), v) => (s, k, v) }.toDF("sub", "cid", "vals")
      .write.parquet(idx + "__tmp/codebook")
    Seq((0, 100L, codesOf(rotV2))).toDF("cell", "corpus_id", "codes")
      .write.parquet(idx + "__tmp/codes")
    fs.rename(p(idx), p(idx + "__bak"))
    assert(!fs.exists(p(idx)))
    val (_, graft.vector.GateIndex.Opq(midRot, _, _, _, midCodes)) =
      graft.streaming.Sinks.loadGateIndex(spark, idx)
    // MUTUAL consistency of whatever version loaded: re-encoding the
    // corpus vector under the LOADED rotation must reproduce the LOADED
    // codes — a new-rotation/old-codes mix silently shifts every ADC
    // distance, the sharpest hazard of the tier family
    val stored = midCodes.filter(col("corpus_id") === 100L)
      .select("codes").head().getSeq[Int](0)
    assert(stored === codesOf(midRot),
      "torn load: rotation and codes from different versions")
    // and the recovered version is the complete v1
    assert(midRot === rotV1)
    assert(stored === codesOf(rotV1))
  }

  test("PQ gate index + CODEBOOK swap atomically; crash-mid-swap loads a complete, mutually CONSISTENT old version") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_pqswap").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val idx = s"$base/pq_index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val cents = Seq(Seq(1.0, 0.0))
    // v1: corpus 100=(5,4) reconstructs EXACTLY -> a fresh (5,4) is
    // rejected. v2 codebook quantizes 100 to recon (1,-1) -> the same
    // fresh (5,4) is admitted, and (2,-2) is rejected instead.
    val cbV1 = Map((0, 0) -> Seq(1.0), (0, 1) -> Seq(5.0),
      (1, 0) -> Seq(0.0), (1, 1) -> Seq(4.0))
    val codesV1 = Seq((0, 100L, Seq(1, 1))).toDF("cell", "corpus_id", "codes")
    val cbV2 = Map((0, 0) -> Seq(1.0), (0, 1) -> Seq(0.0),
      (1, 0) -> Seq(-1.0), (1, 1) -> Seq(-5.0))
    val codesV2 = Seq((0, 100L, Seq(0, 0))).toDF("cell", "corpus_id", "codes")
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Pq(cents, cbV1, codesV1))
    def writeFile(rows: Seq[(Long, Long, Seq[Double])]): Unit =
      rows.toDF("vec_id", "label", "v")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val (_, index) = graft.streaming.Sinks.loadGateIndex(spark, idx)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = graft.streaming.TrainingPipeline.annGate(
          stream, index, nProbe = 1, thresholdMicro = 900000L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(Seq(
      (1L, 0L, Seq(5.0, 4.0)),    // v1: recon dup -> rejected
      (2L, 0L, Seq(1.0, -1.0))))  // cos ~0.11 -> admitted
    runOnce()
    // maintenance computes v2 (codebook AND codes), then CRASHES between
    // the two renames: tmp fully written, dst moved aside
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("cell", "v")
      .write.parquet(idx + "__tmp/centroids")
    cbV2.toSeq.map { case ((s, k), v) => (s, k, v) }
      .toDF("sub", "cid", "vals").write.parquet(idx + "__tmp/codebook")
    codesV2.write.parquet(idx + "__tmp/codes")
    fs.rename(p(idx), p(idx + "__bak"))
    assert(!fs.exists(p(idx)))
    val (_, graft.vector.GateIndex.Pq(_, midCb, midCodes)) =
      graft.streaming.Sinks.loadGateIndex(spark, idx)
    // MUTUAL consistency of whatever version loaded: re-encoding the
    // corpus vector under the LOADED codebook must reproduce the LOADED
    // codes — a torn load (v2 codebook + v1 codes) fails this
    val storedCodes = midCodes.filter(col("corpus_id") === 100L)
      .select("codes").head().getSeq[Int](0)
    val reencoded = Seq((100L, Seq(5.0, 4.0))).toDF("corpus_id", "cv")
      .select(graft.vector.VectorOps.pqCodesCol("cv", midCb, 2, 2).as("codes"))
      .head().getSeq[Int](0)
    assert(storedCodes === Seq(1, 1) && reencoded === storedCodes,
      s"crash-mid-swap must recover the complete CONSISTENT v1 " +
        s"(stored $storedCodes, re-encoded $reencoded)")
    fs.delete(p(idx + "__tmp"), true)
    // the real atomic publish, then the gate restarts from the SAME
    // checkpoint and decides under v2 (both halves swapped together)
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Pq(cents, cbV2, codesV2))
    writeFile(Seq(
      (3L, 0L, Seq(5.0, 4.0)),    // v2: recon now (1,-1) -> ADMITTED
      (4L, 0L, Seq(2.0, -2.0))))  // cos 1.0 vs recon -> rejected
    runOnce()
    val ids = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 3L),
      s"admissions must flip with the atomically swapped codebook+codes; got $ids")
  }

  case class Payload(doc_id: Long, payload: Array[Byte])

  test("streaming decode gate routes corrupt payloads mid-stream exactly like the q275 batch face") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val all = graft.multimodal.Multimodal.corruptedPayloads(spark, dir)
      .collect().map(r => Payload(r.getLong(0), r.getAs[Array[Byte]](1)))
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[Payload]
    val out = graft.multimodal.Multimodal.decodeGate(input.toDF())
    val q = out.writeStream.format("memory")
      .queryName("decode_gate_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("decode_gate_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          if (r.isNullAt(5)) -1L else r.getLong(5)))
        .sortBy(_._1).toSeq
      val want = graft.multimodal.Multimodal.decodeOrQuarantine(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          if (r.isNullAt(5)) -1L else r.getLong(5)))
        .sortBy(_._1).toSeq
      assert(got === want,
        "stream routing must equal the batch face row-for-row")
      assert(got.exists(_._2 == "quarantined") && got.exists(_._2 == "decoded"))
    } finally q.stop()
  }

  test("keyed upsert recovers from a crash mid-swap without losing prior keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert3").toString
    val path = s"$dir/dim"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val b1 = Seq((10L, "alice", ts("2024-01-05 10:00:00"), 1L))
      .toDF("user_id", "name", "ts", "seq")
    graft.streaming.Sinks.upsertByKey(b1, path, Seq("user_id"), "ts", "seq")
    // simulate the worst crash point of the swap: the new table (tmp) is
    // written and the current table has been moved aside to bak, but the
    // final rename never happened — dst is ABSENT on restart
    val b2 = Seq((20L, "bob", ts("2024-01-05 11:00:00"), 2L))
      .toDF("user_id", "name", "ts", "seq")
    b2.write.parquet(path + "__tmp")
    fs.rename(p(path), p(path + "__bak"))
    assert(!fs.exists(p(path)) && fs.exists(p(path + "__bak")))
    // checkpoint replay re-delivers the SAME batch; recovery must restore
    // bak first so alice survives the merge
    graft.streaming.Sinks.upsertByKey(b2, path, Seq("user_id"), "ts", "seq")
    val out = spark.read.parquet(path).select("user_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((10L, "alice"), (20L, "bob")))
    assert(!fs.exists(p(path + "__bak")) && !fs.exists(p(path + "__tmp")))
  }

  test("streaming corpus ingest with a corpus index: historical dups die in-stream, novel docs survive") {
    implicit val sq = spark.sqlContext
    // the ALREADY-INGESTED corpus: its fingerprints + a bloom built by
    // the same expressions the batch operator (q154) uses
    val corpusTexts = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today ok")
    val corpusFp = corpusTexts.toDF("text")
      .select(md5(graft.text.TextOps.normText(col("text"))).as("fp"))
    val bloom = corpusFp
      .agg(expr("graft_bloom_agg(xxhash64(fp), 100L, 1000L)"))
      .head().getAs[Array[Byte]](0)
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline.corpusIngest(
      input.toDF(), chunkLen = 4, stride = 4, minTokens = 3,
      stopRatioMin = 0.0, stopRatioMax = 1.0,
      corpusIndex = Some((bloom, corpusFp)))
    val q = out.writeStream.format("memory")
      .queryName("corpus_idx_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Doc(1, "web", "en", "The  quick brown fox jumps over the lazy DOG"), // dup of corpus after norm
        Doc(2, "web", "en", "completely novel sentence with seven brand new words"))
      q.processAllAvailable()
      input.addData(
        Doc(3, "web", "en", "completely novel sentence with seven brand new words"), // in-stream dup of 2
        Doc(4, "books", "en", "another genuinely new document for the corpus here"))
      q.processAllAvailable()
      val ids = spark.table("corpus_idx_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(2L, 4L),
        s"historical dup (1) and in-stream dup (3) must die; got $ids")
    } finally q.stop()
  }

  test("streaming overlap screen: a pasted paragraph is flagged against the corpus postings, novel text is not") {
    implicit val sq = spark.sqlContext
    // the ALREADY-INGESTED corpus and its winnow postings index — the
    // same artifact the batch q156 memoizes
    val sharedRun = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (100L, s"opening words then $sharedRun closing words here"),
      (101L, "an unrelated corpus document about completely other topics entirely")
    ).toDF("doc_id", "text")
    val postings = graft.text.TextOps.winnowPostings(corpus)
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline.overlapScreen(input.toDF(), postings)
    val q = out.writeStream.format("memory")
      .queryName("overlap_out").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        // novel md5 (different framing text) but pastes the corpus run —
        // exact dedup would miss this; the winnow screen must not
        Doc(1, "web", "en", s"totally different start $sharedRun and a different ending"),
        Doc(2, "web", "en", "no overlap with anything ingested before at all honestly"))
      q.processAllAvailable()
      val flagged = spark.table("overlap_out")
        .select("doc_id", "corpus_doc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged.contains((1L, 100L)),
        s"doc 1 shares a ${sharedRun.split(' ').length}-token run with corpus doc 100; got $flagged")
      assert(!flagged.exists(_._1 == 2L), s"novel doc 2 must not flag; got $flagged")
      assert(!flagged.exists(_._2 == 101L), s"unrelated corpus doc 101 must not flag; got $flagged")
    } finally q.stop()
  }

  test("byte fertility monitor: stream cumulative equals the batch aggregate, with NO vocabulary and NO fallback branch") {
    implicit val sq = spark.sqlContext
    val mergeSeq = graft.text.Tokenizer.ByteBpe(Seq(
      (0L, "116", "104", "116-104", 0L), (1L, "105", "110", "105-110", 0L)))
    val d1 = Doc(1, "web", "en", "the thin thing")
    val d2 = Doc(2, "web", "en", "in the bin")
    val d3 = Doc(3, "books", "en", "unseen thorn word")
    val input = MemoryStream[Doc]
    val out = graft.streaming.TrainingPipeline
      .tokenizerMonitor(input.toDF(), mergeSeq)
    val q = out.toDF().writeStream.format("memory")
      .queryName("bytefert_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(d1, d2)
      q.processAllAvailable()
      input.addData(d3)
      q.processAllAvailable()
      // LAST emission per source = the cumulative totals, which must
      // equal the batch fold over the same docs through the same code
      val got = spark.table("bytefert_out")
        .groupBy("source")
        .agg(max(org.apache.spark.sql.functions.struct(
          col("n_tokens"), col("syms_total"))).as("m"))
        .select(col("source"), col("m.n_tokens"), col("m.syms_total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.streaming.TrainingPipeline
        .tokenizerMonitor(
          Seq(d1, d2, d3).map(d => (d.doc_id, d.source, d.lang, d.text))
            .toDF("doc_id", "source", "lang", "text"), mergeSeq)
        .toDF().select("source", "n_tokens", "syms_total")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"stream cumulative $got != batch $want")
      // the unseen "thorn" merged its th: books counts 3 tokens with
      // 6+4+4 = 14 symbols, not the 15 a char-fallback would report
      assert(got.contains(("books", 3L, 14L)))
    } finally q.stop()
  }

  test("gate THRESHOLD versions with the index: a published threshold change flips verdicts only after the swap; crash-mid-swap never mixes new threshold with old codes") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_thrswap").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val idx = s"$base/pq_index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // IDENTICAL state in both versions — only the OPERATING POINT moves.
    // Corpus 100=(5,4) reconstructs exactly; a fresh (4,5) has cos
    // 40/41 ≈ 0.9756 (cos_micro 975610) against it.
    val cents = Seq(Seq(1.0, 0.0))
    val cb = Map((0, 0) -> Seq(1.0), (0, 1) -> Seq(5.0),
      (1, 0) -> Seq(0.0), (1, 1) -> Seq(4.0))
    val codes = Seq((0, 100L, Seq(1, 1))).toDF("cell", "corpus_id", "codes")
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Pq(cents, cb, codes),
      nProbe = 1, thresholdMicro = 900000L)
    assert(graft.streaming.Sinks.loadGateConfig(spark, idx) ===
      Some(graft.streaming.Sinks.GateConfig("pq", 1, 900000L)))
    def writeFile(rows: Seq[(Long, Long, Seq[Double])]): Unit =
      rows.toDF("vec_id", "label", "v")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // the gate reads EVERYTHING (tier, nProbe, threshold, state) from
    // the published directory at (re)start — no compiled constant
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = graft.streaming.TrainingPipeline.annGateFromIndex(stream, idx)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(Seq(
      (1L, 0L, Seq(4.0, 5.0)),    // cos_micro 975610 >= 900000 -> rejected
      (2L, 0L, Seq(1.0, -1.0))))  // cos ~0.11 -> admitted
    runOnce()
    // retune crashes between the renames: tmp holds the SAME state with
    // threshold 990000, dst moved aside — the worst instant
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("cell", "v")
      .write.parquet(idx + "__tmp/centroids")
    cb.toSeq.map { case ((s, k), v) => (s, k, v) }
      .toDF("sub", "cid", "vals").write.parquet(idx + "__tmp/codebook")
    codes.write.parquet(idx + "__tmp/codes")
    Seq(("pq", 1, 990000L)).toDF("tier", "n_probe", "threshold_micro")
      .write.parquet(idx + "__tmp/config")
    fs.rename(p(idx), p(idx + "__bak"))
    assert(!fs.exists(p(idx)))
    // recovery must surface v1's threshold WITH v1's codes — a torn read
    // (990000 + old codes) would admit vec 1's twin prematurely
    assert(graft.streaming.Sinks.loadGateConfig(spark, idx)
      .map(_.thresholdMicro) === Some(900000L),
      "crash-mid-swap leaked the unpublished threshold")
    fs.delete(p(idx + "__tmp"), true)
    // mid-crash restart: same data direction as vec 1 must STILL reject
    writeFile(Seq((3L, 0L, Seq(8.0, 10.0)))) // same direction as vec 1 -> rejected under 900k
    runOnce()
    // the REAL atomic retune: state unchanged, threshold -> 990000
    graft.streaming.Sinks.publishGateIndex(idx,
      graft.vector.GateIndex.Pq(cents, cb, codes),
      nProbe = 1, thresholdMicro = 990000L)
    writeFile(Seq(
      (4L, 0L, Seq(4.0, 5.0)),    // cos_micro 975610 < 990000 -> NOW admitted
      (5L, 0L, Seq(5.0, 4.0))))   // exact recon dup, cos 1.0 -> still rejected
    runOnce()
    val ids = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L),
      s"verdicts must flip ONLY at the atomic swap: want {2, 4}; got $ids")
  }

  test("ONE gate entry point serves all FOUR tiers, reading tier + knobs from the published index directory") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_tiers").toString
    val freshRows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 250L)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => Vec(r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    def streamThrough(idx: String, name: String): Set[Long] = {
      val input = MemoryStream[Vec]
      val q = graft.streaming.TrainingPipeline
        .annGateFromIndex(input.toDF(), idx)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(freshRows.toIndexedSeq: _*)
        q.processAllAvailable()
        spark.table(name).select("vec_id").collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    // tier "full": oracle-verified batch face = q261 (annAdmission)
    val (fc, fAssigned) = graft.vector.VectorOps.frozenIvfIndex(spark, dir)
    graft.streaming.Sinks.publishGateIndex(s"$base/full",
      graft.vector.GateIndex.Full(fc, fAssigned))
    val wantFull = graft.vector.VectorOps.annAdmission(spark, dir)
      .filter(col("admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamThrough(s"$base/full", "tier_full") === wantFull)
    // tier "pq": batch face = q284 (pqAdmission)
    graft.streaming.Sinks.publishGateIndex(s"$base/pq",
      graft.vector.VectorOps.frozenPqIvfIndex(spark, dir))
    val wantPq = graft.vector.VectorOps.pqAdmission(spark, dir)
      .filter(col("adc_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamThrough(s"$base/pq", "tier_pq") === wantPq)
    // tier "sq8": batch face = q297 (sq8Admission)
    graft.streaming.Sinks.publishGateIndex(s"$base/sq8",
      graft.vector.VectorOps.frozenSq8IvfIndex(spark, dir))
    val wantSq8 = graft.vector.VectorOps.sq8Admission(spark, dir)
      .filter(col("sq8_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamThrough(s"$base/sq8", "tier_sq8") === wantSq8)
    // tier "opq": batch face = q306 (opqAdmission)
    graft.streaming.Sinks.publishGateIndex(s"$base/opq",
      graft.vector.VectorOps.frozenOpqIvfIndex(spark, dir)._1)
    val wantOpq = graft.vector.VectorOps.opqAdmission(spark, dir)
      .filter(col("adc_admit") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamThrough(s"$base/opq", "tier_opq") === wantOpq)
    // the four tiers are genuinely different state (not one loader
    // aliased four ways): the compressed tiers' admissions may differ
    // from full's, but every set is non-trivial on this data
    Seq(wantFull, wantPq, wantSq8, wantOpq).foreach { w =>
      assert(w.nonEmpty && w.size < freshRows.length)
    }
    // and an index published WITHOUT a config (pre-r16 layout) fails
    // loudly instead of running with a silently-guessed tier
    val legacy = s"$base/legacy"
    fAssigned.write.parquet(s"$legacy/assigned")
    val one = freshRows.head
    val err = intercept[IllegalArgumentException] {
      graft.streaming.TrainingPipeline.annGateFromIndex(
        Seq((one.vec_id, one.label, one.v)).toDF("vec_id", "label", "v"),
        legacy)
    }
    assert(err.getMessage.contains("config missing"))
  }
}

/** The local filesystem under a second scheme, `alt:`, so a test can put
  * a table on a filesystem other than the session's default one. */
class AltSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("alt:///")
  override def getScheme: String = "alt"
}
