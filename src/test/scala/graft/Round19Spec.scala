package graft

import org.apache.spark.sql.functions._

/** Round-19 pins: the bench clean-window wait (judge r18 task 1), the
  * per-query variance bands and their regression-gate suppression
  * (task 5), and the tokenizer OOV drift leg (task 3) plus the
  * advisor-r18 artifact-robustness fixes. */
class Round19Spec extends SparkSpec {

  // ---------------------------------------------------------------- //
  // Clean-window wait (judge r18 task 1): pure decision rule — keep
  // waiting while the load exceeds the gate AND the budget remains.
  // ---------------------------------------------------------------- //

  test("shouldKeepWaiting: waits while over-gate within budget; quiet hosts, failed samples and exhausted budgets proceed") {
    // over the gate, budget remaining: wait
    assert(Bench.shouldKeepWaiting(10.4, waitedSec = 0.0, maxWaitSec = 300.0))
    assert(Bench.shouldKeepWaiting(7.01, waitedSec = 299.0, maxWaitSec = 300.0))
    // at or under the gate: proceed immediately
    assert(!Bench.shouldKeepWaiting(7.0, waitedSec = 0.0, maxWaitSec = 300.0))
    assert(!Bench.shouldKeepWaiting(5.58, waitedSec = 0.0, maxWaitSec = 300.0))
    // sample failure (-1 sentinel): never spin on an unreadable host
    assert(!Bench.shouldKeepWaiting(-1.0, waitedSec = 0.0, maxWaitSec = 300.0))
    // budget exhausted: proceed with the honest window_ok:false
    assert(!Bench.shouldKeepWaiting(10.4, waitedSec = 300.0, maxWaitSec = 300.0))
  }

  // ---------------------------------------------------------------- //
  // Per-query warm bands (judge r18 task 5): artifact parsing and the
  // regression gate's in-band suppression.
  // ---------------------------------------------------------------- //

  test("parseDetailBandMax: extracts per-query band maxima; absent or garbage bands yield empty") {
    val json = """{"queries":{"qa":0.50},"warm_band":{"qa":[0.483,0.762],"qb":[1.0,1.2]},"window_ok":true}"""
    assert(Bench.parseDetailBandMax(json) ===
      Map("qa" -> 0.762, "qb" -> 1.2))
    assert(Bench.parseDetailBandMax("""{"queries":{"qa":0.5}}""") === Map.empty)
    assert(Bench.parseDetailBandMax("not json") === Map.empty)
  }

  test("regressionFlags band suppression: in-band re-occurrence is suppressed, out-of-band still fires, bandless prior behaves as before") {
    // the q78 case: prev best 0.503, prev band [0.483, 0.762]; a new
    // best of 0.76 is >1.5x and >+0.2s — but the prior round already
    // recorded 0.762 on the same build, so it is run variance
    val prev = Map("q78" -> 0.503, "qx" -> 0.503)
    val band = Map("q78" -> 0.762)
    assert(Bench.regressionFlags(prev, Seq("q78" -> 0.760),
      bothWindowsOk = true, prevBandMax = band).isEmpty)
    // outside the recorded band: fires
    assert(Bench.regressionFlags(prev, Seq("q78" -> 0.800),
      bothWindowsOk = true, prevBandMax = band) ===
      Seq(("q78", 0.503, 0.800)))
    // no band recorded for the query (pre-r19 artifact): old behavior
    assert(Bench.regressionFlags(prev, Seq("qx" -> 0.760),
      bothWindowsOk = true, prevBandMax = band) ===
      Seq(("qx", 0.503, 0.760)))
    // dirty windows still never flag
    assert(Bench.regressionFlags(prev, Seq("q78" -> 0.800),
      bothWindowsOk = false, prevBandMax = band).isEmpty)
  }

  // ---------------------------------------------------------------- //
  // Tokenizer OOV drift leg (judge r18 task 3): a planted short-
  // unseen-word delta keeps fertility INSIDE budget (each unseen word
  // char-fallbacks to exactly its trained symbol count) while every
  // token misses the vocabulary — only the OOV leg can catch it, and
  // the production maintenance call must route it to retrain.
  // ---------------------------------------------------------------- //

  test("maintainTokenizer OOV leg: planted short-unseen drift that fertility misses routes retrain; noop surfaced when dir lacks the drifted mass") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    import spark.implicits._
    val realDir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_oovmaint").toString
    val path = s"$base/tok"
    val docs = graft.Tables.documents(spark, realDir)
      .select("doc_id", "source", "text")
    val fresh = docs.filter(col("doc_id") >= graft.text.Curation.DriftSplitAt)
    assert(TP.maintainTokenizer(spark, realDir, path, "char-bpe", fresh)
      === "retrain") // bootstrap
    assert(Sinks.loadTokenizerBaselines(spark, path)._2.nonEmpty,
      "publish must sign the OOV baseline beside the fertility baseline")
    val baseFert = Sinks.loadTokenizerBaselines(spark, path)._1.get
    val baseOov = Sinks.loadTokenizerBaselines(spark, path)._2.get
    // the planted delta: repeat('~', n_syms) per token (q322's shape)
    val vocabDf = Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe].vocab.toDF("word", "n_syms")
    val unseen = fresh
      .select(col("doc_id"), col("source"),
        explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .join(broadcast(vocabDf), Seq("word"), "left_outer")
      .select(col("doc_id"), col("source"),
        expr("repeat('~', cast(coalesce(n_syms, length(word)) as int))")
          .as("text"))
    // the construction's own premise, asserted: fertility drift inside
    // budget (the fertility leg ALONE would keep), OOV a full breach
    val (_, _, fU, oU) = TP.tokenizerDriftStats(unseen, path)
    assert(math.abs(fU - baseFert) <= TP.TokenizerFertilityBudgetMicro,
      s"planted delta's fertility drift ${fU - baseFert} must sit inside " +
        "budget — otherwise the test is not isolating the OOV leg")
    assert(math.abs(oU - baseOov) > TP.TokenizerOovBudgetMicro)
    assert(TP.tokenizerRouteOf(fU, baseFert, TP.TokenizerFertilityBudgetMicro)
      === "keep", "fertility-only routing must miss this drift")
    // advisor r18: a breach whose retrain corpus LACKS the drifted mass
    // republishes a bit-identical version — surfaced, not silent
    assert(TP.maintainTokenizer(spark, realDir, path, "char-bpe", unseen)
      === "retrain-noop")
    // the honored contract: dir includes the drifted mass -> the
    // retrain publishes a genuinely new version
    val dirB = s"$base/corpusB"
    val v1 = Sinks.loadTokenizer(spark, path)._1
    docs.unionByName(unseen.withColumn("doc_id", col("doc_id") + lit(100000L)))
      .write.parquet(s"$dirB/documents.parquet")
    assert(TP.maintainTokenizer(spark, dirB, path, "char-bpe", unseen)
      === "retrain")
    assert(Sinks.loadTokenizer(spark, path)._1.fingerprint
      !== v1.fingerprint)
    // the retrain absorbed the drifted mass: under the NEW version the
    // planted words are vocabulary hits, so the OOV leg is quiet (the
    // fertility baseline legitimately moved — the blended corpus is
    // half compressed tilde-runs — which is exactly why the retrain
    // was the right routing)
    val (_, _, _, oAfter) = TP.tokenizerDriftStats(unseen, path)
    assert(math.abs(oAfter -
      Sinks.loadTokenizerBaselines(spark, path)._2.get)
      <= TP.TokenizerOovBudgetMicro)
    // legacy artifact with a fertility baseline but NO OOV baseline:
    // migrate via retrain, never crash
    val legacy = s"$base/legacy"
    val art = Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe]
    Sinks.publishTokenizer(spark, legacy, art,
      Some(baseFert))
    assert(Sinks.loadTokenizerBaselines(spark, legacy)._2.isEmpty)
    assert(TP.maintainTokenizer(spark, dirB, legacy, "char-bpe", fresh)
      === "retrain")
    assert(Sinks.loadTokenizerBaselines(spark, legacy)._2.nonEmpty)
  }

  // ---------------------------------------------------------------- //
  // Advisor r18: a post-publish-corrupted payload under an intact
  // config must ROUTE TO REPUBLISH (self-heal), not crash the cron or
  // be skipped over by the content-addressed publish forever.
  // ---------------------------------------------------------------- //

  test("corrupted tokenizer payload: loadTokenizer refuses, but maintainTokenizer and the content-addressed publish heal it") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    import spark.implicits._
    val realDir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_tokheal").toString
    val path = s"$base/tok"
    TP.trainAndPublishTokenizer(spark, realDir, path, "char-bpe")
    // corrupt the vocab payload in place; config stays intact
    Seq(("corrupted", 1L)).toDF("word", "n_syms")
      .write.mode("overwrite").parquet(s"$path/vocab")
    intercept[Exception](Sinks.loadTokenizer(spark, path))
    // the scheduled republish no longer skips over the corruption: the
    // content-addressed check verifies the PAYLOAD too
    assert(TP.trainAndPublishTokenizer(spark, realDir, path, "char-bpe"),
      "a corrupted payload must read as not-up-to-date")
    assert(scala.util.Try(Sinks.loadTokenizer(spark, path)).isSuccess)
    // corrupt again: the maintenance call routes the refusal to a
    // republish instead of crashing the cron
    Seq(("corrupted", 1L)).toDF("word", "n_syms")
      .write.mode("overwrite").parquet(s"$path/vocab")
    val fresh = graft.Tables.documents(spark, realDir)
      .select("doc_id", "source", "text")
      .filter(col("doc_id") >= graft.text.Curation.DriftSplitAt)
    assert(TP.maintainTokenizer(spark, realDir, path, "char-bpe", fresh)
      === "retrain")
    assert(scala.util.Try(Sinks.loadTokenizer(spark, path)).isSuccess)
  }

  test("content-addressed publish: a payload corrupted in place after a skipped republish is republished") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tokskip").toString
    val dir = s"$base/corpus"
    Seq((1L, "web", "the thin thing in the bin"), (2L, "books", "then the thorn"))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val path = s"$base/tok"
    assert(TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe"))
    // the same version again: a skip, after verifying the served payload
    assert(!TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe"))
    // corrupt the payload in place; the config directory is untouched
    Seq(("corrupted", 1L)).toDF("word", "n_syms")
      .write.mode("overwrite").parquet(s"$path/vocab")
    intercept[Exception](Sinks.loadTokenizer(spark, path))
    assert(TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe"),
      "a payload corrupted after a verified skip must read as not-up-to-date")
    assert(scala.util.Try(Sinks.loadTokenizer(spark, path)).isSuccess)
  }

  // ---------------------------------------------------------------- //
  // Opt r19: the tokenizer read path memoizes per (session, served
  // version) — a republish at the SAME path in the SAME session must
  // be observed by all three loaders (stale serving would route
  // maintenance on a dead version), and an in-place payload rewrite
  // with config intact must invalidate too (the key folds every
  // payload table's part listing, not just config's).
  // ---------------------------------------------------------------- //

  test("tokenizer load memo: same-session republish and in-place payload rewrite both invalidate; repeat loads are one artifact instance") {
    import graft.streaming.Sinks
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tokmemo").toString
    val path = s"$base/tok"
    val m1 = Seq((1L, "a", "b", "ab", 3L))
    val v1 = Seq(("ab", 1L), ("cd", 2L))
    Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.CharBpe(m1, v1), Some(111L), Some(0L))
    val a1 = Sinks.loadTokenizer(spark, path)
    // repeated load of the unchanged version returns the memoized
    // instance (no re-read, the q313/q314 per-pass win)
    assert(Sinks.loadTokenizer(spark, path).asInstanceOf[AnyRef]
      eq a1.asInstanceOf[AnyRef])
    assert(Sinks.loadTokenizerBaselines(spark, path) === (Some(111L), Some(0L)))
    // republish DIFFERENT content at the same path: every loader sees v2
    val v2 = Seq(("ab", 1L), ("cd", 2L), ("ef", 2L))
    Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.CharBpe(m1, v2), Some(222L), Some(0L))
    assert(Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe].vocab.toSet === v2.toSet)
    assert(Sinks.loadTokenizerConfigIfAny(spark, path).get.vocabSize === 3L)
    assert(Sinks.loadTokenizerBaselines(spark, path)._1 === Some(222L))
    // in-place payload rewrite, config untouched: the refusal must not
    // be masked by the memo (fresh key -> fresh read -> fingerprint
    // mismatch), and the failed load is never cached
    Seq(("zz", 9L)).toDF("word", "n_syms")
      .write.mode("overwrite").parquet(s"$path/vocab")
    intercept[Exception](Sinks.loadTokenizer(spark, path))
    intercept[Exception](Sinks.loadTokenizer(spark, path))
  }

  // ---------------------------------------------------------------- //
  // Opt r19: mixtureSampleCore tokenizes ONCE (the per-doc proxy frame
  // feeds both the weights leg and the kept leg) — pin its output
  // against the two-pass definition: weights derived from per-doc sums
  // equal mixtureWeightsCore's own tokenize by sum associativity.
  // ---------------------------------------------------------------- //

  test("mixtureSampleCore single-tokenize: kept/achieved equal the independently tokenized two-pass definition") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta"),
      (3L, "s2", "one two three four five six seven eight nine ten"),
      (4L, "s2", "one"),
      (5L, "s3", "x y z w v u t s r q p o n m l k j i h g f e d c b a")
    ).toDF("doc_id", "source", "text")
    val got = graft.text.TextOps.mixtureSampleCore(docs).collect()
    // reference: weights from an INDEPENDENT tokenize (the old shape)
    val w = graft.text.TextOps.mixtureWeightsCore(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    got.foreach { r =>
      val (srcTokens, wMicro) = w(r.getString(0))
      val rate = (wMicro.toDouble / srcTokens) /
        w.values.map(t => t._2.toDouble / t._1).max
      val rateMicro = math.floor(rate * 1000000.0d + 0.5d).toLong
      assert(r.getLong(1) === rateMicro,
        s"rate_micro for ${r.getString(0)}")
      assert(r.getLong(2) === wMicro, s"target_micro for ${r.getString(0)}")
    }
    // the rate-1 source keeps everything: docs_kept == its doc count
    val maxSrc = w.maxBy(t => t._2._2.toDouble / t._2._1)._1
    val keptBySrc = got.map(r => r.getString(0) -> r.getLong(3)).toMap
    val nDocs = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptBySrc(maxSrc) === nDocs(maxSrc))
  }

  // ---------------------------------------------------------------- //
  // Opt r19: the driver-side unigram trainer segments with
  // uniDpPiecesOf — it must mirror the column lattice + backtrack pair
  // (uniDpCol + uniPiecesCol) bit for bit on every distinct corpus
  // word, and the trained artifacts must equal what the column-form
  // E-step produced (the q307 rows are oracle-pinned; this pins the
  // kernel itself so a divergence is caught at the word, not the
  // vocabulary).
  // ---------------------------------------------------------------- //

  test("uniDpPiecesOf ≡ the column lattice + backtrack on every distinct corpus word") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val probs = graft.text.Curation.unigramArtifactRows(spark, dir)
      .map(v => v._1 -> v._4).toMap
    val corpusWords = graft.Tables.documents(spark, dir)
      .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .filter(length(col("word")).between(1, graft.text.Curation.UniMaxWordLen))
      .distinct().as[String].collect().toSeq
    val colPieces = corpusWords.toDF("word")
      .withColumn("dp", graft.text.Curation.uniDpCol(col("word"), probs))
      .withColumn("ps", graft.text.Curation.uniPiecesCol(col("word"), col("dp")))
      .select(col("word"), col("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    corpusWords.foreach { w =>
      assert(graft.text.Curation.uniDpPiecesOf(w, probs) === colPieces(w),
        s"driver kernel segments '$w' differently from the column pair")
    }
  }

  // ---------------------------------------------------------------- //
  // Advisor r18: artifacts signed under the pre-r18 UTF-16 fold (non-
  // BMP vocab pieces) must stay readable via the legacy-fold fallback.
  // ---------------------------------------------------------------- //

  test("loadTokenizer accepts a legacy UTF-16-fold fingerprint for non-BMP payloads; a genuinely wrong fingerprint still refuses") {
    import graft.streaming.Sinks
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tokutf16").toString
    val path = s"$base/tok"
    // a vocab with a non-BMP piece: the two folds genuinely diverge
    val vocab = Seq(("a𝄞", 2L), ("hello", 1L))
    assert(Sinks.tokFingerprint(vocab) !== Sinks.tokFingerprintUtf16(vocab))
    // hand-build the artifact layout the way pre-r18 code signed it
    Seq((0L, "a", "b", "ab", 1L))
      .toDF("merge_idx", "pair_a", "pair_b", "merged", "pair_count")
      .write.parquet(s"$path/merges")
    vocab.toDF("word", "n_syms").write.parquet(s"$path/vocab")
    Seq(("char-bpe", vocab.size.toLong, Sinks.tokFingerprintUtf16(vocab)))
      .toDF("family", "vocab_size", "fingerprint")
      .write.parquet(s"$path/config")
    val art = Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe]
    assert(art.vocab.toSet === vocab.toSet)
    // a fingerprint neither fold produces still refuses
    Seq(("char-bpe", vocab.size.toLong, 12345L))
      .toDF("family", "vocab_size", "fingerprint")
      .write.mode("overwrite").parquet(s"$path/config")
    intercept[Exception](Sinks.loadTokenizer(spark, path))
  }

  // ---------------------------------------------------------------- //
  // Maintenance soak (judge r18 task 4): the cycle-K routing trace of
  // repeated maintainIndex cron calls — bootstrap retrain, appends
  // with the compaction policy firing at the threshold, the planted
  // concentrated-drift batch retraining exactly at K, and EVERY
  // cycle's batch queryable immediately whatever path ran (the
  // a1ae855 dropped-batch regression class). The full 10-cycle
  // two-artifact soak is recorded in SCALE.md ("Maintenance soak").
  // ---------------------------------------------------------------- //

  test("maintenance soak trace: retrain at bootstrap and at the planted drift cycle, compaction at the threshold, every batch queryable on its cycle") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    import graft.vector.{VectorOps => V}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val path = s"$base/pq"
    val firstId = 70000000000L
    var nextId = firstId
    val routes = (1 to 4).map { cycle =>
      val baseId = nextId; nextId += 1000000L
      val delta =
        if (cycle == 3)
          // concentrated: every delta vector in one cell -> breach
          spark.range(10).crossJoin(
              V.vecs(spark, dir).filter(col("vec_id") === 0L).select("v"))
            .select((col("id") + lit(baseId)).as("vec_id"), col("v"))
        else
          V.vecs(spark, dir).filter(col("vec_id") >= V.GateSplitAt)
            .select((col("vec_id") + lit(baseId)).as("vec_id"), col("v"))
      val r = TP.maintainIndex(spark, dir, path, "pq", delta, compactAt = 2)
      assert(Sinks.loadGateIndex(spark, path)._2.corpus
        .filter(col("corpus_id") >= baseId &&
          col("corpus_id") < baseId + 1000000L).count() > 0,
        s"cycle $cycle's batch must be queryable immediately (route $r)")
      r
    }
    assert(routes === Seq("retrain", "append+compact",
      "retrain", "append+compact"))
    // every batch since the last retrain (cycles 3 and 4) is still
    // queryable at the end: the append/compact churn loses none
    val finalCodes = Sinks.loadGateIndex(spark, path)._2.corpus
    Seq(3, 4).foreach { cycle =>
      val lo = firstId + (cycle - 1) * 1000000L
      assert(finalCodes.filter(col("corpus_id") >= lo &&
        col("corpus_id") < lo + 1000000L).count() > 0,
        s"cycle $cycle's batch was lost by post-retrain append/compact churn")
    }
  }

  // ---------------------------------------------------------------- //
  // Advisor r18: segment schema drift fails LOUDLY at append time —
  // the multi-path scan would otherwise silently null the divergent
  // columns of a future evolved segment.
  // ---------------------------------------------------------------- //

  test("index append with a divergent segment schema refuses; a full publish may evolve it") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_segschema").toString
    val path = s"$base/pq"
    TP.trainAndPublishIndex(spark, dir, path, "pq")
    val segs = Sinks.loadSegmentNames(spark, path)
    assert(segs.nonEmpty)
    val (_, graft.vector.GateIndex.Pq(cents, cb, codes)) =
      Sinks.loadGateIndex(spark, path)
    val divergent = codes.withColumnRenamed("codes", "codes_v2")
    val e = intercept[IllegalArgumentException] {
      Sinks.publishGateIndex(path, graft.vector.GateIndex.Pq(cents, cb, divergent),
        priorSegments = segs)
    }
    assert(e.getMessage.contains("schema drift"))
    // the same shape as a FULL publish (empty priors) is legal schema
    // evolution — the old segments retire with the old manifest
    Sinks.publishGateIndex(path, graft.vector.GateIndex.Pq(cents, cb, divergent))
    assert(Sinks.loadGateIndex(spark, path)._2.corpus.columns.contains("codes_v2"))
  }

  // ---------------------------------------------------------------- //
  // Bucketed weighted median (q196 scale reshape): the two-stage
  // cumulative must equal the flat definition on every bucket-search
  // edge — regardless of where the half-weight crossing lands.
  // ---------------------------------------------------------------- //

  test("weightedMedianOf: bucketed search equals the flat definition on edge cases") {
    import graft.ops.Percentiles
    import spark.implicits._
    def flat(rows: Seq[(String, Double, Long)]): Map[String, (Double, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val byV = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
          .toSeq.sortBy(_._1)
        val tot = byV.map(_._2).sum
        var cum = 0L
        g -> (byV.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1, tot)
      }
    def run(rows: Seq[(String, Double, Long)], b: Int,
            exitRows: Long = 1L): Map[String, (Double, Long)] =
      // exitRows = 1 forces the bucket path even on these tiny frames
      // (the production default would resolve them in the final window
      // without refining — also pinned below)
      Percentiles.weightedMedianOf(
        rows.toDF("l_returnflag", "v", "w"), buckets = b, exitRows = exitRows)
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // single-value group (vmax == vmin → bucket 0 for every row)
    val single = Seq(("S", 5.0, 3L), ("S", 5.0, 4L))
    // crossing exactly ON a bucket boundary value, and a group whose
    // entire mass sits in the LAST bucket (the least(B-1) clamp)
    val edge = Seq(
      ("E", 0.0, 1L), ("E", 25.0, 1L), ("E", 50.0, 2L), ("E", 100.0, 1L),
      ("L", 99.0, 1L), ("L", 100.0, 9L))
    // heavy skew: one early value carries over half the total weight,
    // so the target is bucket 0 and the before-target prefix is empty
    val skew = Seq(("K", 1.0, 100L), ("K", 2.0, 1L), ("K", 99.0, 1L))
    for (rows <- Seq(single, edge, skew, single ++ edge ++ skew);
         b <- Seq(1, 2, 4, 512)) {
      assert(run(rows, b) === flat(rows), s"buckets=$b rows=$rows")
      assert(run(rows, b, exitRows = 4096L) === flat(rows),
        s"default-exit buckets=$b rows=$rows")
    }
  }

  test("weightedMedianOf: adversarial value skew recurses to the answer") {
    import graft.ops.Percentiles
    import spark.implicits._
    // one outlier at 1e12 crushes level 1's equi-width bucketing: the
    // 64 packed values (median mass) all land in bucket 0, so a
    // single-level search would hand the final window essentially the
    // whole group — the refinement loop re-buckets over the packed
    // range and isolates the crossing value. A mirrored group leans
    // the other way (outlier at the BOTTOM, mass at the top).
    val packed = (0 until 64).map(i => ("P", i * 1e-9, 1L)) :+ (("P", 1e12, 1L))
    val mirrored = (0 until 64).map(i => ("M", 1e12 - i * 1e-3, 1L)) :+ (("M", -1e12, 1L))
    val rows = packed ++ mirrored
    val got = Percentiles.weightedMedianOf(
      rows.toDF("l_returnflag", "v", "w"), buckets = 4, exitRows = 4L)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // lower weighted median of 65 unit weights = the 33rd value
    assert(got("P") === ((32 * 1e-9, 65L)))
    assert(got("M") === ((1e12 - 32 * 1e-3, 65L)))
  }

  // ---------------------------------------------------------------- //
  // Opt r19: q256's snapshot pair sets derive from the ONE shared
  // PPJoin ledger (membership filter) instead of two more full prefix
  // joins — valid because the verified output is the pure pairwise
  // predicate J >= t. Pin: from-scratch snapshot PPJoin == filtered
  // full ledger, on real data, for both snapshot rules.
  // ---------------------------------------------------------------- //

  test("pairDiff snapshots: filtering the full PPJoin ledger equals a from-scratch snapshot join") {
    import graft.dedup.{DedupOps, PrefixJoin}
    val dir = "/root/testdata/sf0.001"
    val withArr = DedupOps.docShingleArr(spark, dir)
    val full = PrefixJoin.ppjoinPairs(spark, dir)
    for (mod <- Seq(23L, 29L)) {
      val scratch = PrefixJoin
        .ppjoinPairsOf(withArr.filter(col("doc_id") % mod =!= 0L))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val filtered = full
        .filter(col("doc_a") % mod =!= 0L && col("doc_b") % mod =!= 0L)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(scratch === filtered, s"mod=$mod")
      assert(scratch.nonEmpty, s"vacuous pin at mod=$mod: no pairs")
    }
  }
}
