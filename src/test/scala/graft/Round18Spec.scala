package graft

import org.apache.spark.sql.functions._

/** Round-18 pins: the advisor-r17 fixes (codepoint fingerprint fold,
  * numeric segment ordering, bench round inference), the cross-round
  * regression gate's pure logic, and the duplicate-seed Lloyd guard. */
class Round18Spec extends SparkSpec {

  // ---------------------------------------------------------------- //
  // tokFpOf folds CODEPOINTS (advisor r17): the DuckDB oracle's
  // ascii(s[i]) walks characters, so a non-BMP piece must contribute
  // ONE codepoint term, not two surrogate terms.
  // ---------------------------------------------------------------- //

  test("tokFpOf: non-BMP characters fold as one codepoint term (oracle semantics), ASCII pins unchanged") {
    import graft.streaming.Sinks
    // "a" then U+1D11E (musical G clef, two UTF-16 code units):
    // ((7*31 + 97) * 31 + 0x1D11E) % 1e12 = 314*31 + 119070 = 128804
    assert(Sinks.tokFpOf("a𝄞") === 128804L)
    // a UTF-16 code-unit fold would instead produce two surrogate terms
    val surrogateFold = "a𝄞".foldLeft(7L)(
      (acc, c) => (acc * 31 + c.toLong) % 1000000000000L)
    assert(Sinks.tokFpOf("a𝄞") !== surrogateFold)
    // the existing cross-engine ASCII pins are byte-identical
    assert(Sinks.tokFpOf("hello") === 299566379L)
    assert(Sinks.tokFpOf("") === 7L)
  }

  // ---------------------------------------------------------------- //
  // Segment manifest ordering is numeric (advisor r17): %05d names
  // widen at seg-100000 and lexical order inverts exactly there.
  // ---------------------------------------------------------------- //

  test("loadSegmentNames orders by parsed segment number across the 5->6 digit boundary") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_segord").toString
    val path = s"$base/idx"
    Seq("seg-100000", "seg-00002", "seg-99999", "seg-100001")
      .toDF("segment").write.parquet(path + "/segments")
    assert(graft.streaming.Sinks.loadSegmentNames(spark, path) ===
      Seq("seg-00002", "seg-99999", "seg-100000", "seg-100001"))
  }

  // ---------------------------------------------------------------- //
  // Bench round inference (advisor r17) + cross-round regression gate
  // (judge r17 task 4) — pure logic.
  // ---------------------------------------------------------------- //

  test("currentRound: env wins; otherwise max(BENCH_r+1, BENCH_DETAIL_r) keeps same-round re-runs stable") {
    assert(Bench.currentRound(Some("12"), Seq("BENCH_r17.json")) === 12)
    assert(Bench.currentRound(Some("junk"), Seq("BENCH_r17.json")) === 18)
    // driver's end-of-round run: BENCH_r17 committed, detail r17 present
    assert(Bench.currentRound(None,
      Seq("BENCH_r17.json", "BENCH_DETAIL_r17.json")) === 18)
    // same-round re-run: this round's detail already written — stay on it
    assert(Bench.currentRound(None,
      Seq("BENCH_r17.json", "BENCH_DETAIL_r18.json")) === 18)
    // fresh repo: round 1
    assert(Bench.currentRound(None, Seq.empty) === 1)
  }

  test("parseDetailQueries: extracts per-query bests and window_ok; garbage yields empty") {
    val json = """{"metric":"total","queries":{"q1_a":0.5,"q2_b":1.25,"q3_c":-1.0},"window_ok":true,"x":1}"""
    val (m, wok) = Bench.parseDetailQueries(json)
    assert(m === Map("q1_a" -> 0.5, "q2_b" -> 1.25, "q3_c" -> -1.0))
    assert(wok)
    assert(Bench.parseDetailQueries("not json at all") ===
      ((Map.empty[String, Double], false)))
  }

  test("regressionFlags: >1.5x AND >+0.2s on clean windows; noise, new queries, failures and dirty windows never flag") {
    val prev = Map("qa" -> 1.0, "qb" -> 0.05, "qc" -> 2.0, "qf" -> 1.0)
    val cur = Seq(
      "qa" -> 1.6,   // 1.6x and +0.6s -> flags
      "qb" -> 0.09,  // 1.8x but +0.04s -> sub-noise, no flag
      "qc" -> 2.9,   // 1.45x -> no flag
      "qd" -> 5.0,   // new query, no prior -> no flag
      "qf" -> -1.0)  // failed this round -> not a timing, no flag
    assert(Bench.regressionFlags(prev, cur, bothWindowsOk = true) ===
      Seq(("qa", 1.0, 1.6)))
    assert(Bench.regressionFlags(prev, cur, bothWindowsOk = false).isEmpty)
    // the absolute leg alone is not enough either: 1.2x but +10s stays
    // unflagged (a legitimately rescaled query needs the ratio too)
    assert(Bench.regressionFlags(Map("qg" -> 50.0), Seq("qg" -> 60.0),
      bothWindowsOk = true).isEmpty)
  }

  // ---------------------------------------------------------------- //
  // lloydStepOnSeeds dedupes duplicate seed vectors (judge r17):
  // a repeat in the first k of a real corpus must degrade to k-1
  // cells, not abort the index build.
  // ---------------------------------------------------------------- //

  // ---------------------------------------------------------------- //
  // r18 overflow audit: the q307 BigInt fix proved micro-arithmetic
  // wraps a Long silently inside the 100 TB design point. The
  // corpus-growing accumulators now sum in DECIMAL(38,0); these pins
  // plant magnitudes past the Long horizon (~9.2e18) and assert the
  // arithmetic stays correct — the pre-fix code returned NEGATIVE
  // means from wrapped sums.
  // ---------------------------------------------------------------- //

  test("overflow audit: Lloyd cell means stay correct past the Long horizon (decimal accumulator)") {
    import spark.implicits._
    // three vectors of 4e12 in one cell: Σ floor(x·1e6) ≈ 1.2e19 >
    // Long.MaxValue — a long accumulator wraps to ≈ −6.4e18 and the
    // mean comes out ≈ −2.1e12
    val e = Seq(Seq(4.0e12), Seq(4.0e12), Seq(4.0e12)).toDF("v")
    val got = graft.vector.VectorOps.lloydStepOnSeeds(e, Seq(Seq(4.0e12)))
    assert(got.size === 1 && got.head.size === 1)
    val mean = got.head.head
    assert(mean > 3.9e12 && mean < 4.1e12,
      s"cell mean wrapped: $mean (expected ~4e12)")
  }

  test("overflow audit: dimProfile RAISES past the BIGINT output contract instead of returning a wrapped negative") {
    import spark.implicits._
    val e = Seq(Seq(4.0e12f), Seq(4.0e12f), Seq(4.0e12f)).toDF("embedding")
    // the exact decimal sum (≈1.2e19) exceeds the BIGINT output column:
    // Spark's decimal→bigint cast raises CAST_OVERFLOW — the same loud
    // behavior as the DuckDB oracle — where the old long accumulator
    // returned a silently NEGATIVE sum and mean
    val ex = intercept[Exception] {
      graft.vector.VectorOps.dimProfileCore(e).head()
    }
    assert(ex.getMessage.contains("CAST_OVERFLOW"))
    // in-range inputs are value-identical to the old path
    val ok = Seq(Seq(2.0f), Seq(4.0f)).toDF("embedding")
    val r = graft.vector.VectorOps.dimProfileCore(ok).head()
    assert(r.getAs[Long]("sum_micro") === 6000000L)
    assert(r.getAs[Double]("mean") === 3.0)
  }

  test("overflow audit: phi sums throw loudly past the Long output contract instead of wrapping (matching DuckDB's raise)") {
    import spark.implicits._
    // three rows of d² micro ≈ 4e18 each: true φ ≈ 1.2e19 > Long.Max
    val far = Seq((1L, Seq(2.0e6)), (2L, Seq(2.0e6)), (3L, Seq(2.0e6)))
      .toDF("vec_id", "v")
    intercept[ArithmeticException] {
      graft.vector.VectorOps.kppRoundProbe(far, Seq(Seq(0.0)),
        graft.vector.VectorOps.KppL, 1)
    }
    // and an in-range corpus still produces the exact value
    val near = Seq((1L, Seq(3.0)), (2L, Seq(4.0))).toDF("vec_id", "v")
    val (phi, _) = graft.vector.VectorOps.kppRoundProbe(near, Seq(Seq(0.0)),
      graft.vector.VectorOps.KppL, 1)
    assert(phi === 9000000L + 16000000L)
  }

  // ---------------------------------------------------------------- //
  // Content-addressed tokenizer publish: re-signing a bit-identical
  // version must be a no-op swap; ANY identity component changing
  // (payload fingerprint, family, baseline) must republish.
  // ---------------------------------------------------------------- //

  test("content-addressed tokenizer publish: identical version skips the swap; a changed baseline or missing baseline republishes") {
    import graft.streaming.{Sinks, TrainingPipeline => TP}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_caskip").toString
    val path = s"$base/tok"
    def mtimeOf(): Long = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.getFileStatus(new org.apache.hadoop.fs.Path(path + "/config"))
        .getModificationTime
    }
    TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe")
    val v1 = Sinks.loadTokenizer(spark, path)._1
    val t1 = mtimeOf()
    Thread.sleep(1100) // HDFS-local mtime granularity is 1 s
    // identical corpus + family: the publish is a no-op (no new swap)
    TP.trainAndPublishTokenizer(spark, dir, path, "char-bpe")
    assert(mtimeOf() === t1, "re-signing an identical version must not swap")
    assert(Sinks.loadTokenizer(spark, path)._1 === v1)
    // a directory whose BASELINE is missing (legacy) must republish
    // even though the payload fingerprint matches
    val art = Sinks.loadTokenizer(spark, path)
      ._2.asInstanceOf[graft.text.Tokenizer.CharBpe]
    val legacy = s"$base/legacy"
    Sinks.publishTokenizer(spark, legacy, art)
    TP.trainAndPublishTokenizer(spark, dir, legacy, "char-bpe")
    assert(Sinks.loadTokenizerBaselines(spark, legacy)._1.nonEmpty,
      "a fingerprint match without a baseline must still republish")
    // a different family at the same path must republish
    TP.trainAndPublishTokenizer(spark, dir, path, "unigram")
    assert(Sinks.loadTokenizer(spark, path)._1.family === "unigram")
  }

  test("lloydStepOnSeeds: duplicate seed vectors dedupe to first occurrence instead of aborting") {
    import spark.implicits._
    val e = Seq(Seq(0.0, 0.0), Seq(0.2, 0.0), Seq(2.0, 2.0), Seq(2.2, 2.0))
      .toDF("v")
    val dup = Seq(Seq(0.0, 0.0), Seq(0.0, 0.0), Seq(2.0, 2.0))
    val got = graft.vector.VectorOps.lloydStepOnSeeds(e, dup)
    val want = graft.vector.VectorOps.lloydStepOnSeeds(e,
      Seq(Seq(0.0, 0.0), Seq(2.0, 2.0)))
    assert(got === want)
    assert(got.size === 2)
  }
}
