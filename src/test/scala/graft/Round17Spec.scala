package graft

import org.apache.spark.sql.functions._

/** Round-17 pins: the versioned tokenizer artifacts (publish/load
  * roundtrip, fingerprint integrity, crash recovery), the hierarchical
  * assignment's degenerate-grid clamp, and the new Bench budget gates. */
class Round17Spec extends SparkSpec {

  // ---------------------------------------------------------------- //
  // Tokenizer artifact fingerprints (Sinks.tokFpOf family)
  // ---------------------------------------------------------------- //

  test("tokFpOf: pinned values match the oracle-side DuckDB fold (cross-engine constant)") {
    // both pinned against the DuckDB expression
    //   list_reduce(list_prepend(CAST(7 AS BIGINT), ...), (acc,x) -> (acc*31+x) % 1e12)
    // evaluated in-session during development — a drifting seed, modulus
    // or multiplier breaks these constants
    assert(graft.streaming.Sinks.tokFpOf("hello") === 299566379L)
    assert(graft.streaming.Sinks.tokFpOf("the-quick-brown-fox-jumps-over")
      === 467223924052L)
    assert(graft.streaming.Sinks.tokFpOf("") === 7L)
  }

  test("tokFingerprint: order-independent over rows, sensitive to any key or value change") {
    import graft.streaming.Sinks
    val rows = Seq(("ab", 3L), ("cd", 1L), ("zz", 9L))
    val a = Sinks.tokFingerprint(rows)
    assert(a === Sinks.tokFingerprint(rows.reverse))
    assert(a !== Sinks.tokFingerprint(rows.updated(0, ("ab", 4L))))
    assert(a !== Sinks.tokFingerprint(rows.updated(1, ("ce", 1L))))
    assert(a !== Sinks.tokFingerprint(rows.tail))
  }

  test("tokenizer publish/load roundtrip for all three families; loader refuses a tampered payload") {
    import graft.streaming.{Sinks, TrainingPipeline}
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_tok17").toString
    Seq("char-bpe", "byte-bpe", "unigram").foreach { fam =>
      TrainingPipeline.trainAndPublishTokenizer(spark, dir, s"$base/$fam", fam)
      val art = Sinks.loadTokenizer(spark, s"$base/$fam")
      assert(art._1.family === fam)
      assert(art._1.vocabSize > 0)
    }
    // roundtrip preserves the exact training payload
    val uni = Sinks.loadTokenizer(spark, s"$base/unigram")
      ._2.asInstanceOf[graft.text.Tokenizer.Unigram]
    val trained = graft.text.Curation.unigramArtifactRows(spark, dir)
    assert(uni.vocab === trained.sortBy(_._1))
    // tamper: rewrite the vocab payload with one p_micro changed — the
    // loader recomputes the checksum and must refuse
    import spark.implicits._
    val tampered = uni.vocab.updated(0,
      uni.vocab.head.copy(_4 = uni.vocab.head._4 + 1))
    tampered.toDF("piece", "is_char", "cnt", "p_micro")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/unigram/vocab")
    val e = intercept[IllegalArgumentException] {
      Sinks.loadTokenizer(spark, s"$base/unigram")
    }
    assert(e.getMessage.contains("does not match its config"))
  }

  test("tokenizer crash-mid-swap: the interrupted publish state recovers the last complete version") {
    import graft.streaming.Sinks
    val base = java.nio.file.Files.createTempDirectory("graft_tokcr").toString
    val path = s"$base/uni"
    val v1 = Seq(("a", 1, 5L, 100000L), ("b", 1, 3L, 60000L))
    val v2 = Seq(("a", 1, 9L, 200000L), ("b", 1, 1L, 20000L),
      ("ab", 0, 4L, 80000L))
    Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.Unigram(v1))
    Sinks.publishTokenizer(spark, path, graft.text.Tokenizer.Unigram(v2))
    // simulate the crash window between "dst → bak" and "tmp → dst":
    // only bak exists — the loader must restore and serve it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__bak")))
    val (recCfg, recTok) = Sinks.loadTokenizer(spark, path)
    val rec = recTok.asInstanceOf[graft.text.Tokenizer.Unigram]
    assert(rec.vocab.map(_._1).toSet === Set("a", "b", "ab"),
      "recovery must yield the last COMPLETE version (v2)")
    // a half-written tmp directory must never be visible to a loader
    Sinks.publishTokenizer(spark, path + "__tmp_probe", graft.text.Tokenizer.Unigram(v1))
    assert(Sinks.loadTokenizer(spark, path)._1.fingerprint ===
      recCfg.fingerprint)
  }

  // ---------------------------------------------------------------- //
  // uniNpOrChars: the streaming monitor's Scala lattice kernel must
  // mirror the oracle-replayable column lattice BIT FOR BIT
  // ---------------------------------------------------------------- //

  test("uniNpOrChars ≡ the column Viterbi lattice on every distinct corpus word AND on planted unseen-char/unseen-piece edges") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val (_, probs) = {
      // the real trained vocabulary — the monitor's production input
      val t = graft.text.Curation.unigramArtifactRows(spark, dir)
      (t, t.map(v => v._1 -> v._4).toMap)
    }
    // planted edges beside the full corpus vocabulary:
    //  - word with an unseen CHAR mid-word (no lattice path at that pos)
    //  - word whose only cover needs a piece longer than UniMaxPieceLen
    //  - unseen char at position 0 with a SEEN multi-char piece covering
    //    it (the poisoned-prev-vs-valid-candidate ordering case)
    val tinyProbs = Map("b" -> 300000L, "ab" -> 350000L, "a" -> 300000L)
    val corpusWords = graft.Tables.documents(spark, dir)
      .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .filter(length(col("word")).between(1, graft.text.Curation.UniMaxWordLen))
      .distinct().as[String].collect().toSeq
    def columnNp(words: Seq[String], p: Map[String, Long]): Map[String, Long] =
      words.toDF("word")
        .withColumn("dp", graft.text.Curation.uniDpCol(col("word"), p))
        .select(col("word"),
          coalesce(
            element_at(col("dp"), length(col("word")) + lit(1))
              .getField("np").cast("long"),
            length(col("word")).cast("long")).as("np"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCorpus = columnNp(corpusWords, probs)
    corpusWords.foreach { w =>
      assert(graft.text.Curation.uniNpOrChars(w, probs) === gotCorpus(w),
        s"kernel diverges from the column lattice on corpus word '$w'")
    }
    val edges = Seq("zb", "bz", "abz", "zab", "ab", "abab", "aaaaaab", "q")
    val gotEdges = columnNp(edges, tinyProbs)
    edges.foreach { w =>
      assert(graft.text.Curation.uniNpOrChars(w, tinyProbs) === gotEdges(w),
        s"kernel diverges from the column lattice on planted word '$w'")
    }
  }

  // ---------------------------------------------------------------- //
  // Hierarchical assignment: degenerate-grid clamp (judge r16 wrong #2)
  // ---------------------------------------------------------------- //

  test("assignCellsAuto survives a >256-cell grid that collapses to fewer supercells than topS") {
    import spark.implicits._
    // 300 centroids (over HierAssignMinCells = 256 → hierarchical path)
    // all at the SAME point: supercellsOf returns ONE non-empty
    // supercell, far fewer than the requested top-s — the unclamped
    // selection loop dereferenced sel = -1 here
    val cents = Seq.fill(300)(Seq(1.0, 1.0))
    val e = Seq((0L, Seq(0.9, 1.1)), (1L, Seq(1.5, 0.5)))
      .toDF("vec_id", "v")
    val out = graft.vector.VectorOps.assignCellsAuto(e, cents)
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    // equidistant to every (identical) centroid → ties to the lowest id
    assert(out === Set((0, 0L), (0, 1L)))
  }

  // ---------------------------------------------------------------- //
  // q316 / q317 structural theorems
  // ---------------------------------------------------------------- //

  test("coarseTrainerGate: one Lloyd step never worsens phi for either init, and recall is a valid micro fraction (q316)") {
    val rows = graft.vector.VectorOps
      .coarseTrainerGate(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq("kmeans_par", "seed_first_k"))
    rows.foreach { case (m, phiSeed, phiRef, rec) =>
      assert(phiRef <= phiSeed,
        s"$m: the micro-mean Lloyd step must not increase phi")
      assert(rec >= 0L && rec <= 1000000L)
    }
  }

  test("adcCascadeAudit: the shortlist max never exceeds the full-candidate max, and the scored count is capped by the shortlist K (q317)") {
    val k = graft.vector.VectorOps.CascadeShortlistK
    val rows = graft.vector.VectorOps
      .adcCascadeAudit(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nCand = r.getLong(1); val nScored = r.getLong(2)
      assert(nScored <= math.min(nCand, k.toLong))
      if (!r.isNullAt(3) && !r.isNullAt(4))
        assert(r.getLong(3) <= r.getLong(4),
          "cascade best is a max over a SUBSET of the ADC candidates")
      // a cascade miss can only flip toward admit (it can lose the
      // best candidate, never gain one; admit = 1, reject = 0 — the
      // q284 convention) — the one-sided error shape
      if (r.getLong(7) == 0L)
        assert(r.getLong(5) == 1L && r.getLong(6) == 0L,
          "disagreement must be cascade-admit vs adc-reject, never the reverse")
    }
  }

  test("unigramVocabSweep: the word table is sweep-invariant, pieces bounded by chars, fertility consistent with its own totals (q318)") {
    val rows = graft.text.Curation
      .unigramVocabSweep(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq === graft.text.Curation.UniSweepSeeds.map(_.toLong))
    // n_tokens / chars_total do not depend on the seed budget
    assert(rows.map(t => (t._4, t._5)).distinct.size === 1)
    rows.foreach { case (_, vocab, multis, nTok, chars, pieces, fert) =>
      assert(multis < vocab, "char pieces always survive pruning")
      assert(pieces <= chars && pieces >= nTok,
        "each word segments to between 1 and len pieces")
      assert(fert === math.floor(1000000.0d * pieces / nTok + 0.5d).toLong)
    }
  }

  test("unigramSoftEm: per-word posterior mass conserves the expected piece count, every surviving piece carries soft mass, p_soft recomputes from the table (q319)") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.text.Curation.unigramSoftEm(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // every piece the Viterbi actually used has lattice support (a
    // prune-exempt char with hard count 0 can round to 0 soft mass —
    // its every occurrence posterior sits below half a micro)
    rows.foreach { case (p, hard, soft, _) =>
      if (hard >= 1L)
        assert(soft > 0L, s"piece '$p' (hard $hard) must carry soft mass")
    }
    // conservation: total expected pieces ≥ total words (every word
    // segments to at least one piece; occurrence rounding loses < 0.5
    // micro per occurrence)
    import org.apache.spark.sql.functions._
    val nTokens = graft.Tables.documents(spark, dir)
      .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .filter(length(col("word"))
        .between(1, graft.text.Curation.UniMaxWordLen))
      .count()
    assert(rows.map(_._3).sum >= 999999L * nTokens,
      "sum of expected piece counts must cover one piece per token")
    // p_soft is exactly the add-one micro rule over the table's own
    // counts (arbitrary-precision, the q307 discipline)
    val tot = BigInt(rows.map(_._3).sum)
    val v = BigInt(rows.length)
    rows.foreach { case (p, _, soft, pSoft) =>
      val want = ((BigInt(2) * (BigInt(soft) + 1000000) * 1000000 +
        tot + v * 1000000) / (BigInt(2) * (tot + v * 1000000))).toLong
      assert(pSoft === want, s"p_soft_micro of '$p' must recompute")
    }
  }

  test("unigramSoftFertility: the re-estimate genuinely shifts probabilities (the q320 wash is not vacuous) and both rows share the word table") {
    val dir = "/root/testdata/sf0.001"
    val soft = graft.text.Curation.unigramSoftRows(spark, dir)
      .map(r => r._1 -> r._5).toMap
    val hard = graft.text.Curation.unigramArtifactRows(spark, dir)
      .map(r => r._1 -> r._4).toMap
    assert(soft.keySet === hard.keySet)
    assert(soft.exists { case (p, v) => hard(p) != v },
      "the soft re-estimate must move SOME probability — a vacuously " +
        "identical table would make q320's wash verdict meaningless")
    val rows = graft.text.Curation.unigramSoftFertility(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq("hard_em", "soft_reestimate"))
    assert(rows.map(_._2).distinct.size === 1, "same word table both rows")
    rows.foreach { case (_, nTok, pieces, fert) =>
      assert(fert === math.floor(1000000.0d * pieces / nTok + 0.5d).toLong)
    }
  }

  // ---------------------------------------------------------------- //
  // Bench budget gates (judge r16 task 4 + advisor r16)
  // ---------------------------------------------------------------- //

  test("warmBudgetFlags: flags only queries over the 3 s warm budget") {
    val best = Seq("fast" -> 0.4, "edge" -> 3.0, "slow" -> 3.7,
      "failed" -> -1.0)
    assert(Bench.warmBudgetFlags(best) === Seq("slow"))
  }

  test("meanFlagged: enforced only on a comparison-grade window") {
    assert(Bench.meanFlagged(total = 60.0, measured = 100, winOk = true))
    assert(!Bench.meanFlagged(total = 50.0, measured = 100, winOk = true))
    // busy window: the same over-budget mean must NOT flag (the window
    // gate already marks the artifact non-comparable)
    assert(!Bench.meanFlagged(total = 60.0, measured = 100, winOk = false))
    assert(!Bench.meanFlagged(total = 60.0, measured = 0, winOk = true))
  }

  test("subfloorGrown: both the ratio and absolute legs must trip; missing prior never flags") {
    assert(Bench.subfloorGrown(prev = 10.0, now = 20.0))
    assert(!Bench.subfloorGrown(prev = 10.0, now = 14.0)) // +40% only
    assert(!Bench.subfloorGrown(prev = 1.0, now = 3.0))   // +2 s only
    assert(!Bench.subfloorGrown(prev = -1.0, now = 50.0)) // no prior
  }
}
