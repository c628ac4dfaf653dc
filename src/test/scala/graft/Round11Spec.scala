package graft

import org.apache.spark.sql.functions._
import graft.dedup.{DedupOps, PrefixJoin}

/** Round-11: the INCREMENTAL exact PPJoin (q236) and its streaming
  * admission face. Load-bearing properties:
  *
  *  - ground-truth equality: the one-sided prefix-postings probe finds
  *    exactly the cross-split pairs the quadratic anchor (q24) finds —
  *    the corpus-side SSJoin lemma is lossless;
  *  - the postings really prune: the frozen index holds strictly fewer
  *    rows than the full corpus postings;
  *  - batch face of the streaming gate: [[graft.streaming
  *    .TrainingPipeline.nearDupGate]] run on a batch frame admits
  *    exactly the docs with NO q236 pair (the two code paths share the
  *    probe shape, so the admission decision and the pair list must
  *    reconcile doc-for-doc).
  */
class Round11Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val splitAt = 250L

  test("incremental ppjoin equals the quadratic cross-split ground truth") {
    val got = PrefixJoin.incrementalPpjoin(spark, dir, splitAt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // q24's pairs have doc_a < doc_b, so cross-split pairs are exactly
    // those with doc_a < splitAt <= doc_b, remapped (fresh, corpus)
    val truth = DedupOps.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < splitAt && b >= splitAt }
      .map { case (a, b, j) => (b, a, j) }
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got.nonEmpty, "the sf0.001 corpus plants cross-split near-dups")
    assert(got === truth)
  }

  test("frozen prefix postings prune but never lose a qualifying pair") {
    val withArr = DedupOps.docShingleArr(spark, dir)
    val corpusArr = withArr.filter(col("doc_id") < splitAt)
    val postings = PrefixJoin.prefixPostingsOf(corpusArr)
    val fullPostings = corpusArr
      .select(col("doc_id"), explode(col("arr")).as("sh64")).count()
    val prefixPostings = postings.count()
    assert(prefixPostings < fullPostings,
      s"prefix index must be smaller than full postings ($prefixPostings vs $fullPostings)")
    // ~(1-t) fraction + 1 per doc: sanity bound that it's a real prune,
    // not an off-by-one
    assert(prefixPostings.toDouble / fullPostings < 0.5)
    // completeness re-check at the candidate level: every ground-truth
    // pair appears among the raw candidates the postings generate
    val freshArr = withArr.filter(col("doc_id") >= splitAt)
    val cands = freshArr
      .select(col("doc_id").as("fresh_id"), explode(col("arr")).as("sh64"))
      .join(postings, "sh64")
      .select("fresh_id", "corpus_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = PrefixJoin.incrementalPpjoin(spark, dir, splitAt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cands), s"lost pairs: ${truth -- cands}")
  }

  test("wavSpectral: pure tones land all binned energy in exactly their own bin") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, WavCodec}
    def enc(samples: Array[Short]) = WavCodec.encode(44100, samples)
    val n = 64
    val a = 256
    val dcSig = Array.fill(n)(a.toShort)
    val quarterSig = Array.tabulate(n)(i => (i % 4 match {
      case 0 => a; case 2 => -a; case _ => 0
    }).toShort)
    val nyqSig = Array.tabulate(n)(i => (if (i % 2 == 0) a else -a).toShort)
    val ds = Seq(
      Multimodal.WavDoc(1L, enc(dcSig)),
      Multimodal.WavDoc(2L, enc(quarterSig)),
      Multimodal.WavDoc(3L, enc(nyqSig))).toDS()
    val rows = Multimodal.spectralCore(ds, 64).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).sortBy(_._1)
    val full = 64L * a * (64L * a)
    // constant (k=0): everything in the DC bin, zero HF share
    assert(rows(0) === ((1L, full, 0L, 0L, 0L)))
    // fs/4 tone [A,0,-A,0,...]: re = 32A, im = 0 -> quarter bin only
    assert(rows(1) === ((2L, 0L, 32L * a * (32L * a), 0L, 1000000L)))
    // Nyquist square [A,-A,...]: everything in the Nyquist bin
    assert(rows(2) === ((3L, 0L, 0L, full, 1000000L)))
  }

  test("spectralKnn: neighbor list is sane (cos bounded, sorted, shares derived from q237 bins)") {
    import graft.multimodal.Multimodal
    val rows = Multimodal.spectralKnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length === 10)
    // cosines of non-negative share vectors live in [0, 1]
    assert(rows.forall { case (_, c) => c >= 0.0 && c <= 1.0 })
    // returned in descending-cos, ascending-id order
    rows.sliding(2).foreach {
      case Array((idA, cA), (idB, cB)) =>
        assert(cA > cB || (cA == cB && idA < idB))
      case _ =>
    }
    assert(!rows.exists(_._1 == 0L), "query doc must not match itself")
  }

  test("docPerplexity: ce/ppl consistency, smoothing floor, target-LM calibration") {
    import graft.text.Curation
    val rows = Curation.docPerplexity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === Tables.documents(spark, dir)
      .filter(expr(s"size(${graft.text.TextOps.TokensExpr}) >= 2")).count())
    rows.foreach { case (id, _, nb, ce, ppl) =>
      assert(nb > 0)
      // cross-entropy under Laplace smoothing is strictly positive (no
      // bigram has probability 1 once V > 1) and finite
      assert(ce > 0L, s"doc $id ce")
      // ppl_milli replays from ce within the double rounding of the two
      // paths (ce is micro-rounded; ppl is exp of the unrounded mean)
      val expected = 1000.0 * math.exp(ce.toDouble / 1e6)
      assert(math.abs(ppl - expected) <= math.max(2.0, expected * 1e-4),
        s"doc $id ppl $ppl vs exp(ce) $expected")
    }
    // calibration: the target sources' own docs should on average be
    // LESS surprising to the target LM than the other sources' docs
    val (tgt, rest) = rows.partition(r => Curation.DsirTargetSources.contains(r._2))
    val meanT = tgt.map(_._4).sum.toDouble / tgt.length
    val meanR = rest.map(_._4).sum.toDouble / rest.length
    assert(meanT < meanR,
      s"target-domain docs must score lower CE (got $meanT vs $meanR)")
  }

  test("retrievalEval: DCG bounded by IDCG and the derived metrics replay") {
    import graft.ops.Publisher
    val r = Publisher.retrievalEval(spark, dir).collect().head
    val (k, dcg, idcg, ndcg, firstFull, mrr) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    assert(k === 10L)
    assert(dcg > 0L && dcg <= idcg, "ranked DCG can never beat the ideal")
    assert(ndcg ===
      math.floor(1e6 * dcg.toDouble / idcg.toDouble + 0.5).toLong)
    assert(ndcg > 0L && ndcg <= 1000000L)
    if (firstFull == 0L) assert(mrr === 0L)
    else assert(mrr === math.floor(1e6 / firstFull + 0.5).toLong)
  }

  test("mixtureSample: deterministic monotone rates, partitioned achieved shares") {
    import graft.text.TextOps
    val rows = TextOps.mixtureSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // every rate is a real probability; the most-upweighted source
    // keeps everything (down-sampling-only normalization)
    assert(rows.forall { case (_, rate, _, _, _, _) => rate > 0L && rate <= 1000000L })
    assert(rows.exists(_._2 == 1000000L))
    // no source keeps more docs than it has
    val perSource = Tables.documents(spark, dir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (s, _, _, kept, _, _) => assert(kept <= perSource(s)) }
    // the achieved shares partition the kept mass (Σ = 1e6 ± rounding)
    val achievedSum = rows.map(_._6).sum
    assert(math.abs(achievedSum - 1000000L) <= rows.length,
      s"achieved shares must partition the kept tokens (sum $achievedSum)")
    // rate ∝ tokens^(−1/2): a strictly larger source never gets a
    // strictly larger rate (±1 micro for the rounding of w_micro)
    val srcTokens = TextOps.mixtureWeights(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byRate = rows.map { case (s, rate, _, _, _, _) => (srcTokens(s), rate) }
    for ((ta, ra) <- byRate; (tb, rb) <- byRate if ta > tb)
      assert(ra <= rb + 1L,
        s"larger source ($ta tokens) must not out-rate smaller ($tb): $ra vs $rb")
    // the sampler is a pure function of doc_id: a second run is identical
    val again = TextOps.mixtureSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    assert(again.toSeq === rows.map(r => (r._1, r._4, r._5)).toSeq)
  }

  test("cdcChunks: boundaries are content-defined — a front insertion re-aligns past the edit") {
    import spark.implicits._
    import graft.text.TextOps
    val base = (1 to 200).map(i => s"tok${i * 7 % 97}")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, ("zzz " +: base).mkString(" "))).toDF("doc_id", "text")
    val cuts = TextOps.cdcCuts(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2).toSet).toMap
    assert(cuts(1L).nonEmpty, "a 200-token doc must cut somewhere")
    // every base boundary survives the insertion, shifted by exactly 1
    // (its window contains only pre-edit tokens), and the only possible
    // NEW boundary is the one window that contains the inserted token
    val shifted = cuts(1L).map(_ + 1)
    assert(shifted.subsetOf(cuts(2L)),
      s"lost boundaries: ${shifted -- cuts(2L)}")
    assert((cuts(2L) -- shifted).subsetOf(Set(TextOps.CdcWindow - 1)),
      s"unexpected new boundaries: ${cuts(2L) -- shifted}")
    // contrast: q40 fixed-stride chunks would ALL shift — no boundary of
    // doc 1 would survive as content (this is the CDC selling point)
  }

  test("dupFlowMatrix: canonical pairs, shares partition the q204 pair mass") {
    import graft.dedup.PrefixJoin
    val rows = PrefixJoin.dupFlowMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, n, _) =>
      assert(a <= b, s"source pair ($a, $b) must be canonicalized")
      assert(n > 0L)
    }
    assert(rows.map(_._3).sum === PrefixJoin.ppjoinPairs(spark, dir).count())
    val shareSum = rows.map(_._4).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length)
  }

  test("curriculumOrder: stages band by difficulty, positions/shards deal cleanly, replayable") {
    import graft.text.Curation
    val rows = Curation.curriculumOrder(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ce = Curation.docPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.length === ce.size)
    val byStage = rows.groupBy(_._2)
    assert(byStage.keySet === Set(1L, 2L, 3L, 4L))
    // NTILE balance: stage sizes differ by at most 1
    val sizes = byStage.values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
    // easy -> hard: stage k's hardest doc never exceeds stage k+1's easiest
    for (k <- 1L to 3L) {
      val mx = byStage(k).map(t => ce(t._1)).max
      val mn = byStage(k + 1).map(t => ce(t._1)).min
      assert(mx <= mn, s"stage $k max ce $mx > stage ${k + 1} min ce $mn")
    }
    // positions are 1..size within each stage; shards deal round-robin
    byStage.foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq === (1L to g.length).toSeq)
      g.foreach { case (_, _, pos, shard) => assert(shard === (pos - 1) % 8) }
    }
    // the manifest is a pure function of the data: a rerun is identical
    val again = Curation.curriculumOrder(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === rows.toSeq)
  }

  test("quantizationAudit: errors bounded by half a quantization step, SNR sane") {
    import graft.vector.VectorOps
    val rows = VectorOps.quantizationAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nDims, maxabsN, l1, linf, sigSq, errSq, snr) =>
      assert(nDims === 64L)
      // symmetric round-to-nearest: per-dim error <= maxabs/254 (half a
      // step), so Linf is bounded by it (+1 nano for the rounding)
      assert(linf <= maxabsN / 254L + 1L,
        s"vec $id Linf $linf exceeds half-step ${maxabsN / 254L}")
      assert(l1 >= linf && l1 <= nDims * (maxabsN / 254L + 1L))
      assert(errSq <= sigSq, s"vec $id error energy above signal energy")
      // int8 with per-vector scale keeps SNR comfortably high
      assert(snr > 10000L, s"vec $id snr_milli $snr implausibly low for int8")
    }
  }

  test("hybridRrf: fused scores replay exactly from the two underlying rankings") {
    import graft.ops.Publisher
    import graft.vector.VectorOps
    val out = Publisher.hybridRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 10)
    // recompute both rank lists independently
    val lex = Publisher.bm25Search(spark, dir, k = 50).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> math.floor(1e6 / (60 + i + 1) + 0.5).toLong }.toMap
    val vec = VectorOps.cosineTopK(spark, dir, 0L, 50).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> math.floor(1e6 / (60 + i + 1) + 0.5).toLong }.toMap
    out.foreach { case (id, inLex, inVec, rrf) =>
      assert(inLex === (if (lex.contains(id)) 1L else 0L))
      assert(inVec === (if (vec.contains(id)) 1L else 0L))
      assert(rrf === lex.getOrElse(id, 0L) + vec.getOrElse(id, 0L),
        s"doc $id fused score")
    }
    // fusion is ordered and the winners beat any doc outside the lists
    out.sliding(2).foreach {
      case Array((ida, _, _, a), (idb, _, _, b)) =>
        assert(a > b || (a == b && ida < idb))
      case _ =>
    }
  }

  test("hapaxRisk: conservation — per-doc hapax counts sum to the corpus hapax vocabulary") {
    import graft.text.TextOps
    val rows = TextOps.hapaxRisk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 500)
    rows.foreach { case (id, nTypes, nHapax, micro) =>
      assert(nHapax >= 0L && nHapax <= nTypes, s"doc $id")
      assert(micro === math.floor(1e6 * nHapax.toDouble / nTypes + 0.5).toLong)
    }
    // every df=1 token belongs to exactly one doc, so the per-doc counts
    // sum to the corpus-wide hapax vocabulary size
    val corpusHapax = Tables.documents(spark, dir)
      .select(explode(expr(s"array_distinct(${graft.text.TextOps.TokensExpr})")).as("tok"))
      .groupBy("tok").count().filter(col("count") === 1L).count()
    assert(rows.map(_._3).sum === corpusHapax)
  }

  test("kAnonymityStrata: strata partition the corpus, risky flag replays") {
    import graft.text.TextOps
    val rows = TextOps.kAnonymityStrata(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._4).sum === Tables.documents(spark, dir).count())
    rows.foreach { case (_, _, _, n, risky, _) =>
      assert(risky === (if (n < 5) 1L else 0L))
      assert(n > 0L)
    }
    // strata keys are unique (it is a partition, not a rollup)
    assert(rows.map(t => (t._1, t._2, t._3)).distinct.length === rows.length)
  }

  test("splitGap: the train-split LM finds unseen eval text harder") {
    import graft.text.Curation
    val rows = Curation.splitGap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySplit = rows.groupBy(_._2)
    assert(bySplit.keySet === Set("train", "eval"))
    // all scored docs are accounted for
    val scoredDocs = Tables.documents(spark, dir)
      .filter(expr(s"size(${graft.text.TextOps.TokensExpr}) >= 2")).count()
    assert(rows.map(_._3).sum === scoredDocs)
    // pooled across sources, the LM's own training text must score
    // lower cross-entropy than held-out text (it memorized the former)
    def pooledCe(split: String): Double = {
      val g = bySplit(split)
      // ce_micro weighted by bigram mass approximates the pooled CE
      g.map(r => r._5.toDouble * r._4).sum / g.map(_._4).sum
    }
    assert(pooledCe("train") < pooledCe("eval"),
      s"train CE ${pooledCe("train")} must undercut eval CE ${pooledCe("eval")}")
    // and the gap is visible for the large majority of sources
    val gaps = rows.groupBy(_._1).collect {
      case (_, g) if g.length == 2 =>
        g.find(_._2 == "eval").get._5 - g.find(_._2 == "train").get._5
    }
    assert(gaps.count(_ > 0L) * 10 >= gaps.size * 8,
      s"at least 80% of sources must show a positive gap (${gaps.count(_ > 0L)}/${gaps.size})")
  }

  test("bpePairs: ordered top-k and pair-mass conservation") {
    import graft.text.TextOps
    val rows = TextOps.bpePairs(spark, dir, k = 1000000).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { case (p, ct) => assert(p.length == 2 && ct > 0L) }
    // every token occurrence of length L contributes exactly L-1 pairs
    val expectedMass = Tables.documents(spark, dir)
      .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("tok"))
      .select(expr("CAST(GREATEST(length(tok) - 1, 0) AS BIGINT)").as("m"))
      .agg(sum(col("m"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum === expectedMass)
    // and the display query is the ordered head of that table
    val top = TextOps.bpePairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.length === 25)
    assert(top.toSeq === rows.sortBy { case (p, ct) => (-ct, p) }.take(25).toSeq)
  }

  test("plan pins: round-11 joins stay equi-keyed, never cartesian") {
    import graft.dedup.{DedupOps, PrefixJoin}
    def noCartesian(plan: String, label: String): Unit = {
      assert(!plan.contains("CartesianProduct"), s"$label plans a cartesian product")
      // BroadcastNestedLoopJoin is legal only for the deliberate 1-row
      // stat/query broadcasts (crossJoin(broadcast(1-row))); a corpus-
      // sized BNLJ would be the 100 TB failure mode. The round-11 pair
      // generators must all be hash equi-joins.
      ()
    }
    val q236 = PrefixJoin.incrementalPpjoin(spark, dir)
      .queryExecution.executedPlan.toString
    noCartesian(q236, "q236")
    assert(q236.contains("HashJoin") || q236.contains("SortMergeJoin"),
      "q236 candidate probe must be an equi-join")
    val withArr = DedupOps.docShingleArr(spark, dir)
    val corpusArr = withArr.filter(col("doc_id") < 250L)
    val postings = PrefixJoin.prefixPostingsOf(corpusArr)
    val docs = Tables.documents(spark, dir)
    val gate = graft.streaming.TrainingPipeline.nearDupGate(
      docs.filter(col("doc_id") >= 250L)
        .select(col("doc_id"), col("source"), col("text"),
          md5(graft.text.TextOps.normText(col("text"))).as("fp")),
      postings, corpusArr)
      .queryExecution.executedPlan.toString
    noCartesian(gate, "nearDupGate")
    val q242 = PrefixJoin.dupFlowMatrix(spark, dir)
      .queryExecution.executedPlan.toString
    noCartesian(q242, "q242")
  }

  test("labelNoise: per-label accounting and a hand-replayed vote") {
    import graft.vector.VectorOps
    val rows = VectorOps.labelNoise(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every labeled vector is voted on exactly once
    assert(rows.map(_._2).sum === Tables.embeddings(spark, dir).count())
    rows.foreach { case (_, n, flagged, micro) =>
      assert(flagged >= 0L && flagged <= n)
      assert(micro === math.floor(1e6 * flagged.toDouble / n + 0.5).toLong)
    }
    // replay one vector's vote by brute force
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val (qid, qv, qlabel) = e.head
    val neighbors = e.filter(_._1 != qid)
      .map { case (id, v, l) => (id, l, cos(qv, v)) }
      .sortBy { case (id, _, c) => (-c, id) }.take(5)
    val same = neighbors.count(_._2 == qlabel)
    val expectFlag = if (same * 2 < 5) 1L else 0L
    // fold the replayed flag into the per-label row it lands in
    val row = rows.find(_._1 == qlabel.toLong).get
    assert(row._3 >= expectFlag, s"vec $qid replayed flag $expectFlag under label row $row")
  }

  test("dedupRoi: token masses partition and reconcile with the dedup operators") {
    import graft.dedup.{DedupOps, PrefixJoin}
    val rows = PrefixJoin.dedupRoi(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    rows.foreach { case (_, _, raw, ex, near, eff, _) =>
      assert(ex + near + eff === raw, "masses must partition the raw tokens")
      assert(ex >= 0L && near >= 0L && eff > 0L)
    }
    assert(rows.map(_._2).sum === Tables.documents(spark, dir).count())
    // exact-removable docs reconcile with the q23 keep-rule: total docs
    // minus distinct content hashes
    val exactRemovableDocs = Tables.documents(spark, dir).count() -
      DedupOps.exactDedup(spark, dir).count()
    val exDocs = {
      // recompute removable doc count from the same frame the op uses
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val reps = docs.groupBy("fp").agg(min(col("doc_id")).as("rep_id"))
      docs.join(reps, "fp").filter(col("doc_id") =!= col("rep_id")).count()
    }
    assert(exDocs === exactRemovableDocs)
  }

  test("annRecallSweep: recall is monotone in probe budget and tops out at the q153 point") {
    import graft.vector.VectorOps
    val rows = VectorOps.annRecallSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byQuery = rows.groupBy(_._2)
    byQuery.foreach { case (qid, g) =>
      val seq = g.sortBy(_._1).map(_._3)
      seq.sliding(2).foreach {
        case Array(a, b) => assert(a <= b,
          s"query $qid recall dropped as probes grew: ${seq.toSeq}")
        case _ =>
      }
    }
    val atMax = rows.filter(_._1 == 4L).map(t => t._2 -> t._3).toMap
    val q153 = VectorOps.annRecallEval(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(atMax === q153, "the 4-probe sweep point must equal q153")
  }

  test("langConfusion: cells partition each declared language and replay q21's verdicts") {
    import graft.text.TextOps
    val cells = TextOps.langConfusion(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // within each declared language the shares partition (Σ ≈ 1e6)
    cells.groupBy(_._1).foreach { case (lang, g) =>
      val s = g.map(_._4).sum
      assert(math.abs(s - 1000000L) <= g.length, s"$lang shares sum $s")
      g.foreach { case (l, p, _, _, agree) =>
        assert(agree === (if (l == p) 1L else 0L))
      }
    }
    // cell counts replay from the per-doc q21 frame
    val perDoc = TextOps.langId(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = perDoc.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(cells.map(c => (c._1, c._2) -> c._3).toMap === expected)
  }

  test("pairDiff: every diff row is explained by a membership change at an endpoint") {
    import graft.dedup.PrefixJoin
    val rows = PrefixJoin.pairDiff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty, "the 23/29 snapshot rules must move some pairs")
    rows.foreach { case (a, b, op) =>
      op match {
        case "appeared" =>
          // both endpoints live in NEW, at least one was absent from OLD
          assert(a % 29 != 0 && b % 29 != 0)
          assert(a % 23 == 0 || b % 23 == 0,
            s"appeared pair ($a, $b) has no newly-added endpoint")
        case "vanished" =>
          assert(a % 23 != 0 && b % 23 != 0)
          assert(a % 29 == 0 || b % 29 == 0,
            s"vanished pair ($a, $b) has no removed endpoint")
        case other => fail(s"unknown op $other")
      }
    }
  }

  test("curationRank: risk replays from its components and heads the full ordering") {
    import graft.text.Curation
    import graft.text.TextOps
    val top = Curation.curationRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(top.length === 50)
    top.foreach { case (_, ce, hx, risk) => assert(risk === ce + 2 * hx) }
    // the top-50 really are the 50 lowest-risk docs of the full join
    val ce = Curation.docPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val hx = TextOps.hapaxRisk(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val expected = ce.keySet.intersect(hx.keySet).toSeq
      .map(id => (id, ce(id) + 2 * hx(id)))
      .sortBy { case (id, r) => (r, id) }.take(50).map(_._1)
    assert(top.map(_._1).toSeq === expected)
  }

  test("overlapScreenBatch: rows respect the split and replay from the winnow fingerprints") {
    import graft.streaming.TrainingPipeline
    import graft.text.TextOps
    val rows = TrainingPipeline.overlapScreenBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "the corpus plants cross-split partial overlaps")
    rows.foreach { case (f, c, shared) =>
      assert(f >= 250L && c < 250L && shared >= 2L)
    }
    // replay every pair's shared count from the per-doc fingerprint sets
    val fps = TextOps.winnowingFingerprints(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3).split(',').filter(_.nonEmpty).toSet)
      .toMap
    rows.foreach { case (f, c, shared) =>
      assert((fps(f) intersect fps(c)).size.toLong === shared,
        s"pair ($f, $c) shared-fp count")
    }
  }

  test("nearDupGate batch face reconciles with the q236 pair list") {
    val docs = Tables.documents(spark, dir)
    val withArr = DedupOps.docShingleArr(spark, dir)
    val corpusArr = withArr.filter(col("doc_id") < splitAt)
    val postings = PrefixJoin.prefixPostingsOf(corpusArr)
    val fresh = docs.filter(col("doc_id") >= splitAt)
      .select(col("doc_id"), col("source"), col("text"),
        md5(graft.text.TextOps.normText(col("text"))).as("fp"))
    val admitted = graft.streaming.TrainingPipeline
      .nearDupGate(fresh, postings, corpusArr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nearDup = PrefixJoin.incrementalPpjoin(spark, dir, splitAt).collect()
      .map(_.getLong(0)).toSet
    val allFresh = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === allFresh -- nearDup)
    assert(nearDup.nonEmpty && admitted.nonEmpty)
  }
}
