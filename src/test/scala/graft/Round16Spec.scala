package graft

import org.apache.spark.sql.functions._

/** Round-16 pins: the hierarchical index-build assignment (q300/q301),
  * its exactness/prune semantics, and the auto-dispatch threshold. */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q300's full transition-matrix agreement equals q301's rank-shortcut row at the wired s") {
    val wired = graft.vector.VectorOps.HierAuditTopS
    val m = graft.vector.VectorOps.hierPruneAudit(spark, dir)
      .agg(sum(when(col("agree") === 1L, col("n_vecs")).otherwise(0L)),
        sum(col("n_vecs"))).head()
    val sweep = graft.vector.VectorOps.hierProbeSweep(spark, dir)
      .filter(col("top_s") === wired.toLong)
      .select("n_agree", "n_vecs").head()
    assert(m.getLong(1) === sweep.getLong(1)) // same store size
    assert(m.getLong(0) === sweep.getLong(0),
      "the prune can only miss when the flat cell's supercell is outside " +
        "the probe — the full run and the rank shortcut must count the " +
        "same agreements")
  }

  test("hier assignment with topS = nSuper (no prune) equals the flat exact argmin row-for-row") {
    val vs = (0 until 60).map { i =>
      (i.toLong, (0 until 6).map(j => ((i * 13 + j * 7) % 19 - 9) / 3.0d))
    }
    val e = vs.toDF("vec_id", "v")
    val cents: Seq[(Int, Seq[Double])] = (0 until 12).map { c =>
      c -> (0 until 6).map(j => ((c * 5 + j * 3) % 17 - 8) / 2.0d)
    }
    val flat = graft.vector.VectorOps.assignCellsJoinIdx(e, cents)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hier = graft.vector.VectorOps.assignCellsHierIdx(e, cents, 3, 3)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hier === flat,
      "probing every supercell makes the candidate set the whole grid — " +
        "any divergence is an arithmetic or tie-break drift")
  }

  test("hier assignment with a pruned probe only ever returns a cell from a probed supercell, and misses are exactly the out-of-probe vectors") {
    val vs = (0 until 80).map { i =>
      (i.toLong, (0 until 6).map(j => ((i * 11 + j * 5) % 23 - 11) / 4.0d))
    }
    val e = vs.toDF("vec_id", "v")
    val cents: Seq[(Int, Seq[Double])] = (0 until 16).map { c =>
      c -> (0 until 6).map(j => ((c * 7 + j * 3) % 19 - 9) / 3.0d)
    }
    val flat = graft.vector.VectorOps.assignCellsJoinIdx(e, cents)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hier1 = graft.vector.VectorOps.assignCellsHierIdx(e, cents, 4, 1)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // where the s=1 prune agrees with flat it IS flat; where it doesn't,
    // widening the probe to every supercell must recover flat exactly
    val agree = vs.count { case (id, _) => hier1(id) == flat(id) }
    assert(agree > 0 && vs.forall { case (id, _) =>
      hier1(id) == flat(id) ||
        graft.vector.VectorOps.assignCellsHierIdx(
          e.filter(col("vec_id") === id), cents, 4, 4)
          .select("cell").head().getInt(0) == flat(id)
    })
  }

  test("assignCellsAuto keeps small grids on the flat exact path and switches to the prune past the threshold") {
    val vs = (0 until 40).map { i =>
      (i.toLong, (0 until 4).map(j => ((i * 13 + j * 7) % 19 - 9) / 3.0d))
    }
    val e = vs.toDF("vec_id", "v")
    val small: Seq[Seq[Double]] = (0 until 8).map { c =>
      (0 until 4).map(j => ((c * 5 + j * 3) % 17 - 8) / 2.0d)
    }
    val wantFlat = graft.vector.VectorOps
      .assignCellsJoinIdx(e, small.zipWithIndex.map { case (cv, c) => (c, cv) })
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotSmall = graft.vector.VectorOps.assignCellsAuto(e, small)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotSmall === wantFlat)
    // a grid past HierAssignMinCells rides the prune: same output shape,
    // and every assigned cell is a valid grid id
    val big: Seq[Seq[Double]] = (0 until 300).map { c =>
      (0 until 4).map(j => ((c * 5 + j * 3) % 257 - 128) / 32.0d)
    }
    val gotBig = graft.vector.VectorOps.assignCellsAuto(e, big)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotBig.size === vs.size)
    assert(gotBig.values.forall(c => c >= 0 && c < 300))
  }

  test("opqJacobi kills a planted cross-dim correlation and leaves a diagonal matrix fixed") {
    // planted: dims 0/1 perfectly correlated (rank-1 block), rest diagonal
    val d = 4
    val c0 = Array(
      Array(2.0, 1.5, 0.0, 0.0),
      Array(1.5, 2.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.5))
    val (rm, diag) = graft.vector.VectorOps.opqJacobi(c0, 8)
    // off-diag mass must collapse: the (0,1) correlation of 1.5 dies
    // (the discrete π/8-granular table reaches the optimal 45° here)
    // and the energy concentrates (3.5 + 0.5 split)
    assert(math.abs(diag.max - 3.5) < 0.01 && math.abs(diag.min - 0.5) < 0.01,
      s"expected eigen-ish energies {3.5, 0.5, 1.0}; got ${diag.toSeq}")
    // R stays orthogonal to the micro-requantization drift
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(r => rm(r)(i) * rm(r)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4, s"R column dot ($i,$j) = $dot")
    }
    // a diagonal matrix is a FIXPOINT: the identity angle wins every
    // step, so R stays the identity exactly
    val (rmId, _) = graft.vector.VectorOps.opqJacobi(
      Array(Array(3.0, 0.0), Array(0.0, 1.0)), 5)
    assert(rmId(0)(0) === 1.0 && rmId(1)(1) === 1.0 &&
      rmId(0)(1) === 0.0 && rmId(1)(0) === 0.0)
  }

  test("the learned rotation beats the balanced permutation on this store: distortion AND retrieval (q302/q303)") {
    val rot = graft.vector.VectorOps.opqRotate(spark, dir)
      .agg(sum("balanced_err_micro"), sum("rotated_err_micro")).head()
    assert(rot.getLong(1) < rot.getLong(0),
      s"rotated distortion ${rot.getLong(1)} must undercut the " +
        s"permutation's ${rot.getLong(0)} (q296 is the free member; " +
        "the trained rotation must justify its training cost)")
    val gain = graft.vector.VectorOps.opqRetrievalGain(spark, dir)
      .agg(sum("n_overlap_perm"), sum("n_overlap_rot")).head()
    assert(gain.getLong(1) >= gain.getLong(0),
      s"rotation retrieval overlap ${gain.getLong(1)} must be >= the " +
        s"permutation's ${gain.getLong(0)}")
  }

  test("byte tokenizer: an UNSEEN word containing a trained merge segments below its byte count (the char-fallback's overcount is provably absent)") {
    // frozen merge: bytes (116, 104) = "th" -> one symbol
    val mergeSeq = Seq(("116", "104", "116-104"))
    val rows = Seq("thorn", "xyzzy").toDF("word")
      .select(col("word"),
        size(split(trim(graft.text.Curation.byteSegApplied(col("word"), mergeSeq)),
          "  ")).as("n_syms"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // "thorn" was never in any vocabulary — the in-row application
    // still merges its "th": 4 symbols, not the 5 a char-count
    // fallback would report
    assert(rows("thorn") === 4)
    assert(rows("xyzzy") === 5) // no trained pair -> pure byte count
  }

  test("byte-BPE fertility never exceeds the raw byte fertility, and merged names are dash-joined byte values (q304/q305)") {
    val fert = graft.text.Curation.byteBpeFertility(spark, dir).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getAs[Long]("bpe_fertility_micro") <=
        r.getAs[Long]("base_fertility_micro"),
        s"merges can only shrink segmentations: ${r}")
    }
    val merges = graft.text.Curation.byteBpeTrain(spark, dir).collect()
    assert(merges.nonEmpty)
    merges.foreach { m =>
      val (a, b, ab) = (m.getAs[String]("pair_a"), m.getAs[String]("pair_b"),
        m.getAs[String]("merged"))
      assert(ab === a + "-" + b)
      // every atomic name inside a symbol is a decimal ASCII byte value
      ab.split("-").foreach { tok =>
        val v = tok.toInt
        assert(v >= 0 && v <= 127, s"non-ASCII byte name $tok in $ab")
      }
    }
  }

  test("bench gates: cold-budget flags past warm/2, host-window flags past the recorded thresholds") {
    import graft.Bench
    // cold budget (ATTRIBUTABLE cold — the sum of per-query cold_extra
    // above the 1 s noise floor): > half the warm total flags
    assert(!Bench.coldFlagged(50.0, 160.0))
    assert(Bench.coldFlagged(81.0, 160.0))
    assert(!Bench.coldFlagged(80.0, 160.0))
    assert(!Bench.coldFlagged(10.0, 0.0)) // no warm measurements -> no flag
    // host window: both measured values must sit under the gates;
    // unmeasurable (-1) values never flag (the /proc read failed, not
    // the host)
    assert(Bench.windowOk(5.5, 0.001))
    assert(!Bench.windowOk(8.3, 0.001)) // the r15 artifact's window
    assert(!Bench.windowOk(5.5, 0.12))
    assert(Bench.windowOk(-1.0, -1.0))
  }

  test("supercellsOf: duplicate grid rows tie to the lower cell id and the Lloyd step is the exact micro-mean") {
    // 4 grid rows, 2 supers: rows 0/1 seed; rows 2/3 duplicate row 0, so
    // they join super 0 and its refined centroid is the micro-mean of
    // rows {0, 2, 3}; super 1 keeps row 1 alone
    val grid: Seq[(Int, Seq[Double])] = Seq(
      0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0),
      2 -> Seq(1.0, 0.0), 3 -> Seq(1.0, 0.0))
    val (supers, members) = graft.vector.VectorOps.supercellsOf(grid, 2)
    assert(supers(0) === Seq(1.0, 0.0)) // mean of three identical rows
    assert(supers(1) === Seq(0.0, 1.0))
    assert(members(0).map(_._1).sorted === Seq(0, 2, 3))
    assert(members(1).map(_._1) === Seq(1))
  }

  test("OPQ gate transform: sub-major layout matches the allocation, and the rotation is an isometry up to the documented micro drift (q306)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val (idx, _) = graft.vector.VectorOps.frozenOpqIvfIndex(spark, dir)
    val m = idx.alloc.size
    val d = idx.rm.length
    assert(m === 16 && d === 64)
    // every subspace gets exactly d/m rotated dims, each dim exactly once
    assert(idx.alloc.values.forall(_.length == d / m))
    assert(idx.alloc.values.flatten.toSeq.sorted === (0 until d))
    // sub-major layout: slice b of the transformed vector IS
    // [y_j for j in alloc(b)] — the property that lets every PQ
    // primitive (pqSubVecs/pqCodesCol/pqReconCol) apply unchanged
    val row = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 7L)
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
    val t = row.select(graft.vector.VectorOps
        .opqTransformCol(col("v"), idx.rm, idx.alloc).as("t"))
      .head().getSeq[Double](0)
    val v = row.head().getSeq[Double](0)
    def yOf(j: Int): Double = {
      var acc = 0.0d; var i = 0
      while (i < d) { acc += v(i) * idx.rm(i)(j); i += 1 }; acc
    }
    (0 until m).foreach { b =>
      val slice = t.slice(b * (d / m), (b + 1) * (d / m))
      assert(slice === idx.alloc(b).map(yOf),
        s"sub $b is not the allocation's rotated dims")
    }
    // near-isometry: R drifts from exact orthogonality by <= steps·1e-6
    // per entry (the q302 doc), so ||t||² stays within a loose
    // drift-scaled band of ||v||² — a rotation/transform bug (wrong
    // index order, row-col transposition with a non-orthogonal result)
    // lands far outside
    val n2v = v.map(x => x * x).sum
    val n2t = t.map(x => x * x).sum
    assert(math.abs(n2t - n2v) <= 0.01 * math.max(n2v, 1.0),
      s"transform broke the norm: ||v||²=$n2v vs ||t||²=$n2t")
  }

  test("unigram tokenizer: normalized Viterbi picks the high-prob piece, chars survive pruning, fertility bounded by chars (q307/q308)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // hand-worked lattice: p(ab)=0.35 beats p(a)·p(b)=0.09 — and it
    // would LOSE under raw micro products (0.35·10⁶ < 0.09·10¹²), the
    // normalization bug class this pins dead
    val probs = Map("a" -> 300000L, "b" -> 300000L, "ab" -> 350000L)
    val seg = Seq(("abab", 1L)).toDF("word", "freq")
      .withColumn("dp", graft.text.Curation.uniDpCol(col("word"), probs))
      .withColumn("pieces",
        graft.text.Curation.uniPiecesCol(col("word"), col("dp")))
      .select("pieces").head().getSeq[String](0)
    assert(seg === Seq("ab", "ab"))
    // trained artifacts on the real corpus: surviving multi-char pieces
    // all won occurrences in the last E-step; EVERY corpus character
    // survives (the coverage guarantee that makes segmentation total)
    val (vocab, _) = graft.text.Curation.unigramArtifacts(spark, dir)
    assert(vocab.nonEmpty)
    assert(vocab.filter(_._2 == 0).forall(_._3 >= 1L),
      "a zero-count multi-char piece survived pruning")
    val corpusChars = graft.Tables.documents(spark, dir)
      .select(explode(expr(s"${graft.text.TextOps.TokensExpr}")).as("word"))
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vocab.filter(_._2 == 1).map(_._1).toSet === corpusChars)
    // per-source fertility: pieces can never exceed chars (every
    // segmentation has at most len pieces), and on this corpus the
    // multi-char pieces must actually buy compression somewhere
    val f = graft.text.Curation.unigramFertility(spark, dir).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.getAs[Long]("pieces_total") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Long]("uni_fertility_micro")
        <= r.getAs[Long]("base_fertility_micro"))
    }
    assert(f.exists(r =>
      r.getAs[Long]("pieces_total") < r.getAs[Long]("chars_total")))
  }

  test("k-means|| init: cost is monotone nonincreasing over rounds (adding centers is a theorem), stage shapes well-formed (q309)") {
    val byStage = graft.vector.VectorOps
      .kmeansParInit(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rounds = (0 to graft.vector.VectorOps.KppRounds)
      .map(i => byStage(s"round_$i"))
    assert(rounds.head._1 === 1L, "round_0 must hold exactly the one seed")
    // n_centers nondecreasing; φ NONINCREASING — min-distance to a
    // superset of centers can never grow (micro-rounding preserves the
    // per-point ≤, so the integer sums inherit it)
    rounds.sliding(2).foreach { case Seq((n1, p1), (n2, p2)) =>
      assert(n2 >= n1, "candidate count shrank across a round")
      assert(p2 <= p1, s"cost grew across a round: $p1 -> $p2")
    }
    val (nFinal, _) = byStage("final_k")
    assert(nFinal === math.min(graft.vector.VectorOps.KppK.toLong,
      rounds.last._1))
    val (nSeed, _) = byStage("seed_k")
    assert(nSeed === graft.vector.VectorOps.KppK.toLong)
  }

  test("truncated-dim retrieval: cascade recall dominates the prefilter it reranks (subset theorem), overlaps bounded by k (q310)") {
    val k = graft.vector.VectorOps.AdcGainK.toLong
    val rows = graft.vector.VectorOps
      .prefixDimRetrieval(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Long]("n_overlap_topvar")
      val ca = r.getAs[Long]("n_overlap_cascade")
      val pf = r.getAs[Long]("n_overlap_prefix")
      Seq(tv, ca, pf).foreach(x => assert(x >= 0L && x <= k))
      // the top-k under the top-variance metric is a PREFIX of the 4k
      // shortlist under the same metric, and the cascade's exact rerank
      // returns every exact-top-k member the shortlist contains — so
      // cascade overlap can never fall below the prefilter's
      assert(ca >= tv,
        s"cascade ($ca) lost to the prefilter it reranks ($tv)")
    }
  }
}
