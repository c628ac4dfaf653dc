package graft

import org.apache.spark.sql.functions._

/** Round-8 additions: SemDeDup (q151) and temperature mixture weights
  * (q152) — each pinned against an independent single-threaded replay,
  * plus the invariants that make them trustworthy pipeline stages. */
class Round8Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def sdot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0d; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  test("semDedup matches a single-threaded replay of assign + pair rule") {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = (0 until 8).map(c => c -> vecs(c.toLong))
    // assignment: argmin of (d, cell) — lexicographic, ties to lower cell
    val cellOfVec: Map[Long, Int] = vecs.map { case (id, v) =>
      id -> cents.map { case (c, cv) =>
        (sdot(v, v) - 2.0d * sdot(v, cv) + sdot(cv, cv), c)
      }.min._2
    }
    // parallel drop rule: b dies if any lower-id a in its cluster >= 0.3
    val ids = vecs.keys.toSeq.sorted
    val expected = (for {
      b <- ids
      wits = ids.filter(a => a < b && cellOfVec(a) == cellOfVec(b))
        .map { a =>
          val (va, vb) = (vecs(a), vecs(b))
          a -> sdot(va, vb) / (math.sqrt(sdot(va, va)) * math.sqrt(sdot(vb, vb)))
        }
        .filter(_._2 >= 0.3)
      if wits.nonEmpty
    } yield b -> (cellOfVec(b).toLong, wits.map(_._1).min, wits.map(_._2).max)).toMap
    val out = graft.vector.VectorOps.semDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (id, (cell, dupOf, maxCos)) =>
      assert(out(id)._1 === cell, s"cell of $id")
      assert(out(id)._2 === dupOf, s"dup_of of $id")
      assert(out(id)._3 === maxCos, s"max_cos of $id (bit-exact)")
    }
    // dropped set is non-trivial and never contains a vector's own witness
    assert(expected.nonEmpty)
    expected.foreach { case (id, (_, dupOf, _)) => assert(dupOf < id) }
  }

  test("semDedup within-cluster join shuffles on cell, never all-pairs") {
    val df = graft.vector.VectorOps.semDedup(spark, dir)
    val analyzed = df.queryExecution.analyzed
    // the pair generator must be an equi-join on cell (within-cluster),
    // not a cross join: collect join nodes and check keys
    val joins = analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val hasCellEquiJoin = joins.exists(_.condition.exists(c =>
      c.references.exists(_.name == "cell")))
    assert(hasCellEquiJoin, "expected the pair join keyed on cell")
  }

  test("annRecallEval: recall bounded, and probing EVERY cell recovers recall 1.0") {
    val partial = graft.vector.VectorOps.annRecallEval(spark, dir).collect()
    assert(partial.length === 5)
    partial.foreach { r =>
      val (n, micro) = (r.getLong(1), r.getLong(2))
      assert(n >= 0L && n <= 10L)
      assert(micro === math.floor(1e6 * n / 10 + 0.5).toLong)
    }
    // an exhaustive probe makes IVF = exact by construction: the eval
    // harness must report exactly 1.0 for every query, or the candidate
    // plumbing (assignment, probe join, ranking) is dropping rows
    val full = graft.vector.VectorOps
      .annRecallEval(spark, dir, nProbe = 16).collect()
    full.foreach { r =>
      assert(r.getLong(1) === 10L, s"query ${r.getLong(0)} lost candidates")
      assert(r.getLong(2) === 1000000L)
    }
  }

  test("incrementalDedupBloom: identical output to the anti-join path, " +
    "no false negatives, and the bloom actually prunes") {
    val plain = graft.dedup.DedupOps.incrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    val bloomed = graft.dedup.DedupOps.incrementalDedupBloom(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(plain === bloomed)
    // drive the registered function surface directly: bloom over the
    // corpus fingerprints, membership-test the fresh batch
    val docs = Tables.documents(spark, dir)
    val corpusFp = docs.filter(col("doc_id") < 250)
      .select(md5(col("text")).as("fp")).distinct()
    val bloom = corpusFp
      .agg(expr("graft_bloom_agg(xxhash64(fp), 500L, 5000L)"))
      .head.getAs[Array[Byte]](0)
    val freshFp = docs.filter(col("doc_id") >= 250)
      .select(md5(col("text")).as("fp"))
    val might = call_function("graft_bloom_might_contain",
      lit(bloom), expr("xxhash64(fp)"))
    val nFresh = freshFp.count()
    val nPositive = freshFp.filter(might).count()
    val nTrueDup = freshFp.join(corpusFp, "fp").count()
    // soundness: a bloom NEVER false-negatives, so every true dup must
    // test positive — or the pre-filter would silently admit duplicates
    assert(nPositive >= nTrueDup)
    // usefulness: at 10 bits/item the fpp is ~1%; the pre-filter must
    // reject the bulk of the novel docs (that is its entire point)
    assert(nPositive <= nTrueDup + math.max(5L, nFresh / 10),
      s"bloom passed $nPositive of $nFresh fresh docs but only $nTrueDup are dups")
  }

  test("winnowing: the w+k-1 guarantee holds and density is ~2/(w+1)") {
    import spark.implicits._
    // k=3, w=4 → any shared run of >= 6 tokens must share a fingerprint
    val sharedRun = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $sharedRun four five six"),
      (2L, s"seven eight nine ten $sharedRun eleven twelve"),
      (3L, "completely different words with no overlap at all here")
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.winnowingCore(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3).split(",").filter(_.nonEmpty).toSet)
      .toMap
    assert((out(1L) & out(2L)).nonEmpty,
      "docs sharing a 6-token run must share a winnowed fingerprint")
    assert((out(1L) & out(3L)).isEmpty && (out(2L) & out(3L)).isEmpty,
      "no shared k-grams -> no shared fingerprints")
    // density on the real corpus: winnowing stores ~2/(w+1) of the
    // k-gram hashes (upper-bounded by the window count); allow slack
    // for dedup of repeated selections
    val real = graft.text.TextOps.winnowingFingerprints(spark, dir).collect()
    assert(real.length > 0)
    real.filter(_.getLong(1) >= 50).foreach { r =>
      val (n, fp) = (r.getLong(1), r.getLong(2))
      assert(fp <= n - 3, s"doc ${r.getLong(0)}: more fingerprints than windows")
      assert(fp >= n / 10, s"doc ${r.getLong(0)}: implausibly sparse selection")
      assert(fp <= (2 * n) / 3, s"doc ${r.getLong(0)}: selection barely compresses")
    }
  }

  test("winnowingPairs matches a driver-side replay over q155's fingerprints") {
    val fps: Map[Long, Set[String]] = graft.text.TextOps
      .winnowingFingerprints(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3).split(",").filter(_.nonEmpty).toSet)
      .toMap
    val df = fps.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.map(_._2) }
    val cold = df.filter(_._2.size <= 100)
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    cold.values.foreach { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        counts((sorted(i), sorted(j))) = counts.getOrElse((sorted(i), sorted(j)), 0L) + 1L
    }
    val expected = counts.filter(_._2 >= 2L).toMap
    val out = graft.text.TextOps.winnowingPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("hardNegatives: label inequality holds and ranking replays exactly") {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
    val queries = vecs.filter(_._1 < 10)
    val corpus = vecs.filter(_._1 >= 10)
    val expected = queries.flatMap { case (qid, ql, qv) =>
      corpus.filter(_._2 != ql)
        .map { case (id, l, v) =>
          (qid, id, l, sdot(v, qv) / (math.sqrt(sdot(v, v)) * math.sqrt(sdot(qv, qv))))
        }
        .sortBy { case (_, id, _, cos) => (-cos, id) }
        .take(3).zipWithIndex
        .map { case ((_, id, l, cos), i) => (qid, i + 1L, id, l, cos) }
    }.toSet
    val out = graft.vector.VectorOps.hardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSet
    assert(out === expected)
    // every mined negative must carry a label different from its anchor
    val anchorLabel = queries.map(q => q._1 -> q._2).toMap
    out.foreach { case (qid, _, _, l, _) => assert(l != anchorLabel(qid)) }
  }

  test("joinKeySkew replays exactly from a driver-side group-size recompute") {
    val out = graft.ops.Quality.joinKeySkew(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    def replay(df: org.apache.spark.sql.DataFrame, key: String): (Long, Long, Long, Long, Long, Long) = {
      val sizes = df.select(col(key).cast("long")).collect().map(_.getLong(0))
        .groupBy(identity).map(_._2.length.toLong).toSeq.sorted
      val (nKeys, nRows, vmax) = (sizes.length.toLong, sizes.sum, sizes.max)
      val pos = 0.99d * (nKeys - 1).toDouble
      val (lo, hi) = (sizes(pos.toInt).toDouble, sizes(math.ceil(pos).toInt).toDouble)
      val p99 = if (math.floor(pos) == pos) lo else lo + (pos - math.floor(pos)) * (hi - lo)
      (nKeys, nRows,
        math.floor(1e6 * nRows / nKeys + 0.5).toLong,
        math.floor(p99 * 1e6 + 0.5).toLong,
        vmax,
        math.floor(1e6 * vmax / nRows + 0.5).toLong)
    }
    assert(out(("lineitem", "l_orderkey")) === replay(Tables.lineitem(spark, dir), "l_orderkey"))
    assert(out(("events", "user_id")) === replay(Tables.events(spark, dir), "user_id"))
    assert(out.size === 4)
  }

  test("leakageSafeSplit: no near-dup pair straddles the split, clusters stay whole") {
    val split = graft.dedup.DedupOps.leakageSafeSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    val byDoc = split.toMap
    // every cluster lands entirely on one side
    split.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.map(_._2._2).distinct.length === 1, s"cluster $cid split across sides")
    }
    // the property the operator exists for: NO near-dup pair straddles
    val pairs = graft.dedup.DedupOps.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a)._2 === byDoc(b)._2, s"near-dup pair ($a,$b) straddles the split")
    }
    // both sides are populated and the md5 rule replays exactly
    val sides = split.map(_._2._2).distinct.sorted
    assert(sides === Array("eval", "train"))
    def md5Hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    split.foreach { case (_, (cid, s)) =>
      val expected = if (md5Hex8(cid.toString) < "33333333") "eval" else "train"
      assert(s === expected)
    }
  }

  test("rollingUvSketch aligns day-for-day with the exact twin inside the 3-sigma envelope") {
    val exact = graft.ops.Dau.rollingUv7(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = graft.ops.Dau.rollingUvSketch(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet, "sketch path must cover the same rolling days")
    est.foreach { case (day, e) =>
      val x = exact(day)
      assert(math.abs(e - x) <= 0.15 * x, s"$day: est=$e exact=$x beyond 3-sigma")
    }
  }

  test("mixtureWeights: exact replay, flattening property, and share sum") {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), expr(
        "size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))")
        .cast("long").as("n"))
      .collect().groupBy(_.getString(0))
      .map { case (s, rows) => s -> rows.map(_.getLong(1)).sum }
    val sqrtMicro = perSource.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble) * 1e6 + 0.5).toLong }
    val totSqrt = sqrtMicro.values.sum
    val totTokens = perSource.values.sum
    val out = graft.text.TextOps.mixtureWeights(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === perSource.keySet)
    out.foreach { case (s, (tokens, natMicro, wMicro)) =>
      assert(tokens === perSource(s), s"token count of $s")
      assert(natMicro ===
        math.floor(1e6 * perSource(s) / totTokens + 0.5).toLong, s"nat share of $s")
      assert(wMicro ===
        math.floor(1e6 * sqrtMicro(s) / totSqrt + 0.5).toLong, s"temp share of $s")
    }
    // both share columns are ~1e6 up to per-source half-ulp rounding
    val nSources = out.size
    assert(math.abs(out.values.map(_._2).sum - 1000000L) <= nSources)
    assert(math.abs(out.values.map(_._3).sum - 1000000L) <= nSources)
    // α=0.5 FLATTENS the distribution: every below-average source gains
    // weight vs its natural share, every above-average source loses
    val meanTokens = totTokens.toDouble / nSources
    out.foreach { case (s, (tokens, natMicro, wMicro)) =>
      if (tokens < meanTokens * 0.9) assert(wMicro > natMicro, s"$s should gain")
      if (tokens > meanTokens * 1.1) assert(wMicro < natMicro, s"$s should lose")
    }
  }
}
