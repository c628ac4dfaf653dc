package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: the khop edge build's skew guard, the lazy
  * greedy's loud saturation contract, and the bulk-refresh driver-pull
  * bound (advisor r12 items). */
class Round13Spec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)], name: String): String = {
    import spark.implicits._
    val dir = s"/tmp/graft_r13_$name"
    rows.map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("khop edge build: ADAPTIVE salt — a planted hot order trips the guard with identical edge semantics, healthy baskets stay unsalted") {
    import spark.implicits._
    // one pathological basket (120 parts -> 120*119 directed pairs) plus
    // ordinary orders; past the threshold the build must produce EXACTLY
    // the naive self-join's edge set while keying the shuffle on
    // (okey, __salt)
    val hot = (1L to 120L).map(p => (1000L, p))
    val normal = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 5L))
    val li = (hot ++ normal).toDF("l_orderkey", "l_partkey")
    val salted = graft.ops.Graph.coPurchaseEdges(li, saltFactor = 8,
      hotBasketThreshold = 100L)
    val naive = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    assert(salted.count() === naive.count())
    assert(salted.except(naive).isEmpty && naive.except(salted).isEmpty,
      "salted edge set must equal the unsalted inner self-join's")
    // the physical join must actually be keyed on the salt so the hot
    // order's fan-out lands on saltFactor reduce tasks, not one
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"),
      "edge-build plan lost the salt key")
    // under the threshold the build must NOT pay the saltFactor x probe
    // replication (the 3x q272 inflation bench r13 caught)
    val unsalted = graft.ops.Graph.coPurchaseEdges(li, saltFactor = 8,
      hotBasketThreshold = 256L)
    assert(!unsalted.queryExecution.executedPlan.toString.contains("__salt"),
      "healthy-shaped data must take the unsalted plan")
    assert(unsalted.count() === naive.count())
  }

  test("lazy greedy fails LOUDLY at saturation (max fresh gain 0) instead of silently diverging from the exact tie-break") {
    // d2's bigrams are a subset of d1's: after picking d1 every
    // remaining gain is 0 — the exact greedy would re-pick over ALL
    // docs at gain 0 (a domain the queue cannot mirror), so the lazy
    // variant must refuse rather than return a diverging pick
    val dir = writeDocs(Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "beta gamma")),
      "saturate")
    val e = intercept[IllegalArgumentException] {
      graft.text.Curation.greedyCoverageLazy(spark, dir, k = 3).collect()
    }
    assert(e.getMessage.contains("out of contract"))
  }

  test("lazy greedy fails LOUDLY when k exceeds the corpus (queue exhaustion) instead of NoSuchElement") {
    // disjoint vocabularies: every pick has positive gain until the
    // corpus is exhausted, then the queue runs dry at iter 4
    val dir = writeDocs(Seq(
      (1L, "aa bb"), (2L, "cc dd"), (3L, "ee ff")), "exhaust")
    val e = intercept[IllegalArgumentException] {
      graft.text.Curation.greedyCoverageLazy(spark, dir, k = 4).collect()
    }
    assert(e.getMessage.contains("out of contract") ||
      e.getMessage.contains("exhausted"))
  }

  test("sparse-overlap corpus: the Minoux queue PRUNES (zero bulk rounds, evals << k*N) and still matches the exact greedy") {
    // q262's winning regime as an executable fact (judge r12): disjoint
    // per-doc token namespaces mean no pick changes any other doc's
    // gain, so stale bounds stay exact and the hunt resolves from the
    // first re-evaluation batch — the regime SCALE.md records at
    // 1x/10x (evals=304 constant vs k*N=40k/400k)
    val nDocs = 500L
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, 8 + cast(id % 89 as int)), " +
        "j -> concat('w', cast(id as string), '_', cast(j as string))), ' ')")
        .as("text"))
    val (lazyDf, st) = graft.text.Curation
      .greedyCoverageLazyCore(spark, docs, 10, 16, 64)
    val exact = graft.text.Curation.greedyCoverageCore(spark, docs, 10)
    assert(lazyDf.collect().map(_.toSeq).toSeq ===
      exact.collect().map(_.toSeq).toSeq)
    assert(st.bulkRounds === 0L, "sparse overlap must never bulk-refresh")
    assert(st.evals < nDocs,
      s"queue failed to prune: ${st.evals} evals on a $nDocs-doc corpus")
  }

  test("q282 PQ training: full codebook geometry, assignments partition the corpus per subspace, means re-derive from members") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.vector.VectorOps.pqTrain(spark, dir).collect()
    assert(out.length === 4 * 16 * 16, "m*c*subDim codebook rows")
    val nVecs = Tables.embeddings(spark, dir).count()
    // per subspace the assignment counts must partition the corpus
    (0L until 4L).foreach { s =>
      val perCell = out.filter(_.getLong(0) == s)
        .groupBy(_.getLong(1)).map(_._2.head.getLong(4))
      assert(perCell.sum === nVecs, s"sub $s: counts must sum to $nVecs")
    }
    // every centroid value finite, every micro-mean exactly sm/(n*1e6)
    // for SOME integer sm (the micro-requantization contract)
    out.filter(_.getLong(4) > 0).foreach { r =>
      val v = r.getDouble(3); val n = r.getLong(4)
      assert(!v.isNaN && !v.isInfinite)
      val sm = math.round(v * n * 1e6)
      assert(sm.toDouble / (n * 1e6) === v,
        s"centroid value $v is not an exact micro-mean over $n members")
    }
    // training must actually move the seeds: at least one populated
    // cell differs from its seed subvector
    val seeds = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 16)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val moved = out.exists { r =>
      r.getLong(4) > 0 && {
        val seed = seeds(r.getLong(1))(
          (r.getLong(0) * 16 + r.getLong(2) - 1).toInt)
        math.abs(r.getDouble(3) - seed) > 1e-9
      }
    }
    assert(moved, "4 Lloyd iterations left every centroid at its seed")
  }

  test("q283 train gain: Lloyd monotonicity holds — trained distortion <= seeded in every subspace, and strictly better somewhere") {
    val out = graft.vector.VectorOps
      .pqTrainGain(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"sub ${r.getLong(0)}: training worsened distortion " +
          s"(${r.getLong(1)} -> ${r.getLong(2)})")
      assert(r.getLong(3) === 1L)
    }
    assert(out.exists(r => r.getLong(2) < r.getLong(1)),
      "4 iterations must strictly improve at least one subspace")
  }

  test("q281 l-diversity: one stratum re-derived from raw rows; flag follows the threshold; multi-distinct plans as one Expand") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.ops.Quality.lDiversity(spark, dir)
    // the two COUNT(DISTINCT ...) must compile to a single Expand-based
    // aggregation (the q235 columnProfile shape), not two scans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      "expected one Expand-based multi-distinct pass")
    val out = df.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert((r.getLong(4) == 1L) === (r.getLong(3) >= 3L))
      assert(r.getLong(3) <= 5L, "TPC-H has 5 order priorities")
      assert(r.getLong(3) >= 1L && r.getLong(2) >= 1L)
    }
    // re-derive the first stratum by hand from the raw tables
    val first = out.head
    val (seg, nat) = (first.getString(0), first.getLong(1))
    val custs = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === seg &&
        col("c_nationkey").cast("long") === nat)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val ords = Tables.orders(spark, dir)
      .filter(col("o_custkey").isin(custs.toSeq: _*))
      .select("o_custkey", "o_orderpriority").collect()
    assert(first.getLong(2) === ords.map(_.getLong(0)).distinct.length.toLong)
    assert(first.getLong(3) === ords.map(_.getString(1)).distinct.length.toLong)
  }

  test("BPE merge loop: hand-worked sequence — weighted counts, pair tie-break, CANONICAL run merging, early stop") {
    import spark.implicits._
    // aaaa(x2): round-1 (a,a) count 3 occ x 2 = 6 wins; canonical
    // one-pass merging gives [aa, aa] (a single-space replace would
    // yield [aa, a, a] and derail round 3's (aa, aa) merge)
    val words = Seq(("aaaa", 2L), ("ab", 3L), ("ba", 1L)).toDF("word", "freq")
    val (ms, seg) = graft.text.Curation.bpeTrainCore(spark, words, merges = 6)
    assert(ms === Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "a", "b", "ab", 3L),
      (3L, "aa", "aa", "aaaa", 2L),
      (4L, "b", "a", "ba", 1L)),
      "merge table must follow the weighted argmax with canonical run merging")
    // early stop: every word collapsed to one symbol after 4 merges
    val segs = seg.collect().map(_.getString(0)).toSet
    assert(segs === Set("  aaaa  ", "  ab  ", "  ba  "))
  }

  test("BPE fertility: per-source table is internally consistent and improves on the char baseline (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.text.Curation.bpeFertility(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, chars, syms) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(syms <= chars, s"${r.getString(0)}: merging can only shrink")
      assert(syms >= n, s"${r.getString(0)}: every token has >= 1 symbol")
      assert(r.getLong(4) ===
        math.floor(1e6 * chars / n + 0.5).toLong)
      assert(r.getLong(5) ===
        math.floor(1e6 * syms / n + 0.5).toLong)
      assert(r.getLong(5) < r.getLong(4),
        s"${r.getString(0)}: 12 merges must reduce fertility on this corpus")
    }
  }

  test("bench varianceResolved: transient outliers clear, persistent divergence stays flagged") {
    import graft.Bench.{varianceFlagged, varianceResolved}
    // the diverging pair alone proves nothing — needs >= 3 warm passes
    assert(!varianceResolved(Vector(0.4, 1.8)))
    // one clean re-run is not enough (its most recent TWO must agree)
    assert(!varianceResolved(Vector(0.4, 1.8, 0.45)))
    // two consecutive clean re-runs resolve the flag
    assert(varianceResolved(Vector(0.4, 1.8, 0.45, 0.42)))
    assert(varianceFlagged(Vector(0.4, 1.8, 0.45, 0.42)),
      "divergence itself is still true — resolution is a separate fact")
    // still bouncing at the end -> stays flagged
    assert(!varianceResolved(Vector(0.4, 1.8, 0.45, 1.7)))
    assert(!varianceResolved(Vector(0.4, 1.8, 1.7, 0.45)))
    // absolute slack: sub-second times within +0.2s of best resolve even
    // when the ratio gate (1.5x of a tiny min) would be impossibly tight
    assert(varianceResolved(Vector(0.1, 0.9, 0.25, 0.28)))
    // empty / degenerate inputs never resolve
    assert(!varianceResolved(Vector.empty))
  }

  test("bench host sampling yields consistent counters for attribution") {
    // smoke the /proc parsers: two samples a moment apart must be
    // monotone in total/busy/self and carry a sane loadavg
    val m = graft.Bench.getClass.getDeclaredMethods
      .find(_.getName == "sampleHost").get
    m.setAccessible(true)
    val a = m.invoke(graft.Bench).asInstanceOf[graft.Bench.HostSample]
    val spin = (1 to 20000000).foldLeft(0L)(_ + _) // burn some self CPU
    val b = m.invoke(graft.Bench).asInstanceOf[graft.Bench.HostSample]
    assert(spin > 0)
    assert(a.total > 0 && b.total >= a.total)
    assert(b.busy >= a.busy && b.selfTicks >= a.selfTicks)
    assert(a.load1 >= 0.0 && a.procsRunning >= 1)
  }

  test("lazy greedy exact-round fallback: evals bounded by exact greedy's, 1-row pulls, job count near k") {
    // force the fallback cheaply: batch 1 + two escalations on an
    // overlapping corpus. Once bulkMode sticks, every round must be ONE
    // exact argmax job (advisor-r12 strengthened: the driver pulls one
    // row, never the member list), so jobs stay ~k and evals never
    // exceed the exact greedy's k * N
    val dirSmall = "/root/testdata/sf0.001"
    val (df, stats) = graft.text.Curation.greedyCoverageLazyWithStats(
      spark, dirSmall, k = 8, evalBatch = 1, loadChunk = 16)
    df.collect()
    val n = Tables.documents(spark, dirSmall).count()
    assert(stats.evals <= 8L * n,
      s"evals ${stats.evals} exceeds exact greedy's bound ${8 * n}")
    assert(stats.bulkRounds > 0, "this corpus must trip the fallback")
    assert(stats.jobs <= 8L * 3 + 10,
      s"fallback rounds must be one job each; got ${stats.jobs} jobs")
    // the fallback picks must STILL equal the exact greedy's
    val exact = graft.text.Curation
      .greedyCoverage(spark, dirSmall, k = 8).collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === exact)
    info(s"stats: ${stats.evals} evals / ${stats.jobs} jobs / " +
      s"${stats.bulkRounds} exact rounds / ${stats.loadedRows} frontier rows (corpus $n)")
  }
}
