package graft

import org.apache.spark.sql.functions._

/** Round-5 additions: the corpus bigram-LM fluency score, token-budget
  * source mixing, the Simpson char-diversity expression, and the
  * TPC-H Q8/Q14/Q10-shaped warehouse classics (q129–q134). The oracle
  * hash-verifies all six end-to-end at sf0.01; these cases pin the
  * arithmetic on hand-computed inputs and the invariants the oracle
  * can't express. */
class Round5Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("graft_char_diversity counts code points, not UTF-16 units") {
    val rows = Seq(Some("aab"), Some("𝄞𝄞a"), Some(""), None)
      .toDF("text")
      .select(expr("graft_char_diversity(text)").as("cd"))
      .select("cd.n_cp", "cd.distinct_cp", "cd.coll_num").collect()
    // "aab": n=3, distinct=2, coll = 2·1 + 0 = 2
    assert((rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2)) === ((3L, 2L, 2L)))
    // "𝄞𝄞a" is 5 UTF-16 units but 3 code points; a UTF-16 split would
    // report n=5 and count each surrogate half as its own "character"
    assert((rows(1).getLong(0), rows(1).getLong(1), rows(1).getLong(2)) === ((3L, 2L, 2L)))
    assert((rows(2).getLong(0), rows(2).getLong(1), rows(2).getLong(2)) === ((0L, 0L, 0L)))
    assert(rows(3).isNullAt(0))
  }

  test("bigram LM smoothing arithmetic matches the hand-computed corpus") {
    // corpus: doc1 = "a b a b", doc2 = "a b c"
    //   C2: "a b"=3, "b a"=1, "b c"=1;  C1: a·=3, b·=2;  V=3
    //   p(a b) = 4e6/6 → 666667;  p(b a) = p(b c) = 2e6/5 → 400000
    val db = Seq(
      (1L, "a b", 2L), (1L, "b a", 1L),
      (2L, "a b", 1L), (2L, "b c", 1L)).toDF("doc_id", "gram", "ct")
    val got = graft.text.TextOps.bigramLmCore(db, vocab = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      // doc1: n=3, avg = floor((2·666667 + 400000)/3 + .5) = 577778,
      //        rare = floor(1e6·1/3 + .5) = 333333  ("b a" is a hapax)
      (1L, 3L, 577778L, 333333L),
      // doc2: n=2, avg = floor(1066667/2 + .5) = 533334, rare = 500000
      (2L, 2L, 533334L, 500000L)))
  }

  test("source mixing reproduces the md5-threshold selection exactly") {
    val out = graft.text.TextOps.sourceMixing(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // recompute the whole pipeline driver-side with independent code
    val bySrc = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val budget = math.floor(bySrc.values.sum.toDouble / bySrc.size * 0.5).toLong
    def hex8(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    out.foreach { r =>
      val (src, micro, nKept, charsKept) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val f = math.min(1.0, budget.toDouble / bySrc(src))
      assert(micro === math.floor(f * 1e6 + 0.5).toLong)
      val thresh = if (f >= 1.0) "g" else f"${math.floor(f * 4294967296.0).toLong}%08x"
      val kept = docs.filter(d => d._2 == src && hex8(d._1) < thresh)
      assert(nKept === kept.length.toLong, s"docs_kept for $src")
      assert(charsKept === kept.map(_._3).sum, s"chars_kept for $src")
    }
    assert(out.map(_.getString(0)).toSeq === out.map(_.getString(0)).toSeq.sorted)
  }

  test("market share and promo share are true ratios of their own sums") {
    val ms = graft.ops.Warehouse.marketShare(spark, sf).collect()
    assert(ms.nonEmpty)
    ms.foreach { r =>
      val (total, focal, share) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(focal >= 0.0 && focal <= total)
      assert(share === focal / total)
    }
    val ps = graft.ops.Warehouse.promoShare(spark, sf).collect()
    assert(ps.nonEmpty)
    ps.foreach { r =>
      val (total, promo, pct) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(promo >= 0.0 && promo <= total)
      assert(pct === 100.0 * promo / total)
    }
  }

  test("returned-revenue top-k is ordered and every hit has flag R rows") {
    val df = graft.ops.Warehouse.returnedRevenue(spark, sf, k = 5)
    val rows = df.collect()
    assert(rows.length <= 5)
    val revs = rows.map(_.getDouble(3)).toSeq
    assert(revs === revs.sorted(Ordering[Double].reverse))
    // plan shape: dims broadcast, fact side never broadcast
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("filter cascade applies rules in priority order, first failure wins") {
    // short AND stopword-free AND repetitive → too_short (priority 1);
    // long + stopword-free → no_stopwords; long + stopwords but only 2
    // distinct terms in 30 → low_diversity; a normal doc → kept
    val mk = (s: String, n: Int) => Seq.fill(n)(s).mkString(" ")
    val docs = Seq(
      ("s", "x y"),                                      // too_short
      ("s", mk("zq", 30)),                               // no_stopwords
      ("s", "the " + mk("zq", 29)),                      // low_diversity (2/30)
      ("s", "the quick brown fox is a friend of " +
        (1 to 20).map(i => s"w$i").mkString(" "))        // kept
    ).toDF("source", "text")
    val got = graft.text.Curation.filterCascadeCore(docs)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got === Map(
      "too_short" -> 1L, "no_stopwords" -> 1L, "low_diversity" -> 1L, "kept" -> 1L))
  }

  test("length bands keep exactly the docs inside the per-lang lerp band") {
    val out = graft.text.Curation.lengthBandFilter(spark, sf).collect()
    assert(out.nonEmpty)
    // recompute per-lang from the raw token counts, driver-side
    val toks = Tables.documents(spark, sf)
      .select(col("lang"), expr("graft_text_stats(text).n_tokens").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out.foreach { r =>
      val (lang, p05, p95, kept, dropped, tokKept) =
        (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getLong(5))
      val ns = toks.filter(_._1 == lang).map(_._2).sorted
      def lerp(p: Double): Double = {
        val pos = p * (ns.length - 1)
        val lo = math.floor(pos).toInt
        if (pos == lo) ns(lo).toDouble
        else ns(lo) + (pos - lo) * (ns(math.ceil(pos).toInt) - ns(lo))
      }
      assert(p05 === lerp(0.05), s"p05 for $lang")
      assert(p95 === lerp(0.95), s"p95 for $lang")
      val inBand = ns.filter(n => n >= p05 && n <= p95)
      assert(kept === inBand.length.toLong)
      assert(dropped === (ns.length - inBand.length).toLong)
      assert(tokKept === inBand.sum)
    }
  }

  test("large-volume orders: top-k is a bounded heap, threshold holds") {
    val df = graft.ops.Warehouse.largeVolumeOrders(spark, sf, minQty = 100, k = 5)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(5) > 100))
    // orderBy+limit must plan as TakeOrdered (per-partition heap),
    // never a global Sort feeding a Limit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("small-qty revenue threshold is integer cross-multiplied, never a ratio") {
    // recompute one brand driver-side from raw rows
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong,
        BigDecimal(r.getDouble(2)).setScale(2)))
    val perPart: Map[Long, (Long, Long)] = li.groupBy(_._1)
      .map { case (pk, xs) => pk -> (xs.map(_._2).sum, xs.length.toLong) }
    val brandOf = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = li
      .filter { case (pk, q, _) =>
        val (sq, cnt) = perPart(pk); 5L * q * cnt < sq }
      .groupBy { case (pk, _, _) => brandOf(pk) }
      .map { case (b, xs) =>
        // mirror the engines: exact decimal sum -> double, THEN /7.0
        (b, xs.map(_._3).sum.toDouble / 7.0, xs.length.toLong) }
    val got = graft.ops.Warehouse.smallQtyRevenue(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got.sortBy(_._1) === expected.toSeq.sortBy(_._1))
  }

  test("dormant-balance plan anti-joins the date-filtered slice") {
    val df = graft.ops.Warehouse.dormantHighBalance(spark, sf, cutoff = "1998-01-01")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "anti-join must survive planning")
    // the cutoff must reach the orders parquet scan, not filter post-join
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      "orderdate cutoff must push to the scan")
  }

  test("top-supplier keeps decimal-exact ties that top-1 would drop") {
    val perSupp = Seq(
      (1L, BigDecimal("100.10")), (2L, BigDecimal("100.10")),
      (3L, BigDecimal("99.99")))
      .toDF("l_suppkey", "rev_dec")
    val supp = Seq((1L, "s1"), (2L, "s2"), (3L, "s3")).toDF("s_suppkey", "s_name")
    val got = graft.ops.Warehouse.topSupplierCore(perSupp, supp)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 100.10), (2L, 100.10)))
  }

  test("market-share plan broadcasts every dimension") {
    val plan = graft.ops.Warehouse.marketShare(spark, sf)
      .queryExecution.executedPlan.toString
    // part, customer-side, supplier-side joins all broadcast; the only
    // sort-merge-eligible join is fact⋈orders (two fact-scale sides)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }
}
