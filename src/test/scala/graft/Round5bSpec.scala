package graft

import org.apache.spark.sql.functions._

/** Round-5 batch 2: the perplexity-band filter over the corpus bigram LM
  * (q141) and the cross-doc boilerplate shingle detectors (q142/q143).
  * All three are oracle hash-verified end-to-end at sf0.01; these cases
  * pin the banding and df arithmetic on hand-computed inputs. */
class Round5bSpec extends SparkSpec {
  import spark.implicits._

  test("perplexity bands classify against the per-source p10/p90 lerp") {
    // one source, scores 0..10 (11 docs): pos10 = 0.1·10 = 1 → p10 = 1.0
    // exactly; pos90 = 9 → p90 = 9.0. low = {0}, high = {10}, mid = rest.
    val s = (0 to 10).map(i => (i.toLong, "s1", 2L, i.toLong * 1L, 0L))
      .toDF("doc_id", "source", "n_bigrams", "avg_p_micro", "rare_micro")
    val got = graft.text.Curation.perplexityBandsCore(s)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(("s1", "high", 1L), ("s1", "low", 1L), ("s1", "mid", 9L)))
  }

  test("perplexity band boundaries are inclusive: p10 and p90 scores are mid") {
    // 2 docs, scores 100 and 200: pos10 = 0.1 → p10 = 100 + 0.1·100 = 110,
    // pos90 = 0.9 → p90 = 190. Both docs land OUTSIDE [110,190] → low/high;
    // a third doc at 150 is mid. Checks the strict < / > comparisons.
    val s = Seq((1L, "s", 5L, 100L, 0L), (2L, "s", 5L, 200L, 0L),
      (3L, "s", 5L, 150L, 0L))
      .toDF("doc_id", "source", "n_bigrams", "avg_p_micro", "rare_micro")
    val got = graft.text.Curation.perplexityBandsCore(s)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(("high", 1L), ("low", 1L), ("mid", 1L)))
  }

  test("boilerplate df counts DISTINCT docs and the micro ratio is exact") {
    // gram "x y z a b" in docs 1,2,3 (df=3 → boilerplate at minDf=3);
    // "q r s t u" in docs 1,2 (df=2 → not); "k l m n o" only doc 4.
    val grams = Seq(
      (1L, "web", "x y z a b", 2L), (2L, "web", "x y z a b", 1L),
      (3L, "forum", "x y z a b", 4L),
      (1L, "web", "q r s t u", 1L), (2L, "web", "q r s t u", 1L),
      (4L, "forum", "k l m n o", 5L)).toDF("doc_id", "source", "gram", "ct")
    val got = graft.text.Curation.boilerplateCore(grams, minDf = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // forum: occ 4+5=9, bp 4, micro = floor(1e6·4/9+.5) = 444444, 1 doc
    // web:   occ 2+1+1+1=5, bp 3, micro = 600000, docs {1,2}
    assert(got === Seq(
      ("forum", 9L, 4L, 444444L, 1L),
      ("web", 5L, 3L, 600000L, 2L)))
  }

  test("q144 semi-join equals the literal correlated EXISTS") {
    val sf = "/root/testdata/sf0.01"
    Tables.orders(spark, sf).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("v_lineitem")
    val got = graft.ops.Warehouse.orderPriorityLate(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exp = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM v_orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM v_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === exp)
  }

  test("q150 one-pass aggregate equals the literal EXISTS / NOT EXISTS pair") {
    val sf = "/root/testdata/sf0.01"
    Tables.orders(spark, sf).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("v_lineitem")
    Tables.supplier(spark, sf).createOrReplaceTempView("v_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("v_nation")
    val got = graft.ops.Warehouse.soleLateSupplier(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exp = spark.sql(
      """SELECT s_name, COUNT(*) AS numwait FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM v_lineitem l1 JOIN v_orders o ON l1.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
        |    AND EXISTS (SELECT 1 FROM v_lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |) JOIN v_supplier ON l_suppkey = s_suppkey
        |JOIN v_nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("q147 distribution accounts for every customer incl. the zero bucket") {
    val sf = "/root/testdata/sf0.01"
    val got = graft.ops.Warehouse.custOrderDistribution(spark, sf).collect()
    val total = got.map(_.getLong(1)).sum
    assert(total === Tables.customer(spark, sf).count())
    // zero-order customers exist (URGENT-only or orderless) → a 0 bucket
    assert(got.exists(r => r.getLong(0) === 0L))
  }

  test("q148 disjuncts are brand-disjoint: total equals the sum of bands") {
    val sf = "/root/testdata/sf0.01"
    val whole = graft.ops.Warehouse.brandBandRevenue(spark, sf).collect()(0)
    import org.apache.spark.sql.functions.{col, broadcast}
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val prt = Tables.part(spark, sf).select("p_partkey", "p_brand", "p_size")
    def band(brand: String, szHi: Int, qLo: Int, qHi: Int): (java.math.BigDecimal, Long) = {
      val rows = li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") === brand && col("p_size").between(1, szHi)
          && col("l_quantity").between(qLo, qHi))
        .select(expr("sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2))))"),
          expr("count(1)")).collect()(0)
      (Option(rows.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO), rows.getLong(1))
    }
    val parts = Seq(band("Brand#12", 5, 1, 11), band("Brand#23", 10, 10, 20),
      band("Brand#3", 15, 20, 36))
    assert(whole.getLong(1) === parts.map(_._2).sum)
    assert(math.abs(whole.getDouble(0) -
      parts.map(_._1.doubleValue).sum) < 1e-6)
  }

  test("q149 excludes negative-balance suppliers from the distinct count") {
    val sf = "/root/testdata/sf0.01"
    val got = graft.ops.Warehouse.partSupplierBreadth(spark, sf).collect()
    assert(got.nonEmpty)
    val bad = Tables.supplier(spark, sf).filter(col("s_acctbal") < 0)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val (b0, t0, s0) = (got(0).getString(0), got(0).getString(1), got(0).getInt(2))
    val n = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
      .join(Tables.part(spark, sf).select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === b0 && col("p_type") === t0 && col("p_size") === s0)
      .select("l_suppkey").collect().map(_.getLong(0)).toSet
      .diff(bad).size
    assert(n.toLong === got(0).getLong(3))
  }

  test("top boilerplate order is total: df desc, occ desc, gram asc") {
    val sf = "/root/testdata/sf0.001"
    val top = graft.text.Curation.topBoilerplate(spark, sf, minDf = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.nonEmpty)
    // the returned prefix must be sorted by the same total order
    val key = top.map { case (g, df, occ) => (-df, -occ, g) }
    assert(key.toSeq === key.sortBy(identity).toSeq)
    // df is a distinct-doc count: recompute for the top gram independently
    val (g0, df0, _) = top.head
    val n = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr("graft_ngram_counts(text, 5)")).as("g"))
      .filter(col("g.gram") === g0)
      .select("doc_id").distinct().count()
    assert(n === df0)
  }
}
