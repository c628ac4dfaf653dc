package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.ops.Warehouse
import graft.text.Curation

/** Round-9b additions: the four adapted TPC-H shapes (Q2 argmin-in-
  * aggregate, Q11 group-vs-global scalar, Q19 disjunctive factoring,
  * Q20 nested semi-join) and the corpus-selection operators (hash-
  * weighted sampling, dedup dashboard, banded token-budget cut). Each
  * test pins the SEMANTIC claim the operator's scale story rests on —
  * the factored predicate equals the unfactored one, the banded budget
  * cut equals the global-window formulation, the struct-argmin equals
  * the window-rank plan it replaced. */
class Round9bSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(allNodes) ++ (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case _ => Seq.empty
    }))

  test("minCostSupplier struct-argmin equals the window-rank formulation") {
    val fast = Warehouse.minCostSupplier(spark, dir)
    // reference formulation: explicit window rank over the same frame
    val part = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO" && col("p_size") <= 15)
      .select("p_partkey", "p_name", "p_brand")
    val slow = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .join(part.select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("unit_price")).as("supp_unit"))
      .withColumn("rk", row_number().over(Window.partitionBy("l_partkey")
        .orderBy(col("supp_unit").asc, col("l_suppkey").asc)))
      .filter(col("rk") === 1)
      .select(col("l_partkey"), col("supp_unit").as("min_unit_price"),
        col("l_suppkey").as("best_suppkey"))
    val fastRows = fast.select("p_partkey", "s_name", "min_unit_price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val slowRows = slow
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("best_suppkey") === col("s_suppkey"))
      .select("p_partkey", "s_name", "min_unit_price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(fastRows.nonEmpty && fastRows === slowRows)
  }

  test("importantParts: every survivor beats the mean-relative bar; none missed") {
    val out = Warehouse.importantParts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty)
    val all = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tot = all.values.sum
    val n = all.size
    val expect = all.filter { case (_, v) => v * n * 100 > tot * 110 }
    assert(out.keySet === expect.keySet)
  }

  test("disjunctiveRevenue: part-side factoring preserves the unfactored result") {
    val factored = Warehouse.disjunctiveRevenue(spark, dir)
      .collect().head.getDouble(0)
    // unfactored: join against ALL parts, same row-coupled disjunction
    val c1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val c2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val c3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    val unfactored = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .filter(c1 || c2 || c3)
      .agg(coalesce(sum(col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double"), lit(0.0)))
      .collect().head.getDouble(0)
    assert(factored === unfactored)
  }

  test("bulkPartSuppliers: semi-join survivors are exactly the above-threshold pairs' suppliers") {
    val out = Warehouse.bulkPartSuppliers(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val pairs = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .join(Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val tot = pairs.map(_._2).sum
    val n = pairs.length
    val expect = pairs.filter { case (_, q) => q * n > 2L * tot }.map(_._1).toSet
    assert(out.nonEmpty && out === expect)
  }

  test("weightedSample: deterministic, monotone in the weight, certain above the cap") {
    val kept = Curation.weightedSample(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val again = Curation.weightedSample(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept === again, "hash-keyed sampling must be reproducible")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("u32"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    docs.foreach { case (id, nChars, u32) =>
      val accept = u32 * 400L < math.min(nChars, 400L) * 4294967296L
      assert(kept.contains(id) === accept,
        s"doc $id: nChars=$nChars u32=$u32 expected accept=$accept")
      if (nChars >= 400L) assert(kept.contains(id), s"doc $id at full weight must be kept")
    }
    assert(kept.nonEmpty && kept.size < docs.length,
      "sample must be a strict non-empty subset at sf0.001")
  }

  test("dedupRateBySource: identities hold and totals reconcile") {
    val rows = graft.dedup.DedupOps.dedupRateBySource(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nDistinct, nDups, micro) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nDups === nDocs - nDistinct && nDups >= 0L)
      assert(micro === math.floor(1e6 * nDups / nDocs + 0.5).toLong)
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables.documents(spark, dir).count())
  }

  test("tokenBudgetSelect banded plan equals the global-window oracle formulation") {
    val banded = Curation.tokenBudgetSelect(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .cast("long").as("n_tokens"))
    val budget = toks.agg(floor(sum(col("n_tokens")) * lit(0.30)).cast("long"))
      .collect().head.getLong(0)
    val naive = toks
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("n_tokens").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= budget)
      .collect().map(_.getLong(0)).toSet
    assert(banded.nonEmpty && banded === naive)
    // and the kept token mass actually fits the budget while the next
    // doc would overflow it (the cut is tight, not just valid)
    val keptTokens = toks.filter(col("doc_id").isInCollection(banded))
      .agg(sum("n_tokens")).collect().head.getLong(0)
    assert(keptTokens <= budget)
  }

  test("sourceOverlap set-based plan equals the naive gram self-join") {
    val fast = graft.dedup.DedupOps.sourceOverlap(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val grams = Tables.documents(spark, dir)
      .select(col("source"), explode(expr("graft_ngram_counts(text, 5)")).as("g"))
      .select(col("source"), col("g.gram").as("gram")).distinct()
    val naive = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fast.nonEmpty && fast === naive)
  }

  test("lshScurveEval: identical pairs always found, totals reconcile, envelope holds") {
    val rows = graft.dedup.DedupOps.lshScurveEval(spark, dir).collect()
    assert(rows.nonEmpty)
    // jaccard = 1.0 pairs (frac = 1.0 → variant ≡ text) share EVERY
    // band — the LSH guarantee at the top of the S-curve is exact
    val top = rows.filter(_.getAs[Long]("jac_band") == 20L)
    assert(top.nonEmpty)
    top.foreach(r =>
      assert(r.getAs[Long]("n_found") === r.getAs[Long]("n_pairs"),
        "an identical pair must always be an LSH candidate"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_pairs"))
      // the same envelope SketchBounds gates on at verify SF
      val nPairs = r.getAs[Long]("n_pairs").toDouble
      val dev = math.abs(r.getAs[Long]("n_found").toDouble -
        r.getAs[Long]("expected_micro").toDouble / 1e6)
      val slack = 3.0 * r.getAs[Long]("sd_micro").toDouble / 1e6 + 2.0 + 0.005 * nPairs
      assert(dev <= slack,
        s"band ${r.getAs[Long]("jac_band")}: deviation $dev exceeds $slack")
    }
    // every (doc, frac) combo with >= 3 tokens in its prefix contributes
    // exactly one pair — no pair silently dropped by the in-row pipeline
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val expectTotal = Tables.documents(spark, dir)
      .select(explode(expr("array(0.25D, 0.4D, 0.55D, 0.7D, 0.85D, 1.0D)")).as("frac"),
        size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .cast("double").as("n"))
      .filter(ceil(col("n") * col("frac")) >= 3 && col("n") >= 3)
      .count()
    assert(total === expectTotal)
  }

  test("pricingSummary plan: date filter pushed to parquet, scan pruned to the 7 used columns") {
    val df = graft.ops.Warehouse.pricingSummary(spark, dir)
    val scans = allNodes(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size === 1, "Q1 is a single-scan aggregate")
    val scan = scans.head
    assert(scan.metadata.get("PushedFilters").exists(_.contains("l_shipdate")),
      s"date filter must reach the parquet scan, got ${scan.metadata.get("PushedFilters")}")
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_shipdate"),
      s"scan must read exactly the used columns, got $readCols")
  }

  test("tokenBudgetSelect plan: per-doc window is partitioned by band, never global") {
    val df = Curation.tokenBudgetSelect(spark, dir)
    val windows = allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val docLevel = w.output.exists(_.name == "doc_id")
      if (docLevel)
        assert(w.partitionSpec.nonEmpty,
          "the doc-level running sum must be partitioned by band — a global " +
            "per-doc window is the exact single-partition bottleneck the " +
            "banded rewrite exists to avoid")
      else
        assert(w.child.output.exists(_.name == "band_tokens") ||
          w.output.exists(_.name == "cum_before"),
          "the only unpartitioned window allowed is the per-BAND cumulative " +
            "sum over the bounded band-aggregate frame")
    }
  }
}
