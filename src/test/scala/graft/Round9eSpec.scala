package graft

import org.apache.spark.sql.functions._
import graft.ops.{Changelog, Maintenance}

/** Round-9e: partition checksums (q192) and SCD2 compaction (q193).
  * The checksum's load-bearing property is ORDER- and PARTITIONING-
  * insensitivity (a replica validates regardless of its physical
  * layout) plus single-row sensitivity (a corrupted row flips its
  * partition's fingerprint). Compaction's is losslessness: the merged
  * intervals carry exactly the original history's state timeline. */
class Round9eSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("partition checksums are layout-invariant and single-row sensitive") {
    val base = Maintenance.partitionChecksums(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(base.nonEmpty)
    // a replica with a different physical layout must fingerprint equal:
    // recompute over a shuffled, re-partitioned copy of the table
    val shuffled = Tables.orders(spark, dir)
      .repartition(7, col("o_custkey"))
      .sortWithinPartitions("o_totalprice")
    shuffled.createOrReplaceTempView("orders_shuffled")
    val P = 1000000007L
    val term = (
      (col("o_orderkey") % P) * 1000003L % P +
        (col("o_custkey") % P) * 9176L % P +
        floor(col("o_totalprice") * 100d + 0.5d).cast("long") % P +
        ascii(col("o_orderstatus"))) % P
    val replica = shuffled
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), (sum(term) % P).as("c"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(replica === base)
    // flipping ONE row's status must change exactly that month's checksum
    val victim = Tables.orders(spark, dir).orderBy("o_orderkey").limit(1)
      .collect().head
    val vKey = victim.getLong(0)
    val corrupted = Tables.orders(spark, dir)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") === vKey, lit("X")).otherwise(col("o_orderstatus")))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), (sum(term) % P).as("c"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val changed = base.keySet.filter(m => base(m) != corrupted(m))
    assert(changed.size === 1, s"exactly one month must change, got $changed")
  }

  test("trailingRevenue RANGE frame equals brute force and same-day peers share frames") {
    import graft.ops.Olap
    val got = Olap.trailingRevenue(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.nonEmpty)
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byCust = rows.groupBy(_._2)
    got.foreach { case (okey, cust, day, rev, n) =>
      val frame = byCust(cust).filter(o => o._3 <= day && o._3 > day - 30)
      assert(n === frame.length, s"order $okey frame count")
      val exact = frame.map(o => BigDecimal(o._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(math.abs(rev - exact) < 1e-6, s"order $okey trailing revenue")
    }
    // RANGE semantics: same-(customer, day) peers must report identical
    // frame aggregates — a ROWS frame would split them order-dependently
    val peers = got.groupBy(t => (t._2, t._3)).filter(_._2.length > 1)
    assert(peers.forall { case (_, g) =>
      g.map(t => (t._4, t._5)).distinct.length == 1
    })
  }

  test("MMR re-rank: rank 1 is pure relevance, near-identical runner-up is demoted") {
    import spark.implicits._
    import graft.vector.VectorOps
    // query id 0; candidates 1..4: ids 1 and 2 nearly identical and most
    // relevant; id 3 orthogonal-ish but relevant; id 4 filler
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),            // query
      (1L, Seq(10.0, 1.0, 0.0, 0.0)),           // top relevance
      (2L, Seq(10.0, 1.0, 0.1, 0.0)),           // near-dup of 1
      (3L, Seq(5.0, 0.0, 9.0, 0.0)),            // diverse, decent rel
      (4L, Seq(1.0, 0.0, 0.0, 9.0))             // diverse, low rel
    ).toDF("vec_id", "v")
    val out = VectorOps.mmrRerankCore(e, nQueries = 1L, nCand = 4, k = 3,
        lambda = 0.5).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) === 1L, "rank 1 must be the pure-relevance argmax")
    assert(out(2L) === 3L,
      "the near-duplicate of rank 1 must be demoted below the diverse candidate")
    assert(out(3L) === 4L,
      "even the low-relevance diverse candidate outranks the near-duplicate")
  }

  test("weightedMedian equals a single-threaded weighted replay") {
    import graft.ops.Percentiles
    val got = Percentiles.weightedMedian(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got.nonEmpty)
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val tot = g.map(_._3).sum
      val sorted = g.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val med = sorted.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      assert(got(flag) === ((med, tot)), s"flag $flag")
    }
  }

  test("kAnonymity reports exactly the under-k quasi-identifier groups") {
    import graft.ops.Quality
    val got = Quality.kAnonymity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val all = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = all.filter(_._2 < 8L)
    assert(got === expect)
    assert(got.values.forall(_ < 8L))
  }

  test("benfordAudit: digits partition the orders, ppm columns reconcile, constants correct") {
    import graft.ops.Quality
    val rows = Quality.benfordAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq.sorted === (1L to 9L))
    assert(rows.map(_._2).sum === Tables.orders(spark, dir).count())
    // the hardcoded table must BE log10(1+1/d) in micro units
    Quality.BenfordPpm.foreach { case (d, ppm) =>
      val exact = math.floor(1e6 * math.log10(1.0 + 1.0 / d) + 0.5).toLong
      assert(ppm === exact, s"digit $d constant")
    }
    rows.foreach { case (_, _, obs, exp, dev) =>
      assert(dev === math.abs(obs - exp))
    }
  }

  test("fdDiscovery verdicts match a direct distinct-count replay") {
    import graft.ops.Quality
    val got = Quality.fdDiscovery(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.size === 6)
    // keys must hold; known non-functions must not
    assert(got(("nation", "n_nationkey", "n_regionkey"))._3 === 1L)
    assert(got(("customer", "c_custkey", "c_nationkey"))._3 === 1L)
    assert(got(("part", "p_partkey", "p_brand"))._3 === 1L)
    assert(got(("lineitem", "l_orderkey", "l_suppkey"))._3 === 0L)
    // replay one failing candidate exactly
    val pairs = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("string"), col("c_mktsegment"))
      .collect().map(r => (r.getString(0), r.getString(1))).distinct
    val violating = pairs.groupBy(_._1).count(_._2.length > 1).toLong
    val (nLhs, nViol, holds) = got(("customer", "c_nationkey", "c_mktsegment"))
    assert(nLhs === pairs.map(_._1).distinct.length.toLong)
    assert(nViol === violating && holds === (if (violating == 0) 1L else 0L))
  }

  test("trainingManifest funnel: stage boundaries hold end-to-end") {
    import graft.text.Curation
    val manifest = Curation.trainingManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(manifest.nonEmpty)
    // no duplicate docs in the manifest, all shards in range
    assert(manifest.map(_._1).distinct.length === manifest.length)
    assert(manifest.forall(t => t._3 >= 0 && t._3 < 8))
    // the kept (post-dedup, post-quality) frame this funnel cut from
    val docs = Tables.documents(spark, dir)
    val keepIds = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val kept = docs.join(keepIds, "doc_id")
      .select(col("doc_id"), expr("graft_text_stats(text)").as("st"),
        expr("cast(size(graft_token_counts(text)) as bigint)").as("nd"))
      .select(col("doc_id"), col("st.n_tokens").as("n"), col("st.stop_ct").as("sc"), col("nd"))
      .filter(col("n") >= 20 && col("sc") > 0 && col("nd") * 100 >= col("n") * 35)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // manifest docs all survived dedup+quality, with their exact counts
    manifest.foreach { case (id, n, _) =>
      assert(kept.contains(id) && kept(id) === n)
    }
    // the budget cut is tight: kept mass <= 30% of surviving mass, and
    // adding the largest excluded survivor would overflow
    val budget = math.floor(kept.values.map(_.toDouble).sum * 0.30).toLong
    val used = manifest.map(_._2).sum
    assert(used <= budget)
    val excluded = kept.keySet -- manifest.map(_._1).toSet
    if (excluded.nonEmpty)
      assert(used + excluded.map(kept).max > budget,
        "a larger selection would have fit — the cut is not tight")
  }

  test("scd2Compact is lossless: adjacent runs differ, intervals chain, as-of agrees") {
    val compacted = Changelog.scd2Compact(spark, dir).collect()
    assert(compacted.nonEmpty)
    val byUser = compacted.groupBy(_.getLong(0))
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(4) !== b.getString(4),
            s"user $u: adjacent compacted runs must differ in state")
          assert(a.getLong(3) === b.getLong(2),
            s"user $u: a run's valid_to must chain to the next run's valid_from")
        case _ => ()
      }
      // exactly the last run is open
      assert(sorted.init.forall(!_.isNullAt(3)) && sorted.last.isNullAt(3))
    }
    // no history lost: collapsed counts account for every raw version
    val totalCollapsed = compacted.map(_.getLong(5)).sum
    assert(totalCollapsed === Tables.events(spark, dir).count())
    // and the as-of answer (state at T) is unchanged by compaction
    val cutUs = java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime * 1000L
    val fromCompacted = compacted
      .filter(r => r.getLong(2) <= cutUs && (r.isNullAt(3) || r.getLong(3) > cutUs))
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val fromRaw = Changelog.asOfSnapshot(spark, dir, cutoff = "2024-01-15")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fromCompacted === fromRaw)
  }
}
