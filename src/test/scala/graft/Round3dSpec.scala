package graft

import org.apache.spark.sql.functions._

/** Unit tests for the fifth round-3 operator batch: trigram path mining,
  * KMV sketch set algebra, inter-arrival magnitude histogram, and daily
  * session stats. Claims recomputed independently on collected sf0.001
  * rows. */
class Round3dSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def orderedByUser(): Map[Long, Seq[org.apache.spark.sql.Row]] =
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(r => (r.getLong(1), r.getLong(2))).toSeq).toMap

  test("pathTrigrams: counts match a sequence replay and the cut is the true top-20") {
    val out = ops.Publisher.pathTrigrams(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
    val all = orderedByUser().values.flatMap { rows =>
      rows.map(_.getString(3)).sliding(3).filter(_.size == 3)
        .map(s => (s(0), s(1), s(2)))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    out.foreach { case (path, n) => assert(all(path) === n) }
    // the cut keeps exactly the lexicographically-tie-broken top 20
    val expected = all.toSeq.sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
    assert(out.sortBy { case ((a, b, c), n) => (-n, a, b, c) } === expected)
  }

  test("kmvOverlap: estimates bound by KMV error vs the in-row exact twins") {
    val out = ops.Sketches.kmvOverlap(spark, dir).collect()
    assert(out.nonEmpty)
    val baskets = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val tol = 3.0 * 1.96 / math.sqrt(ops.Sketches.K) // 3x the standard KMV rel-err
    out.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      assert(ta < tb)
      val (ea, eb) = (baskets(ta).size.toDouble, baskets(tb).size.toDouble)
      val union = (baskets(ta) ++ baskets(tb)).size.toDouble
      val inter = (baskets(ta) & baskets(tb)).size.toDouble
      assert(r.getAs[Long]("exact_inter").toDouble === inter)
      assert(math.abs(r.getAs[Double]("est_a") - ea) <= tol * ea, s"est_a($ta)")
      assert(math.abs(r.getAs[Double]("est_b") - eb) <= tol * eb, s"est_b($tb)")
      assert(math.abs(r.getAs[Double]("est_union") - union) <= tol * union)
      // intersection inherits 3 estimates' error — bound vs the union size
      assert(math.abs(r.getAs[Double]("est_inter") - inter) <= 3 * tol * union)
    }
  }

  test("kmvOverlap: a group under K distinct users is estimated exactly") {
    import spark.implicits._
    // 10 users of type 'a' (well under K), 300 of type 'b', 5 shared
    val rows = ((1L to 10L).map(u => (u, "a")) ++ (6L to 305L).map(u => (u, "b")))
      .map { case (u, t) => (u * 7L, new java.sql.Timestamp(1700000000000L + u), t, u) }
      .toDF("event_id", "ts", "event_type", "user_id")
    val out = ops.Sketches.kmvOverlapCore(rows).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Double]("est_a") === 10.0, "sub-K sketch must be exact")
    assert(r.getAs[Long]("exact_inter") === 5L)
  }

  test("interarrivalHistogram: buckets match an exact digit-count recompute") {
    val out = ops.Olap.interarrivalHistogram(spark, dir).collect()
    assert(out.nonEmpty)
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id")).collect()
      .groupBy(r => (r.getLong(0), r.getString(1))).values.flatMap { rows =>
        val t = rows.sortBy(r => (r.getLong(2), r.getLong(3))).map(_.getLong(2))
        t.sliding(2).filter(_.size == 2).map(p =>
          (rows.head.getString(1), math.floorDiv(p(1) - p(0), 1000000L)))
      }.toSeq
    val expected = gaps.groupBy { case (t, g) =>
      (t, if (g <= 0) 0L else g.toString.length.toLong)
    }.map { case (k, v) => k -> (v.size.toLong, v.map(_._2).max) }
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSet === expected.keySet)
    out.foreach { r =>
      val (n, mx) = expected((r.getString(0), r.getLong(1)))
      assert(r.getLong(2) === n)
      assert(r.getLong(3) === mx)
    }
  }

  test("sessionStats: daily rollup matches a brute-force sessionization") {
    val out = ops.Sessions.sessionStats(spark, dir).collect()
    assert(out.nonEmpty)
    val gapUs = 30L * 60 * 1000000
    val sessions = orderedByUser().values.flatMap { rows =>
      val times = rows.map(_.getLong(1))
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = times.head; var last = times.head; var n = 1L
      times.tail.foreach { t =>
        if (t - last >= gapUs) { bounds += ((start, last - start, n)); start = t; n = 0L }
        last = t; n += 1
      }
      bounds += ((start, last - start, n))
      bounds
    }.toSeq
    def lerp(xs: Seq[Long], p: Double): Double = {
      val s = xs.sorted.map(_.toDouble)
      val pos = p * (s.length - 1)
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val byDay = sessions.groupBy(s =>
      fmt.format(java.time.Instant.ofEpochSecond(s._1 / 1000000L)))
    assert(out.map(_.getString(0)).toSet === byDay.keySet)
    out.foreach { r =>
      val ss = byDay(r.getString(0))
      assert(r.getLong(1) === ss.size.toLong)
      assert(r.getAs[Long]("total_events") === ss.map(_._3).sum)
      assert(math.abs(r.getAs[Double]("p50_dur_us") - lerp(ss.map(_._2), 0.5)) < 1e-6)
      assert(math.abs(r.getAs[Double]("p90_dur_us") - lerp(ss.map(_._2), 0.9)) < 1e-6)
      assert(r.getAs[Double]("mean_events") ===
        ss.map(_._3).sum.toDouble / ss.size)
    }
  }
}
