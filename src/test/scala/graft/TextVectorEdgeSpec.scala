package graft

import org.apache.spark.sql.functions._

/** Edge-case pins for the text/vector operators whose oracle checks run
  * on well-behaved data: argmax tie-breaks, chunk boundaries, the
  * zero-vector quantization guard, decimal-sum exactness. */
class TextVectorEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("chunking produces exact window starts, lengths, and a short tail") {
    // 7 tokens, chunkLen 3, stride 2 → starts 0,2,4,6; lengths 3,3,3,1
    val tokens = Seq("t0 t1 t2 t3 t4 t5 t6").toDF("text")
      .withColumn("tokens", expr("split(text, ' ')"))
      .select(expr(
        """transform(sequence(0, (size(tokens) - 1) div 2),
          |  i -> struct(i as idx,
          |              array_join(slice(tokens, i * 2 + 1, 3), ' ') as txt,
          |              size(slice(tokens, i * 2 + 1, 3)) as n))""".stripMargin).as("cs"))
      .select(explode(col("cs")).as("c")).select("c.*").collect()
    assert(tokens.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq === Seq(
      (0L, "t0 t1 t2", 3), (1L, "t2 t3 t4", 3), (2L, "t4 t5 t6", 3), (3L, "t6", 1)))
  }

  test("ngram counts handle null, empty, and sub-n texts") {
    val rows = Seq(Some("one"), Some(""), Some("   "), None)
      .toDF("text")
      .select(expr("graft_ngram_counts(text, 2)").as("g")).collect()
    assert(rows(0).getSeq[Any](0).isEmpty) // 1 token < n
    assert(rows(1).getSeq[Any](0).isEmpty)
    assert(rows(2).getSeq[Any](0).isEmpty)
    assert(rows(3).isNullAt(0)) // null in, null out
  }

  test("cms estimate is null-safe and rejects unsupported item types") {
    val sk = spark.sql(
      "SELECT count_min_sketch(x, 0.001d, 0.99d, 42) AS sk FROM VALUES ('a'),('a'),('b') t(x)")
    val est = sk.select(
      expr("graft_cms_estimate(sk, 'a')"),
      expr("graft_cms_estimate(sk, 'zzz')"),
      expr("graft_cms_estimate(sk, cast(null as string))")).collect().head
    assert(est.getLong(0) === 2L)
    assert(est.getLong(1) === 0L) // unseen item: no undercount means >= 0, tiny sketch → exact 0
    assert(est.isNullAt(2))
    intercept[Exception] {
      sk.select(expr("graft_cms_estimate(sk, 3.14d)")).collect()
    }
  }

  test("zero vector quantizes to all-zero instead of erroring") {
    val out = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0d"))
      .withColumn("qv", expr(
        "CASE WHEN scale = 0.0d THEN transform(v, x -> 0L) " +
          "ELSE transform(v, x -> cast(floor(x / scale + 0.5d) as long)) END"))
      .select(expr("aggregate(qv, 0L, (a, x) -> a + x)")).collect().head.getLong(0)
    assert(out === 0L)
  }

  test("decimal-routed sums are order-independent where naive double sums are not") {
    // values chosen so naive double accumulation differs by order
    val vals = Seq(1e15, 3.14, -1e15, 2.71, 1e-3)
    val fwd = vals.foldLeft(0.0)(_ + _)
    val rev = vals.reverse.foldLeft(0.0)(_ + _)
    assert(fwd !== rev) // the hazard is real for plain doubles
    val df = vals.toDF("x")
    val viaDecimal = (1 to 3).map { _ =>
      df.repartition(3).agg(
        sum(col("x").cast("decimal(28,10)")).cast("double")).collect().head.getDouble(0)
    }
    assert(viaDecimal.distinct.size === 1) // stable across shuffles
  }

  test("lang-id cascade picks lexicographically smallest language on exact ties") {
    // text with equal counts for the de and en marker sets
    val df = Seq((0L, "table the", "en")).toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lang").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.text.TextOps.langId(spark, tmp).select("pred_lang").collect()
    assert(out.head.getString(0) === "de") // de_ct == en_ct == 1 → lex-smallest
  }

  test("ImageIoCodec handles 1x1 images in both formats") {
    import graft.multimodal.ImageIoCodec
    val p = ImageIoCodec.decode(ImageIoCodec.encodePng(1, 1, (_, _) => (7, 200, 133)))
    assert((p.width, p.height, p.r(0, 0), p.g(0, 0), p.b(0, 0)) === ((1, 1, 7, 200, 133)))
    val j = ImageIoCodec.decode(ImageIoCodec.encodeJpeg(1, 1, (_, _) => (128, 128, 128)))
    assert((j.width, j.height) === ((1, 1)))
    // flat gray survives JPEG almost exactly
    assert(math.abs(j.r(0, 0) - 128) <= 4)
  }

  test("ANN gate candidate frame is empty for an empty fresh batch and for out-of-reach sizes") {
    import graft.vector.VectorOps
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpusAssigned = Seq((0, 100L, Seq(1.0, 0.0)))
      .toDF("cell", "corpus_id", "cv")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(VectorOps.annGateCandidates(empty, cents, corpusAssigned, 1)
      .count() === 0L)
    // a fresh vector probing the OTHER cell produces no candidates
    val other = Seq((5L, Seq(0.0, 9.0))).toDF("vec_id", "v")
    assert(VectorOps.annGateCandidates(other, cents, corpusAssigned, 1)
      .count() === 0L)
  }
}
