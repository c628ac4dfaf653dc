package graft
import org.apache.spark.sql.functions._
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val mode = args.headOption.getOrElse("index")
    if (mode == "index" || mode == "all")
      for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
        for (tier <- Seq("full", "pq", "sq8", "opq")) {
          val path = s"/tmp/driftprobe/${new java.io.File(dir).getName}/$tier"
          graft.streaming.TrainingPipeline.trainAndPublishIndex(spark, dir, path, tier)
          // the "undrifted" delta: the fresh half of the SAME store
          val delta = graft.vector.VectorOps.vecs(spark, dir)
            .filter(col("vec_id") >= graft.vector.VectorOps.GateSplitAt)
          val d = graft.streaming.TrainingPipeline.publishedIndexDriftMicro(spark, path, delta)
          println(s"[drift-probe] $dir $tier undrifted-delta max drift_micro = $d")
        }
      }
    // tokenizer band (judge r17 task 1): per family, fertility drift of
    // an UNDRIFTED same-distribution delta (the corpus's fresh half)
    // and of the planted drifted delta (letter-doubled text) against
    // the published train-time baseline — the two sides the
    // maintainTokenizer budget must separate.
    if (mode == "tokenizer" || mode == "all")
      for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
        val docs = Tables.documents(spark, dir)
          .repartition(spark.sparkContext.defaultParallelism)
          .select("doc_id", "source", "text")
        val fresh = docs.filter(col("doc_id") >= graft.text.Curation.DriftSplitAt)
        val doubled = fresh.withColumn("text",
          regexp_replace(lower(col("text")), "([a-z])", "$1$1"))
        for (fam <- Seq("char-bpe", "byte-bpe", "unigram")) {
          val path = s"/tmp/driftprobe/${new java.io.File(dir).getName}/tok-$fam"
          graft.streaming.TrainingPipeline.trainAndPublishTokenizer(spark, dir, path, fam)
          val base = graft.streaming.Sinks.loadTokenizerBaseline(spark, path).get
          val baseOov = graft.streaming.Sinks
            .loadTokenizerOovBaseline(spark, path).get
          val (_, _, fFresh, oFresh) = graft.streaming.TrainingPipeline
            .tokenizerDriftStats(fresh, path)
          val (_, _, fDoubled, oDoubled) = graft.streaming.TrainingPipeline
            .tokenizerDriftStats(doubled, path)
          println(s"[drift-probe] $dir $fam baseline=$base oov_baseline=$baseOov " +
            s"fresh_drift=${math.abs(fFresh - base)} " +
            s"doubled_drift=${math.abs(fDoubled - base)} " +
            s"fresh_oov_drift=${math.abs(oFresh - baseOov)} " +
            s"doubled_oov_drift=${math.abs(oDoubled - baseOov)}")
          // the planted OOV-only drift (judge r18 task 3): char-BPE
          // only — every token becomes an unseen '~'-run of exactly its
          // trained symbol count, so the fertility leg must measure the
          // FRESH drift while the OOV leg measures a full breach
          if (fam == "char-bpe") {
            val vocabDf = graft.streaming.Sinks.loadTokenizer(spark, path)
              .asInstanceOf[graft.streaming.Sinks.CharBpeArtifact]
              .vocab.toDF("word", "n_syms")
            val unseen = fresh
              .select(col("doc_id"), col("source"),
                explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
              .join(broadcast(vocabDf), Seq("word"), "left_outer")
              .select(col("doc_id"), col("source"),
                expr("repeat('~', cast(coalesce(n_syms, length(word)) as int))")
                  .as("text"))
            val (_, _, fU, oU) = graft.streaming.TrainingPipeline
              .tokenizerDriftStats(unseen, path)
            println(s"[drift-probe] $dir $fam planted_unseen " +
              s"fert_drift=${math.abs(fU - base)} (== fresh_drift by " +
              s"construction) oov_drift=${math.abs(oU - baseOov)}")
          }
        }
      }
    spark.stop()
  }
}
