package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end Structured Streaming run over the real testdata: file
  * streams → dau dedup / windowed alerts / stream-stream join → memory
  * sinks, processed with Trigger.AvailableNow. Usage:
  *   runMain graft.StreamDemo [sfDir]
  * Prints one summary line per pipeline; non-zero counts = the streaming
  * topology works end-to-end on real data (the MemoryStream tests pin
  * exact semantics on literal fixtures). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(8)

    // the file-stream source needs a DIRECTORY; stage each single-file
    // table into a temp dir (testdata is read-only)
    val stage = java.nio.file.Files.createTempDirectory("graft_stream").toString
    def staged(name: String): String = {
      val d = java.nio.file.Paths.get(stage, name)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$name.parquet"),
        d.resolve(s"$name.parquet"))
      d.toString
    }
    val eventsDir = staged("events")
    val ordersDir = staged("orders")
    val lineitemDir = staged("lineitem")

    // file-stream the events table (schema from the batch read; ts is
    // nanos-as-long on the wire, converted exactly like Tables.events)
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val rawStream = spark.readStream.schema(batchSchema)
      .parquet(eventsDir)
    val events = Tables.normalizeEventTs(rawStream)

    // all five reference jobs started CONCURRENTLY (the reference's
    // production topology runs five Spark Streaming apps side by side)
    def start(df: org.apache.spark.sql.DataFrame, name: String,
              mode: String = "append") =
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()

    val t0 = System.nanoTime()

    // 1. DauApp — streaming dedup
    val qDau = start(
      graft.streaming.Pipelines.dauDedup(events, watermark = "40 days"), "demo_dau")
    // 2. AlertApp — windowed veto/threshold alerts
    val qAlerts = start(
      graft.streaming.Pipelines.alerts(events,
        windowDur = "1 day", slide = "1 day", watermark = "1 day",
        minUids = 2), "demo_alerts")
    // 3. GmvApp — order ingest with date derivation into a keyed table
    val oSchema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    val gmvOut = s"$stage/gmv_table"
    val qGmv = spark.readStream.schema(oSchema).parquet(ordersDir)
      .withColumn("create_date", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stage/gmv_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.Sinks.upsertByKey(batch, gmvOut,
          Seq("o_orderkey"), "o_orderdate", "o_orderkey")
      }.start()
    // 4. SaleDetailApp — watermarked stream-stream join
    val orders = spark.readStream.schema(oSchema).parquet(ordersDir)
      .select(col("o_orderkey").as("o_order_id"), col("o_orderdate").cast("timestamp").as("o_ts"))
    val lSchema = spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    val details = spark.readStream.schema(lSchema).parquet(lineitemDir)
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("d_id"),
        col("l_orderkey").as("d_order_id"), col("o_orderdate").cast("timestamp").as("d_ts"))
    val qJoin = start(
      graft.streaming.Pipelines.saleDetailJoin(orders, details, watermark = "1 hour"),
      "demo_join")
    // 5. UserInfoApp — changelog → latest-wins dim table
    val dimOut = s"$stage/dim_table"
    val qDim = events.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stage/dim_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.Sinks.upsertByKey(batch, dimOut,
          Seq("user_id"), "ts", "event_id")
      }.start()

    // 6. Training-data ingest — quality gate → content dedup → NEAR-DUP
    //    admission against the frozen corpus prefix index → chunks,
    //    appended into a source-partitioned table (the LLM-corpus path).
    //    Docs below 250 play the already-ingested corpus (the q236
    //    split): their one-sided prefix postings + shingle arrays are
    //    the frozen index artifacts; the stream carries the fresh half.
    val docsDir = staged("documents")
    val dSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val chunksOut = s"$stage/chunks_table"
    val corpusArr = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 250L)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("arr"))
      .cache()
    val prefixIdx = graft.dedup.PrefixJoin.prefixPostingsOf(corpusArr).cache()
    val qCorpus = graft.streaming.TrainingPipeline.corpusIngest(
        spark.readStream.schema(dSchema).parquet(docsDir)
          .filter(col("doc_id") >= 250L),
        nearDupIndex = Some((prefixIdx, corpusArr)))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stage/corpus_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.Sinks.appendDailyPartitioned(batch, chunksOut,
          "source", Seq("doc_id", "chunk_idx"))
      }.start()

    // 7. Conversion funnel — per-user flatMapGroupsWithState machine
    val qFunnel = {
      import spark.implicits._
      graft.streaming.CustomState.funnelStream(
        events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
          .as[graft.streaming.CustomState.FunnelEv])
        .toDF().writeStream.format("memory").queryName("demo_funnel")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
    }

    // 8. Embedding-store ingest — streaming ANN admission against the
    //    frozen corpus IVF index (the vector leg of the training
    //    pipeline; q261's batch face hash-verifies the arithmetic).
    //    Vectors below 250 play the already-indexed store.
    val vecsDir = staged("embeddings")
    val eSchema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    val (gateCents, gateCorpus) =
      graft.vector.VectorOps.frozenIvfIndex(spark, sfDir)
    gateCorpus.cache()
    val qVecGate = graft.streaming.TrainingPipeline.annGate(
        spark.readStream.schema(eSchema).parquet(vecsDir)
          .filter(col("vec_id") >= 250L)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> cast(x as double))").as("v")),
        graft.vector.GateIndex.Full(gateCents, gateCorpus))
      .writeStream.format("memory").queryName("demo_vecgate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

    // 8b. PQ-COMPRESSED embedding-store ingest — the same admission
    //    decision with the corpus state the gate holds at 100 TB: PQ
    //    codes + broadcast codebook (q284's batch face hash-verifies
    //    the arithmetic). This stage drives the FULL production loop
    //    (r16): train the index, pick the operating point from the q290
    //    threshold sweep, publish state + tier + knobs in ONE atomic
    //    swap, and run the gate through the unified entry point that
    //    reads everything back from the published directory — no
    //    compiled constant anywhere between the sweep and the verdicts.
    val pqIdxDir = s"$stage/pq_index"
    graft.streaming.TrainingPipeline
      .trainAndPublishIndex(spark, sfDir, pqIdxDir, "pq")
    val pqCfg = graft.streaming.Sinks.loadGateConfig(spark, pqIdxDir).get
    println(s"[stream-demo] published pq gate index: tier=${pqCfg.tier} " +
      s"nProbe=${pqCfg.nProbe} thresholdMicro=${pqCfg.thresholdMicro}")
    val qVecGateAdc = graft.streaming.TrainingPipeline.annGateFromIndex(
        spark.readStream.schema(eSchema).parquet(vecsDir)
          .filter(col("vec_id") >= 250L)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> cast(x as double))").as("v")),
        pqIdxDir)
      .writeStream.format("memory").queryName("demo_vecgate_adc")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

    // 9. Payload-store ingest — the decode-or-quarantine gate over real
    //    PNG bytes with planted corruption (q275's batch face is the
    //    identical code path; corrupt payloads route, never kill).
    val payDir = s"$stage/payloads_src"
    graft.multimodal.Multimodal.corruptedPayloads(spark, sfDir)
      .write.mode("overwrite").parquet(payDir)
    val pSchema = spark.read.parquet(payDir).schema
    val qDecode = graft.multimodal.Multimodal.decodeGate(
        spark.readStream.schema(pSchema).parquet(payDir))
      .writeStream.format("memory").queryName("demo_decode")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

    // 10. Tokenizer-health monitor — per-source running OOV/fertility
    //     of the fresh document half under the frozen vocabulary
    //     trained on the CORPUS half only (the q285 split — fresh
    //     words the corpus never saw must surface as OOV, with the
    //     char-fallback real tokenizers apply).
    val corpusWords = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 250L)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val frozenVocab = graft.text.Curation
      .bpeTrainCore(spark, corpusWords, 12)._2
      .select(regexp_replace(trim(col("s")), " ", "").as("word"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_syms"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val qOov = graft.streaming.TrainingPipeline.tokenizerMonitor(
        spark.readStream.schema(dSchema).parquet(docsDir)
          .filter(col("doc_id") >= 250L)
          .select(col("doc_id"), col("source"), col("text")),
        graft.text.Tokenizer.CharBpe(Seq.empty, frozenVocab))
      .writeStream.format("memory").queryName("demo_oov")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

    // 12: decontamination gate — train docs stream against the FROZEN
    // eval-split benchmark shingle set (q161's keep set, streaming)
    val evalSet = graft.text.TextOps.evalShingleSet(spark, sfDir).cache()
    evalSet.count()
    val qDecontam = graft.streaming.TrainingPipeline.decontamGate(
        spark.readStream.schema(dSchema).parquet(docsDir)
          .filter(expr("substring(md5(cast(doc_id as string)), 1, 1) not in ('0', '1')"))
          .select(col("doc_id"), col("source"), col("text")),
        evalSet)
      .writeStream.format("memory").queryName("demo_decontam")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

    Seq(qDau, qAlerts, qGmv, qJoin, qDim, qCorpus, qFunnel, qVecGate,
      qVecGateAdc, qDecode, qOov, qDecontam).foreach(_.awaitTermination())
    val wallSec = (System.nanoTime() - t0) / 1e9

    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nOrders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val nItems = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    println(s"[stream-demo] dau rows (distinct user-days): ${spark.table("demo_dau").count()}")
    println(s"[stream-demo] day-window alerts: ${spark.table("demo_alerts").count()}")
    println(s"[stream-demo] gmv keyed table rows: ${spark.read.parquet(gmvOut).count()}")
    println(s"[stream-demo] stream-stream joined rows: ${spark.table("demo_join").count()}")
    println(s"[stream-demo] dim latest-per-user rows: ${spark.read.parquet(dimOut).count()}")
    println(s"[stream-demo] corpus chunks (gated+deduped+neardup-gated, fresh half): ${spark.read.parquet(chunksOut).count()}")
    println(s"[stream-demo] funnel users (stateful): ${spark.table("demo_funnel").select("user_id").distinct().count()}")
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    println(s"[stream-demo] vector-gate admitted (fresh half vs frozen IVF): ${spark.table("demo_vecgate").count()}")
    println(s"[stream-demo] vector-gate ADC admitted (fresh half vs PQ codes): ${spark.table("demo_vecgate_adc").count()}")
    val decodeOut = spark.table("demo_decode")
    println(s"[stream-demo] payload gate: decoded ${decodeOut.filter(col("status") === "decoded").count()}, " +
      s"quarantined ${decodeOut.filter(col("status") === "quarantined").count()}")
    val oovOut = spark.table("demo_oov")
    println(s"[stream-demo] tokenizer monitor: ${oovOut.select("source").distinct().count()} sources tracked, " +
      s"max running OOV micro ${oovOut.agg(max(col("oov_micro"))).head().getLong(0)}")
    println(s"[stream-demo] decontam gate: admitted ${spark.table("demo_decontam").count()} train docs " +
      s"(benchmark-overlapping docs vetoed at ingest)")
    println(f"[stream-demo] 12 concurrent pipelines, ${nEvents + nOrders + nItems + 4 * nDocs + 2 * nVecs}%,d input rows in $wallSec%.1f s")

    spark.stop()
  }
}
