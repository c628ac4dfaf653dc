package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** The LLM training-data ingestion pipeline as ONE streaming transform:
  * quality gate → exact content dedup → token-window chunking. Batch and
  * stream share the identical DataFrame code (the Structured Streaming
  * contract), so everything the batch oracles verified (q20 gate, q23
  * dedup keys, q40 chunk boundaries) holds for the stream.
  *
  * Scale design:
  *  - gate + fingerprint are a single narrow projection (one-pass
  *    `graft_text_stats` expression, md5 of the normalized text);
  *  - the dedup is streaming `dropDuplicates` on the content fingerprint
  *    — Spark keeps one state entry per DISTINCT fingerprint (bytes per
  *    doc, not the doc), backed by the RocksDB state store at real scale
  *    (ScaleLeversSpec pins the provider wiring); a crawl re-ingesting
  *    the same page emits it exactly once across micro-batches;
  *  - chunking is a stateless explode; downstream sinks append
  *    partitioned by source/date ([[Sinks.appendDailyPartitioned]]).
  */
object TrainingPipeline {

  /** documents(doc_id, source, lang, text) → deduped chunks
    * (doc_id, source, chunk_idx, chunk_text, chunk_tokens).
    *
    * `corpusIndex` is the streaming face of the q154 batch operator: a
    * (bloom, fingerprint-table) pair summarizing the ALREADY-INGESTED
    * corpus. The bloom rides as a broadcast literal inside the stream's
    * scan stage — micro-batch rows it rejects are definitely novel and
    * skip the membership join entirely; bloom positives go through a
    * stream-static LEFT ANTI join against the exact fingerprint table,
    * so a false positive costs one joined row, never a dropped novel
    * doc. The in-stream `dropDuplicates` state then only carries
    * fingerprints NEW to this run — the historical mass stays in the
    * (compact, off-heap) index artifacts instead of the state store. */
  def corpusIngest(docs: DataFrame,
                   chunkLen: Int = 100, stride: Int = 50,
                   minTokens: Int = 10,
                   stopRatioMin: Double = 0.02,
                   stopRatioMax: Double = 0.6,
                   corpusIndex: Option[(Array[Byte], DataFrame)] = None,
                   nearDupIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val gated = docs
      .withColumn("st", expr("graft_text_stats(text)"))
      .filter(col("st.n_tokens") >= minTokens &&
        (col("st.stop_ct") / col("st.n_tokens")).between(stopRatioMin, stopRatioMax))
      .withColumn("fp", md5(TextOps.normText(col("text"))))
    val fresh = corpusIndex match {
      case None => gated
      case Some((bloom, corpusFp)) =>
        val might = call_function("graft_bloom_might_contain",
          lit(bloom), expr("xxhash64(fp)"))
        gated.filter(!might).unionByName(
          gated.filter(might).join(corpusFp, Seq("fp"), "left_anti"))
    }
    val admitted = nearDupIndex match {
      case None => fresh.select("doc_id", "source", "text", "fp")
      case Some((postings, corpusSets)) =>
        nearDupGate(fresh, postings, corpusSets)
    }
    TextOps.chunkCore(
      admitted.dropDuplicates("fp").withColumn("tokens", expr(TextOps.TokensExpr)),
      chunkLen, stride, carry = Seq("source"))
  }

  /** A doc that survived the gates, as the near-dup gate re-emits it. */
  case class GateDoc(doc_id: Long, source: String, text: String, fp: String)
  /** One event inside [[nearDupGate]]'s per-doc fold: either the doc's
    * single PAYLOAD row (payload=true, carries text/source/fp exactly
    * once) or a skinny candidate-verification row (payload=false, only
    * the verdict — the document body never fans out with the candidate
    * set). Public only because encoder codegen must reach the class
    * from generated code. */
  case class GateEvt(doc_id: Long, source: String, text: String,
                     fp: String, dup: Boolean, payload: Boolean)

  /** Streaming NEAR-DUP admission gate — q236's incremental exact
    * PPJoin moved into the ingest path, the layer the exact-fingerprint
    * index (q154 bloom + anti-join above) cannot cover: a re-crawled
    * page with one edited sentence has a novel md5 but 3-gram Jaccard
    * ≥ 0.7 against the already-ingested original. Each micro-batch doc
    * probes the corpus's FROZEN one-sided prefix postings
    * ([[graft.dedup.PrefixJoin.prefixPostingsOf]] — completeness is a
    * theorem of the corpus-side prefix alone, so the stream side needs
    * no df lookup or window rank: one in-row shingle expression and
    * stateless stream-static joins), candidates are verified with the
    * exact Jaccard the batch operator uses, and a doc is admitted only
    * if NO corpus doc matches at threshold.
    *
    * The per-doc "no candidate matched" fold runs as
    * `flatMapGroupsWithState` (the [[quotaAdmit]] pattern; state unused
    * — each doc_id lives in one micro-batch) so the gate stays a single
    * streaming-legal operator; identical code serves batch frames,
    * where the state store is simply absent.
    *
    * Scale: postings cover only the rare-first prefix (~(1−t)·n per
    * corpus doc); the probe join is keyed on sh64 with the J ≥ t size
    * filter (t·|x| ≤ |y| ≤ |x|/t) applied inside the join; corpus
    * shingle arrays join onto the (small) candidate set only — the
    * q204 skinny-candidate discipline. The document BODY never rides
    * the candidate fan-out (advisor r11): the probe leg is skinny
    * (doc_id, hs, na) and each doc's text/source/fp travel exactly once
    * on a separate PAYLOAD leg, unioned in front of the per-doc fold —
    * a union, not a join, so the shape stays streaming-legal in append
    * mode. The fold itself is a lazy single pass over the group's
    * iterator (O(1) memory — first payload row + any-dup flag), never a
    * `toSeq` of the candidate fan-out. Both static sides are index
    * artifacts persisted across batches, like the q154 bloom. */
  private[graft] def nearDupGate(fresh: DataFrame, postings: DataFrame,
                                 corpusSets: DataFrame): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val withHs = fresh.select(col("doc_id"), col("source"), col("text"), col("fp"),
        expr("graft_shingle_hashes(text, 3)").as("hs"))
      .withColumn("na", size(col("hs")).cast("long"))
    // payload leg: one row per doc, the only leg that carries the body.
    // A doc with no shingles (or no candidates) has ONLY this row and is
    // admitted by the fold's no-dup default.
    val payload = withHs.select(col("doc_id"), col("source"), col("text"),
      col("fp"), lit(false).as("dup"), lit(true).as("payload"))
    // probe leg: skinny (doc_id, hs, na) fan-out; inner joins — a doc
    // that matches no posting simply contributes zero candidate rows
    val probe = withHs.select(col("doc_id"), col("hs"), col("na"),
      explode(col("hs")).as("sh64"))
    // the size filter lives IN the join condition so the join itself
    // prunes candidates outside t·|x| <= |y| <= |x|/t
    val cand = probe.join(
        postings.select(col("sh64").as("psh"), col("corpus_id"), col("nb")),
        col("sh64") === col("psh") &&
          col("na") * lit(7L) <= col("nb") * lit(10L) &&
          col("nb") * lit(7L) <= col("na") * lit(10L))
      .join(corpusSets.select(col("doc_id").as("cid"), col("arr").as("sb")),
        col("corpus_id") === col("cid"))
      .select(col("doc_id"), lit(null).cast("string").as("source"),
        lit(null).cast("string").as("text"), lit(null).cast("string").as("fp"),
        (size(array_intersect(col("hs"), col("sb"))).cast("double") /
          (col("na") + size(col("sb")).cast("long")
            - size(array_intersect(col("hs"), col("sb"))).cast("long"))
          >= lit(7.0 / 10.0)).as("dup"),
        lit(false).as("payload"))
    payload.unionByName(cand).as[GateEvt]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, GateDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, _) =>
          // lazy single pass: keep the first payload row, OR the dup flags
          var head: GateEvt = null
          var anyDup = false
          rows.foreach { r =>
            if (r.payload && head == null) head = r
            if (r.dup) anyDup = true
          }
          if (anyDup || head == null) Iterator.empty
          else Iterator(GateDoc(head.doc_id, head.source, head.text, head.fp))
      }.toDF()
  }

  /** One event of [[decontamGate]]'s per-doc fold: the payload row or a
    * skinny benchmark-collision row. */
  case class DecontamEvt(doc_id: Long, source: String, text: String,
                         hit: Boolean, payload: Boolean)
  /** A doc the decontamination gate admitted. */
  case class CleanDoc(doc_id: Long, source: String, text: String)

  /** Streaming DECONTAMINATION gate — q161's benchmark-overlap drop
    * (the GPT-3 appendix-C pass) moved into the INGEST path: a train
    * doc sharing ≥ `minShared` 3-gram shingles with the frozen
    * benchmark set never enters the corpus, instead of being hunted
    * retrospectively after it contaminated a checkpoint's eval. The
    * benchmark side is [[graft.text.TextOps.evalShingleSet]]'s DISTINCT
    * shingle-hash artifact — benchmarks are MBs where train is TBs, so
    * the static side stays broadcast-sized forever.
    *
    * Same payload-leg/skinny-probe shape as [[nearDupGate]]: the doc
    * body travels exactly once; the probe leg explodes the in-row
    * shingle expression and inner-joins the benchmark set, so each
    * collision is one skinny row and a clean doc contributes zero; the
    * per-doc fold counts collisions lazily in O(1) memory (append-mode
    * legal; state unused — each doc_id lives in one micro-batch). The
    * collision COUNT matters: `minShared` = 2 keeps the q161 semantics
    * where one shared shingle is a near-miss, not a drop. */
  def decontamGate(fresh: DataFrame, evalShingles: DataFrame,
                   minShared: Int = 2): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val withHs = fresh.select(col("doc_id"), col("source"), col("text"),
      expr("graft_shingle_hashes(text, 3)").as("hs"))
    val payload = withHs.select(col("doc_id"), col("source"), col("text"),
      lit(false).as("hit"), lit(true).as("payload"))
    val probe = withHs
      .select(col("doc_id"), explode(col("hs")).as("sh64"))
      .join(evalShingles.select("sh64"), Seq("sh64"))
      .select(col("doc_id"), lit(null).cast("string").as("source"),
        lit(null).cast("string").as("text"),
        lit(true).as("hit"), lit(false).as("payload"))
    payload.unionByName(probe).as[DecontamEvt]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, CleanDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, _) =>
          var head: DecontamEvt = null
          var hits = 0L
          rows.foreach { r =>
            if (r.payload && head == null) head = r
            if (r.hit) hits += 1L
          }
          if (head == null || hits >= minShared) Iterator.empty
          else Iterator(CleanDoc(head.doc_id, head.source, head.text))
      }.toDF()
  }

  /** Streaming PARTIAL-overlap screen — q156's winnowing moved into the
    * ingest path, the layer [[corpusIngest]]'s exact-fingerprint index
    * cannot cover: a crawled page that pastes a paragraph of an
    * already-ingested doc has a novel md5 but shares winnowed
    * fingerprints. Each micro-batch doc's `graft_winnow` selections
    * (one narrow per-row expression — no state) probe the corpus
    * postings table ([[graft.text.TextOps]] winnow postings, the same
    * artifact q156 memoizes) via a stream-static join; pairs sharing
    * ≥ `minShared` fingerprints surface as (doc_id, corpus_doc,
    * shared_fp) candidates for the near-dup verifier.
    *
    * Scale: the winnow is in-row; the only stateful op is the
    * per-(doc, corpus_doc) count — bounded by matches, not corpus size
    * (run in update mode; the static side partitions on fp exactly like
    * the batch self-join). */
  /** q258 — the BATCH face of [[overlapScreen]]: docs ≥ `splitAt`
    * probe the FROZEN winnow postings of the corpus below it — the
    * identical DataFrame code the stream runs (Structured Streaming
    * contract), so the hash-verified batch result IS the verification
    * of the streaming transform's arithmetic (the StreamingSpec then
    * only needs to pin the micro-batch mechanics). Completes the
    * partial-overlap screen's story the way q236 did for the exact-
    * threshold gate: q154 exact fingerprints, q236 whole-doc Jaccard,
    * THIS for a pasted-paragraph overlap with a novel remainder. */
  def overlapScreenBatch(spark: org.apache.spark.sql.SparkSession,
                         dir: String, splitAt: Long = 250L): DataFrame = {
    val corpusPostings = graft.Tables.memoCache(spark,
      s"winnow-postings-corpus/$splitAt/$dir") {
      graft.text.TextOps.winnowPostings(
        graft.Tables.documents(spark, dir).filter(col("doc_id") < splitAt))
    }
    overlapScreen(
      graft.Tables.documents(spark, dir).filter(col("doc_id") >= splitAt),
      corpusPostings)
      .orderBy("doc_id", "corpus_doc")
  }

  def overlapScreen(docs: DataFrame, corpusPostings: DataFrame,
                    minShared: Int = 2): DataFrame = {
    docs.select(col("doc_id"), explode(expr("graft_winnow(text).fps")).as("fp"))
      .join(corpusPostings.select(col("fp"), col("doc_id").as("corpus_doc")),
        Seq("fp"))
      .groupBy(col("doc_id"), col("corpus_doc"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** One event inside [[annGate]]'s per-vector fold — the vector twin
    * of [[GateEvt]]: payload row (carries the embedding once) or skinny
    * candidate verdict. */
  case class VecGateEvt(vec_id: Long, label: Long, v: Seq[Double],
                        dup: Boolean, payload: Boolean)
  /** A vector the ANN gate admitted into the embedding store. */
  case class VecAdmit(vec_id: Long, label: Long, v: Seq[Double])

  /** Streaming ANN admission gate — the VECTOR analog of [[nearDupGate]]
    * (judge r11 task 2): fresh embeddings probe the corpus's FROZEN
    * index (built once like the q154 bloom and the q236 prefix postings)
    * for near-duplicate vectors at ingest; a vector is admitted only if
    * NO probed corpus vector reaches cosine ≥ the threshold. The index
    * is any [[graft.vector.GateIndex]] tier — full vectors, PQ codes +
    * codebook (m bytes per corpus vector: the state that still fits at
    * 100 TB), SQ8 codes + spans, or OPQ (fresh vectors rotated in-row,
    * then PQ) — and its candidate frame is the exact code the
    * oracle-verified batch face runs (q261 [[graft.vector.VectorOps
    * .annAdmission]], q284 `pqAdmission`, q297 `sq8Admission`, q306
    * `opqAdmission` — the Structured Streaming contract), so the
    * hash-verified batch result IS the verification of the stream's
    * arithmetic; StreamingSpec pins only the micro-batch mechanics.
    *
    * Lives beside the doc-side gates rather than inside [[corpusIngest]]
    * because `documents` carries no embedding column — this gate guards
    * the EMBEDDING store's ingest (the vector leg of a multimodal
    * training pipeline), fed by whatever encoder produced the vectors.
    *
    * Same payload-leg/skinny-probe shape as [[nearDupGate]]: the
    * embedding travels once per vector on the union's payload leg, the
    * probe leg is (vec_id, cos-verdict) only, and the per-vector fold is
    * a lazy O(1) pass under `flatMapGroupsWithState` (append-mode legal;
    * state unused — each vec_id lives in one micro-batch). */
  def annGate(freshVecs: DataFrame, index: graft.vector.GateIndex,
              nProbe: Int = graft.vector.VectorOps.GateNProbe,
              thresholdMicro: Long = graft.vector.VectorOps.GateThresholdMicro): DataFrame = {
    val spark = freshVecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val payload = freshVecs.select(col("vec_id"), col("label"), col("v"),
      lit(false).as("dup"), lit(true).as("payload"))
    val cand = index.candidates(freshVecs, nProbe)
      .select(col("vec_id"), lit(0L).as("label"),
        lit(null).cast("array<double>").as("v"),
        (expr("CAST(FLOOR(1000000.0d * cos + 0.5d) AS BIGINT)")
          >= lit(thresholdMicro)).as("dup"),
        lit(false).as("payload"))
    payload.unionByName(cand).as[VecGateEvt]
      .groupByKey(_.vec_id)
      .flatMapGroupsWithState[Boolean, VecAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, _) =>
          var head: VecGateEvt = null
          var anyDup = false
          rows.foreach { r =>
            if (r.payload && head == null) head = r
            if (r.dup) anyDup = true
          }
          if (anyDup || head == null) Iterator.empty
          else Iterator(VecAdmit(head.vec_id, head.label, head.v))
      }.toDF()
  }

  /** ONE entry point for all FOUR ANN-gate tiers (judge r15 task 4):
    * the published index directory itself says which state shape it
    * holds (`config.tier`) and which operating point to run it at
    * (`n_probe`, `threshold_micro` — the q290 sweep's chosen knob,
    * published atomically WITH the state by [[Sinks.publishGateIndex]]).
    * Retuning the threshold or switching compression tier is ONE atomic
    * index publish, and the gate picks all of it up at its next
    * (re)start. Loading is driver-side (model-sized pulls); the returned
    * frame is the same streaming-legal plan [[annGate]] builds. */
  def annGateFromIndex(freshVecs: DataFrame, indexPath: String): DataFrame = {
    val (cfg, index) = Sinks.loadGateIndex(freshVecs.sparkSession, indexPath)
    annGate(freshVecs, index, cfg.nProbe, cfg.thresholdMicro)
  }

  case class QuotaDoc(doc_id: Long, source: String, n_tokens: Long)
  case class Admitted(source: String, doc_id: Long, n_tokens: Long,
                      cum_tokens: Long)

  case class TokObs(source: String, syms: Long, is_oov: Long)
  case class TokStat(source: String, n_tokens: Long, n_oov: Long,
                     syms_total: Long, oov_micro: Long,
                     fertility_micro: Long)

  /** Streaming tokenizer-health monitor, one for every family — the
    * per-batch face of q278 (char-BPE), q305 (byte-BPE) and q308
    * (unigram), driven by arrival order since documents carry no event
    * time: each micro-batch's words go through the frozen tokenizer's
    * per-word column ([[graft.text.Tokenizer.wordSyms]]: char-BPE's
    * broadcast vocabulary join with its char fallback, byte-BPE's in-row
    * merges, unigram's in-row lattice), and a per-source running
    * (tokens, OOV, symbols) state emits the cumulative OOV rate and
    * fertility after every batch — the curve an operator watches to
    * decide WHEN to retrain (q285 is the decision table for what a
    * retrain would buy; this is the alarm that fires first). Only
    * char-BPE has an OOV edge; the other families report n_oov = 0.
    *
    * Scale: char-BPE's join is stream-static against a vocabulary-sized
    * broadcast; state is THREE longs per source (bounded by the source
    * count, the [[quotaAdmit]] shape — never per-word); no aggregation
    * upstream of the stateful fold, so the plan stays append-legal.
    * Works unchanged on a batch frame (one fold per source = the
    * corpus-wide totals; StreamingSpec pins stream ≡ batch ≡ each
    * family's hash-verified batch face). */
  def tokenizerMonitor(docs: DataFrame, tok: graft.text.Tokenizer):
      org.apache.spark.sql.Dataset[TokStat] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc: Encoder[TokStat] = Encoders.product[TokStat]
    implicit val stateEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    tok.wordSyms(docs.select(col("source"),
        explode(expr(graft.text.TextOps.TokensExpr)).as("word")))
      .groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState[(Long, Long, Long), TokStat](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[TokObs],
         state: GroupState[(Long, Long, Long)]) =>
          var (nt, no, sy) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { r => nt += 1; no += r.is_oov; sy += r.syms }
          state.update((nt, no, sy))
          if (nt == 0L) Iterator.empty
          else Iterator(TokStat(source, nt, no, sy,
            math.floor(1000000.0d * no / nt + 0.5d).toLong,
            math.floor(1000000.0d * sy / nt + 0.5d).toLong))
      }
  }

  /** ONE train-and-publish job per tokenizer family — the
    * [[trainAndPublishIndex]] shape applied to the tokenizer artifacts
    * (judge r16 task 1): train on `dir`'s documents (session-memoized)
    * and publish payload + config + train-time fertility baseline in
    * one atomic swap via [[Sinks.publishTokenizer]] — unless the
    * directory ALREADY serves the bit-identical version
    * (content-addressed skip below). A tokenizer-maintenance cron is
    * this one call; every monitor and batch consumer picks the new
    * version up through [[Sinks.loadTokenizer]]. */
  def trainAndPublishTokenizer(spark: org.apache.spark.sql.SparkSession,
                               dir: String, path: String,
                               family: String): Boolean = {
    val fam = graft.text.Tokenizer.familyOf(family)
    val base = trainedFertilityMicro(spark, dir, fam)
    val baseOov = trainedOovMicro(spark, dir, fam)
    val tok = fam.trained(spark, dir)
    // Content-addressed publish: when the would-be version is
    // BIT-IDENTICAL to what the directory already serves (same family,
    // fingerprint, row count, and signed baselines), re-signing it is a
    // no-op — a scheduled retrain on an unchanged corpus costs zero
    // swap I/O, and a re-registering query (q313 runs this per pass)
    // stops paying three directory swaps per execution (the r18
    // regression gate's first real catch: q313 0.99 → 1.85 s warm).
    // The skip additionally requires the served PAYLOAD to verify
    // (advisor r18): config + baselines alone would keep skipping over
    // a post-publish-corrupted payload forever — the scheduled
    // republish was the self-heal path before the skip existed, so the
    // skip must not be blind to exactly what it stopped overwriting.
    // The load is memoized per served version, keyed on every payload
    // table's part listing, so an in-place payload rewrite is re-verified
    // and repeat calls against an unchanged version read no payload.
    val upToDate =
      Sinks.loadTokenizerConfigIfAny(spark, path).contains(tok.config) &&
        Sinks.loadTokenizerBaselines(spark, path) == ((Some(base), Some(baseOov))) &&
        scala.util.Try(Sinks.loadTokenizer(spark, path)).isSuccess
    // returns TRUE when a version was actually swapped in (the caller
    // can then distinguish a real republish from a content-addressed
    // no-op — advisor r18's "retrain that never swaps" hazard)
    if (!upToDate)
      Sinks.publishTokenizer(spark, path, tok, Some(base), Some(baseOov))
    !upToDate
  }

  private val tokBaselineMemo = new graft.SessionMemo[Long]

  /** The corpus-wide train-time fertility (micro) of `dir` under its
    * own trained `family` tokenizer — the baseline every published
    * version carries ([[Sinks.loadTokenizerBaselines]]) and the anchor
    * [[maintainTokenizer]]'s drift statistic compares against. Computed
    * from the family's hash-verified batch face (q278 / q305 / q308 —
    * each spec-pinned equal to [[tokenizerMonitor]]), aggregated over
    * sources; memoized per corpus version so the registry queries that
    * republish per run (q313) pay it once per session, not per pass. */
  private[graft] def trainedFertilityMicro(spark: org.apache.spark.sql.SparkSession,
                                           dir: String,
                                           family: graft.text.Tokenizer.Family): Long =
    tokBaselineMemo.get(spark, s"tok-baseline/$dir/${family.name}/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val r = family.fertilityFace(spark, dir)
        .agg(sum(col("n_tokens")), sum(col("syms_total"))).head()
      require(!r.isNullAt(0) && r.getLong(0) > 0L,
        s"$dir has no tokens to baseline a tokenizer on")
      math.floor(1000000.0d * r.getLong(1) / r.getLong(0) + 0.5d).toLong
    }

  /** The corpus-wide train-time OOV rate (micro) of `dir` under its own
    * trained `family` tokenizer — the SECOND signed drift reference
    * (judge r18 task 3). Only char-BPE has an OOV edge (a frozen
    * vocabulary a word can miss); byte-BPE applies its merge sequence
    * to any byte string and unigram's lattice has the char fallback, so
    * both are structurally OOV-free and sign 0. The char-BPE value is
    * MEASURED (words of `dir` left-joined against the trained vocab),
    * not assumed — on a vocabulary trained over the full corpus it
    * lands at 0, and the measurement keeps that an invariant rather
    * than a belief. Memoized per corpus version like its fertility
    * sibling. */
  private[graft] def trainedOovMicro(spark: org.apache.spark.sql.SparkSession,
                                     dir: String,
                                     family: graft.text.Tokenizer.Family): Long =
    if (family != graft.text.Tokenizer.Family.CharBpe) 0L
    else tokBaselineMemo.get(spark, s"tok-oov-baseline/$dir/${family.name}/" +
        graft.Tables.pathFingerprint(spark, s"$dir/documents.parquet")) {
      val vocab = graft.text.Curation.bpeVocab(spark, dir).select("word")
      val r = graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(explode(expr(graft.text.TextOps.TokensExpr)).as("word"))
        .join(broadcast(vocab.withColumn("seen", lit(1))), Seq("word"),
          "left_outer")
        .agg(count(lit(1)).as("n"), sum(when(col("seen").isNull, 1L)
          .otherwise(0L)).as("oov")).head()
      require(r.getLong(0) > 0L, s"$dir has no tokens to baseline on")
      math.floor(1000000.0d * r.getLong(1) / r.getLong(0) + 0.5d).toLong
    }

  /** BOTH drift statistics of `docs` under the PUBLISHED tokenizer at
    * `tokPath` — (n_tokens, syms_total, fertility_micro, oov_micro) —
    * the delta-side statistic of [[maintainTokenizer]], computed
    * through the one verified read path ([[fertilityMonitorFromArtifact]]
    * — family dispatch + fingerprint refusal), so the drift decision can
    * never run a vocabulary that is not exactly the published version.
    * Delta-sized work: one monitor pass over `docs`. The OOV leg (judge
    * r18 task 3) exists because fertility can stay FLAT while the
    * vocabulary stops describing the data: a shift toward short unseen
    * words char-fallbacks to roughly the trained symbol budget, so the
    * fertility monitor sees nothing while every token misses the
    * vocab. Byte-BPE and unigram are structurally OOV-free and report 0.
    * A delta with no measurable tokens reports (-1, -1): no evidence is
    * not drift. */
  def tokenizerDriftStats(docs: DataFrame,
                          tokPath: String): (Long, Long, Long, Long) = {
    val r = fertilityMonitorFromArtifact(docs, tokPath)
      .toDF().agg(sum(col("n_tokens")), sum(col("syms_total")),
        sum(col("n_oov"))).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L) (0L, 0L, -1L, -1L)
    else (r.getLong(0), r.getLong(1),
      math.floor(1000000.0d * r.getLong(1) / r.getLong(0) + 0.5d).toLong,
      math.floor(1000000.0d * r.getLong(2) / r.getLong(0) + 0.5d).toLong)
  }

  /** Measured (SCALE.md, "Tokenizer drift maintenance": fresh-half deltas
    * of the same corpus vs each family's published train-time baseline,
    * all three families × sf0.001/0.01/0.1): an UNDRIFTED
    * same-distribution delta lands within 0.2–15.1k micro of the
    * baseline (worst: char-BPE at sf0.01, where the char-fallback OOV
    * edge taxes genuinely new words), while the planted drifted delta
    * (letter-doubled text, the morphology-shift stand-in) sits
    * 4.67–6.01M micro away. The budget sits ~6.6× above the worst
    * undrifted band and ~47× under the smallest breach — the same
    * comfortably-between discipline as [[IndexDriftBudgetMicro]]. */
  val TokenizerFertilityBudgetMicro = 100000L

  /** OOV-drift budget of the second routing leg (judge r18 task 3).
    * Measured (SCALE.md, "The tokenizer OOV drift leg": char-BPE ×
    * sf0.001/0.01/0.1): the undrifted in-corpus delta's OOV drift is
    * exactly 0 (the vocabulary covers every training word — an
    * invariant [[trainedOovMicro]] measures rather than assumes), the
    * letter-doubled delta lands near 10⁶ (~every word unseen), and the
    * planted short-unseen-word delta — the case fertility structurally
    * CANNOT see because each unseen word char-fallbacks to exactly its
    * trained symbol count — also lands at 10⁶. 100k (a 10% OOV rate)
    * sits far above undrifted noise and ~10× under both breaches, the
    * same comfortably-between discipline as the fertility budget. */
  val TokenizerOovBudgetMicro = 100000L

  /** The routing rule of [[maintainTokenizer]], factored pure so the
    * registry faces (q321's fertility leg, q322's two-legged CASE)
    * report the decision from the same comparison the maintenance call
    * acts on (and the oracle replays it as a CASE). TWO legs, either
    * of which routes to retrain (judge r18 task 3): fertility drift
    * (the cost-per-token shift) OR OOV-rate drift (the vocabulary no
    * longer covering the data — catchable while fertility stays flat).
    * A delta with no measurable tokens (−1 sentinels) keeps the
    * version: no evidence is not drift. */
  private[graft] def tokenizerRouteOf(deltaFertMicro: Long,
                                      baselineMicro: Long,
                                      budgetMicro: Long,
                                      deltaOovMicro: Long,
                                      baselineOovMicro: Long,
                                      oovBudgetMicro: Long): String =
    if ((deltaFertMicro >= 0 &&
        math.abs(deltaFertMicro - baselineMicro) > budgetMicro) ||
      (deltaOovMicro >= 0 &&
        math.abs(deltaOovMicro - baselineOovMicro) > oovBudgetMicro))
      "retrain"
    else "keep"

  /** Fertility-only overload — the single-statistic view q321 reports
    * (its oracle replays exactly this CASE); the production maintenance
    * call routes on both legs. */
  private[graft] def tokenizerRouteOf(deltaFertMicro: Long,
                                      baselineMicro: Long,
                                      budgetMicro: Long): String =
    tokenizerRouteOf(deltaFertMicro, baselineMicro, budgetMicro,
      -1L, 0L, Long.MaxValue)

  /** Drift-gated tokenizer maintenance (judge r17 task 1 — the
    * [[maintainIndex]] pattern applied to its sibling, the last monitor
    * in the repo that observed drift without acting): ONE call a
    * tokenizer cron runs per incoming document batch. The delta's
    * fertility under the PUBLISHED artifact is measured against the
    * train-time baseline that version carries; within budget the
    * version is KEPT (tokenizers don't append — there is no cheap
    * path, only "not yet"), over budget the family retrains on `dir`
    * (which, like [[trainAndPublishIndex]]'s contract, must reflect
    * the corpus INCLUDING the drifted mass) and republishes through
    * the existing atomic swap — every monitor and batch consumer picks
    * the new version up via [[Sinks.loadTokenizer]]. A missing
    * artifact, a family mismatch, or a legacy pre-baseline version
    * also routes to retrain (the legacy-index discipline: migrate,
    * don't crash-loop). Returns which path ran ("retrain" | "keep").
    *
    * At 100 TB the asymmetry this gate protects is stark: the KEEP
    * path costs one delta-sized monitor pass; the RETRAIN path is a
    * full corpus training run. Triggering it on a measured breach —
    * not a schedule — is the entire point. */
  def maintainTokenizer(spark: org.apache.spark.sql.SparkSession,
                        dir: String, path: String, family: String,
                        deltaDocs: DataFrame,
                        budgetMicro: Long = TokenizerFertilityBudgetMicro,
                        oovBudgetMicro: Long = TokenizerOovBudgetMicro): String = {
    def retrain(): String = {
      val swapped = trainAndPublishTokenizer(spark, dir, path, family)
      // a retrain that did NOT swap (content-addressed no-op) after a
      // measured breach means `dir` does not yet include the drifted
      // mass (the documented contract was violated): every subsequent
      // batch would re-breach and re-pay full-corpus training compute
      // forever. Surface it instead of reporting a clean "retrain"
      // (advisor r18).
      if (swapped) "retrain"
      else {
        System.err.println(s"[maintain-tokenizer] WARNING: drift breach " +
          s"at $path but the retrain republished a bit-identical version " +
          s"— $dir does not appear to include the drifted mass, so the " +
          "breach will persist across retrains")
        "retrain-noop"
      }
    }
    // config read bak-recovers a crash-mid-swap first, so a torn
    // publish resumes the OLD version instead of paying a full corpus
    // retrain it didn't need
    val fam = graft.text.Tokenizer.familyOf(family)
    val cfgOpt = Sinks.loadTokenizerConfigIfAny(spark, path)
    if (!cfgOpt.exists(_.family == fam.name)) return retrain()
    Sinks.loadTokenizerBaselines(spark, path) match {
      case (Some(baseline), Some(baseOov)) =>
        // a verification refusal from the artifact read path (torn or
        // corrupted payload under an intact config) routes to REPUBLISH
        // rather than crashing the cron: pre-content-addressing the
        // scheduled publish overwrote and self-healed exactly this
        // state, and the maintenance call must keep that property
        // (advisor r18)
        scala.util.Try(tokenizerDriftStats(deltaDocs, path)) match {
          case scala.util.Failure(_) => retrain()
          case scala.util.Success((_, _, deltaFert, deltaOov)) =>
            if (tokenizerRouteOf(deltaFert, baseline, budgetMicro,
                deltaOov, baseOov, oovBudgetMicro) == "retrain")
              retrain()
            else "keep"
        }
      // legacy artifact predating either signed baseline: migrate via
      // retrain (the legacy-index discipline), never crash-loop
      case _ => retrain()
    }
  }

  /** ONE entry point for all THREE tokenizer-health monitors (the
    * [[annGateFromIndex]] discipline): the published artifact directory
    * itself says which family it holds, [[Sinks.loadTokenizer]]
    * verifies the payload against the signed fingerprint, and
    * [[tokenizerMonitor]] runs the loaded version. Before this, the
    * monitors took session-memoized vocabularies as PARAMETERS — a
    * fertility monitor on vocab v1 auditing a manifest tokenized with
    * v2 could never be ruled out; now both sides cite one published
    * version. */
  def fertilityMonitorFromArtifact(docs: DataFrame, tokPath: String):
      org.apache.spark.sql.Dataset[TokStat] =
    tokenizerMonitor(docs, Sinks.loadTokenizer(docs.sparkSession, tokPath)._2)

  /** ONE train-and-publish job per tier — the production WRITE side of
    * [[annGateFromIndex]]: train the requested state shape on the
    * corpus side of `dir`'s embeddings (the frozen discipline), pick
    * the tier's OWN operating point ([[graft.vector.VectorOps
    * .tunedThresholdMicroFor]] — q290's sweep for pq, q311's for opq,
    * q312's for sq8; the full tier's exact gate keeps the semantic
    * default, its threshold being the dup DEFINITION rather than a
    * tuning knob), and publish state + tier + knobs in ONE atomic
    * swap. An index-maintenance cron is this one call; every gate picks
    * the new version up at its next (re)start through the unified entry
    * point. */
  def trainAndPublishIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, path: String, tier: String): Unit = {
    import graft.vector.{GateIndex, VectorOps => V}
    val thr = V.tunedThresholdMicroFor(spark, dir, tier)
    val index = GateIndex.tierOf(tier) match {
      case GateIndex.Tier.Full =>
        val (cents, assigned) = V.frozenIvfIndex(spark, dir)
        GateIndex.Full(cents, assigned)
      case GateIndex.Tier.Pq => V.frozenPqIvfIndex(spark, dir)
      case GateIndex.Tier.Sq8 => V.frozenSq8IvfIndex(spark, dir)
      case GateIndex.Tier.Opq => V.frozenOpqIvfIndex(spark, dir)._1
    }
    Sinks.publishGateIndex(path, index, thresholdMicro = thr)
  }

  /** Incremental (append-mode) index maintenance — judge r16 task 3.
    * The expensive path at 100 TB is the full retrain
    * ([[trainAndPublishIndex]]): every publish re-derives centroids,
    * codebook and EVERY vector's codes. This appends instead: the
    * loaded version's model state (centroids + codebook/spans/rotation
    * — frozen) is reused verbatim, only vectors NOT already in the
    * index (anti-join on corpus_id) are assigned
    * ([[graft.vector.VectorOps.assignCellsAuto]]) and encoded, and the
    * delta lands as ONE new immutable code segment — the re-swapped
    * manifest directory is model-sized, so the append costs the DELTA
    * in compute AND in I/O. Per-row encoding is deterministic given
    * the model, so append ≡ full re-encode under the same model: q315
    * hash-verifies exactly that against the full-path oracle replay.
    *
    * An ALL-DUPLICATE batch (the anti-join leaves nothing) is a true
    * no-op: no empty segment, no manifest swap (r18 — previously every
    * idempotent cron call accreted one empty segment until the
    * compaction policy paid a pointless corpus rewrite). The delta is
    * materialized once (eager localCheckpoint — the same delta-sized
    * work the encode pass reads anyway) so the emptiness check costs
    * no second anti-join. */
  def appendToPublishedIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, newVecs: DataFrame): Unit = {
    val (cfg, index) = Sinks.loadGateIndex(spark, path)
    val segs = Sinks.loadSegmentNames(spark, path)
    require(segs.nonEmpty,
      s"$path predates segmented code storage — re-publish (full train) " +
        "once before appending")
    val fresh = newVecs
      .join(index.corpus.select(col("corpus_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty)
      Sinks.publishGateIndex(path, index.encode(fresh), cfg.nProbe,
        cfg.thresholdMicro, priorSegments = segs)
  }

  /** Segment COMPACTION — the maintenance call that completes the LSM
    * story: after many appends the manifest lists many small segments
    * (each load unions them; a 1000-executor scan pays per-segment
    * open/footer costs). This rewrites the current segment set into
    * ONE segment — compute and I/O sized by the compacted mass, model
    * reused verbatim, codes untouched row-for-row — and swaps the
    * manifest; the replaced segments are GC'd by the publish (a full
    * publish with an empty prior list). Returns the segment count
    * before compaction (1 means it was a no-op). */
  def compactIndexSegments(spark: org.apache.spark.sql.SparkSession,
                           path: String): Int = {
    val (cfg, index) = Sinks.loadGateIndex(spark, path)
    val segs = Sinks.loadSegmentNames(spark, path)
    if (segs.size > 1)
      Sinks.publishGateIndex(path, index, cfg.nProbe, cfg.thresholdMicro)
    segs.size
  }

  /** The q232 drift statistic of a delta AGAINST a published index:
    * per-cell occupancy share of the index's corpus vs the delta's
    * assignment under the SAME frozen quantizer (after the tier's
    * in-row transform), max |diff| in micro. Driver-side arithmetic
    * over two cell-keyed counts (k rows). */
  def publishedIndexDriftMicro(spark: org.apache.spark.sql.SparkSession,
                               path: String, newVecs: DataFrame): Long = {
    val (_, index) = Sinks.loadGateIndex(spark, path)
    def shares(cells: DataFrame): Map[Int, Long] = {
      val counts = cells.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val tot = counts.values.sum
      counts.map { case (cell, n) =>
        cell -> math.floor(1000000.0d * n / tot + 0.5d).toLong
      }
    }
    val corpusShare = shares(index.corpus.select("cell"))
    val deltaShare = shares(graft.vector.VectorOps
      .assignCellsAuto(index.inRow(newVecs), index.cents).select("cell"))
    (corpusShare.keySet ++ deltaShare.keySet).map { cell =>
      math.abs(deltaShare.getOrElse(cell, 0L) -
        corpusShare.getOrElse(cell, 0L))
    }.foldLeft(0L)(math.max)
  }

  /** Measured (SCALE.md, "Drift-gated maintenance" — corpus/fresh halves of the same
    * synthetic store, all four tiers × sf0.001/0.01/0.1): the per-cell
    * occupancy drift of an UNDRIFTED delta lands at 28-40k micro
    * (sampling noise of the fresh half over 16 cells; identical across
    * tiers because all four share the coarse assignment geometry). The
    * budget sits ~2.5× above that band: a delta under it appends
    * against the frozen model; over it, the model no longer describes
    * the data and the maintenance call retrains. */
  val IndexDriftBudgetMicro = 100000L

  /** Segment-count ceiling [[maintainIndex]] compacts at. Measured
    * (SCALE.md, "Compaction policy", 3 append→compact cycles):
    * with the r18 single multi-path scan in [[Sinks]] (one
    * FileSourceScanExec over every segment) load+scan is FLAT at
    * ~0.3-0.38 s from 1 to 32 segments — the ~45 ms/segment slope the
    * first measurement found was entirely the old N-leg union plan
    * shape, now gone. What remains at scale is the MANY-SMALL-FILES
    * regime: each append adds a directory of task-sized files, so an
    * unbounded manifest grows file listings, footer reads, and
    * object-store request counts linearly with appends even though the
    * local scan is flat. 8 keeps the segment set a handful between
    * corpus-sized rewrites (a week of daily appends); deployments
    * append-heavier tune `compactAt` up now that the reader slope is
    * gone. */
  val IndexCompactAtSegments = 8

  /** Drift-gated maintenance — ONE call an index cron runs per batch
    * of new vectors: append when the delta's assignment drift against
    * the published quantizer stays under budget (the cheap path —
    * delta-sized), full retrain when the drift monitor breaches (the
    * q232 signal promoted from a dashboard row to the retrain
    * trigger). Returns which path ran ("retrain", "append", or
    * "append+compact"). A published index of another tier than `tier`
    * also retrains: the requested tier wins, as a cron switched to a
    * new tier expects.
    *
    * EVERY path indexes the batch: the retrain rebuilds the model from
    * `dir`'s frozen corpus side and then APPENDS `newVecs` through the
    * standard delta path (advisor r17: a drift-breaching batch that
    * only retrained was silently dropped — the gate would re-admit
    * copies of its vectors forever; drift is re-measured against the
    * new model on the next call anyway). A legacy pre-segment index
    * (empty manifest) also routes to retrain — its layout cannot take
    * an append, and the full publish migrates it (advisor r17: the
    * append-side require would crash-loop the cron instead).
    *
    * Compaction policy (judge r17 task 3): after an append, if the
    * manifest now exceeds `compactAt` segments, the same call compacts
    * — so the reader tax is bounded by construction, not by someone
    * remembering to run [[compactIndexSegments]] by hand. A retrain
    * publishes a fresh single-segment manifest and needs none. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String, path: String, tier: String,
                    newVecs: DataFrame,
                    driftBudgetMicro: Long = IndexDriftBudgetMicro,
                    compactAt: Int = IndexCompactAtSegments): String = {
    if (!Sinks.loadGateConfig(spark, path).exists(_.tier == tier) ||
        Sinks.loadSegmentNames(spark, path).isEmpty ||
        publishedIndexDriftMicro(spark, path, newVecs) > driftBudgetMicro) {
      trainAndPublishIndex(spark, dir, path, tier)
      appendToPublishedIndex(spark, path, newVecs)
      "retrain"
    } else {
      appendToPublishedIndex(spark, path, newVecs)
      if (Sinks.loadSegmentNames(spark, path).size > compactAt) {
        compactIndexSegments(spark, path)
        "append+compact"
      } else "append"
    }
  }

  /** q315 — incremental ≡ full, as a HASH-VERIFIED statement: publish
    * the PQ-tier index over the corpus BASE half only, append the
    * remaining corpus vectors through [[appendToPublishedIndex]] (the
    * production delta path: anti-join, frozen-model assign + encode,
    * one new segment, manifest re-swap), then emit every (cell,
    * corpus_id, sub, code) of the LOADED result. The DuckDB oracle
    * replays only the FULL single-shot path — it cannot see the
    * base/delta boundary at all — so the hash match proves the append
    * machinery introduces no drift on undrifted data (per-row encoding
    * is deterministic given the frozen model; this query pins that the
    * pipeline around it preserves exactly that). */
  def incrementalIndexParity(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    import graft.vector.{VectorOps => V}
    val path = "target/published_indexes/" +
      s"${new java.io.File(dir).getName}/pq-incr"
    // one base-publish + append + load per (session, corpus version) —
    // the publish I/O is a one-time index build exactly like the other
    // frozen artifacts (Bench's cold_extra carries it; Verify always
    // runs fresh), and warm passes read the loaded result
    val loaded = graft.Tables.memoCache(spark, s"incr-parity/$dir/" +
        graft.Tables.pathFingerprint(spark, s"$dir/embeddings.parquet")) {
      val index = V.frozenPqIvfIndex(spark, dir)
      Sinks.publishGateIndex(path,
        index.copy(codes = index.codes.filter(col("corpus_id") < V.IncrBaseAt)))
      appendToPublishedIndex(spark, path,
        V.vecs(spark, dir).filter(col("vec_id") >= V.IncrBaseAt &&
          col("vec_id") < V.GateSplitAt))
      Sinks.loadGateIndex(spark, path)._2.corpus
    }
    loaded
      .select(col("cell").cast("long").as("cell"), col("corpus_id"),
        posexplode(col("codes")))
      .select(col("cell"), col("corpus_id"),
        col("pos").cast("long").as("sub"), col("col").cast("long").as("code"))
      .orderBy("corpus_id", "sub")
  }

  /** Per-source streaming token-QUOTA admission — the ingest-time face
    * of q174's batch budget cut: each source may contribute at most
    * `quotaTokens` tokens to the run, enforced AS DOCS ARRIVE instead
    * of retrospectively. A doc that would overflow the remaining quota
    * is dropped whole (never split — chunk boundaries stay q40's).
    *
    * State is ONE long per source (tokens admitted so far) — bounded by
    * the source count at any corpus size, the cheapest state shape
    * Structured Streaming has; contrast the per-fingerprint dedup state
    * of [[corpusIngest]]. Within a micro-batch the group's docs are
    * folded in doc_id order, so a replayed batch admits the identical
    * set (deterministic recovery); ACROSS batches admission is
    * arrival-order by construction — that is the semantic difference
    * from q174 (which globally prefers long docs) and exactly what an
    * online quota means. Works unchanged on a batch frame (single fold
    * per source ≡ the greedy doc_id-order budget cut). */
  def quotaAdmit(docs: DataFrame, quotaTokens: Long = 20000L):
      org.apache.spark.sql.Dataset[Admitted] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val inEnc: Encoder[QuotaDoc] = Encoders.product[QuotaDoc]
    implicit val outEnc: Encoder[Admitted] = Encoders.product[Admitted]
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    docs
      .withColumn("n_tokens", expr("graft_text_stats(text).n_tokens").cast("long"))
      .select("doc_id", "source", "n_tokens").as[QuotaDoc]
      .groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[QuotaDoc], state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val admitted = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            if (used + d.n_tokens <= quotaTokens) {
              used += d.n_tokens
              Some(Admitted(source, d.doc_id, d.n_tokens, used))
            } else None
          }
          state.update(used)
          admitted.iterator
      }
  }
}
