package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Sinks, TrainingPipeline}

/** One version of a trained tokenizer: one family's in-memory payload.
  * What differs between the families is known here and nowhere else:
  * the payload tables a publish writes ([[tables]]), the rows its
  * fingerprint folds ([[fingerprintRows]]), and the per-word
  * (syms, is_oov) column its health monitor feeds into the shared
  * per-source fold ([[wordSyms]]).
  * [[graft.streaming.Sinks.publishTokenizer]]/
  * [[graft.streaming.Sinks.loadTokenizer]] version every table of a case
  * together in one atomic directory swap, and
  * [[graft.streaming.TrainingPipeline.tokenizerMonitor]] runs any case.
  * A case is a plain value, so a monitor can also run on an in-memory
  * vocabulary or merge list.
  *
  * [[wordSyms]] is the code both the stream and its hash-verified batch
  * face run (q278 char-BPE, q305 byte-BPE, q308 unigram — the
  * Structured Streaming contract). */
sealed trait Tokenizer {
  def family: Tokenizer.Family
  /** The payload tables of a published version, by subdirectory. */
  def tables(spark: SparkSession): Seq[(String, DataFrame)]
  /** The (key, value) rows the signed fingerprint folds — the surface
    * every consumer reads. */
  def fingerprintRows: Seq[(String, Long)]
  /** (source, syms, is_oov) for every (source, word) row the
    * tokenizer covers. */
  def wordSyms(words: DataFrame): Dataset[TrainingPipeline.TokObs]

  /** The identity a publish of this payload signs: family, payload row
    * count and fingerprint ([[Sinks.tokFingerprint]]). */
  def config: Sinks.TokenizerConfig = Sinks.TokenizerConfig(family.name,
    fingerprintRows.size, Sinks.tokFingerprint(fingerprintRows))
}

object Tokenizer {
  /** The family names of the published `config` row. Each family
    * trains its payload from a corpus and has a hash-verified batch
    * fertility face. */
  sealed abstract class Family(val name: String) {
    /** `dir`'s tokenizer of this family (session-memoized training). */
    def trained(spark: SparkSession, dir: String): Tokenizer
    /** (n_tokens, syms_total) per source of `dir` under its own trained
      * tokenizer — q278 / q305 / q308. */
    def fertilityFace(spark: SparkSession, dir: String): DataFrame
  }
  object Family {
    case object CharBpe extends Family("char-bpe") {
      def trained(spark: SparkSession, dir: String): Tokenizer = {
        val (merges, vocab) = Curation.charBpeArtifactRows(spark, dir)
        Tokenizer.CharBpe(merges, vocab)
      }
      def fertilityFace(spark: SparkSession, dir: String): DataFrame =
        Curation.bpeFertility(spark, dir)
          .select(col("n_tokens"), col("syms_total"))
    }
    case object ByteBpe extends Family("byte-bpe") {
      def trained(spark: SparkSession, dir: String): Tokenizer =
        Tokenizer.ByteBpe(Curation.byteBpeArtifactRows(spark, dir))
      def fertilityFace(spark: SparkSession, dir: String): DataFrame =
        Curation.byteBpeFertility(spark, dir)
          .select(col("n_tokens"), col("syms_total"))
    }
    case object Unigram extends Family("unigram") {
      def trained(spark: SparkSession, dir: String): Tokenizer =
        Tokenizer.Unigram(Curation.unigramArtifactRows(spark, dir))
      def fertilityFace(spark: SparkSession, dir: String): DataFrame =
        Curation.unigramFertility(spark, dir)
          .select(col("n_tokens"), col("pieces_total").as("syms_total"))
    }
  }

  /** The one parse of a family name (a published config or a caller's
    * request); every other dispatch is a method of [[Tokenizer]] or
    * [[Family]], or an exhaustive match on [[Family]]. */
  def familyOf(name: String): Family = name match {
    case "char-bpe" => Family.CharBpe
    case "byte-bpe" => Family.ByteBpe
    case "unigram" => Family.Unigram
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer family '$other' (expected char-bpe | byte-bpe | unigram)")
  }

  private def mergesDf(spark: SparkSession,
                       merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_idx", "pair_a", "pair_b", "merged", "pair_count")
  }

  /** Char-level BPE: the merge table (the tokenizer program) plus the
    * trained vocabulary (word → symbol count). The fingerprint folds the
    * vocabulary rows. The monitor LEFT-joins the broadcast vocabulary; a
    * word the tokenizer has never seen falls back to characters
    * (is_oov = 1, syms = chars — the char fallback real tokenizers
    * apply). */
  case class CharBpe(merges: Seq[(Long, String, String, String, Long)],
                     vocab: Seq[(String, Long)]) extends Tokenizer {
    def family: Family = Family.CharBpe
    def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
      import spark.implicits._
      Seq("merges" -> mergesDf(spark, merges),
        "vocab" -> vocab.toDF("word", "n_syms"))
    }
    def fingerprintRows: Seq[(String, Long)] = vocab
    def wordSyms(words: DataFrame): Dataset[TrainingPipeline.TokObs] = {
      val spark = words.sparkSession
      import spark.implicits._
      words.join(broadcast(vocab.toDF("word", "n_syms")), Seq("word"),
          "left_outer")
        .select(col("source"),
          coalesce(col("n_syms"), length(col("word")).cast("long")).as("syms"),
          col("n_syms").isNull.cast("long").as("is_oov"))
        .as[TrainingPipeline.TokObs]
    }
  }

  /** Byte-level BPE: the frozen merge sequence IS the whole tokenizer,
    * so the fingerprint folds (merged name, merge_idx). The monitor
    * applies the merges in-row ([[Curation.byteSegApplied]] — the exact
    * training-time re-tokenization as chained replaces), so every word,
    * seen or unseen, gets its true segmentation: there is no vocabulary
    * join and no OOV edge (is_oov = 0). */
  case class ByteBpe(merges: Seq[(Long, String, String, String, Long)])
      extends Tokenizer {
    def family: Family = Family.ByteBpe
    def tables(spark: SparkSession): Seq[(String, DataFrame)] =
      Seq("merges" -> mergesDf(spark, merges))
    def fingerprintRows: Seq[(String, Long)] = merges.map(m => (m._4, m._1))
    def wordSyms(words: DataFrame): Dataset[TrainingPipeline.TokObs] = {
      val spark = words.sparkSession
      import spark.implicits._
      words.select(col("source"),
          size(split(trim(Curation.byteSegApplied(col("word"),
            merges.map(m => (m._2, m._3, m._4)))), "  ")).cast("long").as("syms"),
          lit(0L).as("is_oov"))
        .as[TrainingPipeline.TokObs]
    }
  }

  /** Unigram LM: the vocabulary with trained counts and smoothed micro
    * probabilities (piece, is_char, cnt, p_micro) — the Viterbi
    * lattice's whole input. The fingerprint folds (piece, p_micro). The
    * monitor runs the lattice in-row, so every word gets its true piece
    * count; coverage is char-vocabulary-bounded (an unseen CHARACTER has
    * no lattice path and falls back to char count; byte BPE remains the
    * total-coverage family), and is_oov = 0. */
  case class Unigram(vocab: Seq[(String, Int, Long, Long)]) extends Tokenizer {
    def family: Family = Family.Unigram
    def probs: Map[String, Long] = vocab.map(v => v._1 -> v._4).toMap
    def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
      import spark.implicits._
      Seq("vocab" -> vocab.toDF("piece", "is_char", "cnt", "p_micro"))
    }
    def fingerprintRows: Seq[(String, Long)] = vocab.map(v => (v._1, v._4))
    def wordSyms(words: DataFrame): Dataset[TrainingPipeline.TokObs] = {
      val spark = words.sparkSession
      import spark.implicits._
      val p = probs
      words
        // same coverage bound as the q308 batch face (uniWords): words of
        // at most UniMaxWordLen chars — without the upper bound a streamed
        // doc with a >16-char word would silently diverge from the batch
        // artifact this monitor claims to mirror
        .filter(length(col("word")).between(1, Curation.UniMaxWordLen))
        .as[(String, String)]
        // the lattice runs as the unboxed Scala kernel with a
        // per-partition WORD memo (a narrow stateless map — append-legal
        // exactly like the column form): the Catalyst `aggregate` HOF is
        // interpreted per word OCCURRENCE and capped this monitor at
        // ~9k docs/s against its 10k target; the kernel + Zipf dedup
        // clears it. Semantics are the column lattice's bit for bit —
        // Round17Spec pins uniNpOrChars against uniDpCol on every
        // distinct corpus word and the planted poisoned-path edges, and
        // StreamingSpec's stream ≡ q308-face parity test stays the
        // end-to-end guard.
        .mapPartitions { it =>
          val memo = new java.util.HashMap[String, java.lang.Long]()
          it.map { case (source, word) =>
            TrainingPipeline.TokObs(source,
              memo.computeIfAbsent(word, w => Curation.uniNpOrChars(w, p)), 0L)
          }
        }
    }
  }
}
