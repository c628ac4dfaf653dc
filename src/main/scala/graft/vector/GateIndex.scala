package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One version of the embedding-store admission gate's index: one
  * tier's model state (coarse centroids plus codebook, spans or
  * rotation) and its corpus-side frame. The tier's state shape is known
  * here and nowhere else: the streaming gate
  * ([[graft.streaming.TrainingPipeline.annGate]]) asks for
  * [[candidates]], index maintenance asks for [[encode]] and [[inRow]],
  * and [[graft.streaming.Sinks.publishGateIndex]]/
  * [[graft.streaming.Sinks.loadGateIndex]] version every table of a case
  * together in one atomic directory swap. A case is a plain value, so a
  * gate can also run on in-memory parts (a hand-seeded codebook, a
  * cached corpus frame).
  *
  * [[candidates]] is the code both the stream and its hash-verified
  * batch face run (q261 full, q284 pq, q297 sq8, q306 opq — the
  * Structured Streaming contract), so the batch hash IS the
  * verification of the stream's arithmetic. */
sealed trait GateIndex {
  def tier: GateIndex.Tier
  /** Coarse quantizer centroids, in the space [[inRow]] maps into. */
  def cents: Seq[Seq[Double]]
  /** The corpus-side frame a publish writes as one segment:
    * (cell, corpus_id, cv) for full, (cell, corpus_id, codes) for the
    * compressed tiers. */
  def corpus: DataFrame
  /** The in-row transform a (vec_id, v) frame goes through before it
    * meets [[cents]]: identity, or OPQ's rotation. */
  def inRow(vecs: DataFrame): DataFrame = vecs
  /** (vec_id, corpus_id, cos) for every (fresh vector, corpus vector of
    * one of its `nProbe` nearest cells) pair. */
  def candidates(fresh: DataFrame, nProbe: Int): DataFrame
  /** The same model with `delta` (vec_id, v) assigned and encoded as its
    * corpus — the segment an index append publishes. Per-row encoding is
    * deterministic given the model, so append ≡ full re-encode (q315). */
  def encode(delta: DataFrame): GateIndex
}

object GateIndex {
  /** The tier names of the published `config` row. */
  sealed abstract class Tier(val name: String)
  object Tier {
    case object Full extends Tier("full")
    case object Pq extends Tier("pq")
    case object Sq8 extends Tier("sq8")
    case object Opq extends Tier("opq")
  }

  /** The one parse of a tier name (a published config or a caller's
    * request); every other dispatch is a method of [[GateIndex]] or an
    * exhaustive match on [[Tier]]. */
  def tierOf(name: String): Tier = name match {
    case "full" => Tier.Full
    case "pq" => Tier.Pq
    case "sq8" => Tier.Sq8
    case "opq" => Tier.Opq
    case other => throw new IllegalArgumentException(
      s"unknown gate tier '$other' (expected full | pq | sq8 | opq)")
  }

  /** Full-precision tier: the corpus vectors themselves, exact cosine. */
  case class Full(cents: Seq[Seq[Double]], assigned: DataFrame)
      extends GateIndex {
    def tier: Tier = Tier.Full
    def corpus: DataFrame = assigned
    def candidates(fresh: DataFrame, nProbe: Int): DataFrame =
      VectorOps.annGateCandidates(fresh, cents, assigned, nProbe)
    def encode(delta: DataFrame): GateIndex =
      copy(assigned = VectorOps.assignCellsAuto(delta, cents))
  }

  /** PQ tier: m small ints per corpus vector plus the trained codebook;
    * the verdict is the ADC asymmetric cosine against the in-row
    * reconstruction. */
  case class Pq(cents: Seq[Seq[Double]], cb: Map[(Int, Int), Seq[Double]],
                codes: DataFrame) extends GateIndex {
    def tier: Tier = Tier.Pq
    def corpus: DataFrame = codes
    def candidates(fresh: DataFrame, nProbe: Int): DataFrame =
      VectorOps.annGateAdcCandidates(fresh, cents, cb, codes, nProbe)
    def encode(delta: DataFrame): GateIndex =
      copy(codes = VectorOps.pqEncodeAssigned(
        VectorOps.assignCellsAuto(delta, cents), cb,
        VectorOps.codebookShape(cb)._1))
  }

  /** SQ8 tier: per-dim int8 codes plus the per-dim spans, which are
    * this tier's codebook. */
  case class Sq8(cents: Seq[Seq[Double]], mn: Seq[Double], mx: Seq[Double],
                 codes: DataFrame) extends GateIndex {
    def tier: Tier = Tier.Sq8
    def corpus: DataFrame = codes
    def candidates(fresh: DataFrame, nProbe: Int): DataFrame =
      VectorOps.annGateSq8Candidates(fresh, cents, mn, mx, codes, nProbe)
    def encode(delta: DataFrame): GateIndex =
      copy(codes = VectorOps.assignCellsAuto(delta, cents)
        .select(col("cell"), col("corpus_id"),
          VectorOps.sq8CodesCol(col("cv"), mn, mx).as("codes")))
  }

  /** OPQ tier: "rotate, then PQ" — rotation `rm` and snake allocation,
    * then centroids, codebook and codes all in the rotated space. Fresh
    * vectors are transformed in-row (d codegen dots: no shuffle, no
    * state) and the PQ tier's ADC candidate code runs verbatim. */
  case class Opq(rm: Seq[Seq[Double]], alloc: Map[Int, Seq[Int]],
                 cents: Seq[Seq[Double]], cb: Map[(Int, Int), Seq[Double]],
                 codes: DataFrame) extends GateIndex {
    def tier: Tier = Tier.Opq
    def corpus: DataFrame = codes
    override def inRow(vecs: DataFrame): DataFrame =
      vecs.select(col("vec_id"),
        VectorOps.opqTransformCol(col("v"), rm, alloc).as("v"))
    def candidates(fresh: DataFrame, nProbe: Int): DataFrame =
      VectorOps.annGateAdcCandidates(inRow(fresh), cents, cb, codes, nProbe)
    def encode(delta: DataFrame): GateIndex =
      copy(codes = VectorOps.pqEncodeAssigned(
        VectorOps.assignCellsAuto(inRow(delta), cents), cb,
        VectorOps.codebookShape(cb)._1))
  }
}
