package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Full transformer encoder block — the end-to-end composition of the
  * reference's BertTiny graph
  * (/root/reference/model_zoo/export_bert_tiny.py:33-65):
  *
  *   h  = LayerNorm₁(x)
  *   a  = OutProj( SDPA( Qproj(h), Kproj(h), Vproj(h) ) )
  *   h₂ = LayerNorm₂(h + a)
  *   out = h₂ + GELU( FC(h₂) )
  *
  * Every stage is an existing engine operator: the projections are
  * broadcast-weight FC layers (MatMul.fcLayer — zero shuffle), the
  * attention is Attention.scaledDotProduct (shuffles on seq only),
  * norms/activation/residuals are codegen'd vector expressions. The
  * whole block is therefore TWO shuffles end-to-end (attention score
  * join + output regroup) regardless of corpus size — sequences
  * distribute; weights broadcast as literals.
  *
  * The reference exports attention WITHOUT the multi-head
  * reshape/transpose ("Simplified for export", export_bert_tiny.py:
  * 21-24) — full-width q/k/v with 1/√d scaling — which is exactly
  * the shape composed here. */
object TransformerBlock {

  /** One BertTiny-style encoder block over a token table
    * `(seqCol, posCol, xCol: array<double>)`. Weight matrices are
    * row-major (out × in) literal arrays (the reference's ≤512 KB
    * weight budget, DATASHEET §6). Returns `(seqCol, posCol, out)`.
    *
    * `numHeads` sets the attention temperature to the reference's
    * convention: full-width q·kᵀ divided by √(d/numHeads) = √head_dim
    * (export_bert_tiny.py:26 divides by √head_dim even though the
    * export skips the head reshape). numHeads = 1 gives the plain
    * √d scale. `causal = true` gives the decoder mask. */
  def bertTinyBlock(tokens: DataFrame, seqCol: String, posCol: String,
                    xCol: String,
                    wq: Array[Array[Double]], bq: Array[Double],
                    wk: Array[Array[Double]], bk: Array[Double],
                    wv: Array[Array[Double]], bv: Array[Double],
                    wo: Array[Array[Double]], bo: Array[Double],
                    wf: Array[Array[Double]], bf: Array[Double],
                    causal: Boolean = false, numHeads: Int = 1): DataFrame = {
    require(wq.length % numHeads == 0,
      s"dim ${wq.length} not divisible by $numHeads heads")
    def fc(in: DataFrame, c: String, w: Array[Array[Double]], b: Array[Double],
           out: String): DataFrame =
      MatMul.fcLayer(in, c, w, b, relu = false).withColumnRenamed("fc_out", out)

    // h = LN1(x); q/k/v projections of h (the chunked qkv_proj)
    val normed = tokens.select(col(seqCol).as("seq"), col(posCol).as("pos"),
      vecLayerNorm(col(xCol)).as("h"))
    // attention consumes q/k/v twice (score + value sides)
    val projected = Checkpoints.truncate(
      fc(fc(fc(normed, "h", wq, bq, "q"), "h", wk, bk, "k"), "h", wv, bv, "v"),
      eager = false)

    // a = OutProj(SDPA(q, k, v)); residual over h needs h joined back
    val attn = Attention.scaledDotProduct(projected, "seq", "pos", "q", "k", "v",
      causal, scaleDim = wq.length / numHeads)
    val withH = attn.join(projected.select(col("seq"), col("pos"), col("h")),
      Seq("seq", "pos"))
    val post = fc(withH, "attn", wo, bo, "proj")
      .select(col("seq"), col("pos"),
        vecLayerNorm(vecAdd(col("h"), col("proj"))).as("h2"))

    // FFN + residual
    fc(post, "h2", wf, bf, "ff")
      .select(col("seq").as(seqCol), col("pos").as(posCol),
        vecAdd(col("h2"), vecGelu(col("ff"))).as("out"))
  }

  /** NanoLlama decoder layer
    * (/root/reference/model_zoo/export_tinyllama.py:29-71,80-100):
    *
    *   x₁  = x + OutProj( MHA( RMSNorm(x) ) )      (multi-head, 1/√head_dim)
    *   out = x₁ + Down( SiLU(Gate(h)) ⊙ Up(h) ),  h = RMSNorm(x₁)
    *
    * Real head splitting (the reference's view/transpose): q/k/v are
    * projected full-width, sliced into `numHeads` head_dim chunks,
    * and attention runs per (sequence, head) — relationally that is
    * the SAME scaledDotProduct with a composite sequence key
    * seq·H+head, so heads distribute exactly like sequences (the
    * transpose is free: it's just a different shuffle key). Heads
    * re-concatenate by sorted head index. All projections are
    * bias-free per the export. `causal` adds the decoder mask (the
    * export omits it — "Simplified"; both shapes supported). */
  def llamaBlock(tokens: DataFrame, seqCol: String, posCol: String,
                 xCol: String, numHeads: Int,
                 wq: Array[Array[Double]], wk: Array[Array[Double]],
                 wv: Array[Array[Double]], wo: Array[Array[Double]],
                 wGate: Array[Array[Double]], wUp: Array[Array[Double]],
                 wDown: Array[Array[Double]],
                 causal: Boolean = false): DataFrame = {
    require(wq.length % numHeads == 0, s"dim ${wq.length} not divisible by $numHeads heads")
    val headDim = wq.length / numHeads
    def fc(in: DataFrame, c: String, w: Array[Array[Double]], out: String): DataFrame =
      MatMul.fcLayer(in, c, w, Array.fill(w.length)(0.0), relu = false)
        .withColumnRenamed("fc_out", out)

    val base = tokens.select(col(seqCol).as("seq"), col(posCol).as("pos"),
      vecToDouble(col(xCol)).as("x"))
      .withColumn("h", vecRmsNorm(col("x")))
    val projected = Checkpoints.truncate(
      fc(fc(fc(base, "h", wq, "q"), "h", wk, "k"), "h", wv, "v"), eager = false)

    // head split: (seq, head) becomes the attention partition key —
    // a narrow explode+slice, no self-join
    val heads = projected
      .withColumn("head", explode(array((0 until numHeads).map(lit): _*)))
      .select((col("seq") * numHeads + col("head")).as("seqh"), col("pos"),
        slice(col("q"), col("head") * headDim + 1, lit(headDim)).as("qh"),
        slice(col("k"), col("head") * headDim + 1, lit(headDim)).as("kh"),
        slice(col("v"), col("head") * headDim + 1, lit(headDim)).as("vh"))

    val perHead = Attention.scaledDotProduct(heads, "seqh", "pos", "qh", "kh", "vh", causal)
    // concat heads back in index order: seqh = seq·H + head recovers both
    val merged = perHead
      .select((col("seqh") / numHeads).cast("long").as("seq"),
        pmod(col("seqh"), lit(numHeads)).as("head"), col("pos"), col("attn"))
      .groupBy(col("seq"), col("pos"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("head"), col("attn")))),
        s => s.getField("attn"))).as("mh"))

    val attended = fc(merged, "mh", wo, "proj")
      .join(projected.select(col("seq"), col("pos"), col("x")), Seq("seq", "pos"))
      .select(col("seq"), col("pos"), vecAdd(col("x"), col("proj")).as("x1"))
      .withColumn("h2", vecRmsNorm(col("x1")))

    // SwiGLU MLP: down(silu(gate(h)) * up(h)) + residual
    fc(fc(attended, "h2", wGate, "g"), "h2", wUp, "u")
      .withColumn("gu", zipWithMul(vecSilu(col("g")), col("u")))
      .transform(d => fc(d, "gu", wDown, "dn"))
      .select(col("seq").as(seqCol), col("pos").as(posCol),
        vecAdd(col("x1"), col("dn")).as("out"))
  }

  private def zipWithMul(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    zip_with(a, b, (x, y) => x * y)
}
