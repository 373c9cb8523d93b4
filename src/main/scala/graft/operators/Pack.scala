package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing — the last mile between a settled corpus and a
  * training run: concatenate documents in a deterministic shuffled
  * order and chunk the token stream at a fixed sequence length
  * (the standard "concat-and-chunk" packing of public LLM pipelines —
  * GPT-style preprocessing, T5's packing; the reference system has no
  * corpus tier). Every sequence is exactly `seqLen` tokens (the final
  * one may be partial), and a document crossing a boundary SPLITS —
  * its spans carry (doc offset, sequence offset, length) so the
  * training loader can reassemble attention masks / document ids.
  *
  * Exactness: the order key is md5("salt:id") — a pure function of
  * the id, so the packing is reproducible across runs, partitionings
  * and engines, and the whole plan (order, offsets, span arithmetic)
  * replays bit-for-bit in ANSI SQL (q113's oracle). All arithmetic is
  * integer; token counts come from the codegen'd `token_count`
  * expression.
  *
  * Scale shape: the offsets are [[graft.core.RangeOffsets]] (one range
  * shuffle and one narrow probe job at build, then a narrow running
  * sum that fails loudly on a re-ranged recompute). Span expansion is
  * a per-row generator bounded by n_tokens / seqLen + 1 rows per
  * document. Zero-token documents cannot occupy a sequence and are
  * excluded by construction.
  */
object Pack {

  /** (id, n_tokens, off) — each kept document's token count and its
    * exclusive running offset in the concatenated stream under the
    * salted-md5 order. The offset table IS the packing plan; spans
    * are pure arithmetic over it ([[segments]]). */
  def plan(df: DataFrame, idCol: String, textCol: String,
           salt: String = "pack"): DataFrame = {
    val keyed = df.select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("k",
        md5(concat(lit(salt), lit(":"), col("id").cast("string"))))
    graft.core.RangeOffsets(keyed, Seq(col("k"), col("id")),
      Seq("off" -> col("n_tokens"))).drop("k")
  }

  /** Explode a packing plan into per-(document, sequence) spans:
    * (id, seq_id, doc_off, seq_off, n_tok). A document at stream
    * offset o with n tokens occupies sequences o DIV L through
    * (o + n − 1) DIV L; within sequence s it contributes tokens
    * [max(o, s·L), min(o + n, (s+1)·L)). Per-sequence spans partition
    * the document exactly and fill every sequence to L (the last may
    * be partial) — PackSpec pins both invariants. */
  def segments(plan: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val L = lit(seqLen)
    plan
      // integer DIV, never `/` — long / long is a double in Spark and
      // token offsets at 100 TB exceed a double's exact range
      .select(col("id"), col("n_tokens"), col("off"),
        explode(sequence(expr(s"off DIV ${seqLen}L"),
          expr(s"(off + n_tokens - 1) DIV ${seqLen}L"))).as("seq_id"))
      .withColumn("__lo", greatest(col("off"), col("seq_id") * L))
      .withColumn("__hi",
        least(col("off") + col("n_tokens"), (col("seq_id") + 1) * L))
      .select(col("id"), col("seq_id"),
        (col("__lo") - col("off")).as("doc_off"),
        (col("__lo") - col("seq_id") * L).as("seq_off"),
        (col("__hi") - col("__lo")).as("n_tok"))
  }

  /** `plan` + `segments` in one call — the packing table a training
    * loader consumes. */
  def pack(df: DataFrame, idCol: String, textCol: String, seqLen: Long,
           salt: String = "pack"): DataFrame =
    segments(plan(df, idCol, textCol, salt), seqLen)

  /** One-row packing report: sequences produced, total tokens, fill
    * of the final partial sequence in basis points, and the padding
    * waste a loader WOULD pay if it padded that final sequence. */
  def report(plan: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    plan.agg(coalesce(sum(col("n_tokens")), lit(0L)).as("__t"))
      .select(
        expr(s"(__t + ${seqLen - 1}L) DIV ${seqLen}L").as("n_seqs"),
        col("__t").as("n_tokens"),
        when(col("__t") === 0, lit(0L))
          .when(col("__t") % seqLen === 0, lit(10000L))
          .otherwise(expr(s"__t % ${seqLen}L * 10000 DIV ${seqLen}L"))
          .as("last_fill_bp"))
  }
}
