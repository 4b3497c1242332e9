package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-window document chunking — the "split every document into
  * fixed-size training windows" step of an LLM data pipeline.
  *
  * Pure narrow transformation: words → `sequence`/`posexplode` over chunk
  * indices → `slice` per chunk. No shuffle, no state; output rows carry the
  * parent id so downstream shuffles (dedup, packing) key on whatever they
  * need. Every document yields ≥ 1 chunk (an empty doc is one empty chunk),
  * so no documents silently disappear.
  */
object Chunking {

  /** Assign chunks to fixed-budget training sequences ("packs") by
    * contiguous fill in a deterministic global order:
    * `pack_id = floor(exclusive_prefix_sum(words) / budget)`.
    *
    * The global prefix sum is the one-group [[Ranks.runningByRange]] scan
    * (exclusive prior = running − own weight): no stage ever sorts the
    * whole order in one task, yet the assignment is exactly the
    * single-ordered-window semantics and independent of partition
    * boundaries (the oracle formulation IS the global window).
    */
  def packByBudget(chunks: DataFrame, orderKeys: Seq[String], words: Column,
      budgetWords: Long): DataFrame = {
    val keyCols = orderKeys.map(col)
    // only the order keys + weight ride the prefix-sum shuffles; the full
    // payload (chunk text etc.) joins its pack id back exactly once
    val narrow = chunks.select(keyCols :+ words.as("_w"): _*)
    val assignment =
      Ranks.running(narrow, Nil, orderKeys, Seq("_cum" -> col("_w")))
      .withColumn("pack_id",
        call_function("div", col("_cum") - col("_w"), lit(budgetWords)))
      .select(keyCols :+ col("pack_id"): _*)
    chunks.join(assignment, orderKeys)
  }

  /** GPT-style pretraining packing: the corpus token stream, concatenated
    * in `idCol` order, sliced into fixed `blockTokens` blocks — documents
    * SPLIT across block boundaries (contrast [[packByBudget]], which
    * fills whole chunks and never splits one). Output: one row per
    * (block, doc) overlap — `block_id`, the doc, `tok_start` (0-based
    * offset WITHIN the doc) and `tok_len` — i.e. the exact slice of each
    * document every training block reads.
    *
    * Zero-token documents contribute no rows. The block explode is
    * per-doc narrow (a doc spans ≤ tokens/blockTokens + 1 blocks); the
    * only shuffle is the range partition of the [[Ranks.runningByRange]]
    * prefix sum.
    */
  def blockSlice(docs: DataFrame, idCol: String, tokens: Column,
      blockTokens: Long): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive: $blockTokens")
    val narrow = docs.select(col(idCol), tokens.cast("long").as("_w"))
      .where(col("_w") > 0)
    val b = lit(blockTokens)
    Ranks.running(narrow, Nil, Seq(idCol), Seq("_cum" -> col("_w")))
      .withColumn("_prior", col("_cum") - col("_w"))
      .withColumn("block_id", explode(sequence(
        call_function("div", col("_prior"), b),
        call_function("div", col("_prior") + col("_w") - 1L, b))))
      .withColumn("_blk_lo", col("block_id") * b)
      .withColumn("tok_start",
        greatest(col("_prior"), col("_blk_lo")) - col("_prior"))
      .withColumn("tok_len",
        least(col("_prior") + col("_w"), col("_blk_lo") + b) -
          greatest(col("_prior"), col("_blk_lo")))
      .select(col("block_id"), col(idCol), col("tok_start"), col("tok_len"))
  }

  /** Explode each document into chunks of `chunkWords` whitespace words.
    * Output: (id, chunk_idx, n_words, chunk_text).
    */
  def byWords(docs: DataFrame, id: Column, text: Column,
      chunkWords: Int): DataFrame = {
    val cw = lit(chunkWords.toLong)
    val words = split(TextAnalysis.normalize(text), " ")
    val nChunks = greatest(lit(1L),
      call_function("div", size(words) + (cw - 1L), cw))
    docs.select(id.as("id"), words.as("w"), nChunks.as("nc"))
      .select(col("id"), col("w"),
        posexplode(sequence(lit(0L), col("nc") - 1L)).as(Seq("pos", "ci")))
      .select(col("id"), col("ci").as("chunk_idx"),
        slice(col("w"), (col("ci") * cw + 1L).cast("int"), lit(chunkWords))
          .as("cw_arr"))
      .select(col("id"), col("chunk_idx"),
        size(col("cw_arr")).cast("long").as("n_words"),
        array_join(col("cw_arr"), " ").as("chunk_text"))
  }
}
