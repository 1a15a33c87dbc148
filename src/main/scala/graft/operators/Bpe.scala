package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Byte-pair-encoding tokenizer, trained and applied distributedly —
  * the "tokenize the corpus" stage of a training-data pipeline (the
  * reference pipeline stops at typed ingest; a 100 TB pretraining
  * corpus needs token counts computed with the REAL tokenizer, not the
  * regex approximation `text_token_count` uses).
  *
  * Spark-first shape (no UDFs anywhere — every step is codegen'd HOFs
  * over arrays, or a bounded aggregation):
  *
  *   - TRAIN folds the corpus to a WORD HISTOGRAM first (one shuffle on
  *     word). Every subsequent merge round runs over that histogram —
  *     distinct-word count, not corpus size — so training cost is
  *     O(corpus) once + O(vocab × merges) after, the same economics as
  *     the original BPE formulation (Sennrich et al. 2016, which
  *     operates on a word-frequency dictionary). `maxVocab` caps the
  *     histogram to the top-N words by mass for adversarial corpora
  *     where distinct words don't fit comfortably in one aggregation.
  *   - Each merge round: pair counts are one map-side-combinable agg
  *     over the histogram (adjacent-pair explode weighted by word
  *     frequency), the argmax is a limit-1 sort of a bounded relation,
  *     and applying the winning rule is a map-only array fold
  *     ([[mergePair]]) — greedy leftmost non-overlapping, the BPE
  *     contract. The driver loop is inherent to BPE (rule r+1 depends
  *     on rule r); lineage is re-rooted every few rounds.
  *   - ENCODE never touches the corpus with the K merge rules: it
  *     encodes each DISTINCT word once (vocab-sized table, K map-only
  *     fold passes), then joins tokens back to word occurrences and
  *     reassembles documents in order. At 100 TB this is the standard
  *     per-word memoization trick — corpus pays one explode + one
  *     join + one per-doc regroup, never K passes.
  */
object Bpe {

  /** Ordered merge rules; rule i was learned at step i and must apply
    * before rule i+1 (BPE application order = learning order). */
  final case class BpeModel(merges: Seq[(String, String)], endOfWord: String)

  /** One greedy leftmost-non-overlapping application of merge (a,b) to
    * a symbol array: fold each symbol onto an accumulator, replacing a
    * trailing `a` when the incoming symbol is `b`. "aaa" under (a,a)
    * becomes ["aa","a"], never ["aa","aa"] — after a merge the new
    * symbol is `ab`, which no longer matches `a`, exactly the
    * non-overlap rule. Pure codegen'd HOF; no per-row JVM closures. */
  def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      lit(Array.empty[String]).cast(ArrayType(StringType)),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Whitespace words of `textCol`, lowercased — the same pre-token
    * convention the rest of the text surface uses. */
  private def words(docs: DataFrame, textCol: String): Column =
    split(lower(col(textCol)), "\\s+")

  /** Character-level start symbols for one word, with the end-of-word
    * marker as its own symbol (so "est" mid-word and "est</w>"
    * word-final learn separate merges — the Sennrich formulation). */
  private def charSymbols(word: Column, endOfWord: String): Column =
    concat(filter(split(word, ""), s => s =!= ""), array(lit(endOfWord)))

  /** The word histogram the merge loop runs over: top `maxVocab` words
    * by total frequency (deterministic tie-break on the word) with
    * their start symbols. One corpus shuffle, then bounded. */
  private def wordHistogram(docs: DataFrame, textCol: String,
                            maxVocab: Int, endOfWord: String): DataFrame = {
    val freq = docs
      .select(explode(words(docs, textCol)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    freq
      .orderBy(desc("freq"), col("word"))
      .limit(maxVocab)
      .withColumn("syms", charSymbols(col("word"), endOfWord))
  }

  /** Learn `numMerges` merge rules. Stops early when no pair reaches
    * `minPairCount` (merging singletons memorizes the corpus). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxVocab: Int = 50000, minPairCount: Long = 2L,
            endOfWord: String = "</w>"): BpeModel = {
    require(numMerges >= 0 && maxVocab > 0, "bpeTrain: bad sizes")
    var hist = wordHistogram(docs, textCol, maxVocab, endOfWord)
      .localCheckpoint() // the loop re-reads it every round — pin it
    val rules = Seq.newBuilder[(String, String)]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      // adjacent-pair histogram: bounded by Σ|word syms| over the vocab
      val top = hist
        .filter(size(col("syms")) >= 2) // fully-merged words carry no pairs
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(col("syms")) - lit(1)),
            i => struct(element_at(col("syms"), i).as("a"),
                        element_at(col("syms"), i + lit(1)).as("b")))).as("p"))
        .groupBy("p").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("p.a"), col("p.b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < minPairCount) done = true
      else {
        val p = top(0).getStruct(0)
        val (a, b) = (p.getString(0), p.getString(1))
        rules += ((a, b))
        hist = hist.withColumn("syms", mergePair(col("syms"), a, b))
        // re-root lineage: K stacked folds over a bounded table
        if ((r + 1) % 8 == 0) hist = hist.localCheckpoint()
        r += 1
      }
    }
    BpeModel(rules.result(), endOfWord)
  }

  /** Tokenize `textCol` with a trained model → (original columns...,
    * `outCol` array<string> of BPE tokens in document order).
    *
    * Plan: corpus → (doc, pos, word) explode; DISTINCT words encode
    * through the K rules (vocab-sized, map-only folds); tokens join
    * back on word; per-doc reassembly is one aggregation with an
    * order-preserving sort_array over (pos, tokens) structs. Docs whose
    * text has no words keep an empty token array. */
  def encode(docs: DataFrame, textCol: String, model: BpeModel,
             idCols: Seq[String], outCol: String = "tokens"): DataFrame = {
    require(idCols.nonEmpty, "bpeEncode: need the doc key columns")
    val occ = docs.select(
      idCols.map(col) :+
        posexplode_outer(words(docs, textCol)).as(Seq("pos", "word")): _*)
    var vocab = occ.filter(col("word").isNotNull && col("word") =!= "")
      .select("word").distinct()
      .withColumn("syms", charSymbols(col("word"), model.endOfWord))
    model.merges.zipWithIndex.foreach { case ((a, b), i) =>
      vocab = vocab.withColumn("syms", mergePair(col("syms"), a, b))
      if ((i + 1) % 16 == 0) vocab = vocab.localCheckpoint()
    }
    val tokens = occ.join(vocab, Seq("word"), "left_outer")
    tokens
      .groupBy(idCols.map(col): _*)
      .agg(coalesce(
        flatten(transform(
          sort_array(collect_list(when(col("syms").isNotNull,
            struct(col("pos"), col("syms"))))),
          s => s.getField("syms"))),
        lit(Array.empty[String]).cast(ArrayType(StringType))).as(outCol))
  }
}
