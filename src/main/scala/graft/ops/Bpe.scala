package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the
  * merge-table learner a training-data pipeline runs before token counting
  * and sequence packing.
  *
  * Scale shape (the k-means precedent): the ONLY corpus-scale pass is the
  * word-frequency count, whose keys are the word VOCABULARY (Zipf/Heaps
  * bounded, never the corpus) so map-side partial aggregation does the
  * heavy lifting. The vocabulary is lineage-cut once (compact:
  * one row per distinct word) and every merge round is a narrow
  * `replace` over it plus one bounded pair-count aggregation and a
  * 1-row argmax collect — driver state is the merge table (k rows),
  * one job per round, independent of corpus size.
  *
  * Portability: a segmentation is carried as a WRAPPED string — every
  * symbol enclosed in `|` delimiters, e.g. `hello` → `|h||e||l||l||o|` —
  * so applying merge (l,r) is a plain string `replace` of `|l||r|` with
  * `|lr|`. Left-to-right non-overlapping `replace` semantics (identical
  * in the JVM and DuckDB) are exactly BPE's merge-application order:
  * `aaa` under merge (a,a) becomes `aa a`, never `a aa`. Symbols are
  * drawn from the normalized alphabet [a-z0-9] so `|` can never collide,
  * and a pattern can never match a symbol SUFFIX because each symbol
  * carries its own delimiters. This makes the whole k-merge trainer
  * expressible as chained SQL CTEs — the oracle replays training
  * end-to-end (see QueriesLlm.bpeTrainOracle).
  *
  * Argmax tie-break is (count desc, left asc, right asc) — total order,
  * both engines.
  */
object Bpe {

  final case class Merge(rank: Int, lhs: String, rhs: String, cnt: Long)

  /** Corpus word frequencies — (word, freq), the one corpus-scale pass.
    * Keys are the Zipf-bounded vocabulary, so partial aggregation
    * collapses occurrences map-side. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    TextOps.withNormToks(docs.select(col(textCol)), textCol)
      .select(explode(col("_toks")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** `hello` → `|h||e||l||l||o|` — the initial character segmentation in
    * wrapped form. */
  def wrapWord(word: Column): Column =
    concat(lit("|"),
      concat_ws("||",
        transform(sequence(lit(0), length(word) - 1),
          i => word.substr(i + lit(1), lit(1)))),
      lit("|"))

  /** Adjacent symbol-pair counts over a (w: wrapped, freq) vocabulary —
    * (lhs, rhs, cnt), weighted by word frequency. Pair keys are bounded
    * by the current symbol alphabet, so this aggregation is always
    * sub-vocabulary scale. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(trim(col("w"), "|"), "\\|\\|")
    vocab
      .select(col("freq"), syms.as("_syms"))
      .filter(size(col("_syms")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(0), size(col("_syms")) - 2),
          i => struct(element_at(col("_syms"), i + 1).as("l"),
            element_at(col("_syms"), i + 2).as("r")))).as("_p"))
      .groupBy(col("_p.l").as("lhs"), col("_p.r").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** The wrapped character-level vocabulary of a corpus, checkpointed
    * (compact, vocabulary-scale — never occurrence rows). */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    wordFreqs(docs, textCol)
      .select(wrapWord(col("word")).as("w"), col("freq"))
      .transform(Lineage.cutLazy)

  /** Apply one merge to a wrapped segmentation. */
  def applyMerge(wrappedCol: Column, m: Merge): Column =
    replace(wrappedCol, lit(s"|${m.lhs}||${m.rhs}|"), lit(s"|${m.lhs}${m.rhs}|"))

  /** Train `nMerges` BPE merges. One bounded aggregation + a 1-row
    * argmax collect per round; the evolving vocabulary stays distributed
    * (each round is a narrow `replace` chained on the checkpointed
    * initial vocabulary). Returns the merge table (driver state, k rows). */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[Merge] =
    // Session memo ([[ModelMemo]]): llm_bpe_train/tokenize/fertility all
    // train the identical deterministic merge list — each round is a
    // bounded aggregation + a 1-row collect, so re-training per query was
    // pure job floor (3 queries × nMerges rounds).
    ModelMemo.memo(docs, s"bpe:$textCol:$nMerges") {
      trainUncached(docs, textCol, nMerges)
    }

  private def trainUncached(docs: DataFrame, textCol: String,
                            nMerges: Int): Seq[Merge] = {
    var vocab = initialVocab(docs, textCol)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect() // bounded: exactly one row
      top.headOption match {
        case Some(Row(l: String, r: String, c: Long)) =>
          val m = Merge(rank, l, r, c)
          merges += m
          vocab = vocab.withColumn("w", applyMerge(col("w"), m))
          rank += 1
        case _ => exhausted = true
      }
    }
    merges.result()
  }

  /** The merge table as a DataFrame — (merge_rank, lhs, rhs, cnt). */
  def trainAsDf(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, nMerges)
      .map(m => (m.rank, m.lhs, m.rhs, m.cnt))
      .toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  /** Segment text with a trained merge table — map-only: wrap each word,
    * apply the merges in rank order (a chain of `replace`s, codegen'd
    * narrow ops), and emit the symbol array. The merge table is driver
    * state (k literals), so tokenization ships no join at any corpus
    * size.
    *
    * NOTE: the per-word lambda runs INTERPRETED (HOF — round-9 rule a);
    * for corpus-scale counting prefer [[segmentTextFlat]], which is the
    * same computation as flat codegen'd string expressions and is
    * spec-pinned equal. */
  def segment(textCol: Column, merges: Seq[Merge]): Column = {
    val toks = TextOps.tokens(textCol)
    transform(filter(toks, t => length(t) > 0), w => {
      val seg = merges.sortBy(_.rank).foldLeft(wrapWord(w))((c, m) => applyMerge(c, m))
      split(trim(seg, "|"), "\\|\\|")
    })
  }

  /** Whole-document wrapped segmentation with ZERO higher-order
    * functions: `"ab cd"` → `"|a||b| |c||d|"` via two codegen'd regex/
    * replace passes (insert `||` at every intra-word character boundary,
    * wrap word boundaries), then the merge chain applies to the WHOLE
    * text at once — a merge pattern `|l||r|` can never span a word
    * boundary because the boundary contains a space, so this is
    * symbol-for-symbol the per-word segmentation at a fraction of the
    * cost (llm_bpe_tokenize at sf0.1: 5.2 s with the HOF form, 1.6 s
    * warm with this one — the residue is the training loop's fixed
    * jobs). Expects the NORMALIZED text (see TextOps.normalize). */
  def segmentTextFlat(normCol: Column, merges: Seq[Merge]): Column = {
    val wrapped = concat(lit("|"),
      replace(regexp_replace(normCol, "(?<=[a-z0-9])(?=[a-z0-9])", "||"),
        lit(" "), lit("| |")),
      lit("|"))
    val seg = merges.sortBy(_.rank).foldLeft(wrapped)((c, m) => applyMerge(c, m))
    when(length(normCol) === 0, lit("")).otherwise(seg)
  }

  /** Symbol count of a [[segmentTextFlat]] segmentation: each word
    * contributes (its `||` separators + 1), so total symbols =
    * #`||` + #words — both countable with flat length arithmetic. */
  def flatSymbolCount(segCol: Column, nWords: Column): Column =
    shiftright(length(segCol) - length(replace(segCol, lit("||"), lit(""))), 1)
      .cast("long") + nWords

  /** Native per-document BPE symbol count
    * ([[graft.expressions.BpeSymCount]], r20): one JVM walk applying the
    * driver-held merge table to (start, len) symbol spans — no wrapped
    * string, no lookaround regex, no k document-sized `replace`
    * allocations. Spec-pinned ≡ `flatSymbolCount(segmentTextFlat(..))`
    * (BpeSpec); the counting consumers (llm_bpe_tokenize/_fertility) ride
    * this, the flat form remains the encoding the train oracle replays. */
  def symCount(normCol: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sorted = merges.sortBy(_.rank)
    val lhs = Literal.create(sorted.map(_.lhs).toArray,
      ArrayType(StringType, containsNull = false))
    val rhs = Literal.create(sorted.map(_.rhs).toArray,
      ArrayType(StringType, containsNull = false))
    ColumnGlue.column(graft.expressions.BpeSymCount(
      ColumnGlue.expression(normCol), lhs, rhs))
  }
}
