package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy max-munch subword encoder (the serving algorithm
  * of the BERT-family tokenizers, Devlin et al. 2019; Song et al. 2021
  * "Fast WordPiece Tokenization" analyses exactly this longest-match-first
  * walk). Where the unigram model ([[Unigram]]) Viterbi-decodes a min-cost
  * segmentation, the WordPiece encoder is COST-FREE at serving time: at
  * each position take the LONGEST vocabulary piece that matches, emit it,
  * advance — one linear pass per word.
  *
  * The piece inventory is the same seed vocabulary the unigram trainer
  * starts from (all single characters + the top-`Unigram.multiVocab`
  * multi-char substrings by (freq DESC, piece ASC)). Single-char coverage
  * guarantees the greedy walk always advances, so no UNK handling is
  * needed for in-contract words (length ≤ `Unigram.maxWord`, the horizon
  * the oracles unroll to). Matching is against the raw inventory;
  * continuation pieces carry the `##` prefix in the OUTPUT only (the wire
  * convention) — a single-inventory variant of WordPiece's split
  * initial/`##` vocabulary.
  *
  * Scale shape: the vocabulary is a bounded driver object (≤ chars +
  * multiVocab entries — the trie a production encoder broadcasts); the
  * segmentation is ONE pure fold expression per distinct word (no joins,
  * whole-stage codegen, deterministic on any partitioning), and the
  * corpus is only ever touched by the word-frequency collapse plus one
  * vocabulary-sized equi-join on the encode side.
  */
object WordPiece {

  /** Seed inventory shared with the unigram trainer: all single chars +
    * top-`Unigram.multiVocab` multi-char substrings by (freq DESC, piece),
    * substring mass weighted by word frequency and within-word
    * multiplicity exactly as [[Unigram.substringFreqs]] counts it.
    */
  def vocab(wf: DataFrame): Seq[String] = {
    val (sub, _) = graft.Ckpt.settle(Unigram.substringFreqs(wf)).head
    val chars = sub.filter(length(col("piece")) === 1)
      .collect().map(_.getString(0))
    val multi = sub.filter(length(col("piece")) > 1)
      .orderBy(desc("freq"), asc("piece")).limit(Unigram.multiVocab)
      .collect().map(_.getString(0))
    (chars ++ multi).toSeq.sorted
  }

  /** Greedy longest-match segmentation of a (w, …) frame; adds
    * `pieces: array<string>` with the `##` continuation prefix. The fold
    * accumulates the boundary sequence (consumed-prefix lengths); each of
    * the length(w) steps extends by the longest candidate length
    * (maxPiece…2) whose substring sits in the vocabulary, falling back to
    * the always-present single char.
    */
  def segment(words: DataFrame, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "wordpiece needs a non-empty vocabulary")
    val vLit = "array(" + vocab.sorted.map { p =>
      "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
    }.mkString(", ") + ")"
    val tries = (Unigram.maxPiece to 2 by -1).map { m =>
      s"""WHEN element_at(acc, -1) + $m <= length(w)
         |        AND array_contains($vLit,
         |          substring(w, element_at(acc, -1) + 1, $m)) THEN $m""".stripMargin
    }.mkString("\n      ")
    words
      .withColumn("bounds", expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  CAST(array(0) AS ARRAY<INT>),
           |  (acc, i) -> CASE WHEN element_at(acc, -1) < length(w)
           |    THEN concat(acc, array(element_at(acc, -1) + CASE
           |      $tries
           |      ELSE 1 END))
           |    ELSE acc END)""".stripMargin))
      .withColumn("pieces", expr(
        """transform(sequence(1, size(bounds) - 1),
          |  k -> concat(CASE WHEN k = 1 THEN '' ELSE '##' END,
          |    substring(w, element_at(bounds, k) + 1,
          |      element_at(bounds, CAST(k + 1 AS INT)) - element_at(bounds, k))))"""
          .stripMargin))
      .drop("bounds")
  }
}
