package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact-substring duplicate-span finder — the suffix-array
  * half of Lee et al. 2021 (arXiv:2107.06499 §4.1 "ExactSubstr",
  * "Deduplicating Training Data Makes Language Models Better") restated
  * set-at-a-time. The reference corpus-dedup surface stops at
  * whole-row/field hashing (`/root/reference/src/matchbox/common/hash.py`);
  * this is the published formulation the brief's canon adds at the span
  * scale the paper uses (50 tokens).
  *
  * The paper builds ONE suffix array over the concatenated corpus and
  * scans adjacent suffixes for LCP ≥ 50 tokens. The distributed
  * restatement keeps the suffix-ranking machinery but stops where the
  * semantics stop needing it:
  *
  *   - Prefix-doubling suffix ranks (Manber–Myers; pointer-doubling over
  *     DataFrames, the same compose-by-offset scheme `q_hierarchy` uses
  *     for paths — offsets add, ranks compose) computed only to depth
  *     B = the smallest power of two ≥ minLen/2. Two suffixes share a
  *     prefix of ≥ minLen tokens iff their depth-B ranks match at offsets
  *     0 and minLen−B: the two B-token halves overlap and cover
  *     [0, minLen). So the work is O(N · log minLen), NOT O(N · log N) —
  *     log₂32 = 5 doubling rounds for the paper's 50-token threshold.
  *   - Each round is one per-document `lead(rank, k)` window (documents
  *     are the natural partition: a duplicate span never crosses a
  *     document boundary, and end-of-document behaves as the suffix
  *     array's unique `$` terminator via a −1 sentinel) plus one dense
  *     re-assignment of class ids. Class id = min global position of the
  *     class, assigned by groupBy + join-back rather than a window-min:
  *     partial aggregation combines map-side, so the corpus's hottest
  *     rank class (every "the" at round 0) never lands on one reducer,
  *     and the join-back's hot keys are one-row on the build side — the
  *     AQE-skew-friendly shape. Ranks are EXACT equivalence classes of
  *     token sequences (no hashing anywhere), so results are
  *     bit-identical to the naive window-string comparison the DuckDB
  *     oracle runs.
  *   - Duplicated minLen-windows (rank-pair key occurring ≥ 2 times
  *     anywhere in the corpus, same-document repeats included) are merged
  *     per document into MAXIMAL spans: coverage intervals
  *     [pos, pos+minLen−1] merged when overlapping or adjacent — the
  *     lag/cumsum island scheme of `q_gaps_islands`.
  *
  * At 100 TB: token explosion is map-only; every shuffle is keyed by
  * (doc, pos) or by a rank pair, all O(N) rows with map-side combine; the
  * per-document windows distribute across documents (a document is
  * bounded, the corpus is not). The naive alternative — groupBy on the
  * raw 50-token window string — ships ~50× the corpus bytes into one
  * shuffle; the rank formulation ships two longs per position per round.
  */
object SuffixDedup {

  /** Tokenize + 1-based positions, the repo's whitespace convention
    * (`split(trim(text), '\s+')` — `string_split_regex` in the oracle).
    */
  private def tokenPositions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        expr(s"split(trim($textCol), '\\\\s+')").as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("tok"))

  /** Suffix rank table at depth `depth` (a power of two): (doc_id, pos,
    * gpos, r) where equal `r` ⟺ the suffixes' first min(depth, len)
    * tokens are equal and end-of-document alignment matches (the `$`
    * convention). Exposed for specs.
    */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String, depth: Int): DataFrame = {
    require(depth >= 1 && (depth & (depth - 1)) == 0,
      s"depth must be a positive power of two, got $depth")
    val toks = tokenPositions(docs, idCol, textCol)
    // Global-position encoding for class ids: gpos = doc_id << shift | pos
    // (shift sized from the measured longest document — one bounded agg).
    // Class ids stay exact longs; −1 is reserved as the past-end sentinel
    // (gpos ≥ 1 because pos is 1-based and doc ids are non-negative).
    val bounds = toks.agg(max("pos").as("mp"), max("doc_id").as("md"),
      min("doc_id").as("mind")).head()
    if (bounds.isNullAt(0)) // empty corpus: empty rank table, same schema
      return toks.select(col("doc_id"), col("pos"), lit(0L).as("gpos"),
        lit(0L).as("r"))
    val maxPos = bounds.getInt(0)
    val shift = 64 - java.lang.Long.numberOfLeadingZeros(maxPos.toLong)
    require(bounds.getLong(2) >= 0L, "doc ids must be non-negative")
    require(bounds.getLong(1) < (Long.MaxValue >> shift),
      s"doc_id ${bounds.getLong(1)} overflows the gpos encoding at shift $shift")
    val withG = toks.withColumn("gpos",
      shiftleft(col("doc_id"), shift) + col("pos"))
    // Each round's rank table is corpus-sized (one row per token), so the
    // rounds run through Ckpt.iterate (it drops round N−1's blocks once
    // round N exists — six retained copies of a 2.7 G-token replica OOM'd
    // the century bench) with DISK_ONLY blocks (bulk).
    // depth-1 ranks: token equivalence classes
    val ranks0 = withG
      .join(withG.groupBy("tok").agg(min("gpos").as("r")), "tok")
      .select(col("doc_id"), col("pos"), col("gpos"), col("r"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // round i doubles the depth from k = 2^(i−1) to 2k
    graft.Ckpt.iterate("suffix.rank", ranks0,
        Integer.numberOfTrailingZeros(depth), bulk = true) { (ranks, i) =>
      val paired = ranks.withColumn("r2",
        coalesce(lead(col("r"), 1 << (i - 1)).over(byDoc), lit(-1L)))
      val classes = paired.groupBy("r", "r2").agg(min("gpos").as("rn"))
      paired.join(classes, Seq("r", "r2"))
        .select(col("doc_id"), col("pos"), col("gpos"), col("rn").as("r"))
    }(graft.Ckpt.rows).frame
  }

  /** Smallest power of two B with 2B ≥ minLen (and B ≤ minLen), so the
    * halves at offsets 0 and minLen−B cover the window.
    */
  private def halfDepth(minLen: Int): Int = {
    var b = 1
    while (2 * b < minLen) b *= 2
    b
  }

  /** Every valid window start keyed by its equality class: (doc_id, pos,
    * ra, rb) where (ra, rb) equality ⟺ the minLen-token windows are
    * equal. Window key = overlapping depth-B rank halves; valid starts
    * only (pos ≤ len − minLen + 1), where both halves compare full
    * B-token prefixes.
    *
    * Exposed to the query layer: this table is the EXPENSIVE shared
    * artifact of the ExactSubstr family (the prefix-doubling rank
    * program) — both the cut-all and keep-one policies are cheap
    * aggregates over it ([[duplicateStartsFromKeys]] /
    * [[duplicateStartsKeepOneFromKeys]]), so a session can persist it
    * once and serve every dependent query from the persisted table.
    */
  private[graft] def windowKeys(docs: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 1, "minLen must be positive")
    val b = halfDepth(minLen)
    val ranks = suffixRanks(docs, idCol, textCol, b)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    ranks
      .withColumn("len", max("pos").over(Window.partitionBy("doc_id")))
      .withColumn("rb", lead(col("r"), minLen - b).over(byDoc))
      .filter(col("pos") <= col("len") - minLen + 1)
      .select(col("doc_id"), col("pos"), col("r").as("ra"), col("rb"))
  }

  /** Positions (doc_id, pos) that start a minLen-token window occurring
    * ≥ 2 times anywhere in the corpus (same-document repeats count).
    */
  def duplicateWindowStarts(docs: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    duplicateStartsFromKeys(windowKeys(docs, idCol, textCol, minLen))

  /** Cut-all policy over a (possibly persisted) [[windowKeys]] table. */
  private[graft] def duplicateStartsFromKeys(keyed: DataFrame): DataFrame = {
    val dupKeys = keyed.groupBy("ra", "rb").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("ra", "rb")
    keyed.join(dupKeys, Seq("ra", "rb"))
      .select(col("doc_id"), col("pos"))
  }

  /** Duplicated window starts EXCLUDING each window content's CANONICAL
    * occurrence — the keep-one policy of Lee et al.'s released tool
    * (cut every duplicate occurrence but leave one copy in the corpus),
    * vs [[duplicateWindowStarts]]' cut-all. Canonical = the
    * lexicographically-first (doc_id, pos) of the equality class, an
    * order-free deterministic choice (one struct-min per class, map-side
    * combinable — no window-function sort over the class).
    */
  def duplicateWindowStartsKeepOne(docs: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    duplicateStartsKeepOneFromKeys(windowKeys(docs, idCol, textCol, minLen))

  /** Keep-one policy over a (possibly persisted) [[windowKeys]] table. */
  private[graft] def duplicateStartsKeepOneFromKeys(keyed: DataFrame): DataFrame = {
    val canon = keyed.groupBy("ra", "rb")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("ra"), col("rb"),
        col("c.doc_id").as("cd"), col("c.pos").as("cp"))
    keyed.join(canon, Seq("ra", "rb"))
      .filter(col("doc_id") =!= col("cd") || col("pos") =!= col("cp"))
      .select(col("doc_id"), col("pos"))
  }

  /** One row per MAXIMAL duplicated span: merged coverage of all
    * duplicated minLen-windows per document. Columns: doc_id,
    * span_start, span_end (1-based token positions, inclusive),
    * n_tokens, n_windows (duplicated window starts merged into the span).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    mergeSpans(duplicateWindowStarts(docs, idCol, textCol, minLen), minLen)

  /** [[duplicateSpans]] under the keep-one policy: maximal coverage of
    * the NON-canonical duplicated windows only — the cut list whose
    * removal leaves one copy of every duplicated window in the corpus
    * (up to overlaps between distinct window classes, which the cut-all
    * variant suffers identically; the contract is the position-level
    * rule, stated exactly and replayed by the oracle).
    */
  def duplicateSpansKeepOne(docs: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    mergeSpans(duplicateWindowStartsKeepOne(docs, idCol, textCol, minLen), minLen)

  /** [[duplicateSpans]] from a persisted [[windowKeys]] table. */
  private[graft] def spansFromKeys(keyed: DataFrame, minLen: Int): DataFrame =
    mergeSpans(duplicateStartsFromKeys(keyed), minLen)

  /** [[duplicateSpansKeepOne]] from a persisted [[windowKeys]] table. */
  private[graft] def spansKeepOneFromKeys(keyed: DataFrame, minLen: Int): DataFrame =
    mergeSpans(duplicateStartsKeepOneFromKeys(keyed), minLen)

  private def mergeSpans(starts: DataFrame, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // Coverage intervals [pos, pos+minLen−1] merge iff the next start is
    // ≤ current end + 1, i.e. the gap between starts is ≤ minLen.
    val prev = lag(col("pos"), 1).over(byDoc)
    starts
      .withColumn("brk",
        when(prev.isNull || col("pos") - prev > minLen, 1).otherwise(0))
      .withColumn("island",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + minLen - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("n_tokens"),
        col("n_windows"))
  }
}
