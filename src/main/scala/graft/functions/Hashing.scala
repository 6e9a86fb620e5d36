package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content hashing, mirroring matchbox's canonicalisation
  * (reference: src/matchbox/common/hash.py:110 `hash_rows` — per column emit
  * `name␟value␞`, nulls become `\x00`, concatenate, hash) re-expressed with
  * Spark's codegen'd `sha2`/`concat` built-ins. Hex-string digests rather
  * than raw bytes so results are join/sort friendly and oracle-comparable.
  */
object Hashing {
  val UnitSep = "␟"   // ␟ between column name and value
  val RecordSep = "␞" // ␞ after each column

  /** sha256 hex of the matchbox row canonicalisation over `cols`.
    *
    * Nulls become NUL (`U+0000`), matching the reference
    * (common/hash.py:108 `fill_null("\x00")`) and the oracle twin's
    * `chr(0)`.
    *
    * Only pass columns whose string form is engine-portable (strings,
    * integers, dates formatted upstream): float→string formatting differs
    * across engines.
    */
  def rowHash(cols: Seq[(String, Column)]): Column = {
    val parts = cols.flatMap { case (name, c) =>
      Seq(lit(name), lit(UnitSep), coalesce(c.cast("string"), lit("\u0000")), lit(RecordSep))
    }
    sha2(concat(parts: _*), 256)
  }

  def rowHash(df: DataFrame, cols: Seq[String]): Column =
    rowHash(cols.map(n => n -> df(n)))

  /** SQL twin of [[rowHash]] for the DuckDB oracle. */
  def rowHashSql(cols: Seq[String]): String = {
    val parts = cols.flatMap { n =>
      Seq(s"'$n'", s"'$UnitSep'", s"coalesce(CAST($n AS VARCHAR), chr(0))", s"'$RecordSep'")
    }
    s"sha256(concat(${parts.mkString(", ")}))"
  }

  /** Type-aware canonicalisation of one column before hashing (reference:
    * common/hash.py:83-108 `process_column_for_hashing`): binary → lowercase
    * hex, struct → JSON, array → comma-joined element strings, everything
    * else → string cast; nulls → NUL after conversion. JSON / float string
    * forms follow each engine's formatter, so typed hashes are stable within
    * an engine (the reference has the same caveat between Polars versions).
    */
  def canonical(df: DataFrame, name: String): Column = {
    import org.apache.spark.sql.types._
    val c = df(name)
    val s = df.schema(name).dataType match {
      case BinaryType => lower(hex(c))
      case _: StructType => to_json(c)
      case ArrayType(_, _) => array_join(c.cast(ArrayType(StringType)), ",")
      case _ => c.cast("string")
    }
    coalesce(s, lit("\u0000"))
  }

  /** Row hash over typed columns with a selectable method — `sha256`
    * (reference HashMethod.SHA256) or `xxh64` (Spark's codegen'd `xxhash64`,
    * the public analogue of the reference's XXH3_128 default: same family,
    * 64-bit variant, an order of magnitude cheaper than sha2 on wide scans).
    */
  def rowHashTyped(df: DataFrame, cols: Seq[String], method: String = "sha256"): Column = {
    val parts = cols.flatMap { n =>
      Seq(lit(n), lit(UnitSep), canonical(df, n), lit(RecordSep))
    }
    method match {
      case "sha256" => sha2(concat(parts: _*), 256)
      case "xxh64" => lpad(lower(hex(xxhash64(concat(parts: _*)))), 16, "0")
      case other => throw new IllegalArgumentException(s"unsupported hash method: $other")
    }
  }

  /** Order-invariant cluster hash (reference: common/transform.py:67
    * `hash_cluster_leaves` — digest of the sorted leaf hashes joined by '|').
    * Sorting inside the aggregate makes the result independent of
    * partitioning, so clusters hash identically on any executor layout.
    */
  def clusterHash(leafHash: Column): Column =
    sha2(concat_ws("|", sort_array(collect_list(leafHash))), 256)

  def clusterHashSql(leafHashExpr: String): String =
    s"sha256(string_agg($leafHashExpr, '|' ORDER BY $leafHashExpr))"

  // ---- wire format (reference common/hash.py:27-37, 220-232) ----------

  /** URL-safe base64 of hash bytes — the wire form a matchbox client sees
    * (reference `hash_to_base64`: `base64.urlsafe_b64encode`, '+'→'-',
    * '/'→'_', padding kept). Byte-for-byte identical to the reference.
    */
  def hashToBase64(hashBytes: Column): Column =
    translate(base64(hashBytes), "+/", "-_")

  /** Inverse of [[hashToBase64]] (reference `base64_to_hash`; its
    * bytes-pass-through branch is the Column type system here — a binary
    * column never round-trips through this decoder).
    */
  def base64ToHash(value: Column): Column =
    unbase64(translate(value, "-_", "+/"))

  def hashToBase64Sql(binExpr: String): String =
    s"replace(replace(to_base64($binExpr), '+', '-'), '/', '_')"

  def base64ToHashSql(strExpr: String): String =
    s"from_base64(replace(replace($strExpr, '-', '+'), '_', '/'))"

  /** Whole-table content digest with the reference's full canonicalisation
    * (common/hash.py:160-218 `hash_arrow_table`): optional
    * `as_sorted_list` columns collapse to one sorted-list column (so
    * (1,2) and (2,1) hash alike), columns are taken in sorted-name order,
    * list columns explode one row per element (empty/null list → one null
    * row, polars `empty_as_null`), each row hashes over `name␟value␞`
    * fields, and the row digests are sorted and digested again — row
    * order, field order and partitioning all cancel out. An empty table
    * is the literal marker `empty_table_hash`, as in the reference.
    *
    * Two final-digest modes:
    *  - `referenceExact = true`: concatenate the sorted row-digest BYTES
    *    and sha256 those — byte-for-byte the reference's
    *    `HashMethod.SHA256` path (pinned against hashlib-derived vectors
    *    in FunctionsSpec);
    *  - `referenceExact = false` (default): sha256 over the sorted
    *    row-digest HEX string — same invariances, but computable by the
    *    DuckDB oracle, whose `sha256` only accepts VARCHAR.
    *
    * Like [[clusterHash]], the sorted-aggregate form is the semantic
    * contract; at 100 TB the digest list would tree-combine per
    * partition.
    *
    * @return one row: (table_hash, n_rows)
    */
  def arrowTableHash(
      df: DataFrame, asSortedList: Seq[String] = Nil,
      referenceExact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.ArrayType
    val base =
      if (asSortedList.isEmpty) df
      else {
        require(asSortedList.size >= 2,
          "as_sorted_list needs at least 2 column names (reference contract)")
        val missing = asSortedList.filterNot(df.columns.contains)
        require(missing.isEmpty, s"columns not found: ${missing.mkString(", ")}")
        df.withColumn("sorted_list", sort_array(array(asSortedList.map(col): _*)))
          .drop(asSortedList: _*)
      }
    val cols = base.columns.sorted.toSeq
    var flat = base.select(cols.map(col): _*)
    cols.foreach { c =>
      if (flat.schema(c).dataType.isInstanceOf[ArrayType])
        flat = flat.select(cols.map(cn =>
          if (cn == c) explode_outer(col(cn)).as(cn) else col(cn)): _*)
    }
    val parts = cols.flatMap(n => Seq(lit(n), lit(UnitSep), canonical(flat, n), lit(RecordSep)))
    val hexChain = concat_ws("", sort_array(collect_list(col("h"))))
    flat.select(sha2(concat(parts: _*), 256).as("h"))
      .agg(
        when(count(lit(1)) === 0, lit("empty_table_hash"))
          .otherwise(sha2(if (referenceExact) unhex(hexChain) else hexChain, 256))
          .as("table_hash"),
        count(lit(1)).as("n_rows"))
  }

  /** Fingerprint model results (reference `hash_model_results`):
    * [[arrowTableHash]] with left_id/right_id collapsed to a sorted pair,
    * so edge orientation cannot change the digest.
    */
  def modelResultsHash(results: DataFrame, referenceExact: Boolean = false): DataFrame =
    arrowTableHash(results, Seq("left_id", "right_id"), referenceExact)

  /** Fingerprint resolver cluster assignments by membership semantics
    * (reference `hash_clusters`): invariant to row order, parent_id
    * relabeling, and child order within a cluster. Canonical form: per
    * parent, the sorted distinct child set; clusters ranked by that list
    * (1-based `cluster_ordinal`); exploded back to rows and digested by
    * [[arrowTableHash]].
    */
  def clustersHash(assignments: DataFrame, referenceExact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grouped = assignments.select(col("parent_id"), col("child_id"))
      .groupBy("parent_id")
      .agg(sort_array(array_distinct(collect_list(col("child_id")))).as("child_ids"))
      .select("child_ids")
    // Global rank WITHOUT a single-partition window: cluster count is
    // O(corpus), so `row_number() OVER (ORDER BY child_ids)` — one row
    // per cluster, but ONE partition — is a driver-adjacent sort wall at
    // scale. Two-pass ordinal instead (the RangePartitioner discipline:
    // a bounded driver-side prepass steering a fully-distributed main
    // pass): range-partition by the sort key (global order across
    // partitions is the range partitioner's contract), count rows per
    // partition (a #partitions-sized collect — bounded by deployment,
    // never by data), broadcast the cumulative start offsets back as a
    // literal map, and add them to per-partition row numbers. The frame
    // is lineage-truncated so the count prepass and the rank pass share
    // one materialization. Bit-identical to the global window: keys are
    // distinct per cluster (a child set determines its cluster), and even
    // under duplicate-key ties the emitted (ordinal, child) multiset is
    // unchanged (spec-pinned in FunctionsSpec).
    val parts = math.max(grouped.sparkSession.sparkContext.defaultParallelism, 1)
    val (ranged, _) = graft.Ckpt.settle(
      grouped.repartitionByRange(parts, col("child_ids"))
        .withColumn("pid", spark_partition_id())).head
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] =
      counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2)).toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col("pid")), lit(0L))
    val canonical = ranged.withColumn("local_rn",
        row_number().over(Window.partitionBy(col("pid")).orderBy(col("child_ids"))))
      .select(col("child_ids"),
        (offExpr + col("local_rn")).cast("long").as("cluster_ordinal"))
      .select(col("cluster_ordinal"), explode_outer(col("child_ids")).as("child_id"))
    arrowTableHash(canonical, Nil, referenceExact)
  }
}
