package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only data scaler: replicate an existing sf directory `factor`× with
  * disjoint key ranges, TPC-H style — fact/entity tables grow, the fixed
  * dimensions (region, nation) don't, and every foreign key is offset with
  * its parent so join selectivities and group cardinalities scale the way a
  * real 10× corpus would. Exists to measure one decade of scaling
  * (sf0.1 → sf1) for BASELINE.md's scale-evidence table; the driver's
  * official data stays untouched at /root/testdata.
  *
  * Usage: runMain graft.dev.ScaleUp <srcSfDir> <outDir> <factor> [mode]
  *
  * `mode` (default `verbatim`): `mutate` applies a per-copy content
  * variation so replicas are NOT verbatim copies (the r12 verdict's
  * ScaleUp ask — verbatim text replicas put every copy of a document in
  * one identical-text group, so TRUE near-dup pair output grows ~factor²
  * and any similarity operator's wall at sf10 measures replica artefact,
  * not operator). The variations are similarity-preserving bijections
  * WITHIN a copy and decorrelating ACROSS copies, so true-pair growth is
  * exactly linear (factor × the original pair set):
  *  - documents.text: every token gets the copy-indexed suffix `_i`
  *    (the testkit Scenario `Suffix` slot applied per token). A token
  *    bijection preserves every within-copy token/shingle equality — doc
  *    A_i vs B_i has the SAME shingle-jaccard as A vs B — while copy i
  *    and copy j ≠ i share no token at all.
  *  - embeddings.embedding: elementwise sign flip with signs drawn from
  *    xxhash64(copy, dim) parity. (A⊙s)·(B⊙s) = A·B, so within-copy
  *    cosines are bit-preserved up to multiplication order; cross-copy
  *    cosines collapse toward 0 under independent sign patterns.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, out, factorS, mode) = args match {
      case Array(a, b, c) => (a, b, c, "verbatim")
      case Array(a, b, c, m) => (a, b, c, m)
    }
    require(mode == "verbatim" || mode == "mutate" || mode == "cluster",
      s"unknown mode $mode")
    val factor = factorS.toInt
    require(factor >= 2, "factor must be >= 2")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // events.ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    // across driver data generations; nanosAsLong makes the nanos
    // generation readable (as INT64) and is harmless for micros. Either
    // way the replica round-trips an encoding graft.Tables normalises.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // next power of ten above the max key: offsets stay human-readable and
    // derived-key arithmetic in queries (3k, 3k+1 …) cannot collide
    def span(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key).cast("long"))).head().getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }

    val custS = span(read("customer"), "c_custkey")
    val suppS = span(read("supplier"), "s_suppkey")
    val partS = span(read("part"), "p_partkey")
    val ordS = span(read("orders"), "o_orderkey")
    val evS = span(read("events"), "event_id")
    val userS = span(read("events"), "user_id")
    val docS = span(read("documents"), "doc_id")
    val vecS = span(read("embeddings"), "vec_id")

    /** `factor` copies with per-copy key offsets (copy 0 = original);
      * `mutateCopy` optionally rewrites content columns per copy.
      */
    def replicate(t: String, offsets: Map[String, Long],
        mutateCopy: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = read(t)
      val copies = (0 until factor).map { i =>
        val keyed = offsets.foldLeft(base) { case (df, (c, s)) =>
          df.withColumn(c, (col(c) + lit(i * s)).cast(base.schema(c).dataType))
        }
        if (mode != "verbatim" && i > 0) mutateCopy(keyed, i) else keyed
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t x$factor done" +
        (if (mode == "mutate") " (mutated copies)" else ""))
    }

    def mutateText(df: DataFrame, i: Int): DataFrame =
      df.withColumn("text", expr(
        s"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_$i')))"))

    def mutateEmbedding(df: DataFrame, i: Int): DataFrame =
      df.withColumn("embedding", expr(
        s"""transform(embedding, (x, k) ->
           |  CASE WHEN pmod(xxhash64($i * 8192 + k), 2) = 0 THEN x
           |       ELSE -x END)""".stripMargin))

    /** `cluster` mode: copies are NEAR-duplicates — flip exactly the 2
      * hash-chosen sign positions of copy i, so copy i of vector A keeps
      * cosine ≈ (dim-4)/dim ≈ 0.94 to A (real-embedding near-dup regime:
      * the corpus becomes |base| tight 100-clusters), while A-vs-B
      * geometry within a copy is fully preserved. The `mutate` mode's
      * all-position parity flip decorrelates copies instead (uniform-
      * random regime — the ANN adversarial floor). */
    def clusterEmbedding(df: DataFrame, i: Int): DataFrame =
      df.withColumn("embedding", expr(
        s"""transform(embedding, (x, k) ->
           |  CASE WHEN k = pmod(xxhash64($i), 64)
           |         OR pmod(xxhash64($i * 8192 + k), 32) < 1 THEN -x
           |       ELSE x END)""".stripMargin))

    def copy(t: String): Unit = {
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t copied (fixed dimension)")
    }

    copy("region"); copy("nation")
    replicate("customer", Map("c_custkey" -> custS))
    replicate("supplier", Map("s_suppkey" -> suppS))
    replicate("part", Map("p_partkey" -> partS))
    replicate("orders", Map("o_orderkey" -> ordS, "o_custkey" -> custS))
    replicate("lineitem", Map("l_orderkey" -> ordS, "l_partkey" -> partS,
      "l_suppkey" -> suppS))
    replicate("events", Map("event_id" -> evS, "user_id" -> userS))
    replicate("documents", Map("doc_id" -> docS), mutateText)
    replicate("embeddings", Map("vec_id" -> vecS),
      if (mode == "cluster") clusterEmbedding else mutateEmbedding)
    spark.stop()
  }
}
