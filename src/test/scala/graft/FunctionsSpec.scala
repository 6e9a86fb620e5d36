package graft

import graft.functions.{CosineSimilarity, Hashing, Sketches}
import graft.sources.Warehouse
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native expressions codegen-compile when fused twice in one stage") {
    // Round-1 regression: fixed Java local names collided when an expression
    // was fused twice into one whole-stage function; janino rejected the
    // class and Spark silently fell back to interpreted eval. With
    // codegen.fallback=false a compile failure is a hard error, so this test
    // proves the generated code actually compiles.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = Tables(spark, sfDir, "embeddings").limit(20)
      val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
      // one instance in the filter + two in the project, all in one stage
      val cos = a.join(b, col("i") < col("j"))
        .filter(CosineSimilarity(col("ea"), col("eb")) > lit(-2.0))
        .select(
          CosineSimilarity(col("ea"), col("eb")).as("s1"),
          CosineSimilarity(col("eb"), col("ea")).as("s2"))
      assert(cos.count() > 0)

      val hashed = Tables(spark, sfDir, "documents").limit(20)
        .select(col("doc_id"),
          expr("transform(split(trim(text), '\\\\s+'), t -> xxhash64(t))").as("hs"))
      val sk = hashed.select(
        Sketches.minhashSignature(col("hs"), 16).as("m1"),
        Sketches.minhashSignature(col("hs"), 8).as("m2"),
        Sketches.simhash64(col("hs")).as("h1"),
        Sketches.simhash64(reverse(col("hs"))).as("h2"))
      assert(sk.count() > 0)
      assert(sk.selectExpr("size(m1)", "size(m2)").head().getInt(0) == 16)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("sketch guards: >64 planes rejected, zero vectors get real cells") {
    // 65 planes would wrap 1L << p and alias plane 65 with plane 1
    intercept[IllegalArgumentException] {
      Sketches.hyperplaneBits(col("x"), Seq.fill(65)(Seq(1.0, -1.0)))
    }
    intercept[IllegalArgumentException] {
      Sketches.hyperplaneBits(col("x"), Nil)
    }
    // an all-zero vector must land in the minimum-norm cell, not cell -1
    // with NaN scores — in both interpreted and codegen'd paths
    import graft.functions.Centroids
    val cents = Seq(Seq(3.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0))
    val df = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 0f))).toDF("id", "v")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cells = df.select(col("id"), Centroids.nearest(col("v"), cents, 1).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).head).toMap
      assert(cells(1L) == 1, s"zero vector should take the min-norm cell, got $cells")
      assert(cells(2L) == 1)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("rowHash canonicalises nulls as NUL, matching the reference and oracle") {
    import graft.functions.Hashing
    val df = Seq(("a", Some("x")), ("b", None)).toDF("k", "v")
    val got = df.select(col("k"), Hashing.rowHash(df, Seq("k", "v")).as("h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val us = Hashing.UnitSep; val rs = Hashing.RecordSep
    assert(got("a") == sha(s"k${us}a${rs}v${us}x$rs"))
    assert(got("b") == sha(s"k${us}b${rs}v$us\u0000$rs"))
  }

  test("typed row hashing canonicalises binary/struct/array and supports xxh64") {
    import graft.functions.Hashing
    val df = Seq(
      (1L, Array[Byte](0xde.toByte, 0xad.toByte), Some((1, "a")), Some(Seq(1, 2, 3))),
      (2L, null.asInstanceOf[Array[Byte]], Option.empty[(Int, String)], Option.empty[Seq[Int]]))
      .toDF("k", "bin", "st", "arr")
    val cols = Seq("k", "bin", "st", "arr")
    val got = df.select(col("k"),
      Hashing.rowHashTyped(df, cols).as("h"),
      Hashing.rowHashTyped(df, cols, method = "xxh64").as("hx"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val us = Hashing.UnitSep; val rs = Hashing.RecordSep; val nul = "\u0000"
    val stJson = """{"_1":1,"_2":"a"}"""
    assert(got(1L)._1 ==
      sha(s"k${us}1${rs}bin${us}dead${rs}st$us$stJson${rs}arr${us}1,2,3$rs"))
    assert(got(2L)._1 ==
      sha(s"k${us}2${rs}bin$us$nul${rs}st$us$nul${rs}arr$us$nul$rs"))
    // xxh64: 16-char lowercase hex, deterministic, row-distinct
    assert(got.values.map(_._2).toSet.size == 2)
    assert(got.values.forall(v => v._2.matches("[0-9a-f]{16}")))
    intercept[IllegalArgumentException] {
      Hashing.rowHashTyped(df, cols, method = "md5")
    }
  }

  test("native cosine_sim matches the HOF formulation bit-for-bit") {
    val emb = Tables(spark, sfDir, "embeddings").limit(50)
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val pairs = a.join(b, col("i") < col("j"))
    val hof = expr(
      """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, p) -> a + p)
        | / (sqrt(aggregate(ea, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |  * sqrt(aggregate(eb, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin)
    val diff = pairs
      .withColumn("native", CosineSimilarity(col("ea"), col("eb")))
      .withColumn("hofv", hof)
      .filter(col("native") =!= col("hofv"))
    assert(diff.isEmpty)
  }

  test("damerau_levenshtein matches DuckDB-verified vectors and a driver reference") {
    // Every distance below was produced by DuckDB's damerau_levenshtein
    // (the oracle engine) — full Lowrance–Wagner variant over UTF-8
    // bytes: transpositions bridge edits ('CA'→'ABC' = 2, not OSA's 3),
    // 'éa' costs its two bytes.
    val vectors = Seq(
      ("", "", 0L), ("a", "", 1L), ("", "abc", 3L), ("ca", "ac", 1L),
      ("CA", "ABC", 2L), ("éa", "ea", 2L), ("abcdef", "abdcef", 1L),
      ("teh", "the", 1L), ("abc", "ca", 2L), ("a cat", "an act", 2L),
      ("xyz", "zyx", 2L), ("aabbcc", "ccbbaa", 4L),
      ("damerau", "levenshtein", 10L), ("ifhs", "fish", 2L),
      ("BADC", "ABCD", 2L), ("bdaae", "c", 5L), ("", "baaddaba", 8L),
      ("daeabeae", "abaebc", 5L), ("beaece", "ae", 4L), ("cae", "e", 2L),
      ("", "ded", 3L), ("dedcc", "bba", 5L), ("edcd", "eaae", 3L),
      ("bcbdda", "e", 6L), ("ccede", "aacdaac", 6L), ("cdcadcb", "d", 6L),
      ("", "cbb", 3L), ("ddabdd", "cbdecdcd", 5L), ("bab", "bb", 1L),
      ("", "ebccabd", 7L), ("ceecbeea", "eddddad", 7L), ("ababdb", "c", 6L),
      ("", "a", 1L), ("ea", "eaabe", 3L), ("bccecd", "a", 6L),
      ("dddcaba", "cdbea", 5L), ("ecb", "aecacecb", 5L), ("beeec", "ebb", 4L),
      ("bbedca", "", 6L), ("dcbe", "dccab", 3L))
    val df = vectors.toDF("a", "b", "want")
    val bad = df.withColumn("got", expr("damerau_levenshtein(a, b)"))
      .filter(col("got") =!= col("want"))
    assert(bad.isEmpty, bad.collect().mkString(", "))
    // invariants on random strings: symmetric, bounded by levenshtein
    // from below by |len diff|, and never more than plain levenshtein
    val rng = new scala.util.Random(91)
    val rand = Seq.fill(300)((
      rng.alphanumeric.take(rng.nextInt(10)).mkString,
      rng.alphanumeric.take(rng.nextInt(10)).mkString)).toDF("a", "b")
    val inv = rand.select(
      expr("damerau_levenshtein(a, b)").as("d"),
      expr("damerau_levenshtein(b, a)").as("ds"),
      expr("levenshtein(a, b)").cast("long").as("lev"),
      abs(length(col("a")) - length(col("b"))).cast("long").as("lo"))
    assert(inv.filter(col("d") =!= col("ds") || col("d") > col("lev") ||
      col("d") < col("lo")).isEmpty)
  }

  test("winnow_fingerprints matches the DuckDB oracle formulation exactly") {
    // Each expected set below is DuckDB's output for the oracle SQL the
    // dx_winnow_pairs gate runs (Karp-Rabin fold (h*131+b) % 1e9+7 over
    // k=8 grams, w=4 window minima, distinct) — the kernel must produce
    // the same SET of fingerprints (order is irrelevant downstream: the
    // array feeds explode -> posting joins).
    val vectors: Seq[(String, Seq[Long])] = Seq(
      ("the quick brown fox jumps over the lazy dog", Seq(51176257L, 115199380L, 151386197L, 186527843L, 203183807L, 257891742L, 379508465L, 420793582L, 438779543L, 488697818L, 506694683L, 508447348L, 593196786L, 642196226L, 664231751L, 758349309L, 763124639L)),
      ("abcdefghijklmnop", Seq(34292360L, 221032441L, 254182242L)),
      ("aaaaaaaaaaaa", Seq(443106138L)),
      ("short", Seq(103212062L)),
      ("x", Seq(120L)),
      ("the quick brown fox jumps over the lazy dog again and again and again", Seq(37636859L, 43064385L, 51176257L, 115199380L, 139068007L, 151386197L, 186527843L, 203183807L, 257891742L, 305868641L, 379508465L, 412974435L, 420793582L, 438779543L, 488697818L, 506694683L, 508447348L, 553575540L, 591528496L, 593196786L, 642196226L, 664231751L, 758349309L, 763124639L)),
      // Non-ASCII parity (r12 ADVICE): the kernel folds Unicode CODE
      // POINTS at CHARACTER positions — same as the oracle's
      // ord(substr(text, t, 1)) — so multi-byte text must match DuckDB
      // too (the old byte-fold diverged on every one of these).
      ("café au lait — déjà vu, naïve façade, über schön", Seq(20502582L, 57466192L, 73847608L, 89286924L, 109515724L, 187820955L, 211142204L, 228861362L, 241999584L, 278113268L, 305807150L, 331468125L, 349377523L, 440380754L, 457576833L)),
      ("日本語のテキストと English mixed コンテンツ", Seq(78972730L, 115698012L, 142438652L, 143146904L, 547747373L, 651996082L, 668690990L, 696559644L, 758245719L)),
      ("éa", Seq(30620L)),
      // empty text: kernel convention [0]; the oracle twin guards this
      // case explicitly (list_reduce of an empty list raises in DuckDB)
      ("", Seq(0L)))
    val got = vectors.map(_._1).toDF("text")
      .select(col("text"),
        graft.functions.WinnowFingerprints(col("text"), 8, 4).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    vectors.foreach { case (t, want) =>
      assert(got(t) == want, s"text '$t': got ${got(t)} want $want")
    }
    // winnowing guarantee on the real corpus: every planted mutated copy
    // shares at least one fingerprint with its original (shared prefix
    // >> k + w - 1 chars)
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(60)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), 8, 4)).as("fp"))
    val mut = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(60)
      .select((col("doc_id") + 1000000).as("doc_id"),
        expr("concat(substring(text, 1, length(text) - 10), ' tail')").as("text"))
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), 8, 4)).as("fp"))
    val shared = docs.join(mut, "fp")
      .filter(docs("doc_id") + 1000000 === mut("doc_id"))
      .select(docs("doc_id")).distinct().count()
    assert(shared == 60L, s"only $shared/60 planted copies share a fingerprint")
  }

  test("hash wire format matches the reference byte-for-byte") {
    import spark.implicits._
    // Vectors generated by replaying reference common/hash.py with
    // hashlib/base64 directly (the HashMethod.SHA256 path): row string
    // name␟value␞ per sorted column, sha256 per row, digest BYTES sorted
    // and concatenated, sha256 again; urlsafe base64 with padding.
    // hash_to_base64 / base64_to_hash (hash.py:27-37)
    val digest = Seq(1).toDF("x").select(
      Hashing.hashToBase64(unhex(lit("adf4a84426c4bf916745766e713396ba2ea0b36e571264dc0e547dab9b74ce0a"))).as("b64"))
      .head().getString(0)
    assert(digest == "rfSoRCbEv5FnRXZucTOWui6gs25XEmTcDlR9q5t0zgo=")
    val back = Seq(1).toDF("x").select(
      lower(hex(Hashing.base64ToHash(lit("rfSoRCbEv5FnRXZucTOWui6gs25XEmTcDlR9q5t0zgo=")))).as("h"))
      .head().getString(0)
    assert(back == "adf4a84426c4bf916745766e713396ba2ea0b36e571264dc0e547dab9b74ce0a")
    // hash_model_results (hash.py:220-223): sorted-pair collapse erases
    // orientation; both digest modes pinned
    val results = Seq((4L, 1L), (2L, 3L)).toDF("left_id", "right_id")
    val exact = Hashing.modelResultsHash(results, referenceExact = true).head()
    assert(exact.getString(0) ==
      "0c40a8e39b0cc26242f4546d26a74621b3f3f6d26a8079c1853aea635a9f6c69")
    assert(exact.getLong(1) == 4L)
    val portable = Hashing.modelResultsHash(results).head().getString(0)
    assert(portable ==
      "85be52662fa1cb5de9793df8700d9f3ae8b2fedd7d0b5b886fc00db710b9373c")
    val flipped = Hashing.modelResultsHash(
      Seq((1L, 4L), (3L, 2L)).toDF("left_id", "right_id"), referenceExact = true)
      .head().getString(0)
    assert(flipped == exact.getString(0), "orientation must not change the digest")
    // hash_clusters (hash.py:225-232): invariant to row order, parent
    // relabeling, duplicate membership rows
    val clusters = Seq((10L, 5L), (10L, 2L), (10L, 5L), (20L, 7L))
      .toDF("parent_id", "child_id")
    val ch = Hashing.clustersHash(clusters, referenceExact = true).head().getString(0)
    assert(ch == "7eedeeaac5bd873b7a018d1a2385350400a28b2797bed22be001142c3ebe3b66")
    val relabeled = Hashing.clustersHash(
      Seq((99L, 7L), (1L, 2L), (1L, 5L)).toDF("parent_id", "child_id"),
      referenceExact = true).head().getString(0)
    assert(relabeled == ch, "parent relabeling must not change the digest")
    // empty table marker (hash.py:178)
    val empty = Hashing.arrowTableHash(results.filter(lit(false))).head()
    assert(empty.getString(0) == "empty_table_hash" && empty.getLong(1) == 0L)
  }

  test("clustersHash two-pass ordinal is bit-identical to a global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 400 clusters of mixed sizes across many partitions — enough that the
    // range partitioner actually spreads them. The distributed ordinal
    // (range partition + per-partition rank + broadcast offsets) must
    // reproduce the single-partition `row_number() OVER (ORDER BY
    // child_ids)` digest exactly.
    val assignments = (0 until 2000)
      .map(i => ((i % 400).toLong, (i * 37 % 997).toLong))
      .toDF("parent_id", "child_id")
      .repartition(13)
    val fast = Hashing.clustersHash(assignments, referenceExact = true)
      .head().getString(0)
    val reference = {
      val canonical = assignments
        .groupBy("parent_id")
        .agg(sort_array(array_distinct(collect_list(col("child_id")))).as("child_ids"))
        .select(col("child_ids"),
          row_number().over(Window.orderBy(col("child_ids"))).cast("long")
            .as("cluster_ordinal"))
        .select(col("cluster_ordinal"), explode_outer(col("child_ids")).as("child_id"))
      Hashing.arrowTableHash(canonical, Nil, referenceExact = true).head().getString(0)
    }
    assert(fast == reference,
      "distributed ordinal must match the global-window reference digest")
  }

  test("all native functions register for SQL use") {
    Tables(spark, sfDir, "documents").limit(10).createOrReplaceTempView("docs_fn_test")
    val r = spark.sql(
      """SELECT minhash_signature(hs, 8) AS sig, simhash64(hs) AS sh,
        |  cosine_sim(array(1.0F, 2.0F), array(1.0F, 2.0F)) AS cs,
        |  interleave_bits(3L, 0L) AS z
        |FROM (SELECT transform(split(text, ' '), t -> xxhash64(t)) AS hs
        |      FROM docs_fn_test)""".stripMargin)
    val rows = r.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getSeq[Long](0).length == 8))
    assert(rows.forall(x => math.abs(x.getDouble(2) - 1.0) < 1e-12))
    assert(rows.forall(_.getLong(3) == 5L))
    // inputTypes coercion (r12 ADVICE): default INT array literals must be
    // cast to array<bigint> by analysis, not silently read as misaligned
    // longs — this call returned garbage before ExpectsInputTypes.
    val coerced = spark.sql(
      """SELECT sorted_intersect_count(array(1, 2), array(2, 3)) AS c,
        |  damerau_levenshtein('CA', 'ABC') AS d""".stripMargin).head()
    assert(coerced.getLong(0) == 1L)
    assert(coerced.getLong(1) == 2L)
  }

  test("functions and planner strategies load through spark.sql.extensions alone") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    def plans(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
      flatten(df.queryExecution.executedPlan)

    assert(spark.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(spark.experimental.extraStrategies.isEmpty)
    val edges = Seq((1L, 2L, 0.5, true), (1L, 3L, 0.7, false), (2L, 1L, 0.5, true))
      .toDF("id", "nbr", "sim", "fresh")
    val topK = graft.plans.TopK.perKey(edges, Seq("id"), "sim", 1)
    assert(plans(topK).exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      topK.queryExecution.executedPlan.toString)
    val merged = graft.plans.NnMerge.combine(edges, 1)
    assert(plans(merged).exists(_.isInstanceOf[graft.plans.NnMergeExec]),
      merged.queryExecution.executedPlan.toString)
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "v")
    val searched = graft.operators.ann.NnDescent.searchGraph(vecs, edges, vecs, "id", "v", 1,
      beam = 1, hops = 1, seeds = 1)
    assert(plans(searched).exists(_.isInstanceOf[graft.plans.GraphSearchExec]),
      searched.queryExecution.executedPlan.toString)
    // a descent round runs inside knnGraph's loop, whose frames are
    // checkpoints: find the exec in the plans the build executed
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val corpus = (1L to 8L).map(i => (i, Array(i.toFloat, 1f / i))).toDF("id", "v")
      graft.operators.ann.NnDescent.knnGraph(corpus, "id", "v", 1, iters = 1).collect()
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(executed.asScala.exists(p => flatten(p).exists(_.isInstanceOf[graft.plans.DescentRoundExec])),
      executed.asScala.mkString("\n"))
    assert(spark.experimental.extraStrategies.isEmpty)
    GraftExtensions.all.foreach { case (id, _, _) =>
      assert(spark.catalog.functionExists(id.funcName), id.funcName)
    }
  }

  test("cosine_sim registers for SQL use") {
    val emb = Tables(spark, sfDir, "embeddings").limit(5)
    emb.createOrReplaceTempView("emb_test")
    val n = spark.sql(
      "SELECT cosine_sim(a.embedding, b.embedding) AS s FROM emb_test a JOIN emb_test b")
      .filter(col("s").between(-1.000001, 1.000001)).count()
    assert(n == 25)
  }

  test("warehouse round-trips csv, json, parquet, orc and partitioned writes") {
    val dir = new java.io.File("target/warehouse-spec").getAbsolutePath
    val src = Tables(spark, sfDir, "nation")
    for (fmt <- Seq("parquet", "csv", "json", "orc")) {
      val p = s"$dir/$fmt"
      src.write.format(fmt).mode("overwrite").option("header", "true").save(p)
      val back = Warehouse.read(spark, fmt, p)
      assert(back.count() == src.count(), fmt)
    }
    Warehouse.writePartitioned(src, s"$dir/part", Seq("n_regionkey"))
    val pruned = Warehouse.read(spark, "parquet", s"$dir/part")
      .filter(col("n_regionkey") === 2)
    assert(pruned.count() == src.filter(col("n_regionkey") === 2).count())
    // partition pruning visible in the plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(src.count() > 0 && plan.nonEmpty)
  }

  test("typed Dataset facade round-trips operator outputs") {
    import graft.model._
    val edges = graft.operators.Dedupe.naive(
      Tables(spark, sfDir, "customer"), "c_custkey", Seq("c_nationkey", "c_mktsegment"))
      .asEdges
    val first = edges.head()
    assert(first.left_id < first.right_id && first.score == 1.0)
    val clusters = graft.operators.Components.connected(
      edges.toDF.select(col("left_id").as("src"), col("right_id").as("dst")))
      .asClusters
    assert(clusters.filter(c => c.component > c.id).isEmpty)
  }

  test("JDBC source round-trips via embedded Derby with pushdown and partitioned reads") {
    val dbDir = new java.io.File("target/derby-spec").getAbsolutePath
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
    Warehouse.writeJdbc(nation, url, "nation_jdbc",
      mode = org.apache.spark.sql.SaveMode.Overwrite, connectionProperties = props)

    // plain read
    val back = Warehouse.readJdbc(spark, url, "nation_jdbc", connectionProperties = props)
    assert(back.count() == nation.count())

    // partitioned read: 4 range-bounded parallel queries
    val parts = Warehouse.readJdbc(spark, url, "nation_jdbc",
      partitionColumn = Some("n_nationkey"), lowerBound = 0L, upperBound = 25L,
      numPartitions = 4, connectionProperties = props)
    assert(parts.rdd.getNumPartitions == 4)
    assert(parts.count() == nation.count())

    // filter + projection push into the remote SQL
    val filtered = parts.filter(col("n_regionkey") === 2).select("n_name")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(n_regionkey,2)"),
      s"expected JDBC filter pushdown in plan:\n$scan")
    assert(filtered.count() == nation.filter(col("n_regionkey") === 2).count())

    // explicit per-partition predicates (the date-shard pattern)
    val sharded = Warehouse.readJdbc(spark, url, "nation_jdbc",
      predicates = Seq("\"n_regionkey\" < 2", "\"n_regionkey\" >= 2"),
      connectionProperties = props)
    assert(sharded.rdd.getNumPartitions == 2 && sharded.count() == nation.count())
  }

  test("inferTypes dry-runs extract-transform SQL over JDBC and parquet, rejecting DDL/DML") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    // parquet-backed view: inferred types must equal the read schema
    Tables(spark, sfDir, "nation").createOrReplaceTempView("nation_it")
    val t1 = Warehouse.inferTypes(spark,
      "SELECT n_nationkey, n_name, n_nationkey + 1 AS nk2 FROM nation_it ;\n")
    assert(t1.map(_._1) == Seq("n_nationkey", "n_name", "nk2"))
    assert(t1(1)._2 == StringType)
    assert(t1(0)._2 == t1(2)._2) // derived column resolves to the key's type
    // JDBC-backed view (embedded Derby): schema comes from driver
    // metadata — a LIMIT-0 probe, no row fetch
    val dbDir = new java.io.File("target/derby-spec").getAbsolutePath
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Warehouse.writeJdbc(
      Tables(spark, sfDir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")),
      url, "nation_infer", mode = org.apache.spark.sql.SaveMode.Overwrite,
      connectionProperties = props)
    Warehouse.readJdbc(spark, url, "nation_infer", connectionProperties = props)
      .createOrReplaceTempView("nation_jdbc_it")
    val t2 = Warehouse.inferTypes(spark,
      "SELECT n_nationkey, n_name, CAST(n_nationkey AS DOUBLE) AS d FROM nation_jdbc_it")
    assert(t2 == Seq("n_nationkey" -> LongType, "n_name" -> StringType, "d" -> DoubleType))
    // reference contract: DDL and DML are rejected loudly
    for (bad <- Seq("DROP TABLE nation_it",
        "INSERT INTO nation_it VALUES (1)",
        "CREATE TABLE x (a INT) USING parquet"))
      intercept[Exception](Warehouse.inferTypes(spark, bad))
  }

  test("bucketed table write round-trips and keeps the bucket spec") {
    val src = Tables(spark, sfDir, "nation")
    Warehouse.writeBucketed(src, "nation_bucketed", Seq("n_nationkey"), numBuckets = 4,
      sortBy = Seq("n_nationkey"))
    try {
      val back = spark.table("nation_bucketed")
      assert(back.count() == src.count())
    } finally spark.sql("DROP TABLE IF EXISTS nation_bucketed")
  }

  test("driver table schemas match the contract every query is written against") {
    // r1 (codegen) and r10 (events timestamps) both broke on silent
    // driver-data changes; this pins the whole surface so a regeneration
    // fails HERE with a readable diff, not deep inside 30 query plans.
    // Timestamp columns accept any timestamp flavour (NTZ vs instant is an
    // encoding choice the loaders normalise); everything else is exact.
    import org.apache.spark.sql.types._
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))
    def isTimestamp(dt: DataType) =
      dt == TimestampType || dt == TimestampNTZType
    expected.foreach { case (table, cols) =>
      val got = Tables(spark, sfDir, table).schema
        .map(f => f.name -> f.dataType)
      assert(got.map(_._1) == cols.map(_._1),
        s"$table columns drifted: got ${got.map(_._1)}, expected ${cols.map(_._1)}")
      got.zip(cols).foreach { case ((name, g), (_, e)) =>
        val ok = g == e || (isTimestamp(g) && isTimestamp(e))
        assert(ok, s"$table.$name type drifted: got $g, expected $e")
      }
    }
  }

  test("Tables normalises every historical events.ts encoding to one timestamp") {
    // Driver data has shipped events.ts as parquet TIMESTAMP(NANOS)
    // (read as long under nanosAsLong), TIMESTAMP(MICROS) NTZ, and could
    // plausibly ship instant micros. Twice now a silent encoding change
    // broke live queries (r1 codegen, r10 timestamps) — pin the contract:
    // all three load to identical session-TZ TIMESTAMP values.
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
    val base = java.nio.file.Files.createTempDirectory("events_drift").toString
    val micros = Seq(1704067200000000L, 1704070800123456L, 1704074400999999L)
    val src = micros.toDF("us").select(
      timestamp_micros(col("us")).as("tsv"), col("us").as("payload"))

    // variant 1: instant TIMESTAMP(MICROS, adjusted=true)
    src.select(col("tsv").as("ts"), col("payload"))
      .write.mode("overwrite").parquet(s"$base/instant/events.parquet")
    // variant 2: TIMESTAMP_NTZ → parquet TIMESTAMP(MICROS, adjusted=false)
    src.select(col("tsv").cast(TimestampNTZType).as("ts"), col("payload"))
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    // variant 3: INT64 nanos (how Spark surfaces TIMESTAMP(NANOS) under
    // spark.sql.legacy.parquet.nanosAsLong — a plain long column is
    // byte-identical to that read path)
    src.select((col("payload") * 1000L).as("ts"), col("payload"))
      .write.mode("overwrite").parquet(s"$base/nanos/events.parquet")

    val loaded = Seq("instant", "ntz", "nanos").map { v =>
      val df = Tables(spark, s"$base/$v", "events")
      assert(df.schema("ts").dataType == TimestampType,
        s"$v: expected TimestampType, got ${df.schema("ts").dataType}")
      v -> df.select("ts", "payload").orderBy("payload")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    }.toMap
    assert(loaded("instant") == loaded("ntz"),
      s"instant vs ntz: ${loaded("instant")} != ${loaded("ntz")}")
    assert(loaded("instant") == loaded("nanos"),
      s"instant vs nanos: ${loaded("instant")} != ${loaded("nanos")}")
    // raw reads really did differ before normalisation
    assert(spark.read.parquet(s"$base/ntz/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$base/nanos/events.parquet")
      .schema("ts").dataType == LongType)
  }

  test("MatVec is bit-identical to the HOF spelling in codegen and interpreted paths") {
    import graft.functions.MatVec
    val m = Seq(Seq(0.5, -1.25, 3.0), Seq(2.0, 0.125, -0.75))
    val df = Seq(
      (1L, Seq(1.5f, -2.0f, 0.25f)),
      (2L, Seq(0f, 0f, 0f)),
      (3L, Seq(1e30f, -1e30f, 1f))).toDF("id", "v")
    val mLit = m.map(_.map(x => s"CAST($x AS DOUBLE)")
      .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
    val hof = df.select(col("id"), expr(
      s"""transform($mLit, row ->
         |  CAST(aggregate(zip_with(row, v, (w, x) -> w * CAST(x AS DOUBLE)),
         |    0D, (acc, t) -> acc + t) AS FLOAT))""".stripMargin).as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for (fallback <- Seq("false", "true")) {
      spark.conf.set("spark.sql.codegen.fallback", fallback)
      val forceInterp = fallback == "true"
      if (forceInterp) spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try {
        val got = df.select(col("id"), MatVec(col("v"), m).as("y"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        assert(got == hof, s"fallback=$fallback: $got != $hof")
      } finally if (forceInterp)
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // null vector stays null (nullIntolerant)
    val withNull = Seq((1L, Some(Seq(1f, 2f, 3f))), (2L, None)).toDF("id", "v")
    assert(withNull.select(MatVec(col("v"), m).as("y"))
      .filter(col("y").isNull).count() == 1)
  }

  test("descent round exec: exact sims, fresh-rule pair set") {
    // NN-Descent's local join must propose exactly the member pairs that
    // touch a fresh member, with sims bit-identical to the scalar
    // CosineSimilarity expression on the same vectors. Node -1 (no vector)
    // holds the 12 members in one neighbourhood; kBuild = 12 keeps every
    // proposal a member receives.
    val emb = Tables(spark, sfDir, "embeddings").limit(12)
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .withColumn("fresh", pmod(col("id"), lit(3)) === 0)
      .localCheckpoint(true)
    val hood = emb.select(lit(-1L).as("id"), col("id").as("nbr"), lit(0.0).as("sim"),
      col("fresh"))
    val pairs = graft.plans.DescentRound(hood, emb.select("id", "v"), 1, kBuild = 12, cap = 13)
      .filter(col("id") =!= -1L)
      .select(col("id").as("x"), col("nbr").as("y"), col("sim"), col("fresh"))
      .localCheckpoint(true)
    assert(pairs.filter(!col("fresh")).count() == 0, "a proposal entered stale")
    // pair set: both directions of every unordered pair with a fresh endpoint
    val ids = emb.select("id", "fresh").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val expected = (for {
      (a, fa) <- ids; (b, fb) <- ids
      if a != b && (fa || fb)
    } yield (a, b)).toSet
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"pair set mismatch: ${got.size} vs ${expected.size}")
    // sims: bit-identical to the scalar expression on the joined vectors
    val recomputed = pairs
      .join(emb.select(col("id").as("x"), col("v").as("vx")), "x")
      .join(emb.select(col("id").as("y"), col("v").as("vy")), "y")
      .filter(col("sim") =!= CosineSimilarity(col("vx"), col("vy")))
    assert(recomputed.count() == 0, "descent round sims differ from scalar cosine")
  }
}
