package graft

/** Guards the driver contract: unique names, oracle keys subset of query
  * keys, entry wired to a registered query.
  */
class RegistrySpec extends SparkSpec {

  test("query names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no registered query plans a cartesian or unjustified nested-loop join") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}

    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })

    // A BNLJ is justified ONLY when its broadcast side is provably tiny by
    // construction — and the assertion checks the build side's actual plan
    // shape, so a regression elsewhere in the query can't hide behind the
    // exemption:
    // - scalar-aggregate broadcast (q22_idle_customers / dx_tfidf /
    //   dx_bm25_search): the ONE-row ungrouped corpus-stats aggregate
    //   crossed into every row — Spark's canonical uncorrelated-scalar plan.
    // - bounded query-set broadcast (dx_knn_brute, dx_knn_ivf probe): a
    //   single filtered scan with no joins/aggregates under the broadcast —
    //   the exact-baseline ANN shape.
    val scalarAggBuild: SparkPlan => Boolean = b => flatten(b).exists {
      case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
      case _ => false
    }
    val boundedScanBuild: SparkPlan => Boolean = b => {
      val nodes = flatten(b)
      !nodes.exists(_.isInstanceOf[BaseJoinExec]) &&
        !nodes.exists(_.isInstanceOf[BaseAggregateExec]) &&
        nodes.count(_.nodeName.contains("Scan")) <= 1
    }
    val bnljJustified: Map[String, SparkPlan => Boolean] = Map(
      "dx_knn_brute" -> boundedScanBuild,
      "dx_knn_ivf" -> boundedScanBuild,
      "dx_knn_pq" -> boundedScanBuild,
      // OPQ: same bounded query-set broadcast; the extra Exchange under the
      // build is the rotate stage's spread repartition, still one scan
      "dx_knn_opq" -> boundedScanBuild,
      "dx_knn_sq" -> boundedScanBuild,
      "q22_idle_customers" -> scalarAggBuild,
      // Σw quota denominator: one-row sum crossed into the per-language
      // weight table (replaced the single-partition sum(w) OVER () window)
      "dx_sample_temperature" -> scalarAggBuild,
      // mixing: one-row (total tokens, source count) crossed into the
      // per-source weight table
      "dx_mixture_weights" -> scalarAggBuild,
      // DoReMi-lite: one-row corpus loss total crossed into the per-source
      // table, then the one-row raw-sum normalizer crossed back in
      "dx_mixture_learned" -> scalarAggBuild,
      // snapshot diff: the one-row max(doc_id) aggregate crossed into the
      // re-appended slice (collision-free fresh ids, r16 advice)
      "dx_snapshot_diff" -> scalarAggBuild,
      "dx_tfidf" -> scalarAggBuild,
      "dx_bm25_search" -> scalarAggBuild,
      // LM normaliser: one-row corpus token count crossed into the stream
      "dx_perplexity" -> scalarAggBuild,
      // DSIR: one-row (target total, raw total) aggregate crossed into the
      // 256-row bucket count table
      "dx_dsir" -> scalarAggBuild,
      // NB prior: one-row train-doc total crossed into the per-class
      // doc-count table (the DSIR denominator shape)
      "dx_nb_classify" -> scalarAggBuild,
      // + the one-row tercile-threshold sketch crossed into the tagging
      "dx_perplexity_buckets" -> scalarAggBuild,
      // important-share HAVING: one-row (total, n_suppliers) aggregate
      // crossed into the per-supplier value table
      "q11_important_share" -> scalarAggBuild,
      // ARI: two one-row pair-count aggregates crossed into the cells row
      "mb_eval_ari" -> scalarAggBuild,
      // triangle stats: edge-count + triangle-count one-row aggregates
      // crossed into the (n_nodes, n_wedges) row
      "q_graph_triangles" -> scalarAggBuild,
      // wire-format digests: the one-row results-hash frame crossed into
      // the one-row clusters-hash frame
      "mb_hash_wire" -> scalarAggBuild,
      // DOULION twin of the same shape, over the sampled subgraph
      "q_graph_triangles_doulion" -> scalarAggBuild,
      // sweep: one-row cluster-census aggregate per threshold (x3)
      "mb_resolver_sweep" -> scalarAggBuild,
      // CMS: one-row corpus-total aggregate crossed into the estimate table
      "dx_cms_gate" -> scalarAggBuild,
      // RFM: one-row 9-quartile sketch aggregate crossed into the users
      "q_rfm_segments" -> scalarAggBuild,
      // blocking quality: |L|, |R|, |truth| one-row counts crossed into
      // the 3-row scheme census
      "mb_blocking_quality" -> scalarAggBuild,
      // meta-blocking WEP: the one-row (Σw, |E|) aggregate crossed into
      // the weighted pair table for the exact mean-threshold compare
      "mb_meta_blocking" -> scalarAggBuild,
      // resolution diff: four one-row census reductions crossed into the
      // single output row
      "mb_resolution_diff" -> scalarAggBuild,
      // ER flagship: the one-row match-edge count crossed into the census
      "mb_er_e2e" -> scalarAggBuild,
      // unlinkables: the 17-row literal threshold grid (a Range, not even
      // a scan) crossed into the per-record best-weight frame
      "mb_unlinkables" -> boundedScanBuild,
      "mb_unlinkables_sampled" -> boundedScanBuild,
      "dx_boilerplate" -> scalarAggBuild,
      // trained lang-ID prior: one-row train-doc total crossed into the
      // per-class doc-count table (the dx_nb_classify shape on the planted
      // truth set)
      "dx_lang_id_trained" -> scalarAggBuild)
    // dx_boilerplate legitimately crosses TWO one-row aggregates into the
    // per-document pass: the corpus count (threshold) and the collected
    // common-token set — each build must still prove the scalar-agg shape
    val maxBnljs = Map("dx_boilerplate" -> 2, "mb_eval_ari" -> 2,
      "dx_mixture_learned" -> 2,
      "q_graph_triangles" -> 2, "q_graph_triangles_doulion" -> 2,
      "dx_perplexity_buckets" -> 2, "mb_resolution_diff" -> 3,
      "mb_resolver_sweep" -> 3, "mb_blocking_quality" -> 5).withDefaultValue(1)

    Registry.all.foreach { d =>
      val plan = d.fn(spark, sfDir).queryExecution.executedPlan
      val nodes = flatten(plan)
      assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
        s"${d.name} plans a CartesianProduct")
      val bnljs = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
      bnljs.foreach { j =>
        val ok = bnljJustified.get(d.name)
        assert(ok.isDefined, s"${d.name} plans an unjustified BroadcastNestedLoopJoin")
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        assert(ok.get(build),
          s"${d.name}: BNLJ build side is not the justified tiny shape:\n$build")
      }
      assert(bnljs.size <= maxBnljs(d.name),
        s"${d.name} plans ${bnljs.size} BNLJs (max ${maxBnljs(d.name)} justified)")
    }
  }

  test("dag config round-trips through JSON and rebuilds identical results") {
    import graft.dags._
    val spec = DagSpec(Seq(
      SourceSpec("customers", s"$sfDir/customer.parquet",
        select = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")),
      ModelSpec("dupes", "dedupe_naive", Seq("customers"),
        leftId = "c_custkey", uniqueFields = Seq("c_nationkey", "c_mktsegment")),
      ModelSpec("links", "link_weighted", Seq("customers", "customers"),
        leftId = "c_custkey",
        comparisons = Seq(
          ComparisonSpec("l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment",
            weight = Some(0.7)),
          ComparisonSpec("l.c_nationkey = r.c_nationkey AND abs(l.c_acctbal - r.c_acctbal) < 10",
            weight = Some(0.3))),
        threshold = Some(0.5)),
      ResolverSpec("clusters", Seq("dupes", "links"),
        thresholds = Map("links" -> 0.6))))

    val json = DagConfig.toJson(spec)
    val rehydrated = DagConfig.fromJson(json)
    assert(rehydrated == spec, "JSON round-trip must preserve the spec exactly")

    val r1 = DagConfig.build(spark, spec).run()
    val r2 = DagConfig.build(spark, rehydrated).run()
    assert(r1.keySet == Set("customers", "dupes", "links", "clusters"))
    for (step <- r1.keySet) {
      assert(r1(step).except(r2(step)).isEmpty && r2(step).except(r1(step)).isEmpty,
        s"step $step differs after config rebuild")
    }
    assert(r1("clusters").count() > 0)
    // a model kind outside the spec surface fails loudly, not silently
    intercept[IllegalArgumentException] {
      DagConfig.build(spark, DagSpec(Seq(
        SourceSpec("s", s"$sfDir/nation.parquet"),
        ModelSpec("bad", "no_such_kind", Seq("s"), leftId = "n_nationkey")))).run()
    }
    // and so does a linker without comparisons, naming the model
    Seq("link_deterministic", "link_weighted", "link_fellegi_sunter").foreach { kind =>
      val e = intercept[IllegalArgumentException] {
        DagConfig.build(spark, DagSpec(Seq(
          SourceSpec("s", s"$sfDir/nation.parquet"),
          ModelSpec("bare", kind, Seq("s", "s"), leftId = "n_nationkey",
            blocking = Some("l.n_regionkey = r.n_regionkey"))))).run()
      }
      assert(e.getMessage.contains("bare: linker needs at least one comparison"),
        s"$kind: ${e.getMessage}")
    }
  }

  test("dag step fingerprints are content hashes: stable, order-invariant") {
    val dag = new graft.dags.Dag
    dag.source("src") { Tables(spark, sfDir, "nation") }
    dag.model("m", Seq("src"))(deps => deps("src").select("n_nationkey", "n_name"))
    intercept[IllegalStateException](dag.fingerprint("m")) // not materialised yet
    dag.run()
    val fp = dag.fingerprint("m")
    assert(fp.length == 64) // sha256 hex
    // re-running from the source rebuilds the result; same content → same fp
    dag.runFrom("src")
    assert(dag.fingerprint("m") == fp)
    // row order must not matter; different content must
    val dag2 = new graft.dags.Dag
    dag2.source("src") { Tables(spark, sfDir, "nation") }
    dag2.model("m", Seq("src"))(deps =>
      deps("src").orderBy(org.apache.spark.sql.functions.col("n_name").desc)
        .select("n_nationkey", "n_name"))
    dag2.model("m2", Seq("src"))(deps => deps("src").select("n_nationkey", "n_regionkey"))
    dag2.run()
    assert(dag2.fingerprint("m") == fp, "row order changed the fingerprint")
    assert(dag2.fingerprint("m2") != fp)
  }

  test("dag draw renders tree and list with execution status") {
    val dag = new graft.dags.Dag
    dag.source("src") { Tables(spark, sfDir, "nation") }
    dag.model("m", Seq("src"))(deps => deps("src").limit(5))
    dag.resolver("r", Seq("m"))(deps => deps("m").limit(1))
    val before = dag.draw()
    assert(before ==
      """[ ] resolver r
        |└── [ ] model m
        |    └── [ ] source src""".stripMargin, s"got:\n$before")
    assert(dag.draw("list") == "1. [ ] source src\n2. [ ] model m\n3. [ ] resolver r")
    dag.run()
    assert(dag.draw().linesIterator.forall(_.contains("[x]")), "all steps materialised")
    intercept[IllegalArgumentException](dag.draw("graph"))
  }

  test("dag runs from a step, invalidating only dependents") {
    val dag = new graft.dags.Dag
    var builds = List.empty[String]
    dag.source("src") { builds ::= "src"; Tables(spark, sfDir, "nation") }
    dag.model("m", Seq("src")) { deps => builds ::= "m"; deps("src").limit(5) }
    dag.resolver("r", Seq("m")) { deps => builds ::= "r"; deps("m").limit(1) }
    dag.run()
    assert(builds.reverse == List("src", "m", "r"))
    builds = Nil
    dag.runFrom("m")
    assert(builds.reverse == List("m", "r"), "src must stay cached")
    assert(dag.describe.map(s => (s._1, s._2)) ==
      Seq(("src", "source"), ("m", "model"), ("r", "resolver")))
    assert(dag.describe.forall(_._4))
  }

  test("source sampling is a deterministic top-k, not a full sort") {
    import graft.sources.Warehouse
    val cust = Tables(spark, sfDir, "customer")
    val s1 = Warehouse.sampleRows(cust, 10, Seq("c_custkey"))
    val s2 = Warehouse.sampleRows(cust, 10, Seq("c_custkey"))
    assert(s1.count() == 10)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("oracle SQL references only known tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // crude check: every FROM/JOIN bare identifier is a known table or CTE
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // CTE names, including recursive CTEs with a column list: name(a, b) AS (
      val ctes = "(?i)(\\w+)\\s*(?:\\([^)]*\\))?\\s+AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- tables -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }
}
