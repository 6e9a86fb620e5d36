package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("every registered query runs at sf0.001 and returns rows") {
    // Edge-SAMPLED queries are legitimately empty at toy scale: sf0.001's
    // proximity graph has 16 edges, so a deterministic 1-in-16 sample can
    // (and does) select zero — the sampled subgraph, not a defect. Their
    // correctness is carried by the sf0.01 oracle compare (107 rows) and
    // the unsampled twin stays under the rows>0 check here.
    val emptyAtToyScale = Set("mb_weak_edges_sampled")
    Registry.all.foreach { d =>
      val n = d.fn(spark, sfDir).count()
      if (!emptyAtToyScale(d.name))
        assert(n > 0, s"${d.name} returned no rows")
    }
  }

  test("q1_agg groups by returnflag x linestatus with consistent counts") {
    val df = Registry.byName("q1_agg").fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length <= 9)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp")).count()
    assert(total == expected)
  }

  test("q_window keeps at most 5 ranked rows per segment") {
    val df = Registry.byName("q_window").fn(spark, sfDir)
    val perSeg = df.groupBy("c_mktsegment").count().collect()
    assert(perSeg.forall(_.getAs[Long]("count") <= 5))
    assert(df.agg(max("rnk")).head.getLong(0) <= 5L)
  }

  test("q_events_sessionize sessions partition the events") {
    val df = Registry.byName("q_events_sessionize").fn(spark, sfDir)
    val totalEvents = df.agg(sum("n_events")).head.getLong(0)
    assert(totalEvents == Tables(spark, sfDir, "events").count())
  }

  test("session_window merges an event exactly ON the gap boundary (oracle convention)") {
    import spark.implicits._
    // user 1: 0s and 1000s merge; 2800s sits exactly gap(1800s) after 1000s
    // and still MERGES (Spark needs a strictly larger gap to split); 4601s is
    // 1800s+1µs-free beyond 2801s → splits. The q_session_window oracle uses
    // the same strict `>` convention. No event in the test data sits exactly
    // on a boundary, so this spec is what pins the cross-engine convention
    // to Spark's actual semantics.
    val ev = Seq((1L, 0L), (1L, 1000L), (1L, 2800L), (1L, 4601L))
      .toDF("user_id", "off")
      .select(col("user_id"), timestamp_seconds(col("off") + 1700000000L).as("ts"))
    val sessions = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("sw.start")).as("start_us"), col("n"))
      .orderBy("start_us").collect()
    assert(sessions.length == 2, s"expected 2 sessions, got ${sessions.toSeq}")
    assert(sessions(0).getAs[Long]("n") == 3 && sessions(1).getAs[Long]("n") == 1)
    // and the registered query's sessions partition the events
    val df = Registry.byName("q_session_window").fn(spark, sfDir)
    assert(df.agg(sum("n_events")).head.getLong(0) == Tables(spark, sfDir, "events").count())
    // session bounds are consistent: end = last event + gap >= start + gap
    assert(df.filter(col("end_us") - col("start_us") < 1800L * 1000000L).count() == 0)
  }

  test("q_events_funnel matches a per-user scan and stages are monotone") {
    val row = Registry.byName("q_events_funnel").fn(spark, sfDir).head()
    val (nv, nc, np) = (row.getAs[Long]("n_view"),
      row.getAs[Long]("n_click_after"), row.getAs[Long]("n_purchase_after"))
    assert(nv >= nc && nc >= np)
    // naive per-user recomputation of the chained first-completion funnel
    val byUser = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().groupBy(_.getAs[Long]("user_id"))
    var (env, enc, enp) = (0L, 0L, 0L)
    byUser.values.foreach { evs =>
      def firstAfter(tpe: String, after: Long): Option[Long] = {
        val ts = evs.filter(e => e.getAs[String]("event_type") == tpe)
          .map(_.getAs[Long]("us")).filter(_ > after)
        if (ts.isEmpty) None else Some(ts.min)
      }
      firstAfter("view", Long.MinValue).foreach { v =>
        env += 1
        firstAfter("click", v).foreach { c =>
          enc += 1
          firstAfter("purchase", c).foreach(_ => enp += 1)
        }
      }
    }
    assert((nv, nc, np) == ((env, enc, enp)), s"got ($nv,$nc,$np) expected ($env,$enc,$enp)")
  }

  test("q_events_retention counts distinct returning users per cohort day") {
    val df = Registry.byName("q_events_retention").fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.forall(r => r.getAs[Long]("n_retained") <= r.getAs[Long]("n_signup")))
    // naive recompute
    val evs = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day")).collect()
    val day0 = evs.filter(_.getAs[String]("event_type") == "signup")
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> rs.map(_.getAs[Long]("day")).min }
    val retained = evs.filter { e =>
      day0.get(e.getAs[Long]("user_id")).exists { d0 =>
        val d = e.getAs[Long]("day"); d > d0 && d <= d0 + 7
      }
    }.map(e => (e.getAs[Long]("user_id"), day0(e.getAs[Long]("user_id")))).toSet
    val expected = day0.groupBy(_._2).map { case (d, us) =>
      d -> (us.size.toLong, retained.count(_._2 == d).toLong)
    }
    val got = rows.map(r => r.getAs[Long]("day0") ->
      (r.getAs[Long]("n_signup"), r.getAs[Long]("n_retained"))).toMap
    assert(got == expected, s"cohorts differ: $got vs $expected")
  }

  test("q_pivot equals the conditional-aggregation form") {
    val pivoted = Registry.byName("q_pivot").fn(spark, sfDir)
    // the decimal sum compared as a double, the type q_pivot emits
    def branch(v: String) =
      expr(s"coalesce(sum(CASE WHEN o_orderstatus = '$v' THEN ${Num.centsSql("o_totalprice")} END)/100.0, 0.0)")
        .cast("double")
    val manual = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("orderpriority"))
      .agg(branch("F").as("price_f"), branch("O").as("price_o"), branch("P").as("price_p"))
    assert(Gate.sameRows(pivoted, manual))
  }

  test("q_hierarchy pointer-doubling census equals a driver-side recursive walk") {
    val got = Registry.byName("q_hierarchy").fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("depth") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("min_node"),
          r.getAs[Long]("max_node"), r.getAs[Long]("n_roots"))).toMap
    // independent reference: literally walk the parent chain per node
    val md = java.security.MessageDigest.getInstance("MD5")
    def parent(k: Long): Long = {
      val hex = md.synchronized {
        md.reset(); md.digest(k.toString.getBytes("UTF-8"))
          .take(2).map(b => f"$b%02x").mkString
      }
      1 + java.lang.Long.parseLong(hex, 16) % (k - 1)
    }
    val keys = Tables(spark, sfDir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val walked = keys.map { k =>
      var cur = k; var d = 0L
      while (cur > 10) { cur = parent(cur); d += 1 }
      (k, cur, d)
    }
    val expected = walked.groupBy(_._3).map { case (d, xs) =>
      d -> (xs.length.toLong, xs.map(_._1).min, xs.map(_._1).max,
        xs.map(_._2).distinct.length.toLong)
    }
    assert(got == expected, s"hierarchy census differs: $got vs $expected")
  }

  test("q_gaps_islands streaks partition each user's distinct active days") {
    val df = Registry.byName("q_gaps_islands").fn(spark, sfDir)
    val totalDays = df.agg(sum("active_days")).head.getLong(0)
    val expected = Tables(spark, sfDir, "events")
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000"))
      .distinct().count()
    assert(totalDays == expected)
    assert(df.filter(col("longest_streak") > col("active_days")).count() == 0)
    assert(df.filter(col("n_streaks") > col("active_days")).count() == 0)
  }

  test("q_concurrency peak matches a naive per-day open-interval count") {
    val got = Registry.byName("q_concurrency").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("n_name") ->
        (r.getAs[Long]("peak_open"), r.getAs[Long]("peak_day"))).toMap
    val rows = Tables(spark, sfDir, "orders")
      .join(Tables(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(spark, sfDir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("sd"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = rows.groupBy(_._1).map { case (nation, xs) =>
      val days = xs.flatMap(x => Seq(x._2, x._2 + 30)).distinct.sorted
      val best = days.map(d =>
        (xs.count(x => x._2 <= d && d < x._2 + 30).toLong, d)).maxBy(t => (t._1, -t._2))
      nation -> best
    }
    assert(got == expected, s"concurrency differs: $got vs $expected")
  }

  test("q_asof_nearest picks the smaller absolute gap with backward ties") {
    val df = Registry.byName("q_asof_nearest").fn(spark, sfDir)
    assert(df.filter(col("gap_us") < 0).count() == 0)
    // every matched view's gap is minimal vs a naive all-pairs scan
    val ev = Tables(spark, sfDir, "events")
    val naive = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts")),
        col("user_id") === col("pu"), "left")
      .groupBy("event_id")
      .agg(min(abs(unix_micros(col("pts")) - unix_micros(col("ts")))).as("min_gap"))
    val joined = df.join(naive, "event_id")
    assert(joined.filter(col("gap_us") =!= col("min_gap")).count() == 0)
    assert(joined.filter(col("gap_us").isNull =!= col("min_gap").isNull).count() == 0)
  }

  test("q_window_sliding trailing sum matches a naive range self-join") {
    val df = Registry.byName("q_window_sliding").fn(spark, sfDir)
    val orders = Tables(spark, sfDir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      datediff(col("o_orderdate"), lit("1970-01-01")).as("d"),
      Num.cents(col("o_totalprice")).as("cents"))
    val naive = orders.as("a").join(orders.as("b"),
        col("a.o_custkey") === col("b.o_custkey") &&
          col("b.d") >= col("a.d") - 30 && col("b.d") <= col("a.d"))
      .groupBy(col("a.o_orderkey").as("o_orderkey"))
      .agg((sum(col("b.cents")) / 100.0).as("expected"))
    val joined = df.join(naive, "o_orderkey")
    assert(joined.filter(col("trailing_30d") =!= col("expected")).count() == 0)
    assert(joined.count() == orders.count())
  }
}
