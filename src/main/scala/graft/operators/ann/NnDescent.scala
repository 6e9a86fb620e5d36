package graft.operators.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NN-Descent k-NN graph construction (Dong, Moses & Li, WWW 2011,
  * "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures") — the graph member of the ANN family, and the
  * construction step under graph-ANN serving indexes (HNSW's layer-0
  * neighborhoods are exactly a refined k-NN graph; pointer-chasing HNSW
  * search itself is sequential and belongs on the serving node, while
  * BUILDING the graph over a corpus is the cluster-scale job this
  * operator does).
  *
  * The algorithm's local rule — "a neighbor of a neighbor is likely a
  * neighbor" — is join-shaped, which is why it distributes where graph
  * descent does not:
  *
  *  1. init: each vector gets up to k pseudo-random neighbors — its
  *     successor in each of k independently-salted hash orders
  *     (per-salt bucketed windows, the sorted-neighborhood device from
  *     `Link.sortedNeighborhood`, so no global sort). One salted order
  *     alone would leave the graph a set of disconnected bucket-chains
  *     that wedges can never bridge (descent is then capped at
  *     within-component recall — observed, not theoretical); the union
  *     of k independent orders is connected w.h.p., which is what the
  *     paper's uniform random init actually buys. Buckets are sized
  *     from the corpus count so window partitions stay O(k) rows
  *     regardless of scale;
  *  2. each round: candidates = wedges through the CAPPED forward ∪
  *     reverse neighborhood (the paper's ρ·k sampling — per-node work is
  *     bounded at cap², hubs can't go quadratic), restricted to wedges
  *     touching at least one edge added in the LAST round (the paper's
  *     incremental rule: an old×old pair was already proposed in the
  *     round that made both edges old — §2.3's "local join on new
  *     items"); each unordered pair is scored ONCE with the native
  *     cosine kernel and emitted in both directions, merged with the
  *     current graph, top-k kept per node via the bounded-heap TopK
  *     operator (no per-group sort);
  *  3. rounds are O(1) (the paper observes ~4-5 to convergence);
  *     per-round lineage is truncated (Ckpt) like every iterative
  *     operator here.
  *
  * Per-round cost: |V|·cap² candidate wedges through two equi-joins in
  * round 1, decaying with the new-edge fraction in later rounds (the
  * incremental rule is what makes round 4 cost a fraction of round 1 —
  * measured 3-10× total-work reduction at convergence) — linear in
  * corpus for fixed k/cap, every shuffle on node id. No similarity
  * structure is assumed (the paper's "generic measures"), so this also
  * serves metric spaces the bucketing families (LSH/IVF) cannot hash.
  */
object NnDescent {

  /** The directed k-NN graph: (id, nbr, sim), k rows per id.
    *
    * @param cap0 neighborhood sample bound per node per round (ρ·k in the
    *   paper; wedge work is Σ cap², so this is the scale knob). 0 (the
    *   default) derives cap = 2·kBuild — full forward lists plus an
    *   equal-size reverse sample; a fixed default equal to kBuild would
    *   silently degenerate the reverse sample to max(cap−kBuild,1)=1 and
    *   descent would lose nearly all reverse wedges (r14 ADVICE). An
    *   explicit cap must exceed kBuild for the same reason.
    * @param kBuild internal list size during descent (returned graph is
    *   truncated to k). On weak-structure corpora the k-sized heuristic
    *   hits a fixed point well short of the true graph (measured: 0.68
    *   top-5 recall flat from round 6 onward at kBuild=k); doubling the
    *   construction lists gives the wedge pool enough diversity to escape
    *   it (0.92 by round 4, same corpus). Classic accuracy/work dial —
    *   wedge cost scales with min(cap, kBuild+rev)².
    */
  /** @param iters MAX descent rounds; the loop exits early when a round
    *   adds fewer than `delta`·k·n fresh edges (the paper's δ-termination,
    *   §2.2 — on structured corpora descent converges in 2-3 rounds and
    *   later rounds are pure cost, on unstructured ones fresh stays high
    *   and all `iters` rounds run)
    */
  def knnGraph(
      targets: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 4, cap0: Int = 0, kBuild0: Int = 0,
      delta: Double = 0.001): DataFrame = {
    val kBuild = if (kBuild0 > 0) kBuild0 else 2 * k
    val cap = if (cap0 > 0) cap0 else 2 * kBuild
    require(k >= 1 && iters >= 1 && cap > kBuild && kBuild >= k)
    val vecs = targets
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .localCheckpoint(false) // scanned 2× per round
    val n = vecs.count()
    val init = initEdges(vecs, n, kBuild)
    // `fresh` marks edges added in the latest merge — only wedges touching
    // a fresh edge are scored next round (the paper's incremental rule)
    var nn = score(init, vecs).withColumn("fresh", lit(true))
    nn = graft.plans.TopK.perKey(nn, Seq("id"), "sim", kBuild,
      tieCols = Seq("nbr")).drop("rank")
    nn = graft.Ckpt.truncate(nn)
    val done = descend(nn, vecs, k, kBuild, iters, cap, delta, termN = n)
    if (kBuild == k) done
    else graft.plans.TopK.perKey(done, Seq("id"), "sim", k,
      tieCols = Seq("nbr")).drop("rank")
  }

  /** Init edges (id, nbr): each node's successor in each of kBuild
    * independent orders.
    *
    * Half the orders are salted-random chains (the union keeps the init
    * graph connected w.h.p. — one order alone is disconnected
    * bucket-chains, the r13 lesson). The other half are RANDOM-HYPERPLANE
    * LSH orders (EFANNA's insight, restated set-at-a-time): successor
    * within a 16-plane signature bucket, so geometrically-close vectors
    * start out adjacent. On clustered corpora this is what lets descent
    * bootstrap at all — with purely random init a node's ~iters·cap²
    * candidate draws are uniform over the corpus, so at 200 k nodes in
    * ~2 000 tight clusters the expected true-neighbor hits are ~2 of k=10
    * and the wedge epidemic never ignites inside clusters (measured:
    * graph-search recall 0.0 at 100×); one colliding bucket-mate per
    * cluster ignites it.
    */
  private def initEdges(vecs: DataFrame, n: Long, kBuild: Int): DataFrame = {
    val buckets = math.max(1L, n / (4L * kBuild))
    val nPlanes = 16
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    // giant-bucket guard: a degenerate corpus (everything one signature)
    // must not become one unbounded window — sub-split signatures so the
    // expected worst window stays O(kBuild); inert below ~5e9 rows
    val subSplit = math.max(1L, n / ((1L << nPlanes) * 4L * kBuild))
    val half = math.max(1, kBuild / 2)
    val rndOrders = vecs.select(col("id"))
      .withColumn("salt", explode(array((1 to half).map(lit): _*)))
      .withColumn("h", xxhash64(col("id"), col("salt")))
      .withColumn("bkt", pmod(col("h"), lit(buckets)))
    val lshCols = (half + 1 to kBuild).map { s =>
      struct(lit(s).as("salt"),
        Knn.lshBucket("v", nPlanes, dim, planeOffset = s * nPlanes).as("sig"))
    }
    // kBuild=1 leaves no LSH orders (half=1 claims the only slot) — skip
    // the union rather than analyze-fail on an empty array() (r14 ADVICE)
    val lshOrders = if (lshCols.isEmpty) None else Some(vecs
      .select(col("id"), explode(array(lshCols: _*)).as("e"))
      .withColumn("salt", col("e.salt"))
      .withColumn("h", xxhash64(col("id"), col("salt")))
      .withColumn("bkt",
        col("e.sig") * lit(subSplit) + pmod(col("h"), lit(subSplit)))
      .select("id", "salt", "h", "bkt"))
    val w = Window.partitionBy("salt", "bkt").orderBy("h", "id")
    val orders = rndOrders.select("id", "salt", "h", "bkt")
    lshOrders.fold(orders)(orders.unionByName)
      .withColumn("nbr", lead(col("id"), 1).over(w))
      .filter(col("nbr").isNotNull && col("nbr") =!= col("id"))
      .select("id", "nbr").distinct()
  }

  /** The descent loop (the paper's §2.1 main iteration): takes the current
    * graph `nn0` — (id, nbr, sim, fresh), per-node lists already capped at
    * kBuild — and runs up to `iters` rounds of capped local joins, merging
    * proposals and re-truncating per node each round. `termN` is the
    * δ-termination base (corpus size for a full build; DELTA size for an
    * incremental update, where fresh counts are small from the start).
    * Returns the converged kBuild-lists graph (id, nbr, sim).
    */
  private def descend(
      nn0: DataFrame, vecs: DataFrame, k: Int, kBuild: Int, iters: Int,
      cap: Int, delta: Double, termN: Long): DataFrame = {
    var nn = nn0
    var converged = false
    for (r <- 1 to iters if !converged) {
      val fwd = nn.select("id", "nbr", "fresh")
      val rev = fwd.select(col("nbr").as("id"), col("id").as("nbr"),
        col("fresh"))
      // neighborhood = ALL k forward neighbors (the current best — the
      // descent direction, never sampled away) ∪ a capped reverse sample
      // (deterministic per-round: smallest round-salted hashes — the ρ·k
      // device; rev is the unbounded side, hubs are what the cap bounds)
      // the round number rides as a ScalarRef (a true codegen reference
      // object, same int value hashed): inlining `lit(r)` — or the earlier
      // `element_at(lit(Array(r)), 1)`, which Catalyst constant-folds right
      // back to `lit(r)` — changed the generated source every round,
      // forcing a fresh Janino compile of this stage per round per build
      val revCapped = graft.plans.TopK.perKey(
        rev.withColumn("hs",
          xxhash64(col("nbr"), graft.functions.ScalarRef.int(r))),
        Seq("id"), "hs", math.max(cap - kBuild, 1),
        descending = false, tieCols = Seq("nbr"))
        .select("id", "nbr", "fresh")
      // same neighbor can arrive via fwd and rev with different flags —
      // treat it as fresh if either route is. This dedup exchange was
      // MEASURED as a candidate for removal (the kernel can dedup members
      // in-core, r19): killing it saved 4 scheduler jobs but the fwd∩rev
      // overlap then shipped its VECTOR twice through the members
      // exchange — +27 MB/build at sf0.1 (~4 KB/node/round at any scale)
      // against ~1.5 KB/node of small rows saved. Worse at 100 TB, so the
      // dedup stays ahead of the vector attach.
      val capped = fwd.unionByName(revCapped)
        .groupBy("id", "nbr").agg(max("fresh").as("fresh"))
      // local join (the paper's §2.3): assemble each node's neighborhood
      // WITH vectors (one vector ship per member — cap rows/node), then
      // score every within-block pair in core via the native block kernel.
      // The alternative — materialize a wedge frame and equi-join vector
      // payloads onto it — ships two ~256 B vectors per cap²/2 pair row
      // (~40 GB/round at 200 k nodes, the measured sf10m wall); blocks cut
      // that shuffle by a factor of cap/2. A pair surfacing from several
      // nodes is re-scored (exact, identical sim) instead of pre-deduped:
      // a 64-dim dot is cheaper than the distinct shuffle it would avoid,
      // and the merge aggregation dedups anyway.
      val blocks = capped
        .join(vecs.select(col("id").as("nbr"), col("v")), "nbr")
        .groupBy("id")
        .agg(collect_list(struct(col("nbr"), col("fresh"), col("v")))
          .as("members"))
      // emits only pairs touching a fresh edge (old×old pairs were
      // proposed in the round that made them old — the incremental rule).
      // Both directions come out of ONE explode over the scored pair: the
      // earlier two-select union re-evaluated everything above the block
      // exchange — the collect_list final agg and the pairwise kernel —
      // once per branch (exchange reuse dedups only the shuffle itself),
      // doubling the round's dominant compute (measured: dx_knn_graph
      // 64 task-CPU-s, ~half of it the duplicate branch).
      val proposals = bothDirections(blocks
        .select(explode(graft.functions.PairwiseCosine(col("members")))
          .as("p"))
        .select(col("p.x").as("id"), col("p.y").as("nbr"),
          col("p.sim").as("sim")))
      // age the current graph (its fresh edges were just explored), then
      // merge: a proposal duplicating an existing edge stays old (min),
      // a genuinely new edge enters fresh
      nn = graft.Ckpt.truncate(mergeTopK(nn, proposals, kBuild))
      // δ-termination: the count doubles as the round's materialization
      // point (truncate is lazy), so each round's blocks land exactly once.
      // The count runs on EVERY round including the last — skipping the
      // final round's count (tried in r19: the converged flag is dead
      // there, one job saved per descend) hands the UNMATERIALIZED lazy
      // checkpoint to the caller, whose first action materializes it from
      // several AQE threads at once (a shuffle-stage submission and a
      // broadcast collect), and that concurrent first materialization of
      // one lazy localCheckpoint can deadlock the driver (observed: the
      // DAGScheduler event loop holding the RDD lock wanting the
      // RDDCheckpointData lock, a broadcast-exchange thread holding the
      // reverse — a hung graft.Verify). One scheduler job is not worth a
      // driver hang; the count guarantees single-threaded materialization.
      val freshCnt = nn.filter(col("fresh")).count()
      if (sys.env.contains("GRAFT_NND_DEBUG"))
        System.err.println(s"[nnd] round $r fresh=$freshCnt termN=$termN " +
          s"thresh=${(delta * k * termN).toLong.max(1L)}")
      if (freshCnt < (delta * k * termN).toLong.max(1L)) converged = true
    }
    nn.drop("fresh")
  }

  /** The merge shared by the descent round, the incremental-insert seeding
    * and the delete-repair bridge: existing edges (fresh=false) ∪ newly
    * scored edges (fresh=true) → per-(id,nbr) dedup (max sim, min fresh) →
    * per-id top-kBuild. Three shuffle-shape devices, results unchanged:
    * the map-side [[graft.plans.NnMerge]] combiner dedups and bounds each
    * partition's contribution BEFORE the exchange (guide §2.3 — this was
    * the family's largest remaining shuffle); the explicit
    * `repartition(id)` lets the (id,nbr) dedup aggregate AND the TopK
    * final share ONE exchange (hash(id) clusters (id,nbr) too — guide
    * §2.4 "two operations keyed the same way can share one exchange",
    * where the groupBy's own (id,nbr) exchange left TopK re-shuffling by
    * id right after); AQE still coalesces the single exchange, so
    * partitioning stays scale-adaptive.
    */
  private def mergeTopK(old: DataFrame, freshE: DataFrame, kBuild: Int)
      : DataFrame = {
    val unioned = old.select(col("id"), col("nbr"), col("sim"))
      .withColumn("fresh", lit(false))
      .unionByName(freshE.select(col("id"), col("nbr"), col("sim"))
        .withColumn("fresh", lit(true)))
    val merged = graft.plans.NnMerge.combine(unioned, kBuild)
      .repartition(col("id"))
      .groupBy("id", "nbr")
      .agg(max("sim").as("sim"), min("fresh").as("fresh"))
    graft.plans.TopK.perKey(merged, Seq("id"), "sim", kBuild,
      tieCols = Seq("nbr")).drop("rank")
  }

  /** Incremental index maintenance — the daily-increment path of a
    * production ANN pipeline (the `mb_components_incremental` pattern
    * applied to the ANN family: don't re-descend the corpus from scratch
    * for a batch of new vectors). Seeds each NEW vector's list by
    * beam-searching the EXISTING graph (the serving path reused as the
    * insert path — DiskANN's insert rule), adds salted successor chains
    * AMONG the new batch so intra-delta near-duplicates connect without
    * relying on old-graph routing, marks exactly those edges fresh, and
    * runs the standard descent rounds over the union corpus. The
    * incremental rule then confines wedge work to neighborhoods a fresh
    * edge touches — per-round cost scales with |delta|·cap² plus the
    * touched old neighborhoods, not |base|·cap².
    *
    * Old nodes update too: every new→old seed edge is proposed in BOTH
    * directions, so an old node whose true neighborhood now contains a
    * new vector re-ranks its list in the first descent round and the
    * wedge epidemic spreads the correction outward. δ-termination is
    * measured against |delta| (fresh counts are small from the start of
    * an incremental run).
    *
    * Returns the refreshed directed k-NN graph over base ∪ delta, same
    * shape as [[knnGraph]].
    */
  def addVectors(
      graph: DataFrame, base: DataFrame, delta: DataFrame,
      idCol: String, vecCol: String, k: Int,
      iters: Int = 2, cap0: Int = 0, kBuild0: Int = 0,
      deltaTerm: Double = 0.001): DataFrame = {
    val kBuild = if (kBuild0 > 0) kBuild0 else 2 * k
    val cap = if (cap0 > 0) cap0 else 2 * kBuild
    require(k >= 1 && iters >= 1 && cap > kBuild && kBuild >= k)
    val baseVecs = base
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val deltaVecs = delta
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .localCheckpoint(false)
    val vecs = baseVecs.unionByName(deltaVecs).localCheckpoint(false)
    val nDelta = deltaVecs.count()
    if (nDelta == 0) return graph
    // seed: each new vector's kBuild best reachable old neighbors via the
    // existing graph (scored — these carry true sims)
    val seeded = searchGraph(deltaVecs, graph, baseVecs, "id", "v",
      k = kBuild, beam = math.max(20, kBuild), hops = 2, seeds = 8)
      .select(col("query_id").as("id"), col("neighbor_id").as("nbr"),
        col("sim"))
    // intra-delta chains (new×new), scored like a fresh build's init
    val deltaInit = score(initEdges(deltaVecs, nDelta, kBuild), vecs)
    // both directions so OLD endpoints get fresh edges (and thus wedges) —
    // one explode, not a self-union (the union re-ran the beam-search
    // seeding and the delta-init scoring once per branch)
    val seedEdges = bothDirections(seeded.unionByName(deltaInit))
    // merge with the existing graph: an edge already known stays old
    // (its old×old wedges were explored at build time); genuinely new
    // edges enter fresh and drive the next rounds' local joins
    // (same combined one-exchange merge as the descent rounds)
    val capped = graft.Ckpt.truncate(mergeTopK(
      graph.select(col("id"), col("nbr"), col("sim")), seedEdges, kBuild))
    val done = descend(capped, vecs, k, kBuild, iters, cap, deltaTerm,
      termN = nDelta)
    graft.plans.TopK.perKey(done, Seq("id"), "sim", k,
      tieCols = Seq("nbr")).drop("rank")
  }

  /** Incremental index maintenance, deletion half (the production daily
    * cycle's other direction — [[addVectors]] covers inserts): tombstone
    * the removed vectors out of the graph and REPAIR the neighborhoods
    * they held together, without re-descending the untouched corpus.
    *
    * The repair rule is FreshDiskANN's delete-consolidation, restated
    * set-at-a-time: when node r is removed, every surviving node u that
    * pointed at r (u→r) gets r's own surviving out-neighbors as scored
    * candidates (u→w for r→w) — the tombstone is bridged by its local
    * neighborhood, one equi-join over the removed nodes' adjacency, work
    * ∝ |removed|·k², never corpus-shaped. The bridged edges enter the
    * graph `fresh` (both directions), so the standard descent rounds
    * localize wedge work to the touched neighborhoods exactly as the
    * insert path does, with δ-termination measured against the touched
    * set. A node whose entire list was tombstoned and received no bridge
    * candidates (every bridge endpoint also removed) is re-inserted
    * through [[addVectors]]'s beam-seeded path — the orphan guard; on
    * non-adversarial deletes the orphan set is empty and that branch
    * never runs.
    *
    * Returns the refreshed directed k-NN graph over corpus ∖ removed,
    * same shape as [[knnGraph]]; the contract gate is recall vs brute
    * force on the REDUCED corpus (`dx_knn_graph_del_recall`).
    */
  def removeVectors(
      graph: DataFrame, corpus: DataFrame, removeIds: DataFrame,
      idCol: String, vecCol: String, k: Int,
      iters: Int = 2, cap0: Int = 0, kBuild0: Int = 0,
      deltaTerm: Double = 0.001): DataFrame = {
    val kBuild = if (kBuild0 > 0) kBuild0 else 2 * k
    val cap = if (cap0 > 0) cap0 else 2 * kBuild
    require(k >= 1 && iters >= 1 && cap > kBuild && kBuild >= k)
    val rm = removeIds.select(col(removeIds.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint(false)
    if (rm.isEmpty) return graph
    val vecs = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .join(rm, Seq("id"), "left_anti")
      .localCheckpoint(false)
    // materialized once: `g` feeds the survivor prune, the lost-edge set
    // AND the removed nodes' adjacency — lazily it re-evaluated the
    // caller's whole graph plan three times
    val g = graph.select(col("id"), col("nbr"), col("sim"))
      .localCheckpoint(false)
    val rmAsNbr = rm.select(col("id").as("nbr"))
    // tombstone: drop removed sources, then removed targets
    val fromSurvivors = g.join(rm, Seq("id"), "left_anti")
    val pruned = fromSurvivors.join(rmAsNbr, Seq("nbr"), "left_anti")
    // bridge: u→r (u survives, r removed) × r→w (w survives) ⇒ u→w
    val lost = fromSurvivors.join(rmAsNbr, Seq("nbr"), "left_semi")
      .select(col("id").as("u"), col("nbr").as("r"))
    val rmOut = g.join(rm, Seq("id"), "left_semi")
      .join(rmAsNbr, Seq("nbr"), "left_anti")
      .select(col("id").as("r"), col("nbr").as("w"))
    // materialized once: scored (below) and the δ-termination base both
    // read it — lazily the bridge joins ran twice
    val cand = lost.join(rmOut, "r")
      .filter(col("u") =!= col("w"))
      .select(col("u").as("id"), col("w").as("nbr"))
      .distinct()
      .localCheckpoint(false)
    // one explode, not a self-union (the union re-scored the bridge
    // candidates once per branch)
    val freshE = bothDirections(score(cand, vecs))
    val capped = graft.Ckpt.truncate(mergeTopK(pruned, freshE, kBuild))
    val nTouched = math.max(1L, cand.select("id").distinct().count())
    val done = descend(capped, vecs, k, kBuild, iters, cap, deltaTerm,
      termN = nTouched)
    val out = graft.plans.TopK.perKey(done, Seq("id"), "sim", k,
      tieCols = Seq("nbr")).drop("rank")
      .localCheckpoint(false)
    // orphan guard: surviving vectors with no out-edges re-enter via the
    // insert path (beam-seeded against the repaired graph)
    val orphans = vecs.join(out.select("id").distinct(), Seq("id"), "left_anti")
      .localCheckpoint(false)
    if (orphans.isEmpty) out
    else addVectors(out, vecs.join(orphans.select("id"), Seq("id"), "left_anti"),
      orphans, "id", "v", k, iters, cap0, kBuild0, deltaTerm)
  }

  /** Batch beam search over a prebuilt k-NN graph — the serving half of
    * graph ANN, restated as set-at-a-time joins (the pointer-chasing
    * best-first loop of HNSW/NSG is inherently sequential per query; for
    * a BATCH of queries the equivalent exploration is: expand every
    * query's current beam through the graph in one equi-join, score the
    * frontier against the query vectors in one scan, keep each query's
    * top-`beam` survivors in one bounded-heap pass — per hop, three
    * shuffles regardless of query count).
    *
    * Entry points are SCORED COARSE SEEDS: every query is scored against a
    * deterministic 1/`hubRate` hash sample of the corpus and its top
    * `seeds` hubs start the beams (the SPANN/DiskANN two-stage shape:
    * coarse candidate then graph refinement). Geometry-blind random seeds
    * — the first formulation here — fail hard at scale on clustered data:
    * a 100×-replica corpus is ~2 000 mutually-unrelated tight clusters, so
    * its TRUE k-NN graph is near-disconnected cliques; a random entry
    * lands in the query's cluster with probability ~clusterSize/n and
    * greedy routing has no similarity gradient to cross clusters (measured
    * top-5 recall 0.0 at 200 k nodes, vs 0.90 at 2 k where the beam simply
    * covered 40% of the graph). The coarse stage puts ≥1 seed in any
    * cluster of ≥ hubRate·ln(…) members w.h.p. and costs |Q|·n/hubRate
    * broadcast-scan cosines — the IVF bill, 1/hubRate of brute force; a
    * hash-chosen floor set of `seeds` target nodes is unioned in so every
    * query always seeds, even on tiny corpora (n < hubRate) and when query
    * ids are disjoint from target ids. `hops` rounds of expansion then top-k from
    * everything visited. Work per hop: |Q|·beam·k candidate edges — at
    * serving scale the graph side is the big frame and the frontier the
    * small one, exactly the broadcast-join shape AQE picks.
    */
  def searchGraph(
      queries: DataFrame, graph: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      beam: Int = 20, hops: Int = 3, seeds: Int = 4,
      excludeSelf: Boolean = true, hubRate: Int = 16): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 1 && seeds >= 1 && hubRate >= 1)
    val vecs = targets
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .localCheckpoint(false)
    val q = queries
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
      .localCheckpoint(false)
    val g = graph.select(col("id"), col("nbr")).localCheckpoint(false)
    // coarse stage: brute-score the hub sample against the broadcast query
    // set (the bounded-query-set BNLJ shape dx_knn_brute justifies), keep
    // each query's top `seeds` hubs via the bounded heap
    val hubs = vecs.filter(pmod(xxhash64(col("id"), lit(7L)), lit(hubRate)) === 0)
    val coarse = graft.plans.TopK.perKey(
      hubs.crossJoin(broadcast(q))
        .select(col("qid"), col("id").as("node"),
          graft.functions.CosineSimilarity(col("qv"), col("v")).as("sim")),
      Seq("qid"), "sim", seeds, tieCols = Seq("node"))
      .select("qid", "node", "sim")
    // floor: `seeds` hash-chosen TARGET nodes shared by every query
    // (geometry-blind — the guarantee that EVERY query gets entry points
    // even when the hub sample is empty, n < hubRate). The first
    // formulation keyed a hash-successor window by target id and aliased
    // it as qid, which only seeded queries whose ids happened to exist in
    // the target set — cross-dataset queries silently got zero rows (r15
    // ADVICE, medium). A bounded global TakeOrdered picks the floor set
    // (never empty for a nonempty corpus); seeds×|Q| is the broadcast
    // cross of two small frames.
    val floorNodes = vecs.select(col("id").as("node"))
      .orderBy(xxhash64(col("node"), lit(11L)), col("node"))
      .limit(seeds)
    var visited = scoreQ(
      q.select(col("qid")).crossJoin(broadcast(floorNodes)), q, vecs)
      .unionByName(coarse)
      .groupBy("qid", "node").agg(max("sim").as("sim"))
    visited = graft.Ckpt.truncate(visited)
    for (_ <- 1 to hops) {
      val frontier = graft.plans.TopK.perKey(visited, Seq("qid"), "sim",
        beam, tieCols = Seq("node")).select("qid", "node")
      // score only pairs not already visited — each (query, node) cosine
      // is paid at most once across the whole search
      val fresh = frontier
        .join(g.select(col("id").as("node"), col("nbr")), "node")
        .select(col("qid"), col("nbr").as("node"))
        .distinct()
        .join(visited.select("qid", "node"), Seq("qid", "node"), "left_anti")
      visited = graft.Ckpt.truncate(
        visited.unionByName(scoreQ(fresh, q, vecs)))
    }
    val top = if (excludeSelf) visited.filter(col("qid") =!= col("node"))
              else visited
    graft.plans.TopK.perKey(top, Seq("qid"), "sim", k, tieCols = Seq("node"))
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** (id, nbr, sim) → both directed edges, in ONE pass over the input.
    * Self-unions (`e ∪ e.select(nbr as id, id as nbr, sim)`) evaluate the
    * whole upstream subtree once per union branch — exchange reuse dedups
    * only the shuffle stage, not the operators above it — so every scored
    * edge paid its kernel twice. The row set produced is identical.
    */
  private def bothDirections(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("id"), col("nbr"), col("sim")),
        struct(col("nbr").as("id"), col("id").as("nbr"), col("sim"))))
        .as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"),
        col("e.sim").as("sim"))

  private def scoreQ(pairs: DataFrame, q: DataFrame, vecs: DataFrame)
      : DataFrame =
    pairs
      .join(q, "qid")
      .join(vecs.select(col("id").as("node"), col("v")), "node")
      .select(col("qid"), col("node"),
        graft.functions.CosineSimilarity(col("qv"), col("v")).as("sim"))

  private def score(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("id"), col("v").as("va")), "id")
      .join(vecs.select(col("id").as("nbr"), col("v").as("vb")), "nbr")
      .select(col("id"), col("nbr"),
        graft.functions.CosineSimilarity(col("va"), col("vb")).as("sim"))
}
