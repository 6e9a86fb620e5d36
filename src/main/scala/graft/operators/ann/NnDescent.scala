package graft.operators.ann

import org.apache.spark.sql.{Column, DataFrame}
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
  * neighbor" — needs only each node's own neighbourhood, which is why it
  * parallelizes where graph descent does not:
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
  *  2. each round is the paper's LOCAL JOIN (§2.3) over the CAPPED
  *     forward ∪ reverse neighborhood (the paper's ρ·k sampling — per-node
  *     work is bounded at cap², hubs can't go quadratic): every member
  *     pair touching at least one edge added in the LAST round is scored
  *     (the paper's incremental rule: an old×old pair was already proposed
  *     in the round that made both edges old), proposed in both
  *     directions, merged with the current lists and truncated to the top
  *     kBuild per node;
  *  3. rounds are O(1) (the paper observes ~4-5 to convergence) and
  *     run through [[graft.Ckpt.iterate]] like every iterative operator
  *     here.
  *
  * Per-round cost: one Spark stage. The round's graph and the vectors are
  * broadcast as one primitive index ([[graft.plans.DescentRoundPlan]]),
  * each task merges the lists of its slice of nodes in core, and the
  * loop's settle job materializes the result — two jobs a round, no
  * shuffle; the join formulation it replaced paid ~6 jobs and four
  * exchanges. Work is |V|·cap² cosines in round 1, decaying with the
  * fresh-edge fraction in later rounds (the incremental rule is what makes
  * round 4 cost a fraction of round 1 — measured 3-10× total-work
  * reduction at convergence). The graph plus the vectors must fit a
  * broadcast, the same bound as [[searchGraph]] (sf1: 20 k × 64-d vectors
  * and 400 k edges, ~15 MB packed); past Spark's broadcast limits a build fails
  * with Spark's own error. No similarity structure is assumed (the
  * paper's "generic measures"), so this also serves metric spaces the
  * bucketing families (LSH/IVF) cannot hash.
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
    val (kBuild, cap) = sizes(k, iters, cap0, kBuild0)
    // read by the init and every round; the settle job's row count is the
    // corpus size
    val (vecs, n) = graft.Ckpt.settle(targets
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))).head
    if (n == 0) return vecs.select(col("id"), col("id").as("nbr"), lit(0.0).as("sim"))
    val init = initEdges(vecs, n, kBuild)
    // `fresh` marks edges added in the latest merge — only wedges touching
    // a fresh edge are scored next round (the paper's incremental rule)
    val nn = graft.plans.TopK.perKey(
      score(init, vecs).withColumn("fresh", lit(true)), Seq("id"), "sim", kBuild,
      tieCols = Seq("nbr")).drop("rank")
    val done = descend(nn, vecs, k, kBuild, iters, cap, delta, termN = n)
    if (kBuild == k) done
    else graft.plans.TopK.perKey(done, Seq("id"), "sim", k,
      tieCols = Seq("nbr")).drop("rank")
  }

  /** (kBuild, cap) from the public parameters (0 derives the default);
    * each bad value fails naming its parameter.
    */
  private def sizes(k: Int, iters: Int, cap0: Int, kBuild0: Int): (Int, Int) = {
    require(k >= 1, s"NN-Descent: k must be >= 1, got $k")
    require(iters >= 1, s"NN-Descent: iters must be >= 1, got $iters")
    val kBuild = if (kBuild0 > 0) kBuild0 else 2 * k
    require(kBuild >= k, s"NN-Descent: kBuild must be >= k ($k), got $kBuild")
    val cap = if (cap0 > 0) cap0 else 2 * kBuild
    require(cap > kBuild, s"NN-Descent: cap must exceed kBuild ($kBuild), got $cap")
    (kBuild, cap)
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
    * kBuild, still a lazy plan — and runs up to `iters` rounds of the local
    * join, each one [[graft.plans.DescentRound]] exec over a broadcast of
    * the round's graph and `vecs`. `nn0` is round 0 of
    * [[graft.Ckpt.iterate]], and each round's frame is materialized by its
    * settle job on this thread, so every broadcast reads a materialized
    * frame (that method's scaladoc names the deadlock a lazy frame under a
    * broadcast caused). A round is the broadcast job plus that settle job,
    * whose fresh-edge count is the round's signal; the loop stops when it
    * falls under δ·k·`termN` (the paper's δ-termination). `termN` is the
    * corpus size for a full build and the DELTA size for an incremental
    * update, where fresh counts are small from the start. Returns the
    * converged kBuild-lists graph (id, nbr, sim).
    */
  private def descend(
      nn0: DataFrame, vecs: DataFrame, k: Int, kBuild: Int, iters: Int,
      cap: Int, delta: Double, termN: Long): DataFrame = {
    val minFresh = (delta * k * termN).toLong.max(1L)
    graft.Ckpt.iterate("nnd.round", nn0, iters) { (nn, r) =>
      graft.plans.DescentRound(nn, vecs, r, kBuild, cap)
    }(graft.Ckpt.rowsWhere("fresh"), (_: Long, fresh: Long) => fresh < minFresh)
      .frame.drop("fresh")
  }

  /** The merge shared by the incremental-insert seeding and the
    * delete-repair bridge: existing edges (fresh=false) ∪ newly
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
    val (kBuild, cap) = sizes(k, iters, cap0, kBuild0)
    val baseVecs = base
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val newVecs = delta
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // both feed the seeding and every descent round: one job materializes
    // them and counts the delta
    val Seq((deltaVecs, nDelta), (vecs, _)) =
      graft.Ckpt.settle(newVecs, baseVecs.unionByName(newVecs))
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
    val merged = mergeTopK(
      graph.select(col("id"), col("nbr"), col("sim")), seedEdges, kBuild)
    val done = descend(merged, vecs, k, kBuild, iters, cap, deltaTerm,
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
    val (kBuild, cap) = sizes(k, iters, cap0, kBuild0)
    val (rm, nRm) = graft.Ckpt.settle(
      removeIds.select(col(removeIds.columns.head).cast("long").as("id")).distinct()).head
    if (nRm == 0) return graph
    // materialized once: `vecs` feeds the scoring, every descent round and
    // the orphan guard; `g` feeds the survivor prune, the lost-edge set AND
    // the removed nodes' adjacency (an already materialized graph is not
    // copied)
    val Seq((vecs, _), (g0, _)) = graft.Ckpt.settle(
      corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .join(rm, Seq("id"), "left_anti"),
      graph)
    val g = g0.select(col("id"), col("nbr"), col("sim"))
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
    // each touched node's distinct bridge targets, materialized once:
    // scored (below) and the δ-termination base (its row count) both read
    // it — unmaterialized, the bridge joins ran twice
    val (bridges, nTouched) = graft.Ckpt.settle(lost.join(rmOut, "r")
      .filter(col("u") =!= col("w"))
      .groupBy(col("u").as("id"))
      .agg(array_distinct(collect_list(col("w"))).as("nbrs"))).head
    val cand = bridges.select(col("id"), explode(col("nbrs")).as("nbr"))
    // one explode, not a self-union (the union re-scored the bridge
    // candidates once per branch)
    val freshE = bothDirections(score(cand, vecs))
    val done = descend(mergeTopK(pruned, freshE, kBuild), vecs, k, kBuild,
      iters, cap, deltaTerm, termN = math.max(1L, nTouched))
    // a per-key top-k over the loop's last frame: the orphan guard and the
    // caller each read it, and recomputing it costs less than a job
    val out = graft.plans.TopK.perKey(done, Seq("id"), "sim", k,
      tieCols = Seq("nbr")).drop("rank")
    // orphan guard: surviving vectors with no out-edges re-enter via the
    // insert path (beam-seeded against the repaired graph)
    val (orphans, nOrphans) = graft.Ckpt.settle(
      vecs.join(out.select("id").distinct(), Seq("id"), "left_anti")).head
    if (nOrphans == 0) out
    else addVectors(out, vecs.join(orphans.select("id"), Seq("id"), "left_anti"),
      orphans, "id", "v", k, iters, cap0, kBuild0, deltaTerm)
  }

  /** The hub sample: the deterministic 1/`hubRate` hash sample of node ids
    * that [[searchGraph]]'s coarse stage scores and [[GraphIndex.build]]
    * long-links. Both must pick the same nodes, so both call this.
    */
  def hubSample(id: Column, hubRate: Int): Column =
    pmod(xxhash64(id.cast("long"), lit(7L)), lit(hubRate)) === 0

  /** Batch beam search over a prebuilt k-NN graph — the serving half of
    * graph ANN. The pointer-chasing best-first loop of HNSW/NSG is
    * sequential per query, and so is this one: the graph and the corpus
    * are broadcast as one primitive index, and each task runs its queries'
    * whole hop loop in core ([[graft.plans.GraphSearchPlan]]). A call costs
    * the broadcast job plus the query-side stage, whatever `hops` is; the
    * join formulation it replaced paid three to four shuffles per hop.
    *
    * Entry points are SCORED COARSE SEEDS: every query is scored against a
    * deterministic 1/`hubRate` hash sample of the corpus ([[hubSample]])
    * and its top `seeds` hubs start the beam (the SPANN/DiskANN two-stage
    * shape: coarse candidate then graph refinement). Geometry-blind random
    * seeds — the first formulation here — fail hard at scale on clustered
    * data: a 100×-replica corpus is ~2 000 mutually-unrelated tight
    * clusters, so its TRUE k-NN graph is near-disconnected cliques; a
    * random entry lands in the query's cluster with probability
    * ~clusterSize/n and greedy routing has no similarity gradient to cross
    * clusters (measured top-5 recall 0.0 at 200 k nodes, vs 0.90 at 2 k
    * where the beam simply covered 40% of the graph). The coarse stage puts
    * ≥1 seed in any cluster of ≥ hubRate·ln(…) members w.h.p. and costs
    * n/hubRate cosines per query — the IVF bill, 1/hubRate of brute force.
    * A floor set of `seeds` target nodes, the smallest by
    * (xxhash64(id, 11), id), is added to every query's seeds, so every
    * query seeds even on tiny corpora (n < hubRate) and when query ids are
    * disjoint from target ids. `hops` rounds of expansion then return the
    * top `k` of everything visited. Work per query: n/hubRate + hops·beam·k
    * cosines.
    *
    * The index must fit a broadcast (an index past Spark's broadcast
    * limits fails with Spark's own error) and target ids must be unique.
    * Vectors must be `array<float>`.
    */
  def searchGraph(
      queries: DataFrame, graph: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      beam: Int = 20, hops: Int = 3, seeds: Int = 4,
      excludeSelf: Boolean = true, hubRate: Int = 16): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 1 && seeds >= 1 && hubRate >= 1)
    val id = col(idCol).cast("long")
    val nodes = targets.select(id.as("id"), col(vecCol).as("v"),
      lit(null).cast("long").as("nbr"), hubSample(id, hubRate).as("hub"),
      xxhash64(id, lit(11L)).as("floor_key"))
    val edges = graph
      .select(col("id").cast("long").as("id"),
        lit(null).cast(nodes.schema("v").dataType).as("v"),
        col("nbr").cast("long").as("nbr"), lit(null).cast("boolean").as("hub"),
        lit(null).cast("long").as("floor_key"))
      .filter(col("id").isNotNull && col("nbr").isNotNull)
    graft.plans.GraphSearch(
      queries.select(id.as("qid"), col(vecCol).as("qv")),
      nodes.unionByName(edges), k, beam, hops, seeds, excludeSelf)
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

  private def score(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("id"), col("v").as("va")), "id")
      .join(vecs.select(col("id").as("nbr"), col("v").as("vb")), "nbr")
      .select(col("id"), col("nbr"),
        graft.functions.CosineSimilarity(col("va"), col("vb")).as("sim"))
}
