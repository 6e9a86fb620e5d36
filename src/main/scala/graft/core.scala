package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operator from SURVEY.md §2: a named Spark query over a scale-factor
  * directory, plus (when SQL-expressible) an equivalent DuckDB oracle query
  * the driver uses as the correctness gate.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    // Serve-split rows reuse a session index when one exists
    // (build-if-absent), so under Bench's min-of-2 remeasure their
    // published wall is warm-index BY CONSTRUCTION — the build bill lives
    // in the matching *_index row, which always rebuilds. Marked here so
    // the bench artifact can carry the `warm` flag per the r15
    // artifact-reading rule instead of relying on a reader knowing it.
    warm: Boolean = false)

/** Parquet table loader for the driver-generated TPC-H-ish test data.
  *
  * `events.ts` has shipped under two physical encodings across driver data
  * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader only
  * accepts as long nanos via `nanosAsLong`) and parquet TIMESTAMP(MICROS)
  * (which Spark reads natively as TIMESTAMP_NTZ). Rather than assume either,
  * we sniff the loaded schema and normalise both to session-TZ TIMESTAMP:
  *   - LongType       → nanos; rebuild with `timestamp_micros(ts DIV 1000)`
  *                      (integer division — a double roundtrip would lose
  *                      precision above 2^53 ns)
  *   - TIMESTAMP_NTZ  → cast to TIMESTAMP (session TZ is pinned to UTC in
  *                      every entrypoint, so wall-clock values are unchanged)
  *   - TIMESTAMP      → pass through
  * This keeps downstream window/sessionize/as-of semantics identical no
  * matter which generation of test data is on disk.
  */
object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _                => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Widen a frame to the session's parallelism when its scan produced
    * fewer splits — the guard queries with CPU-amplifying per-row work
    * (per-position hashing, big HOF batteries, dim² product fan-outs)
    * put after their scan.
    *
    * Why it exists: parquet parallelism bottoms out at the ROW-GROUP, not
    * the byte range — a small single-row-group file is ONE task no matter
    * what `maxPartitionBytes` says, so a 2000×-amplifying expression
    * chain runs serially on 32 idle cores (r13 bench: dx_fingerprint
    * 4.9 s wall at 5.45 CPU-s). At 100 TB the scan already yields far
    * more splits than cores and this is a no-op — no shuffle is added —
    * so the discipline costs nothing at the design scale and only fires
    * in exactly the regime that needs it (small or post-filter frames
    * feeding heavy per-row compute).
    *
    * Only apply to partition-order-insensitive consumers (per-row maps,
    * commutative aggregates) — which CPU-amplifying stages are by nature.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}

/** Lineage truncation: the one place that checkpoints a frame, through
  * [[settle]] for a frame that is reused and [[iterate]] for the frames of
  * a loop.
  *
  * Invariant: every frame `Ckpt` hands out is truncated AND already
  * materialized, by one action on the calling thread. A lazy checkpoint
  * that a multi-stage plan materializes first can be materialized from two
  * AQE threads at once (a shuffle-stage submission and a broadcast
  * collect), and that race can deadlock the driver: the DAGScheduler event
  * loop holds the RDD lock and wants the RDDCheckpointData lock while a
  * broadcast-exchange thread holds the reverse. No caller can make a lazy
  * checkpoint: the truncation itself is private, and `CkptSpec` fails on
  * any `localCheckpoint(` or `.checkpoint(` in `src/main` outside this file.
  *
  * Two modes, chosen by session conf:
  *   - default: `localCheckpoint` — executor-local blocks, zero extra I/O;
  *     right for local mode and for clusters where a lost executor may
  *     simply rerun the job;
  *   - `spark.graft.checkpoint.dir=<path>`: durable `checkpoint()` to
  *     that directory (set on the SparkContext on first use) — on a real
  *     100 TB cluster an hours-long iterative job survives executor loss,
  *     which executor-local blocks do not.
  * Both modes truncate lineage identically, so results are bit-identical
  * (spec-pinned in GraphMetricsSpec).
  */
object Ckpt {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow

  // setCheckpointDir mints a fresh UUID subdirectory per call — remember
  // the last dir we applied so re-entrant operators don't litter one per
  // round. (Volatile is enough: worst case under a race is one extra
  // subdirectory, never a wrong checkpoint.)
  @volatile private var appliedDir: String = null

  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.Ckpt")

  /** What [[iterate]] returns: the last frame, one signal per frame (index
    * 0 is `init`, index r round r), and whether `done` ended the loop.
    */
  final case class Rounds[S](frame: DataFrame, signals: IndexedSeq[S], converged: Boolean)

  /** Run `init`, then `step(prev, round)` for rounds 1..maxRounds until
    * `done(prevSignal, signal)`. Per frame, in order:
    *   1. truncate it (DISK_ONLY blocks when `bulk`, as in [[settleBulk]]);
    *      an `init` that is already a materialized checkpoint is used as is;
    *   2. run `signal` on it: the convergence action is the frame's one
    *      materialization point, on this thread. It must run its stages
    *      one after another (a count, a global aggregate) — never a join
    *      that broadcasts the frame;
    *   3. if the signal left the checkpoint unmaterialized, run one
    *      row-count job over it;
    *   4. drop the previous round's blocks and log one DEBUG line
    *      `<op> round <r> signal <s>` on the `graft.Ckpt` logger.
    * Blocks that were persistent before the call (the base inputs) stay.
    * The release is the sf10 disk fix: nothing else drops round N−1's
    * blocks until driver GC collects its RDD, and on the 1.69G-edge
    * replica the leftovers exhausted local disk and killed k-core and
    * PageRank. Durable mode writes files instead, so there is nothing to
    * release.
    */
  def iterate[S](op: String, init: DataFrame, maxRounds: Int, bulk: Boolean = false)(
      step: (DataFrame, Int) => DataFrame)(
      signal: DataFrame => S,
      done: (S, S) => Boolean = (_: S, _: S) => false): Rounds[S] = {
    val sc = init.sparkSession.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val base = persisted
    def settleRound(df: DataFrame, round: Int): (DataFrame, S) = {
      val cut = if (round == 0) truncate(df, bulk) else truncateImpl(df, bulk)
      val s = signal(cut)
      val rdd = rddOf(cut)
      if (!rdd.isCheckpointed) rdd.count()
      verify(s"$op round $round", cut)
      log.debug(s"$op round $round signal $s")
      (cut, s)
    }
    var (frame, sig) = settleRound(init, 0)
    val signals = IndexedSeq.newBuilder[S] += sig
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val dead = persisted -- base
      val (next, nextSig) = settleRound(step(frame, round), round)
      release(sc, dead)
      converged = done(sig, nextSig)
      frame = next
      sig = nextSig
      signals += sig
    }
    Rounds(frame, signals.result(), converged)
  }

  /** Unpersist the RDDs `ids`. Shuffle files of dead rounds are cleaned
    * only when ContextCleaner sees their references collected, so when a
    * loop moves GBs per round a forced gc bounds disk between Spark's own
    * 30-min periodicGC; gated on the released size so small rounds never
    * pay a full collection.
    */
  private def release(sc: org.apache.spark.SparkContext, ids: Set[Int]): Unit =
    if (ids.nonEmpty) {
      val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      val live = sc.getPersistentRDDs
      BlockCleanup.quietUnpersist(ids.toSeq.flatMap(live.get))
      if (bytes > (1L << 30)) System.gc()
    }

  /** Row count of a truncated frame as one job over its checkpoint RDD —
    * the job an eager `localCheckpoint` runs. The usual [[iterate]] signal.
    */
  def rows(df: DataFrame): Long = rddOf(df).count()

  /** Rows of a truncated frame whose boolean column `c` is true, as one job. */
  def rowsWhere(c: String): DataFrame => Long = { df =>
    val i = df.schema.fieldIndex(c)
    rddOf(df).filter(_.getBoolean(i)).count()
  }

  private def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** The checkpoint RDD of a truncated frame, for a one-job [[iterate]]
    * signal over its blocks.
    */
  private[graft] def rddOf(df: DataFrame): RDD[InternalRow] =
    checkpointRdd(df).getOrElse(throw new IllegalArgumentException(
      s"not a truncated frame: ${df.queryExecution.logical.nodeName}"))

  /** Truncate each frame and materialize all of them in ONE job on the
    * calling thread: a row count over the union of their checkpoint RDDs.
    * Returns each truncated frame with its row count from that job, in
    * argument order. A frame that is already a materialized checkpoint is
    * not cut again. Throws, naming the frame, if one is still not
    * checkpointed afterwards.
    *
    * Settle a frame only when more than one job or plan branch reads it,
    * or when it holds a nondeterministic expression (`rand`, `sample`, an
    * unordered `limit`, `monotonically_increasing_id`) that is read more
    * than once; a frame read once gains nothing from a checkpoint.
    */
  def settle(df: DataFrame, more: DataFrame*): IndexedSeq[(DataFrame, Long)] =
    settleAll(df +: more, bulk = false)

  /** [[settle]] for DATA-SIZED frames (edge lists, pair lists): blocks
    * go DISK_ONLY instead of MEMORY_AND_DISK. A multi-GB deserialized
    * cache squeezes the unified region until execution memory starves
    * (the sf10 1.69G-edge k-core/PageRank rounds died with
    * UNABLE_TO_ACQUIRE_MEMORY exactly this way); disk blocks are lz4'd
    * (spark.rdd.compress, set in every entrypoint) and re-read through
    * the OS page cache, so the local-mode cost is near zero while the
    * execution pool keeps the whole region. Node-sized frames (ranks,
    * labels, survivor sets) stay on [[settle]] — they're small and
    * re-read hot.
    */
  def settleBulk(df: DataFrame, more: DataFrame*): IndexedSeq[(DataFrame, Long)] =
    settleAll(df +: more, bulk = true)

  private def settleAll(frames: Seq[DataFrame], bulk: Boolean): IndexedSeq[(DataFrame, Long)] = {
    val cut = frames.map(truncate(_, bulk)).toIndexedSeq
    val rdds = cut.map(rddOf)
    val sc = cut.head.sparkSession.sparkContext
    val perPartition = sc.runJob(new org.apache.spark.rdd.UnionRDD(sc, rdds),
      (it: Iterator[InternalRow]) => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n })
    val ends = rdds.scanLeft(0)(_ + _.partitions.length)
    cut.indices.map { i =>
      verify(s"Ckpt.settle frame ${i + 1} of ${cut.size}", cut(i))
      (cut(i), perPartition.slice(ends(i), ends(i + 1)).sum)
    }
  }

  /** `df` itself when it is already a materialized checkpoint, else a
    * lazy truncation of it.
    */
  private def truncate(df: DataFrame, bulk: Boolean): DataFrame =
    if (checkpointRdd(df).exists(_.isCheckpointed)) df else truncateImpl(df, bulk)

  private def verify(what: String, df: DataFrame): Unit =
    if (!rddOf(df).isCheckpointed)
      throw new IllegalStateException(s"$what: checkpoint was not materialized")

  private def truncateImpl(df: DataFrame, bulk: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        if (appliedDir != dir || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(dir)
          appliedDir = dir
        }
        df.checkpoint(eager = false)
      case _ =>
        if (bulk)
          df.localCheckpoint(eager = false,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
        else df.localCheckpoint(eager = false)
    }
  }
}

/** Deterministic numeric helpers.
  *
  * Double sums are order-dependent, so a Spark partial-aggregate sum and a
  * DuckDB single-threaded sum can differ in the last ulps. All monetary
  * inputs in the test data carry at most 2 decimal places, so we sum scaled
  * 64-bit integers (exact, associative) and divide once at the end — the
  * same trick works verbatim in the DuckDB oracle SQL, giving bit-identical
  * doubles. At 100 TB this also beats decimal aggregation: long sums stay in
  * whole-stage codegen with no decimal overflow checks.
  */
object Num {
  /** A <=2-decimal-place double as integer hundredths. */
  def cents(c: Column): Column = round(c * lit(100)).cast("long")

  /** Sum of an exact-integer (cents or cents-product) column in a
    * decimal(38,0) accumulator — the Catalyst analogue of DuckDB's HUGEINT
    * sum. Per-row products fit a long, but a single group aggregating
    * billions of rows (one q1 group is a quarter of lineitem — ~1.5e14 rows
    * at the 100 TB design point) overflows a long accumulator, and ANSI
    * mode turns that into a query abort. 128-bit accumulation never
    * overflows in practice and converts to double identically to the
    * oracle's HUGEINT at the final division.
    */
  def bigSum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0)))

  /** Exact sum of a <=2dp double column, returned as double. */
  def moneySum(c: Column): Column = bigSum(cents(c)) / 100.0

  /** SQL twin of [[cents]] for the DuckDB oracle. */
  def centsSql(expr: String): String = s"CAST(round(($expr) * 100) AS BIGINT)"

  /** SQL twin of [[moneySum]]. */
  def moneySumSql(expr: String): String = s"sum(${centsSql(expr)}) / 100.0"
}
