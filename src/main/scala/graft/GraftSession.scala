package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: `Bench`, `Verify`, `DevExplain`,
  * the dev mains, the shared test session and the benchmark all start here,
  * so session config cannot drift between them.
  *
  * The session loads [[GraftExtensions]] through `spark.sql.extensions`,
  * which gives it graft's native SQL functions and planner strategies from
  * the start: nothing needs registering afterwards.
  *
  * Settings (several are static, so they must be set here, before the
  * SparkContext starts):
  * - shuffle partitions sized to the environment (on a large cluster
  *   start near 2-3x total cores and let AQE, on by default, coalesce)
  * - session time zone UTC: timestamps format the same on every box
  * - codegen class cache of 8192 entries: one NN-Descent build alone emits
  *   ~100 codegen units, so at the default 100 every iterative operator
  *   evicts its own earlier rounds and recompiles identical source
  * - compressed cached/localCheckpoint blocks: iterative graph operators
  *   checkpoint multi-GB edge frames per round, and uncompressed blocks
  *   (54 GB for the sf10 replica's directed edge list) exhausted local
  *   disk where the lz4 form fits 4-5x over
  * - no Spark UI
  *
  * ANSI arithmetic stays on (the Spark 4 default): overflow surfaces as an
  * error, not silent corruption.
  */
object GraftSession {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")

  def create(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession =
    builder(master, shufflePartitions).getOrCreate()
}
