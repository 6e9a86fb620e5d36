package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Dev-only master override (e.g. local-cluster[2,8,4096]): runs the
    // ENTIRE oracle dump with real serialization and separate executor
    // JVMs — the closure/broadcast bugs local[n] structurally cannot
    // catch. The driver always runs the default local[n].
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = GraftSession.builder(master, cpus.toInt)
    // local-cluster executors are separate JVMs launched from SPARK_HOME:
    // they need the graft classes (and the test-run working dir) on their
    // own classpath — sbt's classes dir serves both
    if (master.startsWith("local-cluster")) {
      val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      builder.config("spark.executor.extraClassPath", classes)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    BlockCleanup.muteBenignCleanupSpam()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (unset in driver runs → full dump).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
      // drop leftover localCheckpoint/cache blocks so ~130 queries' worth
      // don't squeeze the block manager (same interference the bench
      // fixed; WARN-silenced — see BlockCleanup)
      BlockCleanup.dropRetainedBlocks(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failed queries must leave a trace in the artifact dir, not just
    // stderr — a missing per-query parquet otherwise silently disappears
    // from the correctness compare (this is how r10's 16 analysis failures
    // read as "156/156 clean"). Exit stays 0 so the driver's own compare
    // still runs over everything that did succeed.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
