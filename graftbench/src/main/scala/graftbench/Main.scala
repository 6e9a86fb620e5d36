package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** graft's benchmark. One run: set up a seeded workload, time a cold batch
  * pass, then run a closed loop (one client) of batch passes, read ops and
  * write ops for `--seconds`, and print every end-to-end metric. With
  * `--trace 1` it instead runs two traced cycles and prints per-layer
  * metrics. The last stdout line is the JSON result; the exit code is 0
  * only when every op succeeded and every correctness gate held.
  *
  * Usage: graftbench.Main --workload er_resolve|corpus_index
  *   --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace, Paths.get(need("work")))
  }

  /** Input sizes: each warm batch pass takes a few seconds on 4 cores, so a
    * run fits its time budget with several passes and ops.
    */
  private def workload(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload =
    name match {
      case "er_resolve" => new ErResolve(spark, tracer, seed, entities = 12000)
      case "corpus_index" =>
        new CorpusIndex(spark, tracer, seed, clusters = 16, maxCluster = 10, singletons = 80)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"graftbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try run(o) catch {
      case NonFatal(e) =>
        System.err.println(s"graftbench: ${o.workload} aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line, stamped with seconds since the JVM started. */
  private def say(s: String): Unit =
    println(f"[graftbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f] $s")

  private def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.create(s"local[$cores]", cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val listener = new EngineListener(sc)
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val w = workload(o.workload, spark, tracer, o.seed)
    val dataDir = o.work.resolve("data").resolve(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    say(s"workload=${o.workload} seed=${o.seed} cores=$cores seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")

    var attempted = 0
    var failed = 0
    var gatesHeld = true
    /** Runs one op, counting it; a failure is reported on stderr, never swallowed. */
    def attempt(what: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch {
        case g: GateFailure =>
          failed += 1; gatesHeld = false
          System.err.println(s"graftbench: GATE FAILED in $what: ${g.getMessage}")
          false
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"graftbench: ${o.workload} $what failed: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    }
    val keep = mutable.Set.empty[Int]
    /** Drops the blocks ops and passes leave behind, keeping the base state. */
    def release(): Unit = {
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(blocking = true) }
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // set-up: several generate → parquet → read-back rounds; the median
    // round plus the JVM and session start is the set-up time
    var inputs: Seq[Input] = Nil
    val dataS = (1 to 3).map { rep =>
      val t = timed { inputs = w.setup(dataDir.resolve(s"rep$rep").toString) }
      say(f"setup round $rep: $t%.3f s")
      t
    }
    inputs.foreach(i => say(s"input ${i.name}: rows=${i.rows} digest=${i.digest}"))
    val setupS = sessionS + Stats.median(dataS)

    // cold: the first batch pass in this JVM, then one op of each kind
    var coldS = 0.0
    val coldOk = attempt("cold batch pass") {
      coldS = timed(w.batch())
      w.checkBatch()
    }
    if (!coldOk) return finish(spark, o, dataDir, attempted, failed, gatesHeld, Map.empty)
    w.prepareBase()
    keep ++= sc.getPersistentRDDs.keys
    release()
    say(f"cold batch pass: $coldS%.3f s")
    for ((kind, i) <- w.warmUpOps) {
      attempt(s"cold $kind op $i") {
        say(f"cold $kind op $i: ${timed((if (kind == "read") w.read(i) else w.write(i))())}%.3f s")
      }
      release()
    }

    val metrics =
      if (o.trace) traced(o, w, tracer, listener, release _, attempt _)
      else endToEnd(o, w, listener, release _, attempt _, setupS, coldS)
    finish(spark, o, dataDir, attempted, failed, gatesHeld, metrics)
  }

  /** The untraced closed loop: whole cycles of one batch pass, then the
    * workload's read ops, then its write ops, until `seconds` have passed.
    */
  private def endToEnd(o: Opts, w: Workload, listener: EngineListener, release: () => Unit,
      attempt: String => (=> Unit) => Boolean, setupS: Double, coldS: Double): Map[String, (Double, String)] = {
    val pass = mutable.ArrayBuffer.empty[(Double, Double, Double)] // wall s, cpu s, shuffle bytes
    val reads = mutable.ArrayBuffer.empty[Double]
    val writes = mutable.ArrayBuffer.empty[Double]
    var nRead = 1
    var nWrite = w.warmUpOps.count(_._1 == "write")
    var heap = 0L
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var cycles = 0
    while (cycles == 0 || System.nanoTime() < deadline) {
      cycles += 1
      val e0 = listener.total()
      val c0 = Jvm.cpuNs()
      val t0 = System.nanoTime()
      attempt(s"batch pass ${pass.size + 1}") {
        w.batch()
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (Jvm.cpuNs() - c0) / 1e9
        val shuffle = (listener.total().shuffleWrite - e0.shuffleWrite).toDouble
        w.checkBatch()
        pass += ((wall, cpu, shuffle))
        say(f"batch pass ${pass.size}: wall $wall%.3f s, cpu $cpu%.2f s, shuffle ${shuffle / 1e6}%.3f MB")
      }
      release()
      heap = math.max(heap, retainedHeap())
      for (_ <- 0 until w.readsPerCycle) {
        val i = nRead; nRead += 1
        attempt(s"read op $i") {
          val t = System.nanoTime(); val check = w.read(i); reads += (System.nanoTime() - t) / 1e6
          say(f"read op $i: ${reads.last}%.1f ms")
          check()
        }
        release()
      }
      for (_ <- 0 until w.writesPerCycle) {
        val i = nWrite; nWrite += 1
        attempt(s"write op $i") {
          val t = System.nanoTime(); val check = w.write(i); writes += (System.nanoTime() - t) / 1e6
          say(f"write op $i: ${writes.last}%.1f ms")
          check()
        }
        release()
      }
    }
    if (pass.isEmpty) return Map.empty
    say(s"samples: ${pass.size} warm batch passes, ${reads.size} read ops, ${writes.size} write ops")
    val (qName, q) = w.quality
    say(f"gate $qName = $q%.6f")
    Map(
      "setup_s" -> (setupS, "s"),
      "cold_s" -> (coldS, "s"),
      "records_per_s" -> (w.records / Stats.median(pass.map(_._1).toSeq), "1/s"),
      "cpu_s" -> (Stats.median(pass.map(_._2).toSeq), "s"),
      "shuffle_mb" -> (Stats.median(pass.map(_._3).toSeq) / 1e6, "MB"),
      "peak_heap_mb" -> (heap / 1e6, "MB"),
      "query_ms_p50" -> (if (reads.isEmpty) Double.NaN else Stats.median(reads.toSeq), "ms"),
      "update_ms_p50" -> (if (writes.isEmpty) Double.NaN else Stats.median(writes.toSeq), "ms"),
      "quality" -> (q, "ratio"))
  }

  /** Two traced cycles (one batch pass plus the workload's ops, each layer
    * call materialized in its own span) after one untraced warm pass.
    * Per-layer metrics come from the second cycle; the first must repeat
    * its counts exactly.
    */
  private def traced(o: Opts, w: Workload, tracer: Tracer, listener: EngineListener,
      release: () => Unit, attempt: String => (=> Unit) => Boolean): Map[String, (Double, String)] = {
    var untracedS = Double.NaN
    attempt("untraced pass") {
      val t0 = System.nanoTime(); w.batch(); untracedS = (System.nanoTime() - t0) / 1e9
      w.checkBatch()
    }
    release()
    var nOp = 1
    def cycle(c: Int): (Seq[Span], Map[String, Double]) = {
      val first = tracer.spans.size
      w.noted.clear()
      tracer.on = true
      try {
        attempt(s"traced pass $c") {
          tracer.span("pass")(w.batch())
          w.checkBatch()
        }
        release()
        for (_ <- 0 until w.readsPerCycle) {
          val i = nOp
          attempt(s"traced read op $i")(tracer.span("read")(w.read(i))())
          release()
          nOp += 1
        }
        for (_ <- 0 until w.writesPerCycle) {
          val i = nOp
          attempt(s"traced write op $i")(tracer.span("write")(w.write(i))())
          release()
          nOp += 1
        }
        w.tracedCounts()
        release()
      } finally tracer.on = false
      (tracer.spans.drop(first).toSeq, w.noted.toMap)
    }
    // both cycles run the same op indices, hence the same op inputs
    val (spans1, noted1) = cycle(1)
    nOp = 1
    val (spans2, noted2) = cycle(2)
    val layers = Layers(tracer, listener)
    val c1 = layers.counts(spans1, noted1)
    val c2 = layers.counts(spans2, noted2)
    val mismatches = (c1.keySet ++ c2.keySet).toSeq.sorted.filter(k => c1.get(k) != c2.get(k))
    mismatches.foreach(k => System.err.println(
      s"graftbench: traced count $k differs between cycles: ${c1.get(k)} vs ${c2.get(k)}"))
    val out = layers.metrics(spans2, noted2, untracedS) ++
      w.kernels() + ("trace.count_mismatches" -> mismatches.size.toDouble)
    layers.write(o.work.resolve("trace").resolve(s"${o.workload}-seed${o.seed}.json"),
      s"${o.workload}-seed${o.seed}", spans1, spans2)
    out.map { case (k, v) => k -> (v, Layers.unit(k)) }
  }

  private def finish(spark: SparkSession, o: Opts, dataDir: Path, attempted: Int, failed: Int,
      gatesHeld: Boolean, metrics: Map[String, (Double, String)]): Int = {
    spark.stop()
    deleteTree(dataDir)
    val names = if (o.trace) Layers.perLayer else Layers.endToEnd
    val missing = names.filterNot(n => metrics.get(n).exists(m => !m._1.isNaN && !m._1.isInfinite))
    if (missing.nonEmpty && failed == 0)
      System.err.println(s"graftbench: no value for ${missing.mkString(", ")}")
    metrics.toSeq.sortBy(_._1).foreach { case (n, (v, u)) =>
      say(s"${if (names.contains(n)) "metric" else "extra metric"} $n = $v $u")
    }
    val correct = gatesHeld && failed == 0 && missing.isEmpty
    say(f"attempted=$attempted failed=$failed failed_frac=${failed.toDouble / math.max(1, attempted)}%.4f correct=$correct")
    val body = names.flatMap(n => metrics.get(n).filter(m => !m._1.isNaN && !m._1.isInfinite).map {
      case (v, u) => s""""$n": {"value": ${v.toString}, "unit": "$u"}"""
    }).mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  /** Heap still in use after a full collection: the live set a batch pass
    * leaves behind (cached blocks, broadcasts, driver-side results). A
    * collection-triggered peak would measure the collector's timing, not
    * the program. Called outside every timed region.
    */
  private def retainedHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
