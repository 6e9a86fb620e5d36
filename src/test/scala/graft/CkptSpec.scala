package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** `Ckpt` is the one place that checkpoints a frame. `Ckpt.settle`
  * truncates reused frames and materializes them in one job on the calling
  * thread; `Ckpt.iterate` owns the round protocol of every iterative
  * operator: each frame a round hands on is truncated and already
  * materialized, dead rounds hold no blocks, and the returned frame is safe
  * to read from two threads at once.
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  private def checkpointRdd(df: DataFrame) = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => fail(s"not a truncated frame: ${p.nodeName}")
  }

  // a lazy multi-stage init and a step with a shuffle aggregate and a join
  private def init = spark.range(0, 200).select(col("id"), (col("id") % 7).as("g"))
  private def step(df: DataFrame): DataFrame =
    df.join(df.groupBy("g").agg(max("id").as("m")), "g")
      .select(col("id"), ((col("g") + col("m")) % 7).as("g"))

  test("every frame a step reads, and the frame the loop returns, is materialized") {
    val seen = ArrayBuffer.empty[(Int, Boolean)]
    val out = Ckpt.iterate("spec", init, 4) { (df, r) =>
      seen += r -> checkpointRdd(df).isCheckpointed
      step(df)
    }(Ckpt.rows)
    assert(seen.toList == (1 to 4).map(_ -> true).toList)
    assert(checkpointRdd(out.frame).isCheckpointed)
    assert(out.signals == Seq.fill(5)(200L))
    assert(!out.converged)
    // `done` sees (previous, current) signals and stops the loop early
    val early = Ckpt.iterate("spec", init, 4)((df, _) => step(df))(
      Ckpt.rows, (prev: Long, next: Long) => next == prev)
    assert(early.converged && early.signals == Seq(200L, 200L))
    assert(checkpointRdd(early.frame).isCheckpointed)
  }

  test("after four rounds only the base inputs and the final frame hold blocks") {
    val sc = spark.sparkContext
    val (input, _) = Ckpt.settle(init).head
    val before = sc.getPersistentRDDs.keySet.toSet
    assert(before.contains(checkpointRdd(input).id))
    val stepInputs = ArrayBuffer.empty[Int]
    val out = Ckpt.iterate("spec", input.select(col("id"), col("g")), 4) { (df, _) =>
      stepInputs += checkpointRdd(df).id
      step(df)
    }(Ckpt.rows)
    // rounds 0..3: the truncated init, then rounds 1-3
    assert(stepInputs.size == 4 && stepInputs.distinct.size == 4)
    val after = sc.getPersistentRDDs.keySet.toSet
    assert(after == before + checkpointRdd(out.frame).id,
      s"left behind: ${after -- before}, rounds: $stepInputs")
  }

  test("two threads read the returned frame at once: broadcast join and shuffle aggregate") {
    val out = Ckpt.iterate("spec", init, 2)((df, _) => step(df))(Ckpt.rows).frame
    val names = (0 until 7).map(g => (g.toLong, s"g$g")).toDF("g", "name")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val viaBroadcast = Future {
        start.await()
        names.join(broadcast(out), "g").groupBy("g").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val viaShuffle = Future {
        start.await()
        out.groupBy("g").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      start.countDown()
      val a = Await.result(viaBroadcast, 120.seconds)
      val b = Await.result(viaShuffle, 120.seconds)
      assert(a == b && a.values.sum == 200L)
    } finally pool.shutdownNow()
  }

  test("no loop in src/main carries a lazily truncated frame by hand") {
    val handRolled = """^\s*(var\s+)?[a-z]\w*\s*=\s*(graft\.)?Ckpt\.truncate""".r
    assert(handRolled.findFirstIn("      nn = graft.Ckpt.truncate(nn)").isDefined)
    val found = sourceHits("src/main", handRolled)
    assert(found.isEmpty, "use Ckpt.iterate:\n" + found.mkString("\n"))
  }

  test("nothing in src/main outside Ckpt checkpoints a frame") {
    // split so this file does not match its own search
    val checkpointCall = Seq("localCheckpoint\\(", "\\.checkpoint\\(", "Ckpt\\.truncate")
      .mkString("|").r
    for (line <- Seq("x.localCheckpoint(false)", "df.checkpoint(eager = false)",
        "graft.Ckpt.truncateBulk(e)", "Ckpt.truncate(df)"))
      assert(checkpointCall.findFirstIn(line).isDefined, line)
    val found = sourceHits("src/main", checkpointCall, _.endsWith("/graft/core.scala"))
    assert(found.isEmpty, s"${found.size} checkpoints outside Ckpt; use Ckpt.settle or " +
      "Ckpt.iterate:\n" + found.mkString("\n"))
  }

  test("settle materializes three frames in one job and returns their row counts") {
    // narrow plans: their truncation runs no stage, so every job counted is settle's
    val frames = Seq(init, spark.range(0, 37).select((col("id") * 2).as("x")),
      init.filter(col("g") === 3))
    var settled: IndexedSeq[(DataFrame, Long)] = null
    assert(jobsOf { settled = Ckpt.settle(frames.head, frames.tail: _*) } == 1)
    assert(settled.size == 3)
    assert(settled.forall { case (df, _) => checkpointRdd(df).isCheckpointed })
    assert(settled.map(_._2) == frames.map(_.count()))
    assert(settled.map(_._2) == settled.map(_._1.count()))
    // an already materialized frame is not cut again
    val again = Ckpt.settle(settled.head._1).head
    assert(checkpointRdd(again._1).id == checkpointRdd(settled.head._1).id && again._2 == 200L)
  }

  test("a frame that a partial read touched first still comes back fully checkpointed") {
    val touched = init.localCheckpoint(false) // the lazy shape only Ckpt may make
    assert(touched.take(1).length == 1)
    val (df, n) = Ckpt.settle(touched).head
    assert(checkpointRdd(df).isCheckpointed && n == 200L && df.count() == 200L)
    val (bulk, nBulk) = Ckpt.settleBulk(init.localCheckpoint(false)).head
    assert(checkpointRdd(bulk).isCheckpointed && nBulk == 200L)
  }

  test("in durable mode settle writes its frames under the configured directory") {
    val dir = Files.createTempDirectory("graft_settle")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    try {
      val settled = Ckpt.settle(init, init.filter(col("g") === 3))
      assert(settled.map(_._2) == Seq(200L, init.filter(col("g") === 3).count()))
      for ((df, _) <- settled) {
        val rdd = checkpointRdd(df)
        assert(rdd.isCheckpointed)
        val file = rdd.getCheckpointFile
        assert(file.exists(_.contains(dir.getFileName.toString)), s"checkpoint file $file")
      }
      val written = {
        val s = Files.walk(dir)
        try s.iterator.asScala.count(p => Files.isRegularFile(p)) finally s.close()
      }
      assert(written > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }
}
