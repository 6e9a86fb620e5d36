package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** `Ckpt.iterate` owns the round protocol of every iterative operator: each
  * frame a round hands on is truncated and already materialized, dead
  * rounds hold no blocks, and the returned frame is safe to read from two
  * threads at once.
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
    val input = Ckpt.truncate(init)
    Ckpt.rows(input)
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
    val files = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, "no sources found: wrong working directory?")
    val hits = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if handRolled.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use Ckpt.iterate:\n" + hits.mkString("\n"))
  }
}
