package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.{ByteArrayOutputStream, PrintStream}

/** `Gate.sameRows` is exact multiset equality, as two-way `exceptAll` is,
  * in one job; `Gate.all` names every failing check on stderr; and no
  * query or stream compares frames any other way.
  */
class GateSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5), (3L, "c", 2.5))
    .toDF("id", "s", "x")

  private def exceptBoth(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("equal multisets in another row order and partitioning are the same rows") {
    val shuffled = base.orderBy(col("id").desc).repartition(3)
    assert(Gate.sameRows(base, shuffled))
    assert(Gate.sameRows(shuffled.coalesce(1), base.repartition(5, col("s"))))
    // names are not compared, positions are
    assert(Gate.sameRows(base, base.toDF("k", "t", "y")))
    assert(Gate.sameRows(base.limit(0), base.filter(lit(false))))
  }

  test("two extra copies of a row differ, although their XOR fingerprint does not") {
    val twice = base.union(base.filter(col("id") === 1L)).union(base.filter(col("id") === 1L))
    assert(!Gate.sameRows(base, twice))
    assert(!Gate.sameRows(twice, base))
    def xorHash(df: DataFrame) = df.agg(expr("bit_xor(xxhash64(id, s, x))")).head().getLong(0)
    assert(xorHash(base) == xorHash(twice), "the XOR form should miss the duplicated row")
  }

  test("one extra copy, a missing row, null vs value and -0.0 vs 0.0 read as exceptAll does") {
    val cases: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("one extra copy", base, base.union(base.filter(col("id") === 2L))),
      ("a missing row", base, base.filter(col("id") =!= 2L)),
      ("a duplicate collapsed", base, base.distinct()),
      ("null vs value",
        Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b")).toDF("id", "s"),
        Seq[(Option[Long], String)]((Some(1L), "a"), (Some(0L), "b")).toDF("id", "s")),
      ("null vs null",
        Seq[(Option[Long], String)]((None, "a"), (None, null)).toDF("id", "s"),
        Seq[(Option[Long], String)]((None, null), (None, "a")).toDF("id", "s")),
      ("-0.0 vs 0.0", Seq(-0.0, 1.0).toDF("x"), Seq(0.0, 1.0).toDF("x")),
      ("NaN vs NaN", Seq(Double.NaN, 1.0).toDF("x"), Seq(0.0 / 0.0, 1.0).toDF("x")),
      ("-0.0 in an array", Seq(Seq(-0.0, 2.0)).toDF("v"), Seq(Seq(0.0, 2.0)).toDF("v")),
      ("-0.0 in a struct",
        Seq((1L, -0.0)).toDF("i", "d").select(struct("i", "d").as("p")),
        Seq((1L, 0.0)).toDF("i", "d").select(struct("i", "d").as("p"))),
      ("bytes", Seq(Array[Byte](1, 2)).toDF("b"), Seq(Array[Byte](1, 3)).toDF("b")))
    for ((what, a, b) <- cases) {
      val want = exceptBoth(a, b)
      assert(Gate.sameRows(a, b) == want, s"$what: exceptAll says $want")
      assert(Gate.sameRows(b, a) == want, s"$what (swapped): exceptAll says $want")
    }
  }

  test("each sameRows call is one job") {
    // local and range inputs: reading them runs no stage of their own
    def frame(partitions: Int) = spark.range(0, 500, 1, partitions)
      .select((col("id") % 37).as("k"), (col("id") * 0.5).as("x"))
    var equal = false
    assert(jobsOf { equal = Gate.sameRows(frame(4), frame(3)) } == 1)
    assert(equal)
    assert(jobsOf { equal = Gate.sameRows(base, base.filter(col("id") =!= 2L)) } == 1)
    assert(!equal)
  }

  test("a failing gate returns false and names each failing check on stderr") {
    val err = new ByteArrayOutputStream
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    val (failing, passing) =
      try (Gate.all("spec_gate")("params_equal" -> true, "scores_equal" -> false,
          "rows_positive" -> false),
        Gate.all("spec_gate")("params_equal" -> true))
      finally System.setErr(saved)
    assert(!failing && passing)
    assert(err.toString.linesIterator.toList == List(
      "graft: gate spec_gate check scores_equal failed",
      "graft: gate spec_gate check rows_positive failed"))
  }

  test("a column count or type mismatch fails by name") {
    val count = intercept[IllegalArgumentException](Gate.sameRows(base, base.select("id", "s")))
    assert(count.getMessage.contains("3 columns (id bigint, s string, x double) vs 2"),
      count.getMessage)
    val typed = intercept[IllegalArgumentException](
      Gate.sameRows(base, base.withColumn("x", col("x").cast("float"))))
    assert(typed.getMessage.contains("column 3 is x double vs x float"), typed.getMessage)
    val map = intercept[IllegalArgumentException](
      Gate.sameRows(Seq(Map(1 -> 2)).toDF("m"), Seq(Map(1 -> 2)).toDF("m")))
    assert(map.getMessage.contains("column 1 m is a map<int,int>"), map.getMessage)
  }

  test("no query or stream compares frames by hand") {
    // split so this file does not match its own search
    val handRolled = Seq("exceptAll\\(", "bit_xor\\(").mkString("|").r
    for (line <- Seq("a.exceptAll(b).count() == 0", """expr("bit_xor(xxhash64(payload))")"""))
      assert(handRolled.findFirstIn(line).isDefined, line)
    val found = Seq("src/main/scala/graft/queries", "src/main/scala/graft/streaming")
      .flatMap(sourceHits(_, handRolled))
    assert(found.isEmpty, s"compare frames with Gate.sameRows:\n" + found.mkString("\n"))
  }
}
