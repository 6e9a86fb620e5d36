package graft

import graft.functions.{CdcChunks, CdcChunksImpl}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Specs for the content-defined chunking kernel: independent rolling
  * reference, closed-form equivalence (the oracle's derivation), boundary
  * invariants, and the shift-robustness property that motivates CDC.
  */
class CdcChunksSpec extends SparkSpec {

  private val (minL, div, maxL) = (12, 32, 96)
  private val Mul = 2654435761L
  private val M = 1L << 28

  /** Independent reference: the plain rolling recurrence, cut-by-cut. */
  private def refCuts(s: String): Seq[Long] = {
    val cp = s.codePoints().toArray
    val n = cp.length
    var h = 0L
    var last = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (t <- 1 to n) {
      h = ((h << 1) + (cp(t - 1).toLong * Mul) % M) % M
      val len = t - last
      if ((len >= minL && h % div == 0) || len >= maxL) { out += t.toLong; last = t }
    }
    if (last < n) out += n.toLong
    out.toSeq
  }

  /** The oracle's closed form: h_t = Σ_{j=t-27..t} gear(c_j)·2^(t-j) mod 2^28. */
  private def closedFormH(cp: Array[Int], t: Int): Long = {
    var s = 0L
    for (j <- math.max(1, t - 27) to t)
      s += ((cp(j - 1).toLong * Mul) % M) * (1L << (t - j))
    s % M
  }

  private def kernel(s: String): Seq[Long] = {
    val a = CdcChunksImpl.cutPositions(UTF8String.fromString(s), minL, div, maxL)
    (0 until a.numElements()).map(a.getLong)
  }

  private val rng = new scala.util.Random(42)
  private def randText(n: Int): String =
    Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString

  test("kernel matches the independent rolling reference") {
    val cases = Seq("", "a", "short", "x" * 200, randText(48), randText(553),
      randText(96), randText(97), "λαμβδα κείμενο " * 20)
    cases.foreach { s => assert(kernel(s) === refCuts(s), s"on <$s>") }
  }

  test("closed-form hash equals the rolling hash at every position") {
    val s = randText(300)
    val cp = s.codePoints().toArray
    var h = 0L
    for (t <- 1 to cp.length) {
      h = ((h << 1) + (cp(t - 1).toLong * Mul) % M) % M
      assert(h === closedFormH(cp, t), s"position $t")
    }
  }

  test("boundary invariants: ascending, min/max lengths, exact cover") {
    val s = randText(553)
    val cuts = kernel(s)
    assert(cuts.last === s.length.toLong)
    assert(cuts === cuts.sorted && cuts.distinct === cuts)
    val lens = cuts.zip(0L +: cuts.init).map { case (c, p) => c - p }
    assert(lens.forall(l => l >= 1 && l <= maxL))
    assert(lens.init.forall(_ >= minL)) // only the tail remainder may be short
    assert(lens.sum === s.length.toLong)
  }

  test("all-same-character input forces maxLen cuts (no gear variation)") {
    val cuts = kernel("z" * 300)
    // whatever the hash stream does on a constant input, it is constant per
    // position pattern; verify against the reference and the cover property
    assert(cuts === refCuts("z" * 300))
    assert(cuts.last === 300L)
  }

  test("shift robustness: a prefix edit re-aligns boundaries") {
    val body = randText(500)
    val a = kernel(body)
    val b = kernel("INSERTED PREFIX " + body)
    // compare boundary sets as distances from the END of the text: after
    // resynchronisation (≤ one chunk + window), suffix boundaries coincide
    val fromEndA = a.map(500L - _).toSet
    val fromEndB = b.map((500L + 16) - _).toSet
    val common = fromEndA.intersect(fromEndB).size
    assert(common >= a.size - 2,
      s"only $common of ${a.size} suffix boundaries survived a prefix edit")
  }

  test("Column API runs codegen'd over a DataFrame") {
    import spark.implicits._
    val df = Seq((1L, randText(100)), (2L, ""), (3L, "tiny"))
      .toDF("id", "text")
      .select(col("id"), CdcChunks(col("text"), minL, div, maxL).as("cuts"))
    val got = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(2L) === Seq.empty)
    assert(got(3L) === Seq(4L))
    assert(got(1L).last === 100L)
  }

  test("SQL registration coerces and runs") {
    val one = spark.sql(
      "SELECT cdc_chunks('abcdefghijklmnopqrstuvwxyz', 12, 32, 96) AS c")
      .collect()(0).getSeq[Long](0)
    assert(one === kernel("abcdefghijklmnopqrstuvwxyz"))
  }

  test("CDC dedup pairs every seeded near-dup with its source, canonically") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("dx_dedup_cdc").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // canonical ordered pairs, each emitted once
    assert(rows.forall { case (l, r0, _, _) => l < r0 })
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // every seeded mutated copy (id + 1000000, tail edit) long enough to
    // produce >= 3 chunks must pair with its source — CDC boundaries
    // re-align after the edit, so all but the tail chunks are shared
    val longSeeds = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 === 0 && length(col("text")) >= 300)
      .select("doc_id").collect().map(_.getLong(0))
    longSeeds.foreach { id =>
      val hit = rows.find { case (l, r0, _, _) => l == id && r0 == id + 1000000 }
      assert(hit.isDefined, s"near-dup of $id not paired")
      assert(hit.get._4 >= 100, s"pair of $id shares only ${hit.get._4} bytes")
    }
  }
}
