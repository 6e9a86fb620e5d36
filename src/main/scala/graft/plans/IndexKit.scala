package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Primitive arrays through a broadcast exchange. The exchange ships only
  * rows or a hashed relation, so an index built on the driver travels as
  * binary rows of at most 8 MB each: chunks keep any index under Spark's
  * broadcast limits packable, where one byte array would stop at 2 GB.
  * The first row is a header of (type tag, length) per array; arrays of
  * `Long`, `Int`, `Float`, `Double` and `Boolean` are supported.
  */
private[plans] object Packed {
  private val ChunkBytes = 8 << 20

  private def shape(a: Any): (Int, Int) = a match {
    case x: Array[Long] => (0, x.length)
    case x: Array[Int] => (1, x.length)
    case x: Array[Float] => (2, x.length)
    case x: Array[Double] => (3, x.length)
    case x: Array[Boolean] => (4, x.length)
    case other => throw new IllegalArgumentException(s"cannot pack ${other.getClass}")
  }

  def pack(arrays: Any*): Array[InternalRow] = {
    val chunks = new java.util.ArrayList[Array[Byte]]()
    val head = ByteBuffer.allocate(4 + 8 * arrays.size).order(ByteOrder.LITTLE_ENDIAN)
    head.putInt(arrays.size)
    arrays.map(shape).foreach { case (tag, len) => head.putInt(tag); head.putInt(len) }
    chunks.add(head.array())
    def put(len: Int, width: Int)(fill: (ByteBuffer, Int, Int) => Unit): Unit = {
      var at = 0
      while (at < len) {
        val m = math.min(len - at, ChunkBytes / width)
        val b = ByteBuffer.allocate(m * width).order(ByteOrder.LITTLE_ENDIAN)
        fill(b, at, m)
        chunks.add(b.array())
        at += m
      }
    }
    arrays.foreach {
      case a: Array[Long] => put(a.length, 8)((b, at, m) => b.asLongBuffer().put(a, at, m))
      case a: Array[Int] => put(a.length, 4)((b, at, m) => b.asIntBuffer().put(a, at, m))
      case a: Array[Float] => put(a.length, 4)((b, at, m) => b.asFloatBuffer().put(a, at, m))
      case a: Array[Double] => put(a.length, 8)((b, at, m) => b.asDoubleBuffer().put(a, at, m))
      case a: Array[Boolean] =>
        put(a.length, 1)((b, at, m) => (at until at + m).foreach(i => b.put((if (a(i)) 1 else 0).toByte)))
    }
    val proj = UnsafeProjection.create(Array[DataType](BinaryType))
    val out = new Array[InternalRow](chunks.size)
    var i = 0
    while (i < out.length) {
      out(i) = proj(new GenericInternalRow(Array[Any](chunks.get(i)))).copy()
      i += 1
    }
    out
  }

  /** The arrays [[pack]] was given, in order. */
  def unpack(rows: Array[InternalRow]): IndexedSeq[Any] = {
    var r = 0
    def next(): ByteBuffer = {
      val b = ByteBuffer.wrap(rows(r).getBinary(0)).order(ByteOrder.LITTLE_ENDIAN)
      r += 1
      b
    }
    def get(len: Int, width: Int)(read: (ByteBuffer, Int, Int) => Unit): Unit = {
      var at = 0
      while (at < len) {
        val b = next()
        val m = b.remaining() / width
        read(b, at, m)
        at += m
      }
    }
    val head = next()
    val shapes = IndexedSeq.fill(head.getInt())((head.getInt(), head.getInt()))
    shapes.map {
      case (0, len) =>
        val a = new Array[Long](len); get(len, 8)((b, at, m) => b.asLongBuffer().get(a, at, m)); a
      case (1, len) =>
        val a = new Array[Int](len); get(len, 4)((b, at, m) => b.asIntBuffer().get(a, at, m)); a
      case (2, len) =>
        val a = new Array[Float](len); get(len, 4)((b, at, m) => b.asFloatBuffer().get(a, at, m)); a
      case (3, len) =>
        val a = new Array[Double](len); get(len, 8)((b, at, m) => b.asDoubleBuffer().get(a, at, m)); a
      case (_, len) =>
        val a = new Array[Boolean](len)
        get(len, 1)((b, at, m) => (at until at + m).foreach(i => a(i) = b.get() != 0)); a
    }
  }
}

/** Best-first selection over (node, sim, null) lists, reused list after
  * list: the order of [[TopKPerKeyExec]] on `(sim DESC, node ASC)`. Sims
  * compare under Spark's double order (`SQLOrderingUtil.compareDoubles`,
  * nulls last); nodes are ordinals into an id-sorted index, so node order
  * is id order. A bounded heap keeps the worst kept entry at its root.
  */
private[plans] final class BestOf {
  private var heap = new Array[Int](16)
  private var sel = new Array[Int](16)

  /** The position of the `i`-th best entry of the last [[select]]. */
  def apply(i: Int): Int = sel(i)

  /** Fills positions `0 until m` with the best `m ≤ limit` of the first
    * `count` entries, best first, skipping entries whose node is `skip`.
    * Returns m.
    */
  def select(
      node: Array[Int], sim: Array[Double], nul: Array[Boolean], count: Int,
      limit: Int, skip: Int = -1): Int = {
    if (heap.length < limit) { heap = new Array[Int](limit); sel = new Array[Int](limit) }
    // a before b: non-null first, then sim descending, then node ascending
    def before(a: Int, b: Int): Boolean = {
      if (nul(a) != nul(b)) return nul(b)
      if (!nul(a)) {
        val c = SQLOrderingUtil.compareDoubles(sim(a), sim(b))
        if (c != 0) return c > 0
      }
      node(a) < node(b)
    }
    def down(from: Int, size: Int): Unit = {
      var p = from
      var go = true
      while (go) {
        val l = 2 * p + 1
        if (l >= size) go = false
        else {
          val r = l + 1
          // the worse child
          val c = if (r < size && before(heap(l), heap(r))) r else l
          if (before(heap(p), heap(c))) {
            val t = heap(p); heap(p) = heap(c); heap(c) = t; p = c
          } else go = false
        }
      }
    }
    var size = 0
    var i = 0
    while (i < count) {
      if (node(i) != skip) {
        if (size < limit) {
          heap(size) = i
          var c = size
          size += 1
          var up = true
          while (up && c > 0) {
            val p = (c - 1) / 2
            if (before(heap(p), heap(c))) {
              val t = heap(p); heap(p) = heap(c); heap(c) = t; c = p
            } else up = false
          }
        } else if (limit > 0 && before(i, heap(0))) {
          heap(0) = i
          down(0, size)
        }
      }
      i += 1
    }
    // pop worst-first into the back of `sel`
    var j = size - 1
    while (j >= 0) {
      sel(j) = heap(0)
      heap(0) = heap(j)
      down(0, j)
      j -= 1
    }
    size
  }
}

private[plans] object IndexKit {

  /** [[graft.functions.CosineSimilarity]]'s arithmetic over two float
    * slices: ascending-index double accumulation over the shorter length,
    * 0.0 against a zero norm.
    */
  def cosine(x: Array[Float], xOff: Int, xLen: Int, y: Array[Float], yOff: Int, yLen: Int): Double = {
    val n = math.min(xLen, yLen)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(xOff + i).toDouble
      val yv = y(yOff + i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
