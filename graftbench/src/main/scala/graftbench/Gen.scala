package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Everything a workload feeds graft is made here
  * from the seed, with no graft code involved, so a change to the program
  * cannot change its own inputs. Each generator also returns the planted
  * truth the correctness gates check against.
  */
object Gen {
  private val syllables = Array(
    "ka", "ri", "mo", "te", "lu", "na", "so", "vi", "de", "pa", "go", "ze", "ba", "fi",
    "ku", "le", "ma", "no", "pe", "ra", "si", "to", "va", "wi", "ya", "zo", "che", "dra",
    "gri", "kol", "mar", "nes", "pol", "ros", "sta", "tin", "vel", "bro", "fen", "hal",
    "jor", "lis", "mun", "ost", "quin", "sel", "tor", "ulm", "ver", "xan")

  def word(r: SplittableRandom, minSyl: Int, maxSyl: Int): String = {
    val n = minSyl + r.nextInt(maxSyl - minSyl + 1)
    val sb = new StringBuilder
    for (_ <- 0 until n) sb ++= syllables(r.nextInt(syllables.length))
    sb.toString
  }

  /** SHA-256 of the rows' string forms, first 16 hex digits. */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0x0a.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** Fisher-Yates shuffle in place; returns `xs`. */
  def shuffled[T](r: SplittableRandom, xs: Array[T]): Array[T] = {
    for (i <- xs.indices.reverse) {
      val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs
  }

  /** A letter the string does not contain, so the edit adds no character
    * Jaro's greedy matching could pair with the wrong position.
    */
  private def absent(r: SplittableRandom, s: String): Char = {
    val free = letters.filterNot(c => s.indexOf(c) >= 0)
    free(r.nextInt(free.length))
  }

  /** One typo of the kinds a second source introduces: a suffix edit, a
    * prefix edit or a replaced character. Every edit keeps the typo's
    * Jaro-Winkler similarity to the original at 0.9 or more for strings of
    * six or more characters: inserted letters are absent from the string
    * and a replaced letter occurs once, so no edit misaligns the matching.
    */
  def edit(r: SplittableRandom, s: String, kind: Int): String = {
    val once = (1 until s.length).filter(i => s.count(_ == s(i)) == 1)
    kind match {
      case 1 => s"${absent(r, s)}$s"
      case 2 if once.nonEmpty => s.updated(once(r.nextInt(once.length)), absent(r, s))
      case _ => if (r.nextBoolean() && s.length > 6) s.dropRight(1) else s + absent(r, s)
    }
  }

  // ---------------------------------------------------------------- er_resolve

  final case class Rec(id: Long, recKey: String, name: String, city: String, blk: String, entity: Int)

  /** Source A holds one record per entity; source B two edited variants.
    * The 3-char blocking key is an attribute neither source edits (think
    * postcode district): most blocks hold about `perBlock` entities and
    * `heavy` blocks each hold `heavyShare` of all entities.
    */
  final case class Er(a: Array[Rec], b: Array[Rec], updates: Array[Array[Rec]],
      probes: Array[Array[String]], judgements: Array[(Long, Long, Int)]) {
    def candidates: Long = {
      val na = a.groupBy(_.blk).map { case (k, v) => k -> v.length.toLong }
      b.groupBy(_.blk).map { case (k, v) => na.getOrElse(k, 0L) * v.length }.sum
    }
  }

  def er(seed: Long, entities: Int, perBlock: Int = 6, heavy: Int = 3,
      heavyShare: Double = 0.01, updateBatches: Int = 4, updateSize: Int = 200,
      probeSize: Int = 200): Er = {
    val r = new SplittableRandom(seed ^ 0x45525245L)
    val seen = new java.util.HashSet[String]
    def fresh(): String = {
      var n = s"${word(r, 2, 3)} ${word(r, 3, 4)}"
      while (!seen.add(n)) n = s"${word(r, 2, 3)} ${word(r, 3, 4)}"
      n
    }
    val cities = Array.fill(300)(word(r, 3, 4))
    val nBlocks = math.max(1, entities / perBlock)
    def code(i: Int) = s"${letters(i / 676 % 26)}${letters(i / 26 % 26)}${letters(i % 26)}"
    val heavyN = (entities * heavyShare).toInt
    // regular entities go round-robin over a shuffled block order, so every
    // seed has the same block sizes and candidate count
    val order = shuffled(r, (0 until nBlocks).toArray)
    val blkOf = Array.tabulate(entities) { e =>
      if (e < heavy * heavyN) code(e / heavyN) else code(heavy + order(e % nBlocks))
    }
    val a = Array.tabulate(entities) { e =>
      Rec(e.toLong, f"a$e%07d", fresh(), cities(r.nextInt(cities.length)), blkOf(e), e)
    }
    def variant(src: Rec, id: Long, key: String): Rec = {
      val name = edit(r, src.name, r.nextInt(3))
      val ck = r.nextInt(4)
      val city = if (ck == 3) src.city else edit(r, src.city, ck)
      Rec(id, key, name, city, src.blk, src.entity)
    }
    // B ids are a shuffled range above A's, so cluster minima are A ids
    // only by construction of the id space, not by row order
    val bIds = shuffled(r, (0 until 2 * entities).map(i => (entities + i).toLong).toArray)
    val b = Array.tabulate(2 * entities) { i =>
      variant(a(i / 2), bIds(i), f"b$i%07d")
    }
    var next = 3L * entities
    val updates = Array.fill(updateBatches) {
      Array.fill(updateSize) {
        val src = a(r.nextInt(entities)); next += 1
        variant(src, next, s"u$next")
      }
    }
    val probes = Array.fill(updateBatches)(Array.fill(probeSize)(a(r.nextInt(entities)).recKey))
    // judged pairs: endorsed true links and rejected same-block non-links
    val byBlk = a.groupBy(_.blk)
    val judgements = Array.tabulate(4000) { i =>
      val x = b(r.nextInt(b.length))
      if (i % 2 == 0) (a(x.entity).id, x.id, 1)
      else {
        val peers = byBlk(x.blk)
        val y = peers(r.nextInt(peers.length))
        (y.id, x.id, if (y.entity == x.entity) 1 else -1)
      }
    }
    Er(a, b, updates, probes, judgements)
  }

  // -------------------------------------------------------------- corpus_index

  final case class Doc(id: Long, lines: Array[String], cluster: Int, gopher: Boolean = true)

  final case class Vecs(ids: Array[Long], v: Array[Array[Float]])

  /** A training-data corpus and the chunk embeddings of its documents.
    * `docs`: `lines` lines of `words` words over a Zipf vocabulary that
    * includes Gopher stopwords. Planted near-dup clusters have power-law
    * sizes; each member is its cluster's base text with `edits` words
    * replaced. A share of singletons is built to fail the Gopher rules
    * (`gopher` false). `cluster` is -1 for a singleton.
    * `chunks`: `chunksPerDoc` vectors per document (id = doc id * 100 +
    * chunk), each its document's topic direction plus isotropic noise.
    * `survivors`: the documents a correct dedup keeps (Gopher passes, one
    * per cluster, the minimum id). Op inputs: query batches, batches of new
    * chunks to insert and of surviving chunk ids to delete.
    */
  final case class Corpus(docs: Array[Doc], chunks: Vecs, survivors: Set[Long],
      queries: Array[Vecs], adds: Array[Vecs], removes: Array[Array[Long]])

  def corpus(seed: Long, clusters: Int, maxCluster: Int, singletons: Int,
      lines: Int = 5, words: Int = 10, edits: Int = 1, failShare: Double = 0.05,
      chunksPerDoc: Int = 12, dim: Int = 32, topics: Int = 40, noise: Double = 0.35,
      opSize: Int = 50, batches: Int = 4): Corpus = {
    val r = new SplittableRandom(seed ^ 0x44454455L)
    val stop = Array("the", "be", "to", "of", "and", "that", "have", "with")
    val vocab = stop ++ Array.fill(6000)(word(r, 2, 3))
    // Zipf(1) over ranks: cumulative weights for inverse-CDF sampling
    val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def tok(): String = {
      val u = r.nextDouble() * cdf.last
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      vocab(lo)
    }
    // every line opens with a stopword, so each document meets Gopher's
    // two-stopword rule whatever the Zipf draw; edits never touch it
    def text(): Array[Array[String]] =
      Array.tabulate(lines)(l => stop(l % stop.length) +: Array.fill(words - 1)(tok()))
    def render(t: Array[Array[String]]) = t.map(_.mkString(" "))
    def mutate(t: Array[Array[String]]): Array[Array[String]] = {
      val c = t.map(_.clone())
      for (_ <- 0 until edits) c(r.nextInt(lines))(1 + r.nextInt(words - 1)) = vocab(stop.length + r.nextInt(6000))
      c
    }
    var id = 0L
    def nextId(): Long = { id += 1; id }
    // cluster sizes: the quantiles of a power law, P(size >= s) ~ 1/s,
    // capped at maxCluster, so every seed has the same sizes
    val bases = Array.fill(clusters)(text())
    val docs = Array.newBuilder[Doc]
    for (c <- 0 until clusters) {
      val size = math.min(maxCluster, math.max(2, (2.0 / (1.0 - (c + 0.5) / clusters)).toInt))
      for (_ <- 0 until size) docs += Doc(nextId(), render(mutate(bases(c))), c)
    }
    val failing = math.round(failShare * singletons).toInt
    for (i <- 0 until singletons) {
      if (i < failing) {
        // 20 words in bullet lines: too short and bullet-heavy
        docs += Doc(nextId(), Array.fill(4)(("-" +: Array.fill(4)(tok())).mkString(" ")), -1, gopher = false)
      } else docs += Doc(nextId(), render(text()), -1)
    }
    // shuffle row order so cluster members are not adjacent in the input
    val all = shuffled(r, docs.result())
    val survivors = all.filter(_.gopher).groupBy(d => if (d.cluster < 0) -d.id else d.cluster.toLong)
      .values.map(_.map(_.id).min).toSet

    def gauss(): Double = {
      // Box-Muller; SplittableRandom has no nextGaussian on every JDK
      val u = 1.0 - r.nextDouble(); val w = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w)
    }
    val centers = Array.fill(topics) {
      val c = Array.fill(dim)(gauss()); val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    def point(topic: Int): Array[Float] =
      Array.tabulate(dim)(i => (centers(topic)(i) + noise / math.sqrt(dim) * gauss()).toFloat)
    val chunkIds = Array.newBuilder[Long]
    val chunkVs = Array.newBuilder[Array[Float]]
    for (d <- all) {
      val topic = r.nextInt(topics)
      for (c <- 0 until chunksPerDoc) { chunkIds += d.id * 100 + c; chunkVs += point(topic) }
    }
    def vecs(from: Long, m: Int) =
      Vecs(Array.tabulate(m)(i => from + i), Array.fill(m)(point(r.nextInt(topics))))
    val queries = Array.tabulate(batches)(b => vecs(1000000000L + b * 10000L, opSize))
    val adds = Array.tabulate(batches)(b => vecs(2000000000L + b * 10000L, opSize))
    val indexed = survivors.toArray.sorted.flatMap(d => (0 until chunksPerDoc).map(d * 100 + _))
    val removes = Array.fill(batches) {
      val s = new java.util.TreeSet[java.lang.Long]
      while (s.size < opSize) s.add(indexed(r.nextInt(indexed.length)))
      s.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    }
    Corpus(all, Vecs(chunkIds.result(), chunkVs.result()), survivors, queries, adds, removes)
  }
}
