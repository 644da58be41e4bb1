package graft.perfbench

import graft.model.{BtCell, CellCodec}

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded synthetic data for the benchmark, plus the answers its checks
  * need. Every value is a pure function of (seed, table, row index,
  * field), so expected rows are recomputed on demand instead of held in
  * a second copy, and the same seed always gives the same bytes. Each
  * table folds every cell it generates into a [[Checksum]].
  */
object Gen {
  val Family = "cf"

  /** SplitMix64 finalizer over (seed, stream, index): a stateless,
    * well-mixed 64-bit draw, non-negative after `>>> 1`.
    */
  def draw(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  /** FNV-1a style fold over every generated cell. */
  final class Checksum {
    private var h = 0xcbf29ce484222325L
    private var n = 0L
    private def mix(b: Array[Byte]): Unit = {
      var i = 0
      while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
      h = (h ^ 0xff) * 0x100000001b3L
    }
    def add(key: String, c: BtCell): Unit = {
      mix(key.getBytes(UTF_8)); mix(c.qualifier.getBytes(UTF_8)); mix(c.value)
      h = (h ^ c.timestampMicros) * 0x100000001b3L
      n += 1
    }
    def cells: Long = n
    def hex: String = f"$h%016x"
  }

  val BaseTs = 1600000000000000L

  def long(q: String, v: Long, ts: Long = BaseTs): BtCell = BtCell(Family, q, ts, CellCodec.encodeLong(v))
  def str(q: String, v: String, ts: Long = BaseTs): BtCell = BtCell(Family, q, ts, CellCodec.encodeString(v))
  // the connector's convention: doubles ride as UTF-8 strings
  def dbl(q: String, v: Double, ts: Long = BaseTs): BtCell = str(q, v.toString, ts)

  // -------------------------------------------------------------- wide

  /** `wide`: composite key shard#seq, six typed qualifiers, and `dim`,
    * a 50-row dimension table joined on `dim_id`. Column arrays are kept
    * so slice aggregates can be recomputed in plain Scala.
    */
  final class Wide(val seed: Long, rows0: Int) {
    val Shards = 4
    val perShard: Int = math.max(1, rows0 / Shards)
    val n: Int = Shards * perShard
    val Cats = 20
    val Dims = 50
    val DimGroups = 7

    val cat = new Array[Int](n)
    val qty = new Array[Long](n)
    val price = new Array[Double](n)
    val score = new Array[Long](n)
    val flag = new Array[Boolean](n)
    val dim = new Array[Int](n)
    (0 until n).foreach { j =>
      cat(j) = (draw(seed, 21, j) % Cats).toInt
      qty(j) = draw(seed, 22, j) % 1000L
      price(j) = (draw(seed, 23, j) % 100000L) / 100.0
      score(j) = draw(seed, 24, j) % 1000000L
      flag(j) = draw(seed, 25, j) % 10 == 0
      dim(j) = (draw(seed, 26, j) % Dims).toInt
    }

    def shard(s: Int): String = s"s$s"
    def seqOf(q: Int): String = f"$q%07d"
    def key(j: Int): String = s"${shard(j / perShard)}#${seqOf(j % perShard)}"
    def catName(c: Int): String = f"c$c%02d"
    def dimGroup(d: Int): String = s"g${d % DimGroups}"

    def cells(j: Int): Seq[BtCell] = Seq(
      str("cat", catName(cat(j))), long("qty", qty(j)), dbl("price", price(j)),
      long("score", score(j)), str("flag", if (flag(j)) "y" else "n"), long("dim_id", dim(j).toLong))

    def dimCells(d: Int): Seq[BtCell] = Seq(long("dim_id", d.toLong), str("dname", dimGroup(d)))
    def dimKey(d: Int): String = f"$d%03d"

    val qualifiers = "cat:string,qty:long,price:double,score:long,flag:string,dim_id:long"
    val dimQualifiers = "dim_id:long,dname:string"
  }

  // ------------------------------------------------------------ ingest

  /** `events` for ingest_mixed: key user#item, two qualifiers. Version
    * `v` of a key has cell timestamp BaseTs + v and values that are a
    * function of (key, v), so any read-back can be checked exactly.
    */
  final class Ingest(val seed: Long, val seedRows: Int, val batchRows: Int, val batches: Int) {
    // what f"u${k % 997}%03d#$k%08d" gives, without String.format's cost:
    // the ingest inputs build a million keys inside set-up
    def key(k: Int): String = "u" + pad(k % 997, 3) + "#" + pad(k, 8)
    private def pad(v: Int, width: Int): String = {
      val s = Integer.toString(v)
      if (s.length >= width) s else "0" * (width - s.length) + s
    }
    def amount(k: Int, v: Int): Long = draw(seed, 31, k.toLong * 1000 + v) % 1000000L
    def note(k: Int, v: Int): String = s"n$v-${draw(seed, 32, k.toLong * 1000 + v) % 10000}"
    def ts(v: Int): Long = BaseTs + v
    def cells(k: Int, v: Int): Seq[BtCell] =
      Seq(long("amount", amount(k, v), ts(v)), str("note", note(k, v), ts(v)))

    /** Batch b (1-based version b): half new keys, half new versions of
      * keys that already exist, drawn from the seed.
      */
    def batch(b: Int): Array[Int] = {
      val half = batchRows / 2
      val fresh = Array.tabulate(half)(i => seedRows + (b - 1) * half + i)
      val existing = seedRows + (b - 1) * half
      val rnd = new java.util.SplittableRandom(seed * 7919 + b)
      val old = new java.util.HashSet[Int]()
      while (old.size < batchRows - half) old.add(rnd.nextInt(existing))
      val olds = new Array[Int](old.size)
      var i = 0
      val it = old.iterator(); while (it.hasNext) { olds(i) = it.next(); i += 1 }
      java.util.Arrays.sort(olds)
      fresh ++ olds
    }

    val qualifiers = "amount:long,note:string"
  }

  // -------------------------------------------------------------- docs

  /** `docs` for near_dup: documents of ~`tokens` words drawn from a
    * seeded Zipf vocabulary, with ~10% planted near-copies in clusters
    * of 2–5. A copy replaces a few words of its source; its exact
    * Jaccard over character 5-shingles (the operator's set definition)
    * is computed here, so the generator knows every planted pair.
    */
  final class Docs(val seed: Long, val n: Int, val tokens: Int) {
    val Vocab = 20000
    private val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    private val words: Array[String] = Array.tabulate(Vocab) { i =>
      val len = 3 + (draw(seed, 41, i) % 6).toInt
      val sb = new StringBuilder
      var j = 0
      while (j < len) { sb.append(('a' + (draw(seed, 42, i.toLong * 16 + j) % 26)).toChar); j += 1 }
      sb.toString
    }
    // Zipf(s = 1.0) by inverse CDF over the cumulative weights
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Vocab)(r => 1.0 / (r + 1.0))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private def word(): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, Vocab - 1))
    }

    /** (texts, clusters): clusters list the doc ids of each planted group. */
    val (texts, clusters): (Array[String], Vector[Vector[Int]]) = {
      val out = new Array[String](n)
      val groups = Vector.newBuilder[Vector[Int]]
      var i = 0
      while (i < n) {
        val base = Array.fill(tokens)(word())
        out(i) = base.mkString(" ")
        // ~10% of docs are planted copies: a cluster of 2–5 starts with
        // probability 0.1 / 2.5 (mean 2.5 copies after the source)
        if (i + 1 < n && rnd.nextDouble() < 0.1 / 2.5 * 1.0) {
          val size = 2 + rnd.nextInt(4)
          val members = Vector.newBuilder[Int]
          members += i
          var c = 1
          while (c < size && i + c < n) {
            val copy = base.clone()
            // up to tokens/10 substituted words spreads the copies'
            // Jaccard from ~0.7 to ~1, across the 0.8 threshold
            val edits = 1 + rnd.nextInt(math.max(1, tokens / 10))
            var e = 0
            while (e < edits) { copy(rnd.nextInt(tokens)) = word(); e += 1 }
            out(i + c) = copy.mkString(" ")
            members += (i + c)
            c += 1
          }
          groups += members.result()
          i += c
        } else i += 1
      }
      (out, groups.result())
    }

    def key(i: Int): String = f"d$i%07d"
    def cells(i: Int): Seq[BtCell] = Seq(long("doc_id", i.toLong), str("text", texts(i)))
    val qualifiers = "doc_id:long,text:string"

    /** Every pair inside a planted cluster with its exact Jaccard. */
    lazy val plantedPairs: Vector[(Int, Int, Double)] =
      clusters.flatMap { g =>
        for (a <- g; b <- g if a < b) yield (a, b, Jaccard.exact(texts(a), texts(b)))
      }
  }

  /** Exact Jaccard over distinct character k-shingles — the set the
    * dedup operator's verify step compares (code-point windows; a text
    * shorter than k is one shingle).
    */
  object Jaccard {
    def shingles(t: String, k: Int = 5): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      if (t.length < k) s.add(t)
      else { var i = 0; while (i + k <= t.length) { s.add(t.substring(i, i + k)); i += 1 } }
      s
    }
    def exact(a: String, b: String, k: Int = 5): Double = {
      val sa = shingles(a, k)
      val sb = shingles(b, k)
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }
}
