package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every input of every workload is drawn
  * here from the run's `--seed`; the engine only ever sees the
  * generated tables, written to disk in setup and read back as a user
  * job would read them.
  */
object Gen {

  /** Fractal (value-noise octave sum) DEM, integer heights 100..2900 m,
    * row-major `w × h`. Integer-valued so the Int16 COG round trip is
    * lossless and every overview average is an exact dyadic rational.
    */
  def dem(seed: Long, w: Int, h: Int): Array[Short] = {
    val rnd = new SplittableRandom(seed)
    val acc = new Array[Double](w * h)
    var amp = 1.0
    var cell = math.max(w, h) / 3.0
    while (cell >= 2.0) {
      val gw = (w / cell).toInt + 2
      val gh = (h / cell).toInt + 2
      val lattice = Array.fill(gw * gh)(rnd.nextDouble() * 2 - 1)
      var y = 0
      while (y < h) {
        val fy = y / cell; val iy = fy.toInt; val ty = smooth(fy - iy)
        var x = 0
        while (x < w) {
          val fx = x / cell; val ix = fx.toInt; val tx = smooth(fx - ix)
          val a = lattice(iy * gw + ix); val b = lattice(iy * gw + ix + 1)
          val c = lattice((iy + 1) * gw + ix); val d = lattice((iy + 1) * gw + ix + 1)
          val top = a + (b - a) * tx; val bot = c + (d - c) * tx
          acc(y * w + x) += amp * (top + (bot - top) * ty)
          x += 1
        }
        y += 1
      }
      amp *= 0.55
      cell /= 2
    }
    val lo = acc.min; val hi = acc.max
    val span = math.max(hi - lo, 1e-9)
    acc.map(v => (100 + (v - lo) / span * 2800).round.toShort)
  }

  private def smooth(t: Double): Double = t * t * (3 - 2 * t)

  /** A closed ring of `n` vertices around (cx, cy) in pixel units: a
    * star-shaped polygon whose radius wanders around 0.78 `r` with six
    * seeded harmonics, so point-in-polygon has concavities to get wrong.
    */
  def ring(seed: Long, n: Int, cx: Double, cy: Double, r: Double): Seq[(Double, Double)] = {
    val rnd = new SplittableRandom(seed)
    val harmonics = Seq.fill(6)((rnd.nextDouble() * 0.08, rnd.nextDouble() * 2 * math.Pi))
    val pts = (0 until n).map { i =>
      val th = 2 * math.Pi * i / n
      val wobble = harmonics.zipWithIndex.map { case ((a, ph), k) =>
        a * math.sin((k + 2) * th + ph) }.sum
      val rr = r * (0.78 + wobble + 0.04 * (rnd.nextDouble() - 0.5))
      (cx + rr * math.cos(th), cy + rr * math.sin(th))
    }
    pts :+ pts.head
  }

  /** Viewshed observers `(oid, ox, oy, oz, maxr, dirdeg, aperturedeg)`
    * inside the raster, keeping `margin` pixels from its edges.
    */
  def observers(seed: Long, n: Int, w: Int, h: Int, margin: Int,
                maxr: Double): Seq[(Int, Int, Int, Double, Double, Double, Double)] = {
    val rnd = new SplittableRandom(seed)
    (0 until n).map { i =>
      val sector = rnd.nextInt(3) == 0
      (i, margin + rnd.nextInt(w - 2 * margin), margin + rnd.nextInt(h - 2 * margin),
        5.0 + rnd.nextInt(30), maxr,
        if (sector) rnd.nextInt(360).toDouble else 0.0,
        if (sector) 90.0 + rnd.nextInt(180) else 360.0)
    }
  }

  /** LOS pairs `(pair_id, ox, oy, oz, tx, ty, tz, freq_mhz)` in pixel
    * coordinates, each pair at least `minLen` pixels long.
    */
  def losPairs(seed: Long, n: Int, w: Int, h: Int,
               minLen: Double): Seq[(Int, Double, Double, Double, Double, Double, Double, Double)] = {
    val rnd = new SplittableRandom(seed)
    def coord(lim: Int) = 2.0 + rnd.nextInt(lim - 4)
    (0 until n).map { i =>
      var (ox, oy, tx, ty) = (coord(w), coord(h), coord(w), coord(h))
      while (math.hypot(tx - ox, ty - oy) < minLen) { tx = coord(w); ty = coord(h) }
      (i, ox, oy, 2.0 + rnd.nextInt(20), tx, ty, 2.0 + rnd.nextInt(10),
        100.0 + 300 * rnd.nextInt(4))
    }
  }

  /** A synthetic language: `n` distinct words of 1–4 consonant-vowel
    * syllables, so BPE has real subword structure to merge.
    */
  def vocabulary(rnd: SplittableRandom, n: Int): Array[String] = {
    val cons = "bdfgklmnprstvz"; val vows = "aeiou"
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 1 + rnd.nextInt(4)
      seen += (0 until syl).map(_ =>
        s"${cons.charAt(rnd.nextInt(cons.length))}${vows.charAt(rnd.nextInt(vows.length))}").mkString
    }
    seen.toArray
  }

  /** Zipf(s = 0.9) word sampler over a vocabulary. */
  final class Words(rnd: SplittableRandom, val vocab: Array[String]) {
    private val cdf = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def next(): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      vocab(math.min(i, vocab.length - 1))
    }
    def doc(len: Int): Array[String] = Array.fill(len)(next())
  }

  /** A corpus with planted near-duplicate families.
    *
    * @param docs     `(doc_id, text)` rows, ids shuffled over the corpus
    * @param families member ids of every planted family (hot star,
    *                 chains, small stars)
    * @param planted  the (parent, child) edges the generator derived
    *                 each member along; the dedup recall denominator
    * @param junk     ids of planted junk documents (fewer than five
    *                 tokens) that the quality verdict must drop
    */
  final case class Corpus(docs: Seq[(Long, String)], families: Seq[Seq[Long]],
                          planted: Seq[(Long, Long)], junk: Set[Long])

  def corpus(seed: Long, nDocs: Int, hot: (Int, Int), chains: Int,
             chainLen: (Int, Int), smallFamilies: Int, nJunk: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val words = new Words(rnd, vocabulary(rnd, 3000))
    def between(r: (Int, Int)) = r._1 + rnd.nextInt(r._2 - r._1 + 1)
    def fresh() = words.doc(between((110, 150)))
    // one substituted word: J ≈ 0.95 on 3-word shingles, far above the
    // 0.5 verify threshold, so LSH recall of planted pairs is ~certain
    def mutate(d: Array[String]): Array[String] = {
      val c = d.clone()
      c(rnd.nextInt(c.length)) = words.next()
      c
    }
    val texts = mutable.ArrayBuffer[Array[String]]()
    val fams = mutable.ArrayBuffer[Seq[Int]]()
    val edges = mutable.ArrayBuffer[(Int, Int)]()
    def add(d: Array[String]): Int = { texts += d; texts.size - 1 }
    def star(size: Int): Unit = {
      val root = fresh(); val r = add(root)
      val members = (1 until size).map { _ =>
        val m = add(mutate(root)); edges += ((r, m)); m }
      fams += (r +: members)
    }
    star(between(hot))
    (0 until chains).foreach { _ =>
      var cur = fresh(); var prev = add(cur)
      val members = mutable.ArrayBuffer(prev)
      (1 until between(chainLen)).foreach { _ =>
        cur = mutate(cur); val m = add(cur); edges += ((prev, m))
        members += m; prev = m
      }
      fams += members.toSeq
    }
    (0 until smallFamilies).foreach(_ => star(2 + rnd.nextInt(3)))
    val junkIdx = (0 until nJunk).map(_ => add(words.doc(1 + rnd.nextInt(4))))
    while (texts.size < nDocs) add(fresh())
    // shuffled ids: families must not sit in contiguous id ranges
    val ids = (0 until texts.size).map(_.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    Corpus(texts.indices.map(k => (ids(k), texts(k).mkString(" "))),
      fams.map(_.map(k => ids(k))).toSeq,
      edges.map { case (a, b) => (ids(a), ids(b)) }.toSeq,
      junkIdx.map(k => ids(k)).toSet)
  }

  /** Clustered embeddings: `n` float vectors of `dims` around
    * `clusters` uniform centers with Gaussian spread `sigma`.
    */
  def embeddings(seed: Long, n: Int, dims: Int, clusters: Int,
                 sigma: Double): Seq[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed)
    val centers = Array.fill(clusters, dims)(rnd.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val c = centers(rnd.nextInt(clusters))
      (i.toLong, Array.tabulate(dims)(d => (c(d) + sigma * gaussian(rnd)).toFloat))
    }
  }

  def gaussian(rnd: SplittableRandom): Double = {
    val u = math.max(rnd.nextDouble(), 1e-12); val v = rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
}
