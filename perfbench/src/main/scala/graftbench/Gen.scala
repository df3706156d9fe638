package graftbench

import java.util.SplittableRandom

/** The benchmark's own seeded input generators. Every input is a pure
  * function of (seed, position), so the same seed gives the same inputs
  * in any process, and the program under test only ever sees the
  * generated rows. Nothing here calls into graft: a change to the
  * program cannot change what the benchmark feeds it. */
object Gen {
  val Dim = 256
  /** Rows per generated batch: the reference fixture's RecordBatch size. */
  val BatchRows = 1000
  /** Cardinality of the `label` column the filtered searches select on. */
  val Labels = 8

  private def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ index)

  /** One reference-shape batch: `randn(1000, 256) + 10·x[0]`, i.e. each
    * 1,000-row batch is one cluster centred on 10× its own first draw. */
  def vectorBatch(seed: Long, batch: Long): Array[Array[Float]] = {
    val r = rng(seed, 1L, batch)
    val x = Array.fill(BatchRows, Dim)(gauss(r).toFloat)
    val x0 = x(0).clone()
    x.foreach(row => (0 until Dim).foreach(i => row(i) += 10f * x0(i)))
    x
  }

  /** Rows `[from, until)` of the corpus, by global row id. */
  def vectors(seed: Long, from: Long, until: Long): Array[Array[Float]] = {
    require(from % BatchRows == 0 && until % BatchRows == 0)
    (from / BatchRows until until / BatchRows).iterator
      .flatMap(b => vectorBatch(seed, b)).toArray
  }

  def label(id: Long): Int = (id % Labels).toInt

  /** Fresh query targets: each is a corpus-shaped draw (a cluster centre
    * of one of the first `clusters` batches plus fresh noise), never a
    * stored row, and no two are equal. `stream` separates the target
    * sets of different phases. */
  def targets(seed: Long, stream: Long, count: Int, clusters: Long): Array[Array[Float]] = {
    val centres = new java.util.HashMap[Long, Array[Float]]()
    Array.tabulate(count) { i =>
      val r = rng(seed, 100L + stream, i.toLong)
      val c = r.nextLong(clusters)
      val centre = centres.computeIfAbsent(c, b => vectorBatch(seed, b)(0).map(_ * 11f))
      Array.tabulate(Dim)(d => centre(d) + gauss(r).toFloat)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Marsaglia polar method: SplittableRandom has no nextGaussian on JDK 17
    var u, v, s = 0.0
    while ({ u = r.nextDouble() * 2 - 1; v = r.nextDouble() * 2 - 1; s = u * u + v * v
             s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  // ——— text ———

  /** English stopwords first, so a Zipfian draw makes them the most common
    * words, as in real text; clean docs then pass the Gopher stopword
    * rule and the stopword language id. */
  private val Stopwords = Array("the", "of", "and", "to", "in", "a", "is",
    "that", "it", "was", "for", "on", "with", "as", "by")

  final case class Corpus(
      docs: Array[(Long, String)],
      bench: Array[(Long, String)],
      exactDupIds: Array[Long],
      nearDupIds: Array[Long],
      contaminatedIds: Array[Long])

  /** About `numDocs` English-like docs from a Zipfian vocabulary, plus
    * 5 % exact duplicates, 5 % near-duplicates (a few token edits) and
    * 1 % docs carrying a 50-token span from a 200-doc bench table.
    * Injected docs take ids after the originals they copy, so curation
    * (which keeps the lowest id of a duplicate group) must drop them. */
  def textCorpus(seed: Long, numDocs: Int, vocabSize: Int = 20000): Corpus = {
    val vocab = Stopwords ++ Array.tabulate(vocabSize - Stopwords.length)(i => word(seed, i))
    val cdf = {
      val w = Array.tabulate(vocab.length)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
    }
    def tokens(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(draw(r))
    def render(toks: Array[String]): String =
      toks.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

    val bench = Array.tabulate(200) { i =>
      val r = rng(seed, 3L, i.toLong)
      (i.toLong, tokens(r, 70 + r.nextInt(30)))
    }
    val base = (numDocs * 0.89).toInt
    val originals = Array.tabulate(base) { i =>
      val r = rng(seed, 4L, i.toLong)
      tokens(r, 60 + r.nextInt(140))
    }
    val nDup = numDocs * 5 / 100
    val nNear = numDocs * 5 / 100
    val nContam = numDocs / 100
    val pick = rng(seed, 5L, 0L)
    val exact = Array.fill(nDup)(originals(pick.nextInt(base)))
    val near = Array.fill(nNear) {
      val src = originals(pick.nextInt(base)).clone()
      (0 until 3).foreach(_ => src(pick.nextInt(src.length)) = draw(pick))
      src
    }
    val contam = Array.fill(nContam) {
      val host = tokens(pick, 80 + pick.nextInt(60))
      val b = bench(pick.nextInt(bench.length))._2
      val at = pick.nextInt(b.length - 50 + 1)
      val span = b.slice(at, at + 50)
      val cut = pick.nextInt(host.length)
      host.take(cut) ++ span ++ host.drop(cut)
    }
    val all = originals ++ exact ++ near ++ contam
    val ids = (0L until all.length.toLong)
    val docs = ids.map(i => (i, render(all(i.toInt)))).toArray
    Corpus(docs, bench.map { case (i, t) => (i, render(t)) },
      exactDupIds = (base.toLong until (base + nDup).toLong).toArray,
      nearDupIds = ((base + nDup).toLong until (base + nDup + nNear).toLong).toArray,
      contaminatedIds = ((base + nDup + nNear).toLong until all.length.toLong).toArray)
  }

  private val Syllables = Array("ka", "lo", "mi", "ren", "sta", "vo", "ti",
    "pel", "dor", "an", "ex", "qui", "ru", "sen", "ma", "gor", "li", "te",
    "no", "bra", "cu", "fen", "wal", "zi")

  /** A pronounceable lower-case content word, 4–9 letters, seeded. */
  private def word(seed: Long, i: Int): String = {
    val r = rng(seed, 6L, i.toLong)
    val sb = new StringBuilder
    while (sb.length < 4 + r.nextInt(4)) sb ++= Syllables(r.nextInt(Syllables.length))
    sb.append(('a' + (i % 26)).toChar).result().take(9)
  }
}
