package perfbench

import scala.collection.mutable

/** Generator parameters. Every input of a run is a pure function of the
  * seed and these numbers.
  */
final case class Scale(
    name: String,
    vectors: Int, // collection size
    dim: Int,
    clusters: Int, // Gaussian-mixture components
    centreSpread: Double, // std of a component centre, per dimension
    vectorNoise: Double, // std of a collection vector around its centre
    queryNoise: Double, // std of a query around its centre
    zipf: Double, // exponent of cluster popularity for queries
    k: Int, // top-k of every search
    cells: Int, // IVF cells of the routed index (planner ANN path)
    nprobe: Int,
    efSearch: Int,
    segments: Int, // graphs of the segment index (batch ANN path)
    batchQueries: Int, // queries per batch call
    probeQueries: Int, // extra queries of the routed-recall probe
    pages: Int, // raw pages per ingest pipeline
    vocab: Int, // Zipf vocabulary size
    dupRate: Double, // planted near-duplicates
    emptyRate: Double, // empty or blank pages
    ctrlRate: Double, // pages carrying control characters
    addSteps: Int, // cumulative VectorStore.add steps
    readsPerStep: Int, // VectorStore.query reads after each step
    embedDim: Int, // TF-IDF embedding width
    buildReps: Int, // HNSW store builds per pipeline; index_build_s is their median
    setupReps: Int, // set-ups per run; setup_s is their median
    warmupPairs: Int, // unmeasured point pairs and batch rounds after set-up
    warmupRounds: Int,
    minPointPairs: Int, // point-search pairs every workload runs
    minBatchRounds: Int,
    minPipelines: Int,
    focusPointPairs: Int, // the same, when the phase is the workload's own
    focusBatchRounds: Int,
    focusPipelines: Int)

object Scale {
  val full = Scale("full", vectors = 2000, dim = 64, clusters = 64, centreSpread = 1.0,
    vectorNoise = 0.6, queryNoise = 0.3, zipf = 1.1, k = 10, cells = 8, nprobe = 2,
    efSearch = 16, segments = 8, batchQueries = 1024, probeQueries = 1024, pages = 400,
    vocab = 4000, dupRate = 0.08, emptyRate = 0.03, ctrlRate = 0.03, addSteps = 2,
    readsPerStep = 3, embedDim = 64, buildReps = 3, setupReps = 3, warmupPairs = 1,
    warmupRounds = 1, minPointPairs = 8, minBatchRounds = 2, minPipelines = 1,
    focusPointPairs = 12, focusBatchRounds = 3, focusPipelines = 2)

  /** The self-test's size: every code path, seconds per run. */
  val toy = full.copy(name = "toy", vectors = 1200, clusters = 16, batchQueries = 32,
    probeQueries = 64, pages = 160, setupReps = 2, minPointPairs = 3, focusPointPairs = 3,
    focusBatchRounds = 1, focusPipelines = 1)

  def apply(name: String): Scale = name match {
    case "full" => full
    case "toy" => toy
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

final class VectorData(val vecs: Array[Array[Float]], val centres: Array[Array[Float]])

final case class Page(docId: Long, text: String)

/** Raw pages plus the ground truth the checks need. */
final case class Pages(pages: Array[Page], planted: Set[Long])

object Gen {

  /** Gaussian mixture: vector i (id i) belongs to a uniformly drawn
    * component. Ids 0..cells-1 seed the routed index's centroids
    * (`IvfIndex.seedCentroids`), so they are ordinary random members.
    */
  def collection(seed: Long, s: Scale): VectorData = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val centres = Array.fill(s.clusters)(
      Array.fill(s.dim)((rnd.nextGaussian() * s.centreSpread).toFloat))
    val vecs = Array.fill(s.vectors) {
      val c = centres(rnd.nextInt(s.clusters))
      Array.tabulate(s.dim)(j => (c(j) + rnd.nextGaussian() * s.vectorNoise).toFloat)
    }
    new VectorData(vecs, centres)
  }

  /** Zipf(s) over ranks 1..n, rank r mapped to a seeded permutation. */
  final class Zipf(n: Int, exponent: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, exponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    private val perm = {
      val p = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
  }

  /** Query vectors near component centres, components Zipf-popular.
    * The continuous noise makes every query distinct, so no query
    * repeats within a run (no plan-time cache can answer one twice).
    */
  final class Queries(seed: Long, data: VectorData, s: Scale) {
    private val rnd = new java.util.Random(seed * 0xD1B54A32D192ED03L + 2)
    private val pick = new Zipf(data.centres.length, s.zipf, rnd)
    def next(): Array[Float] = {
      val c = data.centres(pick.next())
      Array.tabulate(c.length)(j => (c(j) + rnd.nextGaussian() * s.queryNoise).toFloat)
    }
  }

  /** `n` query vectors spread evenly over the components (query i near
    * centre i mod clusters), from a stream of their own.
    */
  def spreadQueries(seed: Long, data: VectorData, s: Scale, n: Int): Seq[Array[Float]] = {
    val rnd = new java.util.Random(seed * 0xBF58476D1CE4E5B9L + 4)
    (0 until n).map { i =>
      val c = data.centres(i % data.centres.length)
      Array.tabulate(c.length)(j => (c(j) + rnd.nextGaussian() * s.queryNoise).toFloat)
    }
  }

  private val stopwords = Array("the", "of", "and", "to", "a", "in", "is", "that", "for",
    "it", "as", "was", "with", "be", "by", "on", "not", "he", "this", "are")
  private val syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "fu",
    "ga", "ho", "ji", "ku", "ma", "no", "pe", "ro", "si", "tu")

  /** Word of Zipf rank r: stopwords first, then distinct syllable codes. */
  private def word(r: Int): String =
    if (r < stopwords.length) stopwords(r)
    else {
      var x = r
      val sb = new StringBuilder
      while ({ sb ++= syllables(x % syllables.length); x /= syllables.length; x > 0 }) ()
      sb.toString
    }

  /** Synthetic pages with a Zipf vocabulary. Some are empty or blank,
    * some carry control characters inside words, and `dupRate` of them
    * are near-duplicates of an earlier ordinary page (two words
    * replaced; word-3-shingle Jaccard stays above 0.8). A duplicate
    * always has the higher id, so dedup that keeps the lower id of a
    * pair removes exactly the planted copies.
    */
  def pages(seed: Long, s: Scale, pipeline: Int): Pages = {
    val rnd = new java.util.Random(seed * 0x94D049BB133111EBL + 3 + pipeline)
    val vocab = new Zipf(s.vocab, 1.0, rnd)
    val ctrl = Array('\u0001', '\u0007', '\u001b', '\u007f')
    def words(n: Int): Array[String] = Array.fill(n) {
      val w = word(vocab.next())
      if (rnd.nextDouble() < 0.06) w + (if (rnd.nextBoolean()) "," else ".") else w
    }
    val ordinary = mutable.ArrayBuffer.empty[Array[String]]
    val planted = mutable.Set.empty[Long]
    val out = Array.tabulate(s.pages) { i =>
      val u = rnd.nextDouble()
      val text =
        if (u < s.emptyRate) (if (rnd.nextBoolean()) "" else "   ")
        else if (u < s.emptyRate + s.ctrlRate) {
          val ws = words(60 + rnd.nextInt(80))
          (0 until 3).foreach { _ =>
            val j = rnd.nextInt(ws.length)
            ws(j) = ws(j) + ctrl(rnd.nextInt(ctrl.length))
          }
          ws.mkString(" ")
        } else if (u < s.emptyRate + s.ctrlRate + s.dupRate && ordinary.nonEmpty) {
          val ws = ordinary(rnd.nextInt(ordinary.length)).clone()
          (0 until 2).foreach(_ => ws(rnd.nextInt(ws.length)) = word(vocab.next()))
          planted += i.toLong
          ws.mkString(" ")
        } else {
          val ws = words(60 + rnd.nextInt(80))
          ordinary += ws
          ws.mkString(" ")
        }
      Page(i.toLong, text)
    }
    Pages(out, planted.toSet)
  }
}
