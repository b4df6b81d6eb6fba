package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for a training-data pipeline: exact, n-gram
  * Jaccard, MinHash-LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale posture: exact dedup is a single hash aggregation (map-side
  * partial). Pairwise similarity is only ever computed on *candidate*
  * pairs produced by a banded-signature equi-join (MinHash bands /
  * SimHash bands) — the O(n²) all-pairs form exists solely as the
  * correctness oracle at fixture scale.
  */
object Dedup {

  /** Checkpointed intermediates (postings/signature frames materialized
    * once per operator run — see coOccurrence/minHash/simHash) registered
    * for deterministic release: [[graft.SparkEntry.clearCaches]] calls
    * [[releaseCheckpoints]] on teardown so a long-lived host never pins
    * them past the suite (the CacheLifecycleSpec contract; unreferenced
    * frames are also ContextCleaner-collectable, this just makes release
    * deterministic).
    */
  private val transientCheckpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def tracked(df: DataFrame): DataFrame = {
    transientCheckpoints.add(df)
    df
  }

  /** Unpersist every registered checkpointed intermediate
    * ([[graft.operators.Materialize.unpersist]]).
    */
  def releaseCheckpoints(): Unit = {
    var df = transientCheckpoints.poll()
    while (df != null) {
      graft.operators.Materialize.unpersist(df)
      df = transientCheckpoints.poll()
    }
  }

  /** Exact dedup: keep the lowest id per normalized-text hash. One
    * shuffle, partial-aggregated; at 100 TB this is a plain groupBy on a
    * 128-bit key.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("text_hash", md5(lower(trim(col(textCol)))))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_dupes"))

  /** Exact n-gram Jaccard near-dup over ALL pairs, via a shingle
    * inverted index: explode (doc, shingle) postings, equi-join postings
    * on the shingle, count co-occurrences per doc pair — |A∩B| arrives
    * from a hash aggregation, |A∪B| = |A|+|B|-|A∩B| from carried sizes.
    *
    * No nested-loop join, no per-pair array intersect: the only joins are
    * shuffle equi-joins on shingle hashes, so the operator scales with
    * Σ_s df(s)² (co-occurring postings), not n². Pairs sharing zero
    * shingles never materialize. Skewed shingles (huge df) are the risk
    * at scale — AQE skew-join handles moderate skew; stop-shingle removal
    * (drop df > cap) is the standard mitigation beyond that.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFrequency: Long = Long.MaxValue): DataFrame =
    coOccurrence(docs, n, idCol, textCol, maxDocFrequency)
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))

  /** Overlap-coefficient (containment) near-dup: |A∩B| / min(|A|,|B|).
    * Catches subset duplicates — a document wholly contained in another
    * (boilerplate headers, quotes, truncated re-crawls) scores 1.0 here
    * but arbitrarily low on Jaccard when the sizes differ. Same
    * inverted-index co-occurrence shape as [[ngramJaccardPairs]].
    */
  def overlapPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFrequency: Long = Long.MaxValue): DataFrame =
    overlapFromCoPairs(
      coOccurrenceMinOverlap(docs, n, threshold, idCol, textCol, maxDocFrequency),
      threshold)

  /** The co-occurrence pair frame (id_a, id_b, inter, sz_a, sz_b, ov)
    * pre-filtered at overlap coefficient ≥ `minOverlap` — the SHARED
    * upstream of both [[overlapFromCoPairs]] and [[jaccardFromCoPairs]].
    * Because ov = |A∩B|/min(|A|,|B|) ≥ |A∩B|/|A∪B| = jaccard pointwise
    * (min ≤ union; FP division is monotone in the divisor, so the
    * inequality survives double rounding), a frame filtered at
    * minOverlap contains EVERY pair with jaccard ≥ t for any
    * t ≥ minOverlap — one co-occurrence self-join can serve both
    * metrics exactly. High-threshold filter output: orders of magnitude
    * smaller than the posting join, safe to persist at any scale.
    */
  def coOccurrenceMinOverlap(
      docs: DataFrame,
      n: Int,
      minOverlap: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFrequency: Long = Long.MaxValue): DataFrame =
    coOccurrence(docs, n, idCol, textCol, maxDocFrequency)
      .withColumn("ov",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("ov") >= minOverlap)

  /** Containment pairs from a [[coOccurrenceMinOverlap]] frame.
    * Requires threshold ≥ the frame's minOverlap (equal in the engine's
    * only use) — the pre-filter must not have dropped qualifying pairs.
    */
  def overlapFromCoPairs(coPairs: DataFrame, threshold: Double): DataFrame =
    coPairs
      .filter(col("ov") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("ov"), 4).as("overlap"))

  /** Jaccard pairs from a [[coOccurrenceMinOverlap]] frame. Requires
    * threshold ≥ the frame's minOverlap: jaccard ≥ t ⇒ ov ≥ t ≥
    * minOverlap, so every qualifying pair is present and the result is
    * identical to [[ngramJaccardPairs]] (DedupSpec pins the equality).
    */
  def jaccardFromCoPairs(coPairs: DataFrame, threshold: Double): DataFrame =
    coPairs
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))

  /** Incremental near-dup: each NEW document tested against the EXISTING
    * corpus only — the daily-ingest shape, where re-pairing the corpus
    * against itself every day is the scale killer. Same inverted-index
    * equi-join as [[ngramJaccardPairs]], but the posting join is
    * new×old, so cost is Σ_s df_new(s)·df_old(s) — linear in the (small)
    * new batch for fixed corpus skew — and the old×old quadrant is never
    * computed. At 100 TB the corpus postings are a stored table bucketed
    * by shingle hash (write once per corpus version); the batch's
    * postings equi-join against it and nothing else is touched.
    */
  def ngramJaccardAgainst(
      corpus: DataFrame,
      newDocs: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    jaccardAcrossPostings(
      hashedPostings(newDocs, n, idCol, textCol),
      hashedPostings(corpus, n, idCol, textCol),
      threshold)
      .select(col("id_x").as("new_id"), col("id_y").as("old_id"), col("jaccard"))

  /** The (id, sz, s) hashed-shingle posting list of a document frame —
    * the STORED form of a corpus for incremental dedup: a new batch
    * computes only its own postings and equi-joins a posting table that
    * was written once (at 100 TB: bucketed by `s`), never re-shingling
    * the corpus. Shared by [[ngramJaccardAgainst]] and
    * [[graft.streaming.DedupMaintenance]].
    */
  def hashedPostings(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.HashedShingles.ensureRegistered(docs.sparkSession)
    // no size(sh) > 0 filter: non-outer explode() already emits nothing
    // for empty/null arrays, and the pushed-down filter re-evaluated the
    // whole shingle expression inside its own condition (guide §7.2 —
    // duplicated expensive expressions below the filter)
    docs
      .select(col(idCol).as("id"), graft.functions.HashedShingles(col(textCol), n).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
  }

  /** Jaccard-thresholded pairs across two DISJOINT posting frames (every
    * x-doc against every co-occurring y-doc): (id_x, id_y, jaccard).
    * Same Σ df_x·df_y equi-join cost model as [[ngramJaccardAgainst]].
    */
  def jaccardAcrossPostings(x: DataFrame, y: DataFrame, threshold: Double): DataFrame =
    x.as("x")
      .join(y.as("y"), col("x.s") === col("y.s"))
      .groupBy(col("x.id").as("id_x"), col("y.id").as("id_y"))
      .agg(count(lit(1)).as("inter"), first(col("x.sz")).as("sz_x"), first(col("y.sz")).as("sz_y"))
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_x") + col("sz_y") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("id_x"), col("id_y"), round(col("jac"), 4).as("jaccard"))

  /** Jaccard-thresholded pairs WITHIN one posting frame, id_a < id_b —
    * the posting-level core of [[ngramJaccardPairs]].
    */
  def jaccardWithinPostings(posts: DataFrame, threshold: Double): DataFrame =
    posts.as("x")
      .join(posts.as("y"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("x.sz")).as("sz_a"), first(col("y.sz")).as("sz_b"))
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))

  /** The (id, sz, s) posting frame of [[coOccurrence]], MATERIALIZED and
    * registered for [[releaseCheckpoints]] — exposed (r22) so one
    * shingling pass can serve consumers beyond the pair join
    * (SparkEntry shares it with source_overlap_matrix, which previously
    * re-shingled the whole corpus to derive its (source, shingle)
    * postings). Same frame [[coOccurrence]] always built:
    * unmaterialized, the self-join shingled the corpus on BOTH sides,
    * and the pushed-down size()>0 filter re-evaluated the shingle
    * expression inside its own condition — up to 3 hash passes per row
    * per side. At 100 TB this materialization IS the stored posting
    * table the class doc promises (write once, join many). (No size>0
    * filter: explode() drops empty/null arrays itself.)
    */
  def materializedPostings(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.HashedShingles.ensureRegistered(docs.sparkSession)
    val sh = docs
      .select(col(idCol).as("id"), graft.functions.HashedShingles(col(textCol), n).as("sh"))
    tracked(graft.operators.Materialize.materializeOnly(
      sh.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))))
  }

  /** [[coOccurrenceMinOverlap]] over an already-built posting frame
    * (r22 — lets SparkEntry key the posting materialization in its own
    * per-session cache and reuse it across operator families).
    */
  def coOccurrenceMinOverlapFromPostings(
      allPosts: DataFrame,
      minOverlap: Double,
      maxDocFrequency: Long = Long.MaxValue): DataFrame =
    coOccurrenceFromPostings(allPosts, maxDocFrequency)
      .withColumn("ov",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("ov") >= minOverlap)

  /** Shared inverted-index co-occurrence: (id_a, id_b, |A∩B|, |A|, |B|)
    * for every pair sharing ≥ 1 shingle.
    */
  private def coOccurrence(
      docs: DataFrame,
      n: Int,
      idCol: String,
      textCol: String,
      maxDocFrequency: Long): DataFrame =
    coOccurrenceFromPostings(
      materializedPostings(docs, n, idCol, textCol), maxDocFrequency)

  /** The posting self-join half of [[coOccurrence]]. */
  private def coOccurrenceFromPostings(
      allPosts: DataFrame,
      maxDocFrequency: Long): DataFrame = {
    // Stop-shingle cap: a shingle appearing in > maxDocFrequency docs
    // contributes df² co-occurrence rows — the classic skew bomb on a
    // real corpus ("the of the", boilerplate headers). Dropping those
    // postings bounds the join at the cost of slightly under-counting
    // |A∩B| (carried sizes keep |A|,|B| exact, so Jaccard only drops —
    // a dedup FILTER never admits a worse pair because of the cap).
    // Default: uncapped (exact; the oracle-checked configuration).
    val posts =
      if (maxDocFrequency == Long.MaxValue) allPosts
      else {
        val stop = allPosts.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency).select(col("s"))
        allPosts.join(broadcast(stop), Seq("s"), "left_anti")
      }
    posts.as("x")
      .join(posts.as("y"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("x.sz")).as("sz_a"), first(col("y.sz")).as("sz_b"))
  }

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Fixed deterministic (a, b) coefficients for the MinHash permutations
    * h_i(x) = (a_i·x + b_i) mod p. SplitMix64-style mixing of the index —
    * no RNG state, fully reproducible across runs and engines.
    */
  private def minHashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val za = (i + 1) * 0x9E3779B97F4A7C15L ^ 0xBF58476D1CE4E5B9L
      val zb = (i + 1) * 0xD1B54A32D192ED03L ^ 0x94D049BB133111EBL
      (math.floorMod(za, MersennePrime - 1) + 1, math.floorMod(zb, MersennePrime))
    }

  /** MinHash + LSH banding near-dup: signature → banded signature →
    * equi-join on (band index, band hash) → exact Jaccard verify on
    * candidates. This is the scalable path: the only join is an equi-join
    * on compact band keys, and verification touches candidate pairs only.
    *
    * Banding uses r = 2 rows per band: P(candidate | s) = 1-(1-s^r)^b.
    * With b = 12, r = 2 (24 hashes), s = 0.9 near-dups are caught with
    * P ≈ 1-1e-8 while s ≈ 0.02 background pairs collide on a band with
    * P ≈ 0.5% — r = 1 banding admits ~28% of ALL pairs as candidates at
    * this background similarity, degenerating back to the quadratic join.
    *
    * Shape note: signatures are computed as ONE hash aggregation over the
    * exploded (doc, shingle-hash) rows with `numHashes` min() columns —
    * map-side partial aggregation, whole-stage codegen. (A fold-expression
    * signature inlined into an explode gets re-evaluated per output row —
    * measured 20× slower.) Candidates are narrowed to bare (id_a, id_b)
    * pairs before rejoining the shingle sets, so the band shuffle never
    * carries array payloads.
    */
  def minHash(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      numHashes: Int = 24,
      rowsPerBand: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    val numBands = numHashes / rowsPerBand
    graft.functions.HashedShingles.ensureRegistered(docs.sparkSession)
    val p = lit(MersennePrime)
    // Shingle sets materialized ONCE (r21): `sh` feeds the signature
    // aggregation AND both sides of the candidate verify join — the
    // unmaterialized frame re-shingled the corpus three times, plus the
    // pushed-down size() filter re-evaluated the expression in its own
    // condition. Checkpoint BEFORE the filter so the condition reads the
    // materialized column.
    val sh = tracked(graft.operators.Materialize.materializeOnly(docs
      .select(col(idCol).as("id"), graft.functions.HashedShingles(col(textCol), n).as("sh"))))
      .filter(size(col("sh")) > 0)
    val exploded = sh
      .select(col("id"), explode(col("sh")).as("s"))
      .withColumn("h", pmod(col("s"), p))
    val coeffs = minHashCoeffs(numHashes)
    val minAggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), p)).as(s"m$i")
    }
    val sigs = exploded.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
    val banded = sigs.select(col("id"),
      explode(array((0 until numBands).map { bi =>
        val rowsInBand = (0 until rowsPerBand).map(ri => col(s"m${bi * rowsPerBand + ri}"))
        struct(lit(bi).as("band"), xxhash64(rowsInBand: _*).as("band_hash"))
      }: _*)).as("bc"))
      .select(col("id"), col("bc.band").as("band"), col("bc.band_hash").as("band_hash"))
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** 64-bit SimHash signatures, one row per document — a narrow per-row
    * native expression (SimHash64Expr): per-token hash votes ±1 per bit,
    * signature packs the vote signs. No explode, no shuffle.
    */
  def simHashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.TextExpressions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      graft.functions.TextExpressions.simHash64(col(textCol)).as("sig"))
  }

  /** SimHash near-dup: band the 64-bit signature into 4×16-bit chunks;
    * pairs sharing any chunk are candidates (catches all pairs with
    * Hamming distance <= 3 by pigeonhole); verify bit_count(xor).
    */
  def simHash(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // signatures materialized once: the banded self-join otherwise runs
    // the per-row SimHash64 native expression on BOTH sides (r21)
    val sigs = tracked(graft.operators.Materialize.materializeOnly(
      simHashSignatures(docs, idCol, textCol)))
    val chunks = array((0 until 4).map { b =>
      struct(lit(b).as("band"), shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("chunk"))
    }: _*)
    val banded = sigs.select(col("id"), col("sig"), explode(chunks).as("bc"))
      .select(col("id"), col("sig"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Perceptual-hash (dHash) image near-dup: band each 64-bit hash into
    * 8×8-bit chunks; pairs sharing any chunk are candidates, verified by
    * bit_count(xor) ≤ maxHamming. With 8 bands, pigeonhole makes the
    * candidate set EXACT for maxHamming ≤ 7 (d ≤ 7 flips cannot touch
    * all 8 bands), so the banded equi-join returns the same pairs as
    * all-pairs — no recall loss, Σdf² work instead of n².
    * `hashes` = (id, dhash) from [[graft.multimodal.Multimodal.dHash64]].
    */
  def dhashPairs(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 7, "8-band pigeonhole exactness requires maxHamming <= 7")
    val chunks = array((0 until 8).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("dhash"), b * 8).bitwiseAND(lit(0xffL)).as("chunk"))
    }: _*)
    val banded = hashes.select(col("id"), col("dhash"), explode(chunks).as("bc"))
      .select(col("id"), col("dhash"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs, ALL-PAIRS form — the spec-level
    * correctness oracle at fixture scale only. The declared scale path is
    * [[cosineLshPairs]]; this cartesian form exists so DedupSpec can
    * assert the banded operator's recall against exhaustive ground truth.
    *
    * Norms are computed once per ROW before the join (narrow projection
    * under the join), so the per-pair work is a single dot product. The
    * quotient is arithmetically identical to recomputing norms per pair —
    * same doubles — so the SQL oracle is unaffected.
    */
  def embeddingCosinePairs(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(embeddings.sparkSession)
    import graft.functions.VectorExpressions.{dot => fdot}
    val withNorm = embeddings.select(col(idCol).as("id"), col(embCol).as("emb"),
      sqrt(fdot(col(embCol), col(embCol))).as("nrm"))
    val a = withNorm.select(col("id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", fdot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
  }

  /** Sign-random-projection candidate pairs: ids sharing at least one
    * hyperplane sign band (Charikar SimHash banding — the cosine analog
    * of [[minHash]]'s banded equi-join). The only join is an equi-join on
    * compact (band, key) pairs; no cartesian anywhere.
    *
    * Parameter contract (p = 1 - θ/π is the per-bit match probability):
    * a pair at angle θ survives with 1-(1-p^bitsPerBand)^bands. Because
    * hyperplane bits collide with p = 0.5 even for ORTHOGONAL vectors,
    * banding only prunes when the threshold is high — at the production
    * near-dup regime (cos >= 0.9, p >= 0.86) 16-bit bands separate
    * near-dups from background by >200× (measured in DedupSpec); at
    * cos 0.4 (p = 0.63) no (r, b) both recalls and prunes — that is a
    * property of the LSH family, not of this implementation. bitsPerBand
    * also sets the key-space (2^r keys): keep 2^r well above the expected
    * per-band bucket count or Σ|bucket|² degenerates toward n².
    */
  def cosineLshCandidates(
      embeddings: DataFrame,
      bands: Int,
      bitsPerBand: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.search.RpLsh.ensureRegistered(embeddings.sparkSession)
    val keyed = embeddings.select(col(idCol).as("id"),
      posexplode(graft.search.RpLsh.signBands(col(embCol), bands, bitsPerBand, dim))
        .as(Seq("band", "key")))
    keyed.as("x")
      .join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding-cosine near-dup, the declared scale path: sign-RP banded
    * candidates ([[cosineLshCandidates]]) + exact cosine verification on
    * candidates only. Same output contract as [[embeddingCosinePairs]]
    * (id_a, id_b, cosine); recall is the banding probability above —
    * exhaustive at the fixture configuration (asserted against the
    * all-pairs oracle in DedupSpec, every planted pair colliding in >= 4
    * of 20 bands at every SF).
    */
  def cosineLshPairs(
      embeddings: DataFrame,
      threshold: Double,
      bands: Int,
      bitsPerBand: Int,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(embeddings.sparkSession)
    import graft.functions.VectorExpressions.{dot => fdot}
    val withNorm = embeddings.select(col(idCol).as("id"), col(embCol).as("emb"),
      sqrt(fdot(col(embCol), col(embCol))).as("nrm"))
    cosineLshCandidates(embeddings, bands, bitsPerBand, dim, idCol, embCol)
      .join(withNorm.select(col("id").as("id_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(withNorm.select(col("id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("cos", fdot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
  }

  /** Nearest-seed cluster assignment shared by [[semanticDedup]]: each
    * vector to the closest of the `numSeeds` lowest-id vectors (exact
    * float arrays, so L2 distances are bit-identical across engines;
    * ties break to the lowest seed id). The seed vectors are collected
    * to the driver — O(numSeeds) rows, the same bounded-collect
    * discipline as the PQ codebook — and the argmin is ONE narrow
    * codegen'd projection (`array_min` over per-seed (d2, seed_id)
    * structs): no join, no aggregate, no shuffle. That matters because
    * [[semanticDedup]] self-joins this frame, and Spark recomputes an
    * unshared subtree once per join side — a projection re-runs for
    * pennies, a BNLJ + aggregate would re-run the expensive way.
    */
  def seedAssign(
      embeddings: DataFrame,
      numSeeds: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(embeddings.sparkSession)
    import graft.functions.VectorExpressions.{l2Sq => fl2}
    val seeds = embeddings.filter(col(idCol) < numSeeds)
      .select(col(idCol).cast("long").as("seed_id"), col(embCol).as("c_emb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, s"no seed vectors with $idCol < $numSeeds")
    val cands = seeds.map { case (sid, emb) =>
      struct(fl2(col("emb"), typedLit(emb)).as("d2"), lit(sid).as("seed_id"))
    }
    embeddings.select(col(idCol).as("id"), col(embCol).as("emb"))
      .select(col("id"), col("emb"),
        array_min(array(cands: _*)).getField("seed_id").as("cell"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-dup
    * removal via CLUSTER-CONFINED pairwise cosine — assign every vector
    * to its nearest seed centroid, compare pairs only inside a cell,
    * drop the higher id of every pair at or above the threshold. Returns
    * the drop list: (vec_id, cell, dup_of, cosine) where dup_of is the
    * lowest-id duplicate partner.
    *
    * Complements [[cosineLshPairs]]: hyperplane banding only prunes at
    * HIGH thresholds (per-bit collision is 0.5 even for orthogonal
    * vectors — see [[cosineLshCandidates]]), while cluster confinement
    * prunes at ANY threshold — it is the standard shape for semantic
    * dedup at cos ~0.7, where banding cannot help. Cost is Σ_c |c|²
    * instead of n²: with k ≈ √n balanced cells the pair join is ~n^1.5
    * candidate rows, every join an equi-join on the cell id (no
    * cartesian; the seed expansion is a broadcast BNLJ that collapses
    * pre-exchange). At 100 TB the assignment is one linear pass against
    * broadcast centroids and the pairwise stage shuffles each cell to
    * one place — cells cap at centroid count, and oversized cells are
    * split by re-clustering in practice (the paper's k is 110k for
    * LAION — cells of ~10⁴ — so the quadratic term stays bounded).
    */
  def semanticDedup(
      embeddings: DataFrame,
      numSeeds: Int,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.{dot => fdot}
    val assigned = seedAssign(embeddings, numSeeds, idCol, embCol)
      .withColumn("nrm", sqrt(fdot(col("emb"), col("emb"))))
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", fdot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_b").as("vec_id"), col("cell"))
      .agg(min(struct(col("id_a"), col("cos"))).as("m"))
      .select(col("vec_id"), col("cell"), col("m.id_a").as("dup_of"),
        round(col("m.cos"), 4).as("cosine"))
  }

  /** Multi-probe assignment: each vector to its `probes` NEAREST seeds
    * (one row per (vector, probed cell)) — the IVF-nprobe move applied
    * to SemDeDup's one honest weakness: a near-dup whose perturbation
    * flips its nearest seed is lost to single-cell confinement (~12% of
    * twins on the isotropic fixture), but lands in its partner's SECOND
    * cell when both probe 2. Same driver-collected seeds, one
    * `array_sort` over per-seed structs + a slice — still a pure
    * projection (plus the ×probes explode), no join, no aggregate.
    */
  def seedAssignMulti(
      embeddings: DataFrame,
      numSeeds: Int,
      probes: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(embeddings.sparkSession)
    import graft.functions.VectorExpressions.{l2Sq => fl2}
    val seeds = embeddings.filter(col(idCol) < numSeeds)
      .select(col(idCol).cast("long").as("seed_id"), col(embCol).as("c_emb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, s"no seed vectors with $idCol < $numSeeds")
    val cands = seeds.map { case (sid, emb) =>
      struct(fl2(col("emb"), typedLit(emb)).as("d2"), lit(sid).as("seed_id"))
    }
    embeddings.select(col(idCol).as("id"), col(embCol).as("emb"))
      .select(col("id"), col("emb"),
        explode(slice(array_sort(array(cands: _*)), 1, probes)).as("c"))
      .select(col("id"), col("emb"), col("c.seed_id").as("cell"))
  }

  /** [[semanticDedup]] with `probes`-way multi-probe assignment: pairs
    * form in ANY shared probed cell (dropDuplicates collapses the ≤
    * probes² co-occurrences), so boundary flips no longer cost recall —
    * measured 1.0 on the planted fixture at probes = 2 (DedupSpec) vs
    * 0.88 single-probe. Cost: ≤ probes× postings and ≤ probes²× the
    * within-cell pair candidates — the standard recall/cost knob.
    */
  def semanticDedupMultiProbe(
      embeddings: DataFrame,
      numSeeds: Int,
      threshold: Double,
      probes: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.{dot => fdot}
    val assigned = seedAssignMulti(embeddings, numSeeds, probes, idCol, embCol)
      .withColumn("nrm", sqrt(fdot(col("emb"), col("emb"))))
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    // A pair sharing several probed cells appears once per shared cell
    // with an IDENTICAL cosine — no explicit dedupe: the min(struct)
    // aggregate collapses duplicates for free AFTER the threshold
    // filter, so only surviving near-dup rows ever shuffle. (An earlier
    // draft dropDuplicates'd the full candidate expansion while still
    // carrying both embedding arrays — a probes²·Σ|cell|²-row wide
    // shuffle that cost 9s at sf0.1 for identical output.)
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", fdot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(struct(col("id_a"), col("cos"))).as("m"))
      .select(col("vec_id"), col("m.id_a").as("dup_of"),
        round(col("m.cos"), 4).as("cosine"))
  }
}
