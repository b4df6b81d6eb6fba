package graft.textual

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Unigram-LM subword tokenizer TRAINING (Kudo, ACL'18 — the
  * SentencePiece algorithm; the OTHER real tokenizer family next to
  * BPE): seed a large substring vocabulary, run EM over the corpus
  * (E-step: per-word forward–backward expected piece counts under the
  * current piece scores; M-step: renormalized log-probabilities),
  * prune to the target vocabulary size, segment by Viterbi.
  *
  * Spark-first shape, same scale trick as [[Bpe]]: ALL work happens on
  * the distinct-WORD frequency table, never the corpus — at 100 TB the
  * corpus has ~10¹¹ tokens but ~10⁷ distinct words, so an EM iteration
  * is one mapPartitions over the word table (vocab broadcast) plus one
  * vocab-sized aggregation; the corpus is touched once to count words
  * and once to apply the tokenizer.
  *
  * DETERMINISM (the suite's fixed-point oracle discipline, same as the
  * backoff-LM rows): per-word forward–backward runs in a fixed
  * position order (deterministic double ops), each word's expected
  * piece counts are quantized to BIGINT micro-units BEFORE the
  * cross-word sum (integer addition commutes — partition-count
  * invariance is spec-pinned), piece scores are BIGINT micro-nats
  * derived from those sums, and Viterbi runs entirely in BIGINT with a
  * deterministic tie-break (equal path score → prefer the longer
  * final piece). Two fits are bit-identical; `graft.tools.FreezeUnigram`
  * asserts that before freezing [[graft.UnigramOracle]]'s literals.
  */
object UnigramLm {

  final case class Vocab(pieces: Map[String, Long]) { // piece -> score (micro-nats, ≤ 0)
    def maxPieceLen: Int = if (pieces.isEmpty) 1 else pieces.keysIterator.map(_.length).max
  }

  private val Micro = 1000000L

  /** Distinct words with corpus frequencies (the shared whitespace
    * tokenizer, [[TextFunctions.tokens]]).
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every substring of length ≤ `seedMaxLen` of every
    * distinct word, scored by corpus occurrence count; kept are all
    * single characters (segmentation totality) plus the top
    * `seedSize` multi-char substrings by (count DESC, piece ASC).
    */
  private def seedVocab(spark: SparkSession, words: DataFrame,
      seedMaxLen: Int, seedSize: Int): Vocab = {
    import spark.implicits._
    val subCounts = words.as[(String, Long)].flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + seedMaxLen)
      } yield (w.substring(i, j), f)
    }.toDF("piece", "f").groupBy("piece").agg(sum("f").as("n"))
    // Both collects are parameter-bounded (the repo's collect
    // discipline): single chars are alphabet-sized; the multi-char
    // seed rides a distributed TakeOrdered, never a full collect — at
    // 100 TB the substring table is ~10⁸ rows and stays on executors.
    val chars = subCounts.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("n").desc, col("piece").asc).limit(seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val kept = chars ++ multi
    val total = kept.map(_._2).sum.toDouble
    Vocab(kept.map { case (p, n) =>
      p -> math.round(math.log(n / total) * Micro)
    }.toMap)
  }

  /** One E-step: expected piece counts (BIGINT micro-units) summed over
    * the word table under `vocab`'s scores. Forward–backward per word,
    * quantized per word before the global integer sum.
    */
  private def expectedCounts(spark: SparkSession, words: DataFrame,
      vocab: Vocab): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(vocab)
    words.as[(String, Long)].flatMap { case (w, f) =>
      val v = b.value
      val maxLen = v.maxPieceLen
      val n = w.length
      val NegInf = Double.NegativeInfinity
      def score(p: String): Double =
        v.pieces.get(p).map(_.toDouble / Micro).getOrElse(NegInf)
      // alpha(j): log-prob mass of prefixes w[0,j); beta(i): of suffixes
      val alpha = Array.fill(n + 1)(NegInf); alpha(0) = 0.0
      for (j <- 1 to n; i <- math.max(0, j - maxLen) until j) {
        val s = alpha(i) + score(w.substring(i, j))
        if (s != NegInf)
          alpha(j) = if (alpha(j) == NegInf) s
            else math.max(alpha(j), s) + math.log1p(math.exp(-math.abs(alpha(j) - s)))
      }
      val beta = Array.fill(n + 1)(NegInf); beta(n) = 0.0
      for (i <- (n - 1) to 0 by -1; j <- (i + 1) to math.min(n, i + maxLen)) {
        val s = score(w.substring(i, j)) + beta(j)
        if (s != NegInf)
          beta(i) = if (beta(i) == NegInf) s
            else math.max(beta(i), s) + math.log1p(math.exp(-math.abs(beta(i) - s)))
      }
      val z = alpha(n)
      if (z == NegInf) Iterator.empty // unsegmentable (cannot happen: chars kept)
      else (for {
        i <- (0 until n).iterator
        j <- ((i + 1) to math.min(n, i + maxLen)).iterator
        p = w.substring(i, j)
        s = score(p)
        if s != NegInf
      } yield {
        val prob = math.exp(alpha(i) + s + beta(j) - z)
        (p, math.round(f * prob * Micro))
      }).filter(_._2 > 0L)
    }.toDF("piece", "c")
      .groupBy("piece").agg(sum("c").as("c"))
  }

  /** Train: seed → `emIters` × (E-step, M-step) → prune to `vocabSize`.
    * Single chars are never pruned (totality) and floored at one
    * micro-unit so their scores stay finite.
    */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      vocabSize: Int, seedMaxLen: Int = 6, seedSize: Int = 512,
      emIters: Int = 2): Vocab = {
    val words = wordFrequencies(docs, textCol).localCheckpoint(true)
    try {
      var vocab = seedVocab(spark, words, seedMaxLen, seedSize)
      for (it <- 1 to emIters) {
        val counts = expectedCounts(spark, words, vocab)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        val chars = vocab.pieces.keysIterator.filter(_.length == 1)
          .map(c => (c, math.max(counts.getOrElse(c, 0L), 1L))).toSeq
        val multi = vocab.pieces.keysIterator.filter(_.length > 1)
          .map(p => (p, counts.getOrElse(p, 0L))).filter(_._2 > 0L).toSeq
        val keepMulti = math.max(0, vocabSize - chars.size)
        val kept = chars ++ multi.sortBy { case (p, c) => (-c, p) }
          .take(if (it == emIters) keepMulti else seedSize)
        val total = kept.map(_._2).sum.toDouble
        vocab = Vocab(kept.map { case (p, c) =>
          p -> math.round(math.log(c / total) * Micro)
        }.toMap)
      }
      vocab
    } finally graft.operators.Materialize.unpersist(words)
  }

  /** Viterbi segmentation of one word — pure BIGINT path scores; on a
    * tie the longer final piece wins (deterministic, favors fewer
    * pieces the way SentencePiece's float argmax usually does).
    */
  def segmentWord(w: String, vocab: Vocab): Seq[String] = {
    val maxLen = vocab.maxPieceLen
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue); best(0) = 0L
    val back = Array.fill(n + 1)(-1)
    for (j <- 1 to n; i <- math.max(0, j - maxLen) until j) {
      vocab.pieces.get(w.substring(i, j)).foreach { s =>
        if (best(i) != Long.MinValue) {
          val cand = best(i) + s
          // strictly-greater OR equal-with-longer-piece (smaller i)
          if (cand > best(j) || (cand == best(j) && i < back(j))) {
            best(j) = cand; back(j) = i
          }
        }
      }
    }
    if (best(n) == Long.MinValue) Seq(w) // unsegmentable: pass through
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = n
      while (j > 0) { out += w.substring(back(j), j); j = back(j) }
      out.reverse.toSeq
    }
  }

  /** (word, pieces, n_pieces) for every distinct word — the tokenizer
    * as a TABLE: applying it to a corpus is a broadcast join against
    * this (the word-level memoization trick shared with [[Bpe]]).
    */
  def segmentation(spark: SparkSession, docs: DataFrame, textCol: String,
      vocab: Vocab): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(vocab)
    wordFrequencies(docs, textCol).select("word").as[String]
      .map { w =>
        val ps = segmentWord(w, b.value)
        (w, ps, ps.length.toLong)
      }
      .toDF("word", "pieces", "n_pieces")
  }

  /** Per-doc word/piece stats from a (frozen) word→n_pieces
    * segmentation table — applying the tokenizer to a corpus is one
    * broadcast-sized join (the [[Bpe.tokenizeStats]] memoization
    * shape). Shared by the batch `tok_unigram_segment` row and the
    * streaming twin, so the two can never drift.
    */
  def tokenizeStats(docs: DataFrame, textCol: String, idCol: String,
      seg: DataFrame): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(seg.select(col("word"), col("n_pieces")), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words"), 4))
}
