package graft.textual

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Materialize

/** Byte-Pair-Encoding tokenizer TRAINING as a distributed operator —
  * the subword-vocabulary step every LM data pipeline runs before
  * anything else (Sennrich et al., ACL'16; the GPT-2/Llama tokenizer
  * family). Spark-first shape, and the classic scale trick: merges are
  * learned over the WORD-FREQUENCY table, not the corpus — at 100 TB
  * the corpus has ~10¹¹ tokens but the word vocab is ~10⁷ rows, so
  * each merge iteration is a pair-count aggregation over the vocab
  * (one small shuffle) plus a driver argmax of ONE row, and the corpus
  * itself is touched exactly twice (once to count words, once to
  * tokenize). nMerges bounds every driver-side collect.
  *
  * DETERMINISM (the suite's oracle discipline): the best pair is
  * argmax by (count DESC, left ASC, right ASC) — no hash-order
  * dependence — and the merge application is the engine-portable
  * leftmost-nonoverlapping-scan-continue `replace` over a delimited
  * symbol encoding (chr(1) sym chr(2) per symbol), which both Spark's
  * `replace` and the SQL oracle's `replace` implement identically; on
  * a run like [a,a,a,a] the scan resumes AFTER each replacement, so
  * pairs merge left-to-right exactly as canonical BPE does.
  */
object Bpe {

  /** Symbol delimiters: every symbol is stored as SymStart+sym+SymEnd
    * inside the encoded word, so a merge pattern
    * (SymStart a SymEnd SymStart b SymEnd) can only ever match at
    * symbol boundaries — a symbol that is a PREFIX of another (a vs
    * ab) can never false-match mid-symbol.
    */
  val SymStart = "\u0001"
  val SymEnd = "\u0002"

  final case class Merge(step: Int, lhs: String, rhs: String, pairCount: Long)

  /** Word-frequency table over whitespace tokens (TextFunctions.tokens
    * semantics — the suite's shared tokenizer). Words carrying the
    * delimiter control chars are excluded on BOTH engines (none exist
    * in a text corpus; the filter just makes the invariant total).
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(!col("word").contains(SymStart) && !col("word").contains(SymEnd))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  private def symsOf(enc: Column): Column =
    filter(split(enc, SymStart), x => x =!= lit(""))

  /** Train `nMerges` merges. Returns the learned merge list plus the
    * final encoded-word table (word, freq, enc) — the word→subword
    * mapping, which is ALSO the tokenizer: applying BPE to a corpus is
    * a join against it ([[tokenizeStats]]). The per-iteration
    * localCheckpoint keeps the 2·nMerges actions from re-deriving an
    * ever-growing lineage; the frame is vocab-sized.
    */
  def trainMerges(spark: SparkSession, docs: DataFrame, textCol: String,
      nMerges: Int): (Seq[Merge], DataFrame) = {
    import spark.implicits._
    var words = wordFrequencies(docs, textCol)
      .withColumn("enc",
        regexp_replace(col("word"), "(.)", SymStart + "$1" + SymEnd))
      .localCheckpoint(eager = true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val pairs = words
        .withColumn("syms", symsOf(col("enc")))
        .withColumn("pr", explode(when(size(col("syms")) < 2,
          expr("cast(array() as array<struct<a:string,b:string>>)"))
          .otherwise(expr(
            "transform(sequence(0, size(syms)-2), i -> struct(syms[i] as a, syms[i+1] as b))"))))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      // one-row argmax: TakeOrdered heap, deterministic tie-break
      val best = pairs.orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).as[(String, String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = best.head
        merges += Merge(step, a.stripSuffix(SymEnd), b.stripSuffix(SymEnd), cnt)
        val prev = words
        words = words.withColumn("enc",
          org.apache.spark.sql.functions.replace(col("enc"),
            lit(SymStart + a + SymStart + b),
            lit(SymStart + a.stripSuffix(SymEnd) + b)))
          .localCheckpoint(eager = true)
        Materialize.unpersist(prev) // each round's copy dies as the next lands
        step += 1
      }
    }
    (merges.toSeq, words)
  }

  /** Tokenize a corpus against a trained vocab: per-doc whitespace
    * token count and BPE subtoken count, via a join to the final word
    * table (the corpus-sized pass — one shuffle on `word`, with the
    * vocab side broadcastable when small). Docs with no tokens keep a
    * (0, 0) row on both engines.
    */
  def tokenizeStats(docs: DataFrame, textCol: String, idCol: String,
      finalWords: DataFrame): DataFrame = {
    val wordSub = finalWords
      .withColumn("n_sub", size(symsOf(col("enc"))).cast("long"))
      .select(col("word"), col("n_sub"))
    val toks = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(wordSub, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subtokens"))
    docs.select(col(idCol)).distinct()
      .join(toks, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_subtokens"), lit(0L)).as("n_subtokens"))
  }
}
