package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-center greedy coreset selection (farthest-point sampling — the
  * classic 2-approximation to the k-center cover, and the standard
  * diversity-selection pass for training-data subsets: pick the point
  * farthest from everything picked so far, k times).
  *
  * Spark shape — the INCREMENTAL form: a running per-vector
  * min-distance frame is updated with ONE broadcast row per round
  * (distance to the last pick only), so each round is a single linear
  * pass + a 1-row TakeOrdered argmax; the naive form would re-join all
  * picks every round. k driver rounds with k-bounded driver state —
  * the Bpe/Lloyd iterative discipline.
  *
  * DETERMINISM: distances are the codegen'd FloatVecL2Sq double fold
  * quantized to BIGINT micro-units (same left-to-right order as the
  * oracle's list_sum, so the quantized values are bit-identical
  * cross-engine); argmax tie-break is (min-dist DESC, vec_id ASC); the
  * seed is the smallest id. The whole selection replays as k generated
  * CTE rounds in DuckDB.
  */
object Coreset {

  final case class Pick(step: Long, vecId: Long, radiusFp: Long)

  final case class BlockPick(
      block: Int, step: Long, vecId: Long, radiusFp: Long, emb: Array[Float])

  /** Greedy selection; returns (step, vec_id, radius_fp) where
    * radius_fp is the picked point's distance to the previous picks —
    * the covering-radius trajectory (non-increasing), the coreset's
    * quality curve.
    */
  def kcenter(spark: SparkSession, emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): Seq[Pick] = {
    import spark.implicits._
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val distFp = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      round(graft.functions.VectorExpressions.l2Sq(a, b) * 1e6).cast("long")
    if (k <= 0) return Seq.empty
    val seed = emb.orderBy(col(idCol).asc).limit(1)
      .select(col(idCol), col(embCol)).collect()
    if (seed.isEmpty) return Seq.empty // empty input: nothing to cover
    val first = seed.head
    val picks = scala.collection.mutable.ArrayBuffer(
      Pick(0L, first.getLong(0), 0L))
    var lastVec = first.getSeq[Float](1).toArray
    // running min distance to the selected set, updated one pick a time
    var mind = emb.select(col(idCol), col(embCol),
        distFp(typedLit(lastVec), col(embCol)).as("md"))
      .localCheckpoint(true)
    try {
      for (step <- 1L until k.toLong) {
        val cand = mind.filter(!col(idCol).isin(picks.map(_.vecId).toSeq: _*))
          .orderBy(col("md").desc, col(idCol).asc).limit(1)
          .select(col(idCol), col(embCol), col("md")).collect()
        if (cand.isEmpty) return picks.toSeq // k > n: the whole set IS the coreset
        val next = cand.head
        picks += Pick(step, next.getLong(0), next.getLong(2))
        lastVec = next.getSeq[Float](1).toArray
        val prev = mind
        mind = mind.select(col(idCol), col(embCol),
            least(col("md"), distFp(typedLit(lastVec), col(embCol))).as("md"))
          .localCheckpoint(true)
        Materialize.unpersist(prev)
      }
      picks.toSeq
    } finally Materialize.unpersist(mind)
  }

  /** The oracle's quantized distance, in memory: left-to-right double
    * fold over float-widened dims (the FloatVecL2Sq order), scaled to
    * BIGINT micro-units with positive half-up rounding — bit-identical
    * to both the Catalyst expression and DuckDB's
    * `round(list_sum(...) * 1e6)`.
    */
  private def distFpMem(a: Array[Float], b: Array[Float]): Long = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.round(s * 1e6)
  }

  /** In-memory greedy k-center over id-sorted rows — the same rules as
    * [[kcenter]] (seed = smallest id, argmax tie-break (md DESC, id
    * ASC), fixed-point distances), so a local phase replays as the same
    * generated CTE rounds, just over a block.
    */
  private def localKcenter(
      rows: Array[(Long, Array[Float])], k: Int): Seq[Pick] = {
    if (k <= 0 || rows.isEmpty) return Seq.empty
    val picks = scala.collection.mutable.ArrayBuffer(Pick(0L, rows(0)._1, 0L))
    val md = rows.map(r => distFpMem(r._2, rows(0)._2))
    val picked = scala.collection.mutable.HashSet(rows(0)._1)
    var step = 1L
    while (step < k && picked.size < rows.length) {
      var bi = -1
      var i = 0
      while (i < rows.length) {
        if (!picked.contains(rows(i)._1) &&
          (bi < 0 || md(i) > md(bi) || (md(i) == md(bi) && rows(i)._1 < rows(bi)._1)))
          bi = i
        i += 1
      }
      picks += Pick(step, rows(bi)._1, md(bi))
      picked += rows(bi)._1
      i = 0
      while (i < rows.length) {
        val d = distFpMem(rows(i)._2, rows(bi)._2)
        if (d < md(i)) md(i) = d
        i += 1
      }
      step += 1
    }
    picks.toSeq
  }

  /** GreeDi two-round composable k-center (Mirzasoleiman et al.,
    * NeurIPS'13 — the standard distributed-submodular construction):
    * the incremental [[kcenter]] is k DRIVER rounds, right for
    * selection-k ≤ ~10² but wrong for coreset-as-preprocessing
    * (k ~ 10⁴⁺, where 10⁴ Spark jobs is the bottleneck). Here the
    * driver runs exactly TWO Spark stages regardless of k:
    *
    *  1. LOCAL — rows are grouped into `blocks` deterministic blocks
    *     (`id % blocks`, engine-portable, no sampled range bounds) and
    *     each block runs the greedy in memory via one
    *     `groupByKey.flatMapGroups` pass, picking `kLocal` centers.
    *  2. MERGE — the union of blocks·kLocal local picks (small by
    *     construction) is greedily reduced to the final k on the
    *     driver, under the SAME deterministic rules.
    *
    * Block size is n/blocks — choose `blocks` so a block fits an
    * executor (at 100 TB: blocks ≈ n / 10⁶, each group one task).
    * Both phases keep the [[kcenter]] determinism contract (seed =
    * smallest id, (md DESC, id ASC) argmax, BIGINT micro-unit
    * distances), so the ENTIRE two-round construction — per-block
    * trajectories and merged replay — regenerates as CTE rounds in
    * DuckDB (`corpus_coreset_greedi`).
    */
  def greedi(spark: SparkSession, emb: DataFrame, blocks: Int, kLocal: Int,
      k: Int, idCol: String = "vec_id", embCol: String = "embedding")
      : (Seq[BlockPick], Seq[Pick]) = {
    require(blocks > 0 && kLocal > 0, "blocks and kLocal must be positive")
    import spark.implicits._
    val ds = emb.select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
    val local = ds
      .groupByKey { case (id, _) => (((id % blocks) + blocks) % blocks).toInt }
      .flatMapGroups { (b, it) =>
        val rows = it.toArray.sortBy(_._1)
        val byId = rows.toMap
        localKcenter(rows, kLocal).iterator
          .map(p => BlockPick(b, p.step, p.vecId, p.radiusFp, byId(p.vecId)))
      }
      .collect().sortBy(p => (p.block, p.step)).toSeq
    val union = local.map(p => (p.vecId, p.emb)).sortBy(_._1).toArray
    (local, localKcenter(union, k))
  }
}
