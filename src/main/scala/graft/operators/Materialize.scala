package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** The ONE materialization point for "compute this intermediate once,
  * then read it from N consumers" (r22, closing r21 VERDICT items 1+2):
  * every pipeline-severing checkpoint in the engine routes through
  * [[apply]], so (a) the scale posture is a CONFIGURATION, not a
  * hard-coded `localCheckpoint` scattered across ~20 call sites, and
  * (b) every materialized frame is REGISTERED and deterministically
  * releasable — the r21 tails leaked MEMORY_AND_DISK blocks across
  * bench passes because `materializeThenSort` and the inline LM-count
  * checkpoints were never tracked.
  *
  * Strategies (`spark.graft.materialize` session conf):
  *
  *  - `local` (default): `localCheckpoint(eager)` — executor-resident
  *    blocks, no lineage. The right local/bench trade: one
  *    materialization vs two executions of the dominant map work, no
  *    extra I/O. NOT fault-tolerant: an executor loss invalidates the
  *    blocks and the truncated lineage cannot recompute them.
  *  - `reliable`: `Dataset.checkpoint(eager)` to the SparkContext
  *    checkpoint dir (`spark.graft.materialize.dir` is applied to the
  *    context on first use when set) — the 100 TB posture for
  *    long-running jobs on preemptible executors: survives executor
  *    loss at the cost of writing the intermediate to reliable storage.
  *
  * Release: [[unpersist]] is the one release path for checkpointed
  * frames in the engine (Dedup, Bpe and Clusters use it too). `releaseAll` is wired into
  * `SparkEntry.clearCaches`; Bench additionally calls it between suite
  * passes so 5 passes do not stack ~20 checkpoints each.
  */
object Materialize {

  private val tracked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Session-lifetime materializations (frames a SHARED cache entry
    * reads from — releasing them between bench passes would strand the
    * cache's consumers on unrecomputable lineage). Released only by
    * [[releaseAll]] (clearCaches teardown), never by
    * [[releaseTransients]].
    */
  private val pinned =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Materialize `df` eagerly under the configured strategy and
    * register it for [[releaseAll]].
    */
  def apply(df: DataFrame): DataFrame = track(materializeOnly(df))

  /** Materialize without tracking — for frames the caller releases
    * itself (pair with [[releaseOne]]) or whose lifetime ends with the
    * temp session.
    */
  def materializeOnly(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.materialize").getOrElse("local") match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption("spark.graft.materialize.dir")
            .getOrElse(java.nio.file.Files
              .createTempDirectory("graft_reliable_ckpt").toString)
          spark.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** Register an already-materialized frame for [[releaseAll]]. */
  def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    df
  }

  /** Materialize with SESSION lifetime (for shared-cache builders):
    * survives [[releaseTransients]], dropped by [[releaseAll]].
    */
  def pin(df: DataFrame): DataFrame = {
    val out = materializeOnly(df)
    pinned.add(out)
    out
  }

  /** Unpersist the blocks a checkpointed frame pins: a plain
    * `DataFrame.unpersist` is a CacheManager no-op for it — the
    * persisted object is the RDD behind its LogicalRDD leaf. Safe on
    * reliable-checkpoint and never-checkpointed frames (no LogicalRDD
    * leaf → no-op) and on a stopped session (errors swallowed: release
    * is best-effort hygiene, never a query failure).
    */
  def unpersist(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () }

  /** Unpersist ONE materialized frame now (localCheckpoint blocks are
    * executor memory — free them the moment the last consumer is done
    * rather than at suite teardown).
    */
  def releaseOne(df: DataFrame): Unit = {
    tracked.remove(df)
    unpersist(df)
  }

  private def drain(set: java.util.Set[DataFrame]): Unit = {
    val it = set.iterator()
    while (it.hasNext) {
      val df = it.next()
      it.remove()
      unpersist(df)
    }
  }

  /** Unpersist every PER-QUERY tracked frame (Bench's between-pass
    * hygiene — N passes must not stack N copies of every transient).
    * Holders must not use a frame after release — the truncated lineage
    * cannot recompute the blocks. Pinned (shared-cache) frames survive.
    */
  def releaseTransients(): Unit = drain(tracked)

  /** Unpersist everything — transients AND pinned shared-cache frames
    * (SparkEntry.clearCaches teardown).
    */
  def releaseAll(): Unit = { drain(tracked); drain(pinned) }
}
