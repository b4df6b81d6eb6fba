package graft.plans

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** The validity policy shared by the three planner rewrite registries
  * ([[AnnIndexRewrite]], [[AggRewrite]], [[ConstraintRewrite]]): a
  * registered index, summary table or verified constraint is a
  * SNAPSHOT claim over its source's file listing, and it may be spliced
  * into a plan only while
  *
  *  - its owning session is alive and is the session the plan is being
  *    optimized for (registrations are session-lived, like temp views;
  *    the registries are JVM-global and keyed by path), and
  *  - the source's file listing still matches the fingerprint taken at
  *    registration. Splicing a stale snapshot would silently drop new
  *    rows (or resurrect deleted ones) from a query whose exact plan
  *    would see them — the one way "acceleration never changes
  *    results" could break without any code being wrong.
  *
  * One instance per rule holds that rule's snapshots, keyed by the
  * rule's registration key (a key may cover several paths — the join
  * view's key covers both of its sources).
  *
  * Registration takes the fingerprint; a source that cannot be listed
  * then is REFUSED ([[snapshot]] returns false, warning logged) rather
  * than registered unguarded — a registration with no snapshot could
  * never detect a later change.
  *
  * Plan time re-checks lazily, at most once per
  * `spark.graft.planner.staleness.intervalMs` (default 10 s) per key —
  * a 100 TB table may hold 10⁵ files, and listing on every plan event
  * would itself be the bottleneck. The verdict is three-way:
  *
  *  - fresh → proceed;
  *  - a successful listing that differs → the caller's `drop` callback
  *    removes the registration, the snapshot is forgotten, the rule's
  *    `droppedStale` counter rises and a warning is logged;
  *  - a listing error (a 503, a race with a concurrent committer) →
  *    decline THIS plan (the exact plan is the safe side) but keep the
  *    registration and retry after the interval. [[resetChecks]] clears
  *    the cached verdicts early (the [[PlannerPin]] retry-once hook).
  */
private[graft] final class SourceSnapshots(rule: String, droppedStale: AtomicLong)
    extends Logging {
  import SourceSnapshots._

  private val snapshots = TrieMap.empty[String, Snapshot]
  // key → (lastCheckedNanos, wasFresh)
  private val verdicts = TrieMap.empty[String, (Long, Boolean)]
  private val warnedNoSession = new AtomicBoolean(false)

  /** Fingerprint `paths` for `key`, replacing any earlier snapshot.
    * False when the listing fails — the caller must refuse the
    * registration (nothing is recorded, an earlier snapshot under the
    * key stays).
    */
  def snapshot(key: String, paths: Seq[String], session: SparkSession): Boolean = {
    val conf = session.sparkContext.hadoopConfiguration
    try {
      snapshots.put(key, Snapshot(paths, conf, fingerprint(paths, conf)))
      verdicts.remove(key)
      true
    } catch {
      case NonFatal(e) =>
        logWarning(s"graft $rule rewrite: could not list ${paths.mkString(" / ")} " +
          s"to snapshot it (${e.getMessage}) — registration refused, queries keep " +
          "the exact plan")
        false
    }
  }

  /** True when a registration made by every one of `owners` may serve a
    * plan optimized for `cur`. A stopped owner self-heals: `drop` runs
    * and the snapshot is forgotten.
    */
  def owned(key: String, owners: Seq[SparkSession], cur: Option[SparkSession])(
      drop: => Unit): Boolean =
    if (owners.exists(_.sparkContext.isStopped)) {
      drop; forget(key); false
    } else cur match {
      case None =>
        if (warnedNoSession.compareAndSet(false, true)) {
          logWarning(s"graft $rule rewrite: no current session to check " +
            "registration ownership against; keeping the exact plan (register via " +
            "a session built withExtensions(GraftExtensions) to bind the rule to " +
            "its session)")
        }
        false
      case Some(c) => owners.forall(_ eq c)
    }

  /** True when `key` must not be served: no snapshot, a listing that
    * changed since registration (`drop` runs), or a listing that failed
    * (registration kept, retried after the interval).
    */
  def isStale(key: String)(drop: => Unit): Boolean = snapshots.get(key) match {
    case None => true
    case Some(snap) =>
      val now = System.nanoTime()
      verdicts.get(key) match {
        case Some((t, fresh)) if now - t < intervalMs * 1000000L => !fresh
        case _ =>
          val where = snap.paths.mkString(" / ")
          val same =
            try Some(fingerprint(snap.paths, snap.conf) == snap.sig)
            catch { case NonFatal(_) => None }
          same match {
            case Some(true) =>
              verdicts.put(key, (now, true))
              false
            case Some(false) =>
              drop
              forget(key)
              droppedStale.incrementAndGet()
              logWarning(s"graft $rule rewrite: source files under $where changed " +
                "after registration — dropping the registration and keeping the " +
                "exact plan (re-register after rebuilding)")
              true
            case None =>
              verdicts.put(key, (now, false))
              logWarning(s"graft $rule rewrite: could not re-list $where to verify " +
                "freshness — keeping the exact plan for this check interval and " +
                "retrying (registration kept)")
              true
          }
      }
  }

  /** [[owned]] then [[isStale]] — the whole validity check. */
  def admits(key: String, owners: Seq[SparkSession], cur: Option[SparkSession])(
      drop: => Unit): Boolean =
    owned(key, owners, cur)(drop) && !isStale(key)(drop)

  /** Forget `key`'s snapshot and cached verdict — every drop path. */
  def forget(key: String): Unit = { snapshots.remove(key); verdicts.remove(key) }

  /** Forget every snapshot (the rule's `clear`). */
  def reset(): Unit = { snapshots.clear(); verdicts.clear() }

  /** Clear the cached verdicts only, keeping every snapshot. */
  def resetChecks(): Unit = verdicts.clear()
}

private[graft] object SourceSnapshots {

  private final case class Snapshot(paths: Seq[String], conf: Configuration, sig: Long)

  /** Scheme- and authority-free form of a path: the registry key. */
  def normalize(path: String): String = new Path(path).toUri.getPath

  /** Normalized root path of a V1 file-source scan leaf (what
    * `spark.read.parquet` yields under the default
    * `spark.sql.sources.useV1SourceList`) — the registry key a scan is
    * looked up by.
    */
  def scanPath(leaf: LogicalPlan): Option[String] = leaf match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.headOption.map(_.toUri.getPath)
      case _ => None
    }
    case _ => None
  }

  private def intervalMs: Long =
    SQLConf.get.getConfString("spark.graft.planner.staleness.intervalMs", "10000").toLong

  /** Order-independent fingerprint of the data files under `paths`
    * (path, length, modification time of each). Names starting with
    * `_` or `.` (`_SUCCESS`, `.crc`) are skipped — committers rewrite
    * them without touching data.
    */
  private def fingerprint(paths: Seq[String], conf: Configuration): Long = {
    var acc = 0L
    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(fs, st.getPath)
          else {
            // commutative mix (sum of per-file hashes): listing order
            // must not matter
            var h = 1125899906842597L
            (st.getPath.toUri.getPath + "|" + st.getLen + "|" + st.getModificationTime)
              .foreach(c => h = h * 31 + c)
            acc += h
          }
        }
      }
    paths.foreach { s =>
      val p = new Path(s)
      walk(p.getFileSystem(conf), p)
    }
    acc
  }
}
