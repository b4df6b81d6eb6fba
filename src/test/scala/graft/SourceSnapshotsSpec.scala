package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong

import graft.plans.SourceSnapshots

/** The planner rules' shared validity guard, tested directly on plain
  * directories: which listing changes drop a registration, which are
  * ignored, and that a listing failure declines without dropping.
  */
class SourceSnapshotsSpec extends GraftSpec {

  private def dataFile(dir: JPath, name: String): Unit =
    Files.write(dir.resolve(name), s"rows of $name".getBytes("UTF-8"))

  /** A guard over fresh temp dirs, re-checking on every call. */
  private def withGuard(dirs: Int)(
      body: (SourceSnapshots, AtomicLong, Seq[JPath]) => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val ds = (1 to dirs).map { i =>
      val d = Files.createTempDirectory(s"graft_snap_$i")
      dataFile(d, "part-0.parquet")
      d
    }
    val dropped = new AtomicLong(0)
    spark.conf.set("spark.graft.planner.staleness.intervalMs", "0")
    try body(new SourceSnapshots("spec", dropped), dropped, ds)
    finally {
      FlakyFs.fail.set(false)
      spark.conf.unset("spark.graft.planner.staleness.intervalMs")
      ds.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d.toString)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  test("fresh; a new data file drops; _SUCCESS and .crc files do not") {
    withGuard(1) { (guard, dropped, ds) =>
      var drops = 0
      assert(guard.snapshot("k", Seq(ds.head.toString), spark))
      assert(!guard.isStale("k")(drops += 1), "an unchanged listing is fresh")
      dataFile(ds.head, "_SUCCESS")
      dataFile(ds.head, ".part-0.parquet.crc")
      assert(!guard.isStale("k")(drops += 1), "committer metadata is not data")
      assert(drops === 0 && dropped.get() === 0)
      dataFile(ds.head, "part-1.parquet")
      assert(guard.isStale("k")(drops += 1), "an appended data file is a change")
      assert(drops === 1 && dropped.get() === 1)
      // the snapshot went with the registration: never served again
      assert(guard.isStale("k")(drops += 1))
      assert(drops === 1, "a dropped key is not dropped twice")
    }
  }

  test("a listing failure declines but keeps; the next good listing is fresh") {
    withGuard(1) { (guard, dropped, ds) =>
      var drops = 0
      val flaky = "flaky:" + ds.head.toString
      assert(guard.snapshot("k", Seq(flaky), spark))
      FlakyFs.fail.set(true)
      assert(guard.isStale("k")(drops += 1), "an unverifiable listing declines")
      assert(drops === 0 && dropped.get() === 0, "…without dropping the registration")
      assert(!guard.snapshot("k2", Seq(flaky), spark),
        "no snapshot can be taken while listing fails: the registration is refused")
      assert(guard.isStale("k2")(drops += 1), "a key with no snapshot is never served")
      FlakyFs.fail.set(false)
      assert(!guard.isStale("k")(drops += 1), "the retry after the failure is fresh")
      assert(drops === 0)
    }
  }

  test("a two-path key drops when either path changes") {
    withGuard(2) { (guard, dropped, ds) =>
      val paths = ds.map(_.toString)
      ds.zipWithIndex.foreach { case (d, i) =>
        var drops = 0
        assert(guard.snapshot("ab", paths, spark))
        assert(!guard.isStale("ab")(drops += 1))
        dataFile(d, "part-1.parquet")
        assert(guard.isStale("ab")(drops += 1), s"path $i changed: the pair is stale")
        assert(drops === 1 && dropped.get() === i + 1)
      }
    }
  }
}
