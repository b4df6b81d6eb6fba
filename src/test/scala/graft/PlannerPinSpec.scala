package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.model.Tables
import graft.plans.{AggRewrite, AnnIndexRewrite, PlannerPin}
import graft.search.{Hnsw, IvfIndex}

/** A local filesystem whose `listStatus` can be made to throw on demand
  * — the injected "transient 503 / concurrent-committer race" the
  * staleness guards must survive. Reads/writes keep working (only the
  * LISTING fails), exactly the failure mode of a flaky object store.
  */
class FlakyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (FlakyFs.fail.get())
      throw new java.io.IOException("injected transient listing failure")
    super.listStatus(f)
  }
}
object FlakyFs {
  val fail = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** The rewrite_fired pin as a plan property + the retry-once protocol
  * (r17 verdict #1/#3): a transient source-listing failure declines the
  * plan (rows stay exact — the safe side) and poisons the staleness
  * verdict for a whole check interval; PlannerPin.pinned must heal it
  * by invalidating the plan-time caches and re-planning ONCE, without
  * touching the registration. This is the spec for the exact flake the
  * r17 driver run hit on `ann_planner_cosine`.
  */
class PlannerPinSpec extends GraftSpec {
  import spark.implicits._

  private def withFlakySource[A](name: String)(body: (String, DataFrame) => A): A = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyFs].getName)
    val base = java.nio.file.Files.createTempDirectory(name)
    try {
      val local = base.resolve("src.parquet").toString
      val seed = Tables.embeddings(spark, sfDir)
      seed.unpersist(true)
      seed.write.parquet(local)
      val flaky = "flaky:" + local
      // read ONCE while the listing works: the file index is frozen in
      // the relation, so later plans re-list only through the staleness
      // guard — the injection point under test
      body(flaky, spark.read.parquet(flaky))
    } finally {
      FlakyFs.fail.set(false)
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("ANN: listing failure declines (exact rows), resetPlanCaches + retry re-fires") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    withFlakySource("graft_pin_ann") { (src, emb) =>
      val cent = IvfIndex.seedCentroids(emb, 4)
      val idxPath = writeTemp(Hnsw.buildRoutedIndex(spark, emb, cent))
      AnnIndexRewrite.register(src,
        AnnIndexRewrite.IndexSpec(spark.read.parquet(idxPath), cent,
          indexPath = Some(idxPath), nprobe = 4, efSearch = 4096,
          exhaustiveProbe = true))
      val qv = emb.filter($"vec_id" === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      def build(): DataFrame = emb
        .select($"vec_id",
          VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
        .orderBy($"dist2", $"vec_id").limit(10)
      // a poisoned verdict must outlive the test unless healed explicitly
      spark.conf.set("spark.graft.planner.staleness.intervalMs", "3600000")
      spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
      try {
        val detect = PlannerPin.annSpliced("vec_id") _
        // sanity: with a healthy listing the pattern fires
        assert(detect(build().queryExecution.optimizedPlan),
          "healthy listing: the probe splice is in the plan")
        AnnIndexRewrite.resetPlanCaches()
        val droppedBefore = AnnIndexRewrite.droppedStale.get()
        // inject the failure: the staleness check can no longer verify
        // the snapshot → the plan DECLINES (exact path) and the verdict
        // is cached for the whole interval
        FlakyFs.fail.set(true)
        val (df1, fired1) = PlannerPin.pinned(build _, detect, () => ())
        assert(!fired1,
          "listing failure + no cache reset: the plan declines (pin false)")
        // the failure clears — but WITHOUT invalidation the poisoned
        // verdict still declines; pinned()'s retry-once heals it
        FlakyFs.fail.set(false)
        assert(!detect(build().queryExecution.optimizedPlan),
          "the poisoned verdict outlives the transient failure (the r17 flake)")
        val (df2, fired2) = PlannerPin.pinned(build _, detect,
          () => AnnIndexRewrite.resetPlanCaches())
        assert(fired2, "decline → retry-once after resetPlanCaches → fire")
        // never-wrong contract: declined and fired plans return the
        // same exact rows, and the registration survived the failure
        val rows1 = df1.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val rows2 = df2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows1 === rows2, "decline changed the plan, never the rows")
        assert(AnnIndexRewrite.droppedStale.get() === droppedBefore,
          "a transient failure must not drop the registration")
      } finally {
        spark.conf.unset("spark.graft.planner.staleness.intervalMs")
        spark.experimental.extraOptimizations = Nil
        AnnIndexRewrite.clear()
      }
    }
  }

  test("Agg MV: listing failure declines-but-keeps; retry re-fires from the same registration") {
    AggRewrite.clear()
    withFlakySource("graft_pin_agg") { (src, emb) =>
      val mv = emb.groupBy($"label").agg(count(lit(1)).as("n"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_pin_agg_mv").toString
      mv.write.mode("overwrite").parquet(tmp)
      AggRewrite.register(src, AggRewrite.MvSpec(spark.read.parquet(tmp),
        groupCols = Seq("label"), measures = Map("n" -> (("count", ""))),
        mvPath = Some(tmp)))
      def build(): DataFrame = emb.groupBy($"label").agg(count(lit(1)).as("n"))
      val detect = PlannerPin.aggSpliced(Seq(src)) _
      spark.conf.set("spark.graft.planner.staleness.intervalMs", "3600000")
      spark.experimental.extraOptimizations = Seq(AggRewrite)
      try {
        assert(detect(build().queryExecution.optimizedPlan),
          "healthy listing: the MV answers the rollup")
        AggRewrite.resetPlanCaches()
        val droppedBefore = AggRewrite.droppedStale.get()
        FlakyFs.fail.set(true)
        val (df1, fired1) = PlannerPin.pinned(build _, detect, () => ())
        assert(!fired1, "listing failure: decline to the exact fact scan " +
          "(ADVICE r17: the old code served the possibly-stale MV instead)")
        FlakyFs.fail.set(false)
        val (df2, fired2) = PlannerPin.pinned(build _, detect,
          () => AggRewrite.resetPlanCaches())
        assert(fired2, "retry-once after the failure clears: the KEPT registration fires")
        val rows1 = df1.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        val rows2 = df2.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(rows1 === rows2, "decline changed the plan, never the rows")
        assert(AggRewrite.droppedStale.get() === droppedBefore,
          "a transient failure must not drop the registration")
      } finally {
        spark.conf.unset("spark.graft.planner.staleness.intervalMs")
        spark.experimental.extraOptimizations = Nil
        AggRewrite.clear()
      }
    }
  }

  test("Agg MV: a registration while listing fails is refused; a healthy one fires") {
    AggRewrite.clear()
    withFlakySource("graft_pin_refuse") { (src, emb) =>
      val tmp = writeTemp(emb.groupBy($"label").agg(count(lit(1)).as("n")))
      def register(): Unit =
        AggRewrite.register(src, AggRewrite.MvSpec(spark.read.parquet(tmp),
          groupCols = Seq("label"), measures = Map("n" -> (("count", ""))),
          mvPath = Some(tmp)))
      def build(): DataFrame = emb.groupBy($"label").agg(count(lit(1)).as("n"))
      val detect = PlannerPin.aggSpliced(Seq(src)) _
      spark.experimental.extraOptimizations = Seq(AggRewrite)
      try {
        // no snapshot can be taken: the registration must not be kept
        // unguarded (a later change to the source would go unseen)
        FlakyFs.fail.set(true)
        register()
        FlakyFs.fail.set(false)
        val (df1, fired1) = PlannerPin.pinned(build _, detect,
          () => AggRewrite.resetPlanCaches())
        assert(!fired1, "a refused registration never fires, even once listing heals")
        register()
        val (df2, fired2) = PlannerPin.pinned(build _, detect, () => ())
        assert(fired2, "re-registered with a healthy listing: the MV answers")
        val rows1 = df1.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        val rows2 = df2.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(rows1 === rows2)
      } finally {
        spark.experimental.extraOptimizations = Nil
        AggRewrite.clear()
      }
    }
  }

  test("ANN: cold plan caches pin TRUE on the FIRST build (r17 post-mortem)") {
    // Post-mortem pin (r19 verdict #3): the r17 ann_planner_cosine red
    // row is now best explained by the -0.0 representation defect — the
    // r19 driver's own counters prove the rewrite fired (ann_fired=4,
    // droppedStale=0, failures={}) while the row still hash-mismatched —
    // NOT by a cold-cache decline flake. This test pins the non-flake
    // half: with an index registered and a HEALTHY source listing, the
    // very first plan after resetPlanCaches carries the splice, and
    // pinned() never needs its retry arm.
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val base = java.nio.file.Files.createTempDirectory("graft_pin_cold")
    try {
      val src = base.resolve("src.parquet").toString
      val seed = Tables.embeddings(spark, sfDir)
      seed.unpersist(true)
      seed.write.parquet(src)
      val emb = spark.read.parquet(src)
      val cent = IvfIndex.seedCentroids(emb, 4)
      val idxPath = writeTemp(Hnsw.buildRoutedIndex(spark, emb, cent))
      AnnIndexRewrite.register(src,
        AnnIndexRewrite.IndexSpec(spark.read.parquet(idxPath), cent,
          indexPath = Some(idxPath), nprobe = 4, efSearch = 4096,
          exhaustiveProbe = true))
      val qv = emb.filter($"vec_id" === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      def build(): DataFrame = emb
        .select($"vec_id",
          VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
        .orderBy($"dist2", $"vec_id").limit(10)
      spark.experimental.extraOptimizations = Seq(AnnIndexRewrite)
      try {
        AnnIndexRewrite.resetPlanCaches() // stone-cold plan-time memoization
        var retried = false
        val (_, fired) = PlannerPin.pinned(build _,
          PlannerPin.annSpliced("vec_id"), () => { retried = true })
        assert(fired, "cold caches + registered index + healthy listing: pin TRUE")
        assert(!retried, "the first build fired — the retry arm must stay unused")
      } finally {
        spark.experimental.extraOptimizations = Nil
        AnnIndexRewrite.clear()
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("detectors: splice markers are plan properties, not counters") {
    VectorExpressions.ensureRegistered(spark)
    AnnIndexRewrite.clear()
    val emb = Tables.embeddings(spark, sfDir)
    emb.unpersist(true)
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = emb.select($"vec_id",
        VectorExpressions.l2Sq(typedLit(qv), $"embedding").as("dist2"))
      .orderBy($"dist2", $"vec_id").limit(10)
    assert(!PlannerPin.annSpliced("vec_id")(exact.queryExecution.optimizedPlan),
      "an unrewritten plan carries no splice marker")
    assert(PlannerPin.scansPath(exact.queryExecution.optimizedPlan,
      s"$sfDir/embeddings.parquet"), "the exact plan scans its source")
    assert(!PlannerPin.aggSpliced(Seq(s"$sfDir/embeddings.parquet"))(
      exact.queryExecution.optimizedPlan))
  }
}
