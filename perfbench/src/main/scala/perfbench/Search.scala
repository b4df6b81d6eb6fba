package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.eval.RecallAtK
import graft.functions.VectorExpressions
import graft.plans.AnnIndexRewrite
import graft.search.{Hnsw, IvfIndex, KnnExact}

/** A set-up search collection: the session, the generated vectors (the
  * oracle's copy), the stored indexes and the routed index's registration.
  */
final class SearchEnv(val spark: SparkSession, val data: VectorData, val embPath: String,
    val segIndexPath: String, val routed: AnnIndexRewrite.IndexSpec)

/** The search side: set-up, single-query lookups on the exact and the
  * planner-routed ANN path, and batch calls scored against the oracle.
  */
final class Search(s: Scale, rec: Recorder, stats: Samples) {

  /** Generate and write the collection, build and register the routed
    * index (the planner ANN path) and build the segment index (the
    * batch ANN path).
    */
  def setup(spark: SparkSession, seed: Long, dir: String): SearchEnv = {
    import spark.implicits._
    VectorExpressions.ensureRegistered(spark)
    val data = Gen.collection(seed, s)
    val embPath = s"$dir/embeddings.parquet"
    data.vecs.indices.map(i => (i.toLong, data.vecs(i))).toDF("vec_id", "embedding")
      .repartition(4).write.parquet(embPath)
    val emb = spark.read.parquet(embPath)
    val cent = IvfIndex.seedCentroids(emb, s.cells)
    val routedPath = s"$dir/routed_index"
    rec.span("search.routed_build") {
      Hnsw.buildRoutedIndex(spark, emb, cent)
        .write.partitionBy("cell").parquet(routedPath)
    }
    AnnIndexRewrite.clear()
    val spec = AnnIndexRewrite.IndexSpec(spark.read.parquet(routedPath),
      cent, nprobe = s.nprobe, efSearch = s.efSearch, indexPath = Some(routedPath))
    AnnIndexRewrite.register(embPath, spec)
    val segPath = s"$dir/segment_index"
    rec.span("search.segment_build") {
      Hnsw.buildIndex(spark, emb, numGraphs = s.segments)
        .write.partitionBy("seg").parquet(segPath)
    }
    new SearchEnv(spark, data, embPath, segPath, spec)
  }

  /** Batch rounds scored through RecallAtK so far. */
  private var scored = 0

  /** Planner ANN queries of the run and the ids each answered. */
  private val plannerAnswers = scala.collection.mutable.ArrayBuffer.empty[(Array[Float], Seq[Long])]

  private def semiJoins(plan: LogicalPlan): Int =
    plan.collect { case j: Join if j.joinType == LeftSemi => j }.size

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** One exact and one ANN single-query top-k lookup, each on a fresh
    * query vector.
    */
  def pointPair(env: SearchEnv, queries: Gen.Queries, qid: Long): Unit = {
    val spark = env.spark
    import spark.implicits._

    val q1 = queries.next()
    val truth1 = Oracle.topK(env.data.vecs, q1, s.k)
    val ex = rec.op("point_exact") {
      val df = KnnExact.topK(Seq((qid, q1)).toDF("qid", "qemb"),
        spark.read.parquet(env.embPath), s.k)
      (df, rec.span("search.exact")(df.collect()))
    }
    ex.value.foreach { case (df, rows) =>
      stats.add("point_exact_ms", ex.ms)
      val got = rows.sortBy(_.getAs[Int]("rk"))
      rec.check(ex, semiJoins(df.queryExecution.optimizedPlan) == 0,
        "the exact plan was rewritten to an index probe")
      rec.check(ex, got.map(_.getAs[Long]("vec_id")).toSeq == truth1.map(_._1).toSeq,
        s"exact ids ${got.map(_.getAs[Long]("vec_id")).mkString(",")} != oracle " +
          truth1.map(_._1).mkString(","))
      rec.check(ex, got.zip(truth1).forall { case (r, (_, d2)) =>
        close(r.getAs[Double]("dist"), math.sqrt(d2)) }, "exact distances differ from the oracle")
    }

    val q2 = queries.next()
    val truth2 = Oracle.topK(env.data.vecs, q2, s.k)
    val ann = rec.op("point_ann") {
      // the canonical planner shape: Limit k → Sort(graft_l2sq(<lit>, emb)) → Project → Scan
      val df = spark.read.parquet(env.embPath)
        .select(col("vec_id"),
          VectorExpressions.l2Sq(typedLit(q2), col("embedding")).as("dist2"))
        .orderBy(col("dist2"), col("vec_id"))
        .limit(s.k)
      val fired = semiJoins(rec.span("plans.optimize")(df.queryExecution.optimizedPlan)) > 0
      (fired, rec.span("search.ann_execute")(df.collect()))
    }
    ann.value.foreach { case (fired, rows) =>
      stats.add("point_ann_ms", ann.ms)
      stats.add("rewrite_fired", if (fired) 1.0 else 0.0)
      rec.check(ann, fired, "AnnIndexRewrite did not fire: the query ran the exact plan")
      val ids = rows.map(_.getAs[Long]("vec_id")).toSeq
      rec.check(ann, ids.size == s.k && ids.distinct.size == s.k, s"ANN returned ids $ids")
      rec.check(ann, rows.forall(r =>
        close(r.getAs[Double]("dist2"), Oracle.l2sq(q2, env.data.vecs(r.getAs[Long]("vec_id").toInt)))),
        "ANN re-rank distances differ from the oracle")
      stats.add("point_recall", Oracle.recall(truth2.map(_._1).toSeq, ids))
      plannerAnswers += ((q2, ids))
    }
  }

  /** The routed path's answer to each query, as the planner computes it:
    * `Hnsw.searchRoutedIndex` with the registered index and knobs for
    * k · overfetch candidates, re-ranked by exact distance, top k.
    */
  private def routedAnswers(env: SearchEnv, qs: Seq[Array[Float]]): Map[Long, Seq[Long]] = {
    val spark = env.spark
    import spark.implicits._
    val spec = env.routed
    val rows = Hnsw.searchRoutedIndex(spark, qs.indices.map(i => (i.toLong, qs(i))).toDF("qid", "qemb"),
      spark.read.parquet(spec.indexPath.get), spec.centroids, k = s.k * spec.overfetch,
      nprobe = spec.nprobe, efSearch = spec.efSearch).select("qid", "vec_id").collect()
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.map(r => (Oracle.l2sq(qs(qid.toInt), env.data.vecs(r.getLong(1).toInt)), r.getLong(1)))
        .sorted(ord).take(s.k).map(_._2).toSeq
    }
  }

  /** Recall of the planner-routed path over more queries than the point
    * loop can afford: one batch call of the routed search the planner's
    * probe runs, over the run's planner queries and `probeQueries` more
    * spread evenly over the clusters. Every planner answer must equal
    * the batch call's answer to its query, so the extra answers measure
    * the planner path; their recall joins `point_recall`.
    */
  def routedRecall(env: SearchEnv, seed: Long): Unit = {
    val extra = Gen.spreadQueries(seed, env.data, s, s.probeQueries)
    val qs = plannerAnswers.map(_._1).toSeq ++ extra
    val probe = rec.op("routed_recall")(rec.span("search.routed_probe")(routedAnswers(env, qs)))
    probe.value.foreach { got =>
      val differ = plannerAnswers.indices.filterNot(i => got.get(i.toLong).contains(plannerAnswers(i)._2))
      rec.check(probe, differ.isEmpty, s"${differ.size} of ${plannerAnswers.size} planner ANN answers " +
        "differ from the routed search with the registered knobs")
      val truth = Oracle.topKAll(env.data.vecs, extra, s.k)
      extra.indices.foreach { j =>
        stats.add("point_recall", Oracle.recall(truth(j).map(_._1),
          got.getOrElse((plannerAnswers.size + j).toLong, Nil)))
      }
    }
  }

  /** One batch of fresh queries through the exact oracle path and the
    * segment-index ANN path; recall scored through RecallAtK. Traced
    * runs add the standalone distance-kernel call.
    */
  def batchRound(env: SearchEnv, queries: Gen.Queries, qidBase: Long): Unit = {
    val spark = env.spark
    import spark.implicits._
    val qs = Array.fill(s.batchQueries)(queries.next())
    val qids = Array.tabulate(qs.length)(i => qidBase + i)
    val truth = Oracle.topKAll(env.data.vecs, qs.toSeq, s.k)
    val qdf = qids.toSeq.zip(qs.toSeq).toDF("qid", "qemb")
    def byQuery(rows: Array[Row], distCol: String): Map[Long, Seq[(Long, Double)]] =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rk")).map(r => (r.getAs[Long]("vec_id"), r.getAs[Double](distCol))).toSeq
      }

    val ex = rec.op("batch_exact") {
      val df = KnnExact.topK(qdf, spark.read.parquet(env.embPath), s.k)
      (df, rec.span("search.exact_batch")(df.collect()))
    }
    ex.value.foreach { case (df, rows) =>
      stats.add("batch_exact_qps", qs.length / (ex.ms / 1000.0))
      rec.check(ex, semiJoins(df.queryExecution.optimizedPlan) == 0,
        "the exact batch plan was rewritten to an index probe")
      val got = byQuery(rows, "dist")
      val bad = qids.indices.filterNot { i =>
        got.get(qids(i)).exists(g => g.map(_._1) == truth(i).map(_._1).toSeq &&
          g.zip(truth(i)).forall { case ((_, d), (_, d2)) => close(d, math.sqrt(d2)) })
      }
      rec.check(ex, bad.isEmpty, s"${bad.size} of ${qs.length} exact answers differ from the oracle")
    }

    val ann = rec.op("batch_ann") {
      rec.span("search.segment_search")(Hnsw.searchIndex(spark, qdf,
        spark.read.parquet(env.segIndexPath), s.k, efSearch = s.efSearch,
        numGraphs = s.segments).collect())
    }
    ann.value.foreach { rows =>
      stats.add("batch_ann_qps", qs.length / (ann.ms / 1000.0))
      val got = byQuery(rows, "dist")
      val wrongDist = rows.count(r => !close(r.getAs[Double]("dist"),
        Oracle.l2sq(qs((r.getAs[Long]("qid") - qidBase).toInt),
          env.data.vecs(r.getAs[Long]("vec_id").toInt))))
      rec.check(ann, wrongDist == 0, s"$wrongDist ANN distances differ from the oracle")
      rec.check(ann, qids.forall(q => got.get(q).exists(g => g.size == s.k && g.map(_._1).distinct.size == s.k)),
        "an ANN answer is short or repeats an id")
      val recalls = qids.indices.map(i =>
        Oracle.recall(truth(i).map(_._1).toSeq, got.getOrElse(qids(i), Nil).map(_._1)))
      recalls.foreach(stats.add("batch_recall", _))

      // RecallAtK scores the warm-up round and the first measured one
      // (in traced runs every round); the oracle scores every round, and
      // skipping the repeat keeps the batch phase's time on the searches
      if (scored < 2 || rec.tracing) {
        scored += 1
        val truthDf = qids.indices.flatMap(i => truth(i).zipWithIndex.map { case ((id, _), r) =>
          (qids(i), id, r + 1) }).toDF("qid", "vec_id", "rk")
        val annDf = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Int]("rk")))
          .toSeq.toDF("qid", "vec_id", "rk")
        val ev = rec.op("eval_recall") {
          rec.span("eval.recall")(RecallAtK.evaluate(truthDf, annDf, Seq(s.k))
            .agg(avg(col(s"recall_${s.k}")), count(lit(1))).head())
        }
        ev.value.foreach { r =>
          // RecallAtK rounds each query's recall to 4 places; k ≤ 10 keeps them exact
          val own = recalls.map(x => math.rint(x * 1e4) / 1e4).sum / recalls.size
          rec.check(ev, r.getLong(1) == qs.length && close(r.getDouble(0), own),
            s"RecallAtK mean ${r.getDouble(0)} over ${r.getLong(1)} queries != $own over ${qs.length}")
        }
      }
    }

    if (rec.tracing) {
      val pairs = qs.length.toDouble * env.data.vecs.length
      val kern = rec.op("l2sq_kernel") {
        rec.span("functions.l2sq")(broadcast(qdf).crossJoin(spark.read.parquet(env.embPath))
          .agg(sum(VectorExpressions.l2Sq(col("qemb"), col("embedding")))).head().getDouble(0))
      }
      kern.value.foreach { total =>
        stats.add("l2sq_ns_per_pair", kern.ms * 1e6 / pairs)
        val own = qs.iterator.map(q => env.data.vecs.iterator.map(Oracle.l2sq(q, _)).sum).sum
        rec.check(kern, math.abs(total - own) <= 1e-9 * own, s"sum of graft_l2sq $total != $own")
      }
    }
  }
}
