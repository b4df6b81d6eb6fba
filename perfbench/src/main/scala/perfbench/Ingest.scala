package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.embed.TfIdfEmbedder
import graft.index.VectorStore
import graft.ingest.DocumentIngest
import graft.search.Hnsw
import graft.streaming.{HnswMaintenance, StoreMaintenance}
import graft.textual.TextAnalysis

/** A page as stored: collection id, cleaned text, embedding. */
final case class Doc(id: String, text: String, emb: Array[Float])

/** The write side: the reference's collection-building path as an
  * LLM-data pipeline — clean, quality features, MinHash dedup, TF-IDF
  * embedding, cumulative adds with reads in between, a CDC batch, direct
  * upsert/delete, and an HNSW store build plus one streamed append.
  */
final class Ingest(s: Scale, rec: Recorder, stats: Samples) extends AdaptiveSparkPlanHelper {

  private def bytesUnder(f: java.io.File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles).toSeq.flatten.map(bytesUnder).foldLeft((0L, 0)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }

  /** Band candidates of an executed `Dedup.minHash`: the rows out of the
    * final aggregate that de-duplicates the (id_a, id_b) pairs. (The
    * Jaccard threshold is pushed into the verifying join, so it leaves
    * no filter of its own to count.)
    */
  private def candidatePairs(df: DataFrame): Option[Long] =
    collectFirst(df.queryExecution.executedPlan) {
      case h: HashAggregateExec if h.requiredChildDistributionExpressions.isDefined &&
          h.groupingExpressions.map(_.name) == Seq("id_a", "id_b") => h
    }.flatMap(_.metrics.get("numOutputRows")).map(_.value)

  private def uniform(dim: Int, rnd: java.util.Random): Array[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def pipeline(spark: SparkSession, seed: Long, p: Int, dir: String): Unit = {
    import spark.implicits._
    val gen = Gen.pages(seed, s, p)
    val rawPath = s"$dir/pages-$p.parquet"
    gen.pages.map(pg => (pg.docId, pg.text)).toSeq.toDF("doc_id", "text").write.parquet(rawPath)
    val rnd = new java.util.Random(seed + 7919L * p)
    val opsBefore = rec.ops.length

    // spark trim() strips spaces only; control characters survive it and
    // are removed by sanitization
    val expectClean = gen.pages.filter(_.text.replaceAll("^ +| +$", "").nonEmpty).map(_.docId).toSet
    val raw = spark.read.parquet(rawPath)
    val clean = rec.op("ingest_clean") {
      rec.span("ingest.clean")(DocumentIngest.clean(raw).select("doc_id", "text").collect())
    }
    val cleaned = DocumentIngest.clean(raw).select("doc_id", "text")
    clean.value.foreach { rows =>
      rec.check(clean, rows.map(_.getLong(0)).toSet == expectClean,
        s"clean kept ${rows.length} pages, expected ${expectClean.size}")
      rec.check(clean, rows.forall(_.getString(1).forall(c => c >= ' ' && c != '\u007f')),
        "a cleaned page still holds control characters")
    }

    val quality = rec.op("textual_quality") {
      rec.span("textual.quality")(TextAnalysis.qualityFeatures(cleaned, "text")
        .agg(count(lit(1)), min("quality_score"), max("quality_score")).head())
    }
    quality.value.foreach { r =>
      rec.check(quality, r.getLong(0) == expectClean.size &&
        r.getDouble(1) >= 0.0 && r.getDouble(2) <= 1.0,
        s"quality features: ${r.getLong(0)} rows, score range [${r.get(1)}, ${r.get(2)}]")
    }

    val dedup = rec.op("dedup_minhash") {
      val df = Dedup.minHash(cleaned, 3, 0.7)
      (df, rec.span("dedup.minhash")(df.collect()))
    }
    val removed = dedup.value.map(_._2.map(_.getAs[Long]("id_b")).toSet).getOrElse(Set.empty[Long])
    dedup.value.foreach { case (df, rows) =>
      rec.check(dedup, rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")),
        "a dedup pair is not ordered by id")
      if (rec.tracing) candidatePairs(df).foreach { cand =>
        stats.add("dedup_candidate_pairs", cand.toDouble)
        stats.add("dedup_verified_pairs", rows.length.toDouble)
      }
    }
    Dedup.releaseCheckpoints()
    if (gen.planted.nonEmpty)
      stats.add("dup_removal_recall", gen.planted.count(removed).toDouble / gen.planted.size)

    val kept = cleaned.filter(!col("doc_id").isin(removed.toSeq: _*))
    val expectKept = (expectClean -- removed).size
    val model = rec.op("embed_fit") {
      rec.span("embed.fit")(TfIdfEmbedder.fit(kept, "text", s.embedDim))
    }
    val embedded = model.value.flatMap { m =>
      val tr = rec.op("embed_transform") {
        rec.span("embed.transform")(m.embed(kept, "text", "embedding")
          .select("doc_id", "text", "embedding").collect())
      }
      tr.value.flatMap { rows =>
        val ok = rec.check(tr, rows.length == expectKept &&
          rows.forall(_.getSeq[Float](2).length == s.embedDim),
          s"embedded ${rows.length} pages, expected $expectKept of width ${s.embedDim}")
        if (ok) Some(rows.sortBy(_.getLong(0)).map(r =>
          Doc(r.getLong(0).toString, r.getString(1), r.getSeq[Float](2).toArray)))
        else None
      }
    }

    embedded.foreach { docs =>
      val store = new VectorStore(spark, s"$dir/warehouse-$p")
      val name = "pages"
      var live = Vector.empty[Doc]
      val docOrd = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
      val stepSize = (docs.length + s.addSteps - 1) / s.addSteps
      docs.grouped(stepSize).foreach { chunk =>
        val add = rec.op("index_add") {
          rec.span("index.add")(store.add(name,
            chunk.toSeq.map(d => (d.id, d.text, d.emb)).toDF("id", "document", "embedding")))
        }
        if (add.value.isDefined) live ++= chunk
        val cnt = rec.op("index_count")(rec.span("index.count")(store.count(name)))
        cnt.value.foreach(c => rec.check(cnt, c == live.size, s"count $c != ${live.size}"))
        (0 until s.readsPerStep).foreach { _ =>
          val q = live(rnd.nextInt(live.size)).emb
          val truth = Oracle.topKBy(live.iterator.map(d => (d.id, d.emb)), q, 5)(docOrd)
          val read = rec.op("index_query") {
            rec.span("index.query")(store.query(name, Seq((0L, q)).toDF("qid", "qemb"), 5).collect())
          }
          read.value.foreach { rows =>
            stats.add("ingest_read_ms", read.ms)
            val got = rows.sortBy(_.getAs[Int]("rk"))
            val byId = live.iterator.map(d => d.id -> d.text).toMap
            rec.check(read, got.map(_.getAs[String]("id")).toSeq == truth.map(_._1).toSeq,
              s"store read ids ${got.map(_.getAs[String]("id")).mkString(",")} != oracle " +
                truth.map(_._1).mkString(","))
            rec.check(read, got.forall(r => byId.get(r.getAs[String]("id")).contains(r.getAs[String]("document"))),
              "a store read returned the wrong document")
          }
        }
      }

      // one CDC micro-batch: deletes, updates of live ids, inserts
      val ids = live.map(_.id)
      val picked = scala.util.Random.javaRandomToRandom(rnd).shuffle(ids).take(8)
      val (cdcDel, cdcUpd) = picked.splitAt(4)
      val cdcNew = (0 until 4).map(j => s"cdc-$j")
      val newText = (id: String) => s"revised page $id"
      val cdcRows = cdcDel.map(id => (id, null: String, null: Array[Float], "D")) ++
        (cdcUpd ++ cdcNew).map(id => (id, newText(id), uniform(s.embedDim, rnd), "U"))
      val cdc = rec.op("cdc_batch") {
        rec.span("streaming.cdc_batch")(StoreMaintenance.applyCdcBatch(store, name,
          cdcRows.toDF("id", "document", "embedding", "_op")))
      }
      def readBack(op: Op[_], gone: Seq[String], written: Seq[String], expectCount: Long): Unit = {
        val rows = store.get(name, gone ++ written).select("id", "document").collect()
          .map(r => r.getString(0) -> r.getString(1))
        rec.check(op, gone.forall(id => !rows.exists(_._1 == id)), s"deleted ids still read back")
        rec.check(op, written.forall(id => rows.count(_._1 == id) == 1 &&
          rows.exists(r => r._1 == id && r._2 == newText(id))), "an upserted id does not read back once")
        val c = store.count(name)
        rec.check(op, c == expectCount, s"count after mutation $c != $expectCount")
      }
      var expectCount = live.size.toLong
      if (cdc.value.isDefined) {
        expectCount += cdcNew.size - cdcDel.size
        readBack(cdc, cdcDel, cdcUpd ++ cdcNew, expectCount)
      }

      val remaining = ids.filterNot(picked.contains)
      val upIds = remaining.take(2) ++ Seq("up-0", "up-1")
      val up = rec.op("index_upsert") {
        rec.span("index.upsert")(store.upsert(name,
          upIds.map(id => (id, newText(id), uniform(s.embedDim, rnd))).toDF("id", "document", "embedding")))
      }
      if (up.value.isDefined) {
        expectCount += 2
        readBack(up, Nil, upIds, expectCount)
      }
      val delIds = remaining.slice(2, 5)
      val del = rec.op("index_delete")(rec.span("index.delete")(store.delete(name, delIds)))
      del.value.foreach { n =>
        rec.check(del, n == delIds.size, s"delete removed $n rows, expected ${delIds.size}")
        expectCount -= delIds.size
        readBack(del, delIds, Nil, expectCount)
      }

      // HNSW store over the embedded pages: bulk build, then one append
      val storeDir = s"$dir/hnsw-$p"
      val cut = docs.length * 4 / 5
      val vecs = docs.map(d => (d.id.toLong, d.emb)).toSeq
      val build = rec.op("hnsw_build") {
        rec.span("search.store_build")(Hnsw.buildIndex(spark, vecs.take(cut).toDF("vec_id", "embedding"),
          numGraphs = s.segments).write.partitionBy("seg").parquet(storeDir))
      }
      build.value.foreach(_ => stats.add("index_build_s", build.ms / 1000.0))
      val append = rec.op("hnsw_append") {
        rec.span("streaming.hnsw_append")(HnswMaintenance.appendBatch(
          vecs.drop(cut).toDF("vec_id", "embedding"), storeDir, numGraphs = s.segments))
      }
      append.value.foreach { _ =>
        val counts = spark.read.parquet(storeDir).groupBy("vec_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        rec.check(append, vecs.forall { case (id, _) => counts.get(id).contains(1L) } &&
          counts.size == vecs.size, s"the HNSW store holds ${counts.size} ids " +
          s"(${counts.count(_._2 != 1)} not exactly once), expected ${vecs.size}")
      }

      val (collBytes, collFiles) = bytesUnder(new java.io.File(s"$dir/warehouse-$p/$name"))
      val (idxBytes, _) = bytesUnder(new java.io.File(storeDir))
      stats.add("index_files", collFiles.toDouble)
      stats.add("index_bytes", collBytes.toDouble)
      stats.add("store_bytes_per_vector", (collBytes + idxBytes).toDouble / expectCount)

      // index_build_s is the median of several builds, as one build is a
      // short op; the repeats are not pipeline steps (ingest_pages_per_s
      // leaves them out)
      (1 until s.buildReps).foreach { b =>
        val again = rec.op("hnsw_rebuild") {
          Hnsw.buildIndex(spark, vecs.take(cut).toDF("vec_id", "embedding"), numGraphs = s.segments)
            .write.partitionBy("seg").parquet(s"$storeDir-$b")
        }
        again.value.foreach(_ => stats.add("index_build_s", again.ms / 1000.0))
      }
    }

    val pipelineOps = rec.ops.drop(opsBefore).filter(_.kind != "hnsw_rebuild")
    if (pipelineOps.forall(o => !rec.failures.contains(o.id)) && embedded.isDefined)
      stats.add("ingest_pages_per_s", s.pages / (pipelineOps.map(_.ms).sum / 1000.0))
  }
}
