package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Named samples of one run. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Off while warm-up ops run: they are checked, not measured. */
  var recording = true
  def add(name: String, v: Double): Unit =
    if (recording) m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def mean(name: String): Option[Double] = Some(get(name)).filter(_.nonEmpty).map(xs => xs.sum / xs.size)
  def median(name: String): Option[Double] = quantile(name, 0.5)
  /** Linearly interpolated quantile of the samples. */
  def quantile(name: String, q: Double): Option[Double] = Samples.quantile(get(name), q)
}

object Samples {
  def quantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    scale: String, cores: Int, work: String, out: String)

object Args {
  val workloads = Seq("point-search", "batch-search", "ingest")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", kv.getOrElse("scale", "full"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("work"), need("out"))
    require(workloads.contains(a.workload), s"unknown workload '${a.workload}'")
    a
  }
}

/** One benchmark run: set up (several times; `setup_s` is the median),
  * then spend `--seconds` as one closed-loop client on the workload's
  * op mix (plus an unmeasured warm-up of the search paths), check every
  * output, and write the run report as JSON.
  *
  * Every workload runs every phase, so every end-to-end metric exists
  * on every workload: the phases the workload is not about run their
  * fixed minimum first, then the workload's own phase repeats until the
  * time is up.
  */
object Main {

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def session(a: Args): SparkSession =
    graft.GraftSession.builder("perfbench", a.cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%7.1f s  $msg")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val s = Scale(a.scale)
    var spark: SparkSession = null
    val rec = new Recorder(() => Option(spark).map(_.sparkContext), a.trace)
    val stats = new Samples
    val listener = if (a.trace) Some(new OpListener) else None
    val search = new Search(s, rec, stats)
    val ingest = new Ingest(s, rec, stats)

    var env: SearchEnv = null
    val setupMs = (0 until s.setupReps).map { r =>
      val op = rec.op("setup") {
        if (spark != null) spark.stop()
        spark = rec.span("spark.session")(session(a))
        spark.sparkContext.setLogLevel("WARN")
        listener.foreach(spark.sparkContext.addSparkListener)
        env = search.setup(spark, a.seed, s"${a.work}/setup-$r")
      }
      if (op.value.isEmpty) {
        writeReport(a, s, rec, Map.empty, Map.empty)
        System.err.println(s"set-up failed: ${rec.failures.values.map(_._2).mkString("; ")}")
        sys.exit(3)
      }
      op.ms
    }

    log(s"set-up done: ${setupMs.map(ms => f"${ms / 1000}%.1f s").mkString(", ")}")
    val queries = new Gen.Queries(a.seed, env.data, s)
    var qid = 0L
    var pairs = 0
    var pipelines = 0
    def point(): Unit = {
      // traced runs alternate traced and untraced pairs: the difference
      // of their medians is the tracing overhead
      rec.quiet = pairs % 2 == 1
      search.pointPair(env, queries, qid)
      rec.quiet = false
      qid += 1; pairs += 1
    }
    def batch(): Unit = { search.batchRound(env, queries, qid); qid += s.batchQueries }
    def pipeline(): Unit = {
      ingest.pipeline(spark, a.seed, pipelines, s"${a.work}/ingest")
      pipelines += 1
    }
    // per phase: one unit of it, its minimum as another workload's phase,
    // its minimum as the workload's own
    val phases = Map[String, (() => Unit, Int, Int)](
      "point-search" -> ((() => point(), s.minPointPairs, s.focusPointPairs)),
      "batch-search" -> ((() => batch(), s.minBatchRounds, s.focusBatchRounds)),
      "ingest" -> ((() => pipeline(), s.minPipelines, s.focusPipelines)))

    def runMin(w: String): Unit = { val (run, times, _) = phases(w); (0 until times).foreach(_ => run()) }

    val gc0 = gcMs()
    val t0 = System.nanoTime()
    // A non-focus ingest phase runs first: the search calls right after
    // it run slow for a few ops, and the warm-up absorbs that. The
    // ingest phase itself gets no warm-up (one would cost about as much
    // wall time as the measured pipeline), so its figures include the
    // first-use cost of the ingest layers: class loading, JIT, codegen.
    // The first calls of each search path run cold for several ops:
    // warm-up ops are checked, not measured, and their time does not
    // count against the run's seconds.
    if (a.workload != "ingest") runMin("ingest")
    val tw = System.nanoTime()
    stats.recording = false
    rec.warming = true
    (0 until s.warmupPairs).foreach(_ => point())
    (0 until s.warmupRounds).foreach(_ => batch())
    stats.recording = true
    rec.warming = false
    pairs = 0
    val warmupNs = System.nanoTime() - tw
    log(f"warm-up done (${warmupNs / 1e9}%.1f s)")
    val deadline = t0 + warmupNs + (a.seconds * 1e9).toLong
    Args.workloads.filter(w => w != a.workload && w != "ingest").foreach(runMin)
    val (focus, _, minTimes) = phases(a.workload)
    var n = 0
    while (n < minTimes || System.nanoTime() < deadline) { focus(); n += 1 }
    val measuredS = (System.nanoTime() - t0 - warmupNs) / 1e9
    val gc = gcMs() - gc0
    log(f"measured $measuredS%.1f s")
    search.routedRecall(env, a.seed)

    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(m: mutable.LinkedHashMap[String, (Double, String)], name: String,
        v: Option[Double], unit: String): Unit = v.foreach(x => m(name) = (x, unit))
    put(endToEnd, "setup_s", Samples.quantile(setupMs, 0.5).map(_ / 1000.0), "s")
    put(endToEnd, "point_exact_p50_ms", stats.quantile("point_exact_ms", 0.5), "ms")
    put(endToEnd, "point_exact_p90_ms", stats.quantile("point_exact_ms", 0.9), "ms")
    put(endToEnd, "point_ann_p50_ms", stats.quantile("point_ann_ms", 0.5), "ms")
    put(endToEnd, "point_ann_p90_ms", stats.quantile("point_ann_ms", 0.9), "ms")
    put(endToEnd, "batch_exact_qps", stats.median("batch_exact_qps"), "1/s")
    put(endToEnd, "batch_ann_qps", stats.median("batch_ann_qps"), "1/s")
    put(endToEnd, "recall_at_10", stats.mean("batch_recall"), "ratio")
    put(endToEnd, "point_ann_recall_at_10", stats.mean("point_recall"), "ratio")
    put(endToEnd, "ingest_pages_per_s", stats.median("ingest_pages_per_s"), "1/s")
    put(endToEnd, "index_build_s", stats.median("index_build_s"), "s")
    put(endToEnd, "ingest_read_p50_ms", stats.median("ingest_read_ms"), "ms")
    put(endToEnd, "store_bytes_per_vector", stats.median("store_bytes_per_vector"), "B")
    put(endToEnd, "dup_removal_recall", stats.mean("dup_removal_recall"), "ratio")
    put(endToEnd, "success_ratio",
      Some((rec.attempted - rec.failed).toDouble / rec.attempted), "ratio")
    put(endToEnd, "peak_rss_mb", Some(peakRssMb()), "MB")

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (a.trace) {
      val spanMs = rec.spans.groupBy(_.name).map { case (k, v) => k -> v.map(_.ms).toSeq }
      Seq("plans.optimize", "search.exact", "search.ann_execute", "search.exact_batch",
        "search.segment_search", "search.routed_probe", "search.routed_build",
        "search.segment_build", "search.store_build", "index.add", "index.upsert",
        "index.delete", "index.count", "index.query", "ingest.clean", "textual.quality", "embed.fit", "embed.transform",
        "dedup.minhash", "streaming.hnsw_append", "streaming.cdc_batch", "eval.recall")
        .foreach(n => put(perLayer, s"${n}_ms", Samples.quantile(spanMs.getOrElse(n, Nil), 0.5), "ms"))
      put(perLayer, "plans.rewrite_fired", stats.mean("rewrite_fired"), "ratio")
      put(perLayer, "functions.l2sq_ns_per_pair", stats.median("l2sq_ns_per_pair"), "ns")
      put(perLayer, "index.files", stats.median("index_files"), "count")
      put(perLayer, "index.bytes", stats.median("index_bytes"), "B")
      put(perLayer, "dedup.candidate_pairs", stats.median("dedup_candidate_pairs"), "count")
      put(perLayer, "dedup.verified_pairs", stats.median("dedup_verified_pairs"), "count")

      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val l = listener.get
      val ingestKinds = Set("ingest_clean", "textual_quality", "dedup_minhash", "embed_fit",
        "embed_transform", "index_add", "index_count", "index_query", "cdc_batch",
        "index_upsert", "index_delete", "hnsw_build", "hnsw_append")
      val groups = Seq("point_exact", "point_ann", "batch_exact", "batch_ann")
        .map(k => k -> ((o: OpRecord) => o.kind == k, rec.ops.count(_.kind == k))) :+
        ("ingest" -> ((o: OpRecord) => ingestKinds(o.kind), pipelines))
      groups.foreach { case (g, (in, per)) =>
        val ops = rec.ops.filter(in).toSeq
        val cs = ops.map(o => o -> l.counts(o.id))
        def total(f: l.Counts => Double): Double = cs.map(_._2.map(f).getOrElse(0.0)).sum / math.max(per, 1)
        put(perLayer, s"spark.jobs.$g", Some(total(_.jobs.toDouble)), "count")
        put(perLayer, s"spark.stages.$g", Some(total(_.stages.toDouble)), "count")
        put(perLayer, s"spark.tasks.$g", Some(total(_.tasks.toDouble)), "count")
        put(perLayer, s"spark.task_run_ms.$g", Some(total(_.taskRunMs.toDouble)), "ms")
        put(perLayer, s"spark.task_cpu_ms.$g", Some(total(_.taskCpuNs / 1e6)), "ms")
        put(perLayer, s"spark.shuffle_read_bytes.$g", Some(total(_.shuffleRead.toDouble)), "B")
        put(perLayer, s"spark.shuffle_write_bytes.$g", Some(total(_.shuffleWrite.toDouble)), "B")
        put(perLayer, s"spark.spill_bytes.$g", Some(total(_.spill.toDouble)), "B")
        val gap = cs.map { case (o, c) => o.ms - covered(o, c.map(_.jobSpans.toSeq).getOrElse(Nil)) }
        put(perLayer, s"spark.driver_gap_ms.$g", Some(gap.sum / math.max(per, 1)), "ms")
      }
      put(perLayer, "jvm.gc_ms", Some(gc.toDouble), "ms")
      val pointOps = rec.ops.filter(o => o.kind.startsWith("point_") && !rec.failures.contains(o.id))
      def med(traced: Boolean, kind: String) =
        Samples.quantile(pointOps.filter(o => o.traced == traced && o.kind == kind).map(_.ms).toSeq, 0.5)
      val sums = Seq(true, false).map(t => Seq("point_exact", "point_ann").flatMap(med(t, _)))
      if (sums.forall(_.size == 2)) {
        put(perLayer, "trace.overhead_ms", Some(sums(0).sum - sums(1).sum), "ms")
        put(perLayer, "trace.overhead_pct", Some(100.0 * (sums(0).sum / sums(1).sum - 1.0)), "%")
      }
      rec.selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (layer, ms) =>
        put(perLayer, s"self.${layer}_ms", Some(ms), "ms")
      }
    }

    val counts = Map("point_pairs" -> pairs.toDouble, "batch_rounds" -> stats.get("batch_exact_qps").size.toDouble,
      "pipelines" -> pipelines.toDouble, "point_exact_samples" -> stats.get("point_exact_ms").size.toDouble,
      "point_ann_samples" -> stats.get("point_ann_ms").size.toDouble,
      "ingest_read_samples" -> stats.get("ingest_read_ms").size.toDouble,
      "measured_s" -> measuredS)
    writeReport(a, s, rec, if (a.trace) perLayer else endToEnd, counts)
    spark.stop()
    log("stopped")
  }

  /** Milliseconds of the op's wall time covered by at least one job. */
  private def covered(o: OpRecord, jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += curE - curS
    total.toDouble
  }

  private def writeReport(a: Args, s: Scale, rec: Recorder,
      metrics: scala.collection.Map[String, (Double, String)], counts: Map[String, Double]): Unit = {
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "generator" -> mutable.LinkedHashMap.from(s.productElementNames.zip(s.productIterator)),
      "correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "counts" -> counts,
      "failures" -> rec.failures.toSeq.map { case (id, (kind, why)) =>
        mutable.LinkedHashMap("op" -> id, "kind" -> kind, "error" -> why) },
      "self_ms" -> rec.selfTimeByLayer,
      "ops" -> rec.ops.map(o => mutable.LinkedHashMap("op" -> o.id, "kind" -> o.kind,
        "start_ms" -> o.startMs, "ms" -> o.ms)),
      "spans" -> rec.spans.map(sp => mutable.LinkedHashMap("id" -> sp.id, "parent" -> sp.parent,
        "op" -> sp.opId, "name" -> sp.name, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs)))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.write(Json.write(report)) finally w.close()
  }
}
