package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixture
import graft.model.{GraftOntology => O, PropertyGraph}
import graft.operators._
import graft.serving.{HostedGraph, MultiGraph}
import graft.sources.{GraphDelta, GraphStore}

/** What a workload hands back: its end-to-end numbers, the per-layer
  * numbers (filled in traced runs), the operation counts and the first
  * failure messages. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Median service time per request shape (result file only). */
  val shapes = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def add(p: Phase): Unit = {
    attempted += p.attempted.get
    failed += p.failed.get
    wrong += p.wrong.get
    errors ++= p.errors.asScala.take(20 - errors.size)
  }

  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; wrong += 1; if (errors.size < 20) errors += msg }
  }
}

final class Spec(val j: JsonNode) {
  def str(k: String): String = j.get(k).asText
  def num(k: String): Double = j.get(k).asDouble
  def int(k: String): Int = j.get(k).asInt
  val cpus: Int = int("cpus")
  val seconds: Double = num("seconds")
  val sfDir: String = str("sf_dir")
  val work: Path = Paths.get(str("work_dir"))
  val seed: Long = j.get("seed").asLong
}

object Workloads {
  private val ont = O.ontology
  /** Upper bound on an open-ended phase; run.py kills a run long before. */
  private val RunCapSeconds = 600.0

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Listener events arrive asynchronously; let the bus catch up before
    * reading counters. */
  private def drainBus(): Unit = Thread.sleep(300)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // ------------------------------------------------------------ set-up

  /** Service start against an existing store: scan the stored tables into
    * the session caches, derive the closure index and meta summary, and
    * host the graph. A fresh session keys Fixture's per-session state anew
    * and the shared cache is cleared first, so the start pays the full
    * warm even right after the store was built in the same process. */
  def warmGraph(spark: SparkSession, sfDir: String): (MultiGraph, Double) = {
    spark.catalog.clearCache()
    val s = spark.newSession()
    timed {
      val g = Fixture.graph(s, sfDir)
      g.nodes.count(); g.edges.count(); g.reverseEdges.count()
      val c = Fixture.closure(s, sfDir)
      val ix = Fixture.closureIndex(s, sfDir)
      Fixture.metaSummary(s, sfDir).count()
      new MultiGraph(Fixture.serving(s), ont)
        .register(Requests.Graph, HostedGraph(g, Some(c), ix))
    }
  }

  private def requests(spec: Spec): (IndexedSeq[Request], IndexedSeq[Int]) =
    (spec.j.get("requests").elements().asScala.map(Requests.decode).toIndexedSeq,
      spec.j.get("sequence").elements().asScala.map(_.asInt).toIndexedSeq)

  /** A Load over the seeded request stream. While `counting` is on it
    * records each request's service time by shape and by whether its key
    * was issued before (a repeat, which the serving layer's plan cache
    * may answer from a prepared plan) or is issued for the first time. */
  private final class Stream(mg: MultiGraph, reqs: IndexedSeq[Request], seq: IndexedSeq[Int]) {
    private type Samples = java.util.concurrent.ConcurrentLinkedQueue[Double]
    private val seen = ConcurrentHashMap.newKeySet[String]()
    private val service = new ConcurrentHashMap[String, Samples]()
    private val first, repeated = new Samples
    @volatile var counting = false
    val load = new Load(i => {
      val r = reqs(seq((i % seq.size).toInt))
      val fresh = seen.add(r.key)
      val t0 = System.nanoTime()
      val o = Requests.run(mg, r)
      if (counting) {
        val ms = (System.nanoTime() - t0) / 1e6
        (if (fresh) first else repeated).add(ms)
        service.computeIfAbsent(r.body.path("shape").asText("?"), _ => new Samples).add(ms)
      }
      o
    })
    def report(r: Result): Unit = {
      val (nf, nr) = (first.size, repeated.size)
      r.layers("serving.repeat_share") = if (nf + nr == 0) 0.0 else nr.toDouble / (nf + nr)
      r.layers("serving.first_ms") = Stats.median(first.asScala.toSeq)
      r.layers("serving.repeat_ms") = Stats.median(repeated.asScala.toSeq)
      service.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
        r.shapes(k) = Stats.median(v.asScala.toSeq)
      }
    }
  }

  /** Per-layer numbers from the listener and tracker counters gathered
    * since `sinceNs`, normalized per operation. */
  private def layerMetrics(r: Result, spark: SparkSession, sinceNs: Long, ops: Long,
                           answerRows: Long, gcMs: Long): Unit = {
    drainBus()
    val n = math.max(ops, 1L).toDouble
    def tot(f: Counters => java.util.concurrent.atomic.LongAdder) = Listen.total(f).toDouble
    val answers = Trace.named("serving.answer", sinceNs)
    val builds = Trace.named("operators.build", sinceNs)
    val collects = Trace.named("collect", sinceNs)
    val L = r.layers
    def ms(s: Seq[Trace.Span]) = Stats.mean(s.map(x => (x.endNs - x.startNs) / 1e6))
    L("serving.answer_ms") = ms(answers)
    L("serving.answer_jobs") =
      Listen.layer("serving.answer").jobs.sum / math.max(answers.size, 1).toDouble
    L("operators.build_ms") = ms(builds)
    L("catalyst.analysis_ms") = Catalyst.analysisMs.sum / n
    L("catalyst.optimization_ms") = Catalyst.optimizationMs.sum / n
    L("catalyst.planning_ms") = Catalyst.planningMs.sum / n
    L("catalyst.plan_chars") =
      Catalyst.planChars.sum / math.max(Catalyst.queries.sum, 1L).toDouble
    val jobs = tot(_.jobs)
    L("sched.jobs_per_op") = jobs / n
    L("sched.stages_per_op") = tot(_.stages) / n
    L("sched.tasks_per_op") = tot(_.tasks) / n
    L("sched.job_ms") = tot(_.jobNs) / 1e6 / math.max(jobs, 1.0)
    L("sched.task_wait_ms") = tot(_.taskWaitNs) / 1e6 / math.max(tot(_.taskWaits), 1.0)
    L("exec.run_ms") = tot(_.runMs) / n
    L("exec.cpu_ms") = tot(_.cpuNs) / 1e6 / n
    L("exec.gc_ms") = tot(_.gcMs) / n
    L("exec.records_read") = Catalyst.scanRows.sum / n
    L("exec.scan_rows_per_answer_row") = Catalyst.scanRows.sum.toDouble / math.max(answerRows, 1L)
    L("shuffle.read_bytes") = tot(_.shuffleRead) / n
    L("shuffle.write_bytes") = tot(_.shuffleWrite) / n
    L("spill.memory_bytes") = tot(_.spillMem) / n
    L("spill.disk_bytes") = tot(_.spillDisk) / n
    L("shuffle.bytes_per_input_byte") = tot(_.shuffleWrite) / math.max(tot(_.bytesRead), 1.0)
    val c = Listen.layer("collect")
    L("collect.ms") = math.max(0.0,
      (collects.map(x => (x.endNs - x.startNs).toDouble).sum - c.jobNs.sum) / 1e6 /
        math.max(collects.size, 1))
    L("collect.rows") = answerRows / n
    L("collect.result_bytes") = c.resultBytes.sum / math.max(collects.size, 1).toDouble
    L("jvm.gc_ms") = (Jvm.gcMs - gcMs).toDouble
    L("cache.storage_mb") = storageMb(spark)
  }

  private def startMeasure(): (Long, Long) = {
    drainBus()
    Listen.reset(); Catalyst.reset()
    (System.nanoTime(), Jvm.gcMs)
  }

  private def loadgen(r: Result, phases: Phase*): Unit = {
    r.layers("loadgen.late_p99_ms") = Stats.pct(phases.flatMap(_.lateMs.asScala), 99)
    r.layers("loadgen.queue_ms") = Stats.mean(phases.flatMap(_.queueMs.asScala))
  }

  // ------------------------------------------------------------ lookup

  /** Only the ingest of the lookup workload's graph store, in a process
    * of its own (run.py, once per checkout). */
  def store(spark: SparkSession, spec: Spec): Result = {
    val r = new Result
    r.layers("sources.build_s") = Fixture.ensureStore(spark, spec.sfDir)
    r.attempted = 1
    r
  }

  /** Untimed, checked warm-up: `warm_requests` requests of the stream, so
    * the JIT has settled before anything is timed. The time cap only
    * guards the run limit; the result file records what the warm-up did. */
  private def warmUp(st: Stream, spec: Spec, r: Result): Unit = {
    val w = st.load.warm(new Phase(Double.MaxValue), spec.cpus, spec.int("warm_requests"),
      spec.num("warm_cap_seconds"))
    r.add(w)
    r.e2e("warmup.requests") = w.attempted.get.toDouble
    r.e2e("warmup.s") = w.seconds
  }

  /** The lookup workload's start. `setup_s` is the first, cold service
    * start of the process (the boot a KP pays). A second start in the same
    * JVM would reuse its JIT and Spark's code-generation cache and hide
    * that cost, so there is none. */
  def lookup(spark: SparkSession, spec: Spec): Result = {
    val r = new Result
    r.layers("sources.build_s") = Fixture.ensureStore(spark, spec.sfDir)
    val (mg, coldS) = warmGraph(spark, spec.sfDir)
    r.e2e("setup_s") = coldS
    r.layers("sources.warm_s") = coldS
    Jvm.checkpoint()
    val (reqs, seq) = requests(spec)
    val st = new Stream(mg, reqs, seq)
    warmUp(st, spec, r)
    val limit = spec.num("limit_ms")
    // the open loop runs at a share of the saturation rate the warm-up's
    // closed-loop tail measures, so a slow host window raises service times
    // without pushing the queue past saturation
    val probe = st.load.warm(new Phase(Double.MaxValue), spec.cpus, spec.int("probe_requests"),
      spec.num("warm_cap_seconds"))
    r.add(probe)
    r.e2e("warmup.requests") += probe.attempted.get
    r.e2e("warmup.s") += probe.seconds
    val saturation = probe.attempted.get / probe.seconds
    val rate = spec.num("rate_share") * saturation
    r.e2e("lookup.probe_qps") = saturation
    r.e2e("lookup.open_rate") = rate
    val (since, gc0) = startMeasure()
    st.counting = true
    val openS = spec.seconds * spec.num("open_share")
    val open = st.load.open(new Phase(limit), spec.cpus, rate, openS)
    // the saturating closed loop runs last, when the JIT has settled most
    val closed = st.load.closed(new Phase(limit), spec.cpus, spec.seconds - openS)
    st.counting = false
    Jvm.checkpoint()
    Seq(open, closed).foreach(r.add)
    val qps = closed.okCount / closed.seconds
    r.e2e("p50_ms") = open.pct(50)
    r.e2e("p90_ms") = open.pct(90)
    r.e2e("throughput") = qps
    r.e2e("lookup.p50_ms") = open.pct(50)
    r.e2e("lookup.p99_ms") = open.pct(99)
    r.e2e("lookup.qps") = qps
    r.e2e("lookup.open_samples") = open.attempted.get.toDouble
    st.report(r)
    if (Trace.on) {
      val ops = open.attempted.get + closed.attempted.get
      layerMetrics(r, spark, since, ops, open.rows.get + closed.rows.get, gc0)
      loadgen(r, open)
    }
    r
  }

  // ------------------------------------------------------------ curation

  def curation(spark: SparkSession, spec: Spec): Result = {
    val r = new Result
    val c = spec.j.get("curation")
    val nDocs = c.get("docs").asInt
    val floor = c.get("recall_floor").asDouble
    val stages = mutable.LinkedHashMap(
      Seq("curate", "lsh", "clusters", "apply", "pack").map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val iterMs = mutable.ArrayBuffer.empty[Double]
    var docs = 0L
    var pipelineS = 0.0
    val minIters = c.get("min_iterations").asInt
    // near-duplicate recall is checked over every planted pair of the run:
    // an 80-doc pass plants ~6 pairs, so per pass one LSH miss would read
    // 0.83 against the floor while the run's recall stays ~0.98
    var planted, found = 0L
    /** One pipeline pass over a fresh seeded corpus of `n` docs, checked
      * against the generator's facts; returns (docs, seconds, load s). */
    def iteration(it: Int, n: Int): (Int, Double, Double) = {
      val dir = spec.work.resolve(s"corpus-$it")
      val corpus = Corpora.write(spark, dir.resolve("in").toString, spec.seed * 1000 + it,
        n, c.get("exact_rate").asDouble, c.get("near_rate").asDouble)
      val (in, loadS) = timed {
        val d = spark.read.parquet(corpus.path).persist()
        d.count()
        d
      }
      val persisted = mutable.ArrayBuffer[DataFrame](in)
      val times = mutable.LinkedHashMap.empty[String, Double]
      def stage(name: String)(body: => DataFrame): (DataFrame, Long) = {
        val (out, s) = timed(Trace.span(s"curation.$name") {
          val d = body.persist()
          persisted += d
          (d, d.count())
        })
        times(name) = s * 1000
        out
      }
      val t0 = System.nanoTime()
      val (curated, nCurated) = stage("curate")(Corpus.curationPipeline(in))
      val (pairs, _) = stage("lsh")(
        Dedup.lshVerifiedPairs(curated, textCol = "final_text", idCol = "id"))
      val (clusters, _) = stage("clusters")(Dedup.clusters(pairs))
      val (kept, nKept) = stage("apply")(Corpus.dedupApply(curated, clusters, idCol = "id"))
      val out = dir.resolve("packed").toString
      val (_, ps) = timed(Trace.span("curation.pack") {
        Corpus.packSequences(kept, c.get("max_tokens").asLong, textCol = "final_text", idCol = "id")
          .write.mode("overwrite").parquet(out)
      })
      times("pack") = ps * 1000
      val dt = (System.nanoTime() - t0) / 1e9
      // checks against the generator's facts
      r.check(nCurated == corpus.distinctTexts,
        s"iteration $it: exact dedup kept $nCurated docs, ${corpus.distinctTexts} distinct texts")
      val rep = clusters.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      planted += corpus.plantedPairs.size
      found += corpus.plantedPairs.count { case (a, b) =>
        rep.get(a).exists(ra => rep.get(b).contains(ra))
      }
      val dropped = rep.size - rep.values.toSet.size
      r.check(nKept == nCurated - dropped,
        s"iteration $it: dedup kept $nKept docs, expected ${nCurated - dropped}")
      val packed = spark.read.parquet(out).count()
      r.check(packed == nKept, s"iteration $it: packed $packed docs of $nKept")
      if (it >= 0) { // a measured iteration; -1 is the warm-up
        Jvm.checkpoint() // while its frames are still persisted
        times.foreach { case (k, v) => stages(k) += v }
      }
      persisted.foreach(_.unpersist())
      OperatorCaches.drainMaterialized()
      deleteTree(dir)
      (corpus.docs, dt, loadS)
    }
    // set-up: the first, cold pass (JIT and code generation) over a small
    // corpus, from its load to its packed output; corpus generation is
    // the benchmark's and is not counted
    val (_, warmS, warmLoadS) = iteration(-1, c.get("warm_docs").asInt)
    r.e2e("setup_s") = warmLoadS + warmS
    val (since, gc0) = startMeasure()
    var it = 0
    // iterations run while the next one, as long as the last, still fits
    // the window
    var lastS = 0.0
    while (it < minIters || pipelineS + lastS <= spec.seconds) {
      val (n, dt, _) = iteration(it, nDocs)
      lastS = dt
      iterMs += dt * 1000
      pipelineS += dt
      docs += n
      it += 1
    }
    val recall = found.toDouble / math.max(planted, 1L)
    r.check(recall >= floor, f"near-dup recall $recall%.3f over $planted planted pairs below $floor")
    r.layers("curation.near_recall") = recall
    r.e2e("p50_ms") = Stats.median(iterMs.toSeq)
    r.e2e("p90_ms") = Stats.pct(iterMs.toSeq, 90)
    r.e2e("throughput") = docs / pipelineS
    r.e2e("curation.docs_per_s") = docs / pipelineS
    r.e2e("curation.iterations") = it.toDouble
    stages.foreach { case (k, v) => r.layers(s"curation.stage_ms.$k") = Stats.median(v.toSeq) }
    if (Trace.on) layerMetrics(r, spark, since, it.toLong, docs, gc0)
    r
  }

  // ------------------------------------------------------------ refresh

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The store tables the serving graph reads (GraphStore's layout). */
  private final class Store(spark: SparkSession, sfDir: String, root: Path) {
    val dir: Path = root.resolve(md5Hex(sfDir))
    def table(name: String): Path = dir.resolve(s"$name.parquet")

    /** Load the stored graph into the session caches and host it. Only
      * for a store no cached frame has read yet: the cache matches plans
      * by path, so a re-read after a rewrite would be served stale. */
    def serve(mg: MultiGraph): HostedGraph = {
      val nodes = GraphStore.table(spark, sfDir, "nodes", Seq("id"))(
        sys.error("store table nodes missing")).cache()
      val edges = GraphStore.table(spark, sfDir, "edges", Seq("subject"))(
        sys.error("store table edges missing")).cache()
      val rev = GraphStore.table(spark, sfDir, "edges_by_object", Seq("object"))(
        sys.error("store table edges_by_object missing")).cache()
      val closure = GraphStore.table(spark, sfDir, "closure")(
        sys.error("store table closure missing")).cache()
      nodes.count(); edges.count(); rev.count(); closure.count()
      val h = HostedGraph(PropertyGraph(nodes, edges, Some(rev)), Some(closure),
        ClosureIndex.fromClosure(closure), owned = Seq(nodes, edges, rev, closure))
      mg.register(Requests.Graph, h)
      h
    }
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Probe that the served graph reflects delta `d`; returns failures. */
  private def deltaProbes(mg: MultiGraph, h: HostedGraph, d: JsonNode): Seq[String] = {
    val g = h.graph
    val n = d.get("delta").asInt
    val out = mutable.ArrayBuffer.empty[String]
    val renamed = d.get("renamed").elements().asScala.map(p => p.get(0).asText -> p.get(1).asText).toMap
    val names = g.nodes.where(col("id").isin(renamed.keys.toSeq: _*)).select("id", "name")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    if (names != renamed) out += s"delta $n: renamed customers not served"
    val hubs = d.get("hubs").elements().asScala.map(_.get(0).asText).toSeq
    val hubQ = QueryGraph.oneHop(QNode("h", ids = hubs), QNode("n", categories = Seq(O.Nation)),
      QEdge("h", "n", predicates = Seq(O.LocatedIn)))
    val hubEdges = mg.answer(s"refresh-hubs-$n", hubQ).select("edge_id").collect().map(_.getString(0)).toSet
    if (hubEdges != hubs.map("E-" + _).toSet) out += s"delta $n: hub edges not served"
    val orders = Requests.strings(d.get("orders"))
    if (!g.edges.where(col("subject").isin(orders: _*) || col("object").isin(orders: _*)).isEmpty ||
      !g.nodes.where(col("id").isin(orders: _*)).isEmpty)
      out += s"delta $n: tombstoned orders still served"
    val rs = Requests.strings(d.get("resourced"))
    val src = g.edges.where(col("edge_id").isin(rs: _*)).select("primary_knowledge_source")
      .collect().map(_.getString(0)).toSeq
    if (src.size != rs.size || src.exists(_ != d.get("source").asText))
      out += s"delta $n: re-sourced edges not served"
    d.get("subclass_nodes").elements().asScala.foreach { p =>
      if (!h.closure.get.where(col("ancestor") === p.get(1).asText &&
        col("descendant") === p.get(0).asText).isEmpty)
        out += s"delta $n: tombstoned subclass edge still in the closure"
    }
    out.toSeq
  }

  def refresh(spark: SparkSession, spec: Spec): Result = {
    val r = new Result
    val sfDir = spec.sfDir
    val store = new Store(spark, sfDir, Paths.get(spec.str("store_dir")))
    // set-up: a cold ingest into an empty store, then warm and host it
    deleteTree(store.dir)
    val ((mg, first, buildS), setupS) = timed {
      val buildS = Fixture.ensureStore(spark, sfDir)
      val mg = new MultiGraph(Fixture.serving(spark), ont)
      (mg, store.serve(mg), buildS)
    }
    var hosted = first
    r.e2e("setup_s") = setupS
    r.layers("sources.build_s") = buildS
    r.layers("sources.warm_s") = setupS - buildS
    Jvm.checkpoint()
    val (reqs, seq) = requests(spec)
    val st = new Stream(mg, reqs, seq)
    val limit = spec.num("limit_ms")
    warmUp(st, spec, r)
    val deltas = spec.j.get("refresh").elements().asScala.toIndexedSeq
    val apply, applyMs, touchMs, rewriteMs, perByte, filesRatio, records =
      mutable.ArrayBuffer.empty[Double]
    // the KGX drops, one per delta, as perfbench/gen.py wrote them
    def drop(k: Int) = Paths.get(spec.str("drops_dir")).resolve(s"drop-$k")
    val minDeltas = math.min(spec.int("min_deltas"), deltas.size)
    val (since, gc0) = startMeasure()
    // background lookups at a low fixed rate for as long as deltas land
    val bgPhase = new Phase(limit)
    @volatile var landing = true
    val bg = new Thread(() => {
      st.load.open(bgPhase, spec.cpus, spec.num("rate"), RunCapSeconds, () => !landing)
    }, "perfbench-background")
    val t0 = System.nanoTime()
    st.counting = true
    bg.start()
    var k = 0
    // deltas land while one more, at the mean time per delta so far, still
    // fits the window
    var lastS = 0.0
    while (k < deltas.size && (k < minDeltas ||
      (System.nanoTime() - t0) / 1e9 + lastS <= spec.seconds)) {
      val d = deltas(k)
      val base = hosted
      val (next, dt) = timed(Trace.span("sources.delta") {
        def read(n: String) = spark.read.parquet(drop(k).resolve(n).toString)
        val delta = GraphDelta.KgxDelta(read("node_upserts"), read("node_tombstones"),
          read("edge_upserts"), read("edge_tombstones"))
        val ((a, nodes, edges, closure), ams) = timed {
          val a = GraphDelta.apply(base.graph, base.closure.get, delta, ont)
          val nodes = a.graph.nodes.persist(); nodes.count()
          val edges = a.graph.edges.persist(); edges.count()
          val closure = if (a.closureRebuilt) a.closure.persist() else a.closure
          closure.count()
          (a, nodes, edges, closure)
        }
        val ((touchedS, touchedO, touchedN), tms) = timed((
          GraphDelta.touchedEdgeKeys(base.graph, delta, ont, "subject"),
          GraphDelta.touchedEdgeKeys(base.graph, delta, ont, "object"),
          GraphDelta.touchedNodeIds(delta)))
        val (stats, wms) = timed {
          val s = Seq(
            GraphStore.deltaRewrite(spark, store.table("edges"), "subject", touchedS, edges),
            GraphStore.deltaRewrite(spark, store.table("edges_by_object"), "object", touchedO, edges),
            GraphStore.deltaRewrite(spark, store.table("nodes"), "id", touchedN, nodes))
          if (a.closureRebuilt) {
            val staged = spec.work.resolve(s"closure-$k").toString
            closure.write.parquet(staged)
            deleteTree(store.table("closure"))
            Files.move(Paths.get(staged), store.table("closure"))
          }
          s
        }
        applyMs += ams * 1000; touchMs += tms * 1000; rewriteMs += wms * 1000
        perByte += stats.map(_.bytesWritten).sum.toDouble / dirBytes(drop(k))
        filesRatio += stats.map(_.filesRewritten).sum.toDouble / stats.map(_.filesTotal).sum
        records += delta.nodeUpserts.count() + delta.nodeTombstones.count() +
          delta.edgeUpserts.count() + delta.edgeTombstones.count()
        // swap in the materialized post-delta graph (the store now holds
        // the same rows durably)
        val next = HostedGraph(PropertyGraph(nodes, edges), Some(closure),
          if (a.closureRebuilt) ClosureIndex.fromClosure(closure) else base.index,
          owned = Seq(nodes, edges) ++ (if (a.closureRebuilt) Seq(closure) else Nil))
        mg.register(Requests.Graph, next)
        val failures = deltaProbes(mg, next, d)
        r.check(failures.isEmpty, failures.mkString("; "))
        next
      })
      base.owned.filterNot(f => next.closure.exists(_ eq f)).foreach(_.unpersist())
      hosted = next
      apply += dt
      lastS = (System.nanoTime() - t0) / 1e9 / (k + 1)
      k += 1
    }
    landing = false
    bg.join()
    // the working set once the background stream has stopped: taken after
    // each delta with lookups in flight, it read ~60% higher in 2 runs of 10
    Jvm.checkpoint()
    st.counting = false
    r.add(bgPhase)
    val applyS = apply.sum
    r.e2e("p50_ms") = Stats.median(apply.toSeq) * 1000
    r.e2e("p90_ms") = bgPhase.pct(90)
    r.e2e("throughput") = records.sum / applyS
    r.e2e("refresh.apply_s") = Stats.median(apply.toSeq)
    r.e2e("refresh.lookup_p99_ms") = bgPhase.pct(99)
    r.e2e("refresh.lookup_p50_ms") = bgPhase.pct(50)
    r.e2e("refresh.deltas") = k.toDouble
    r.layers("sources.delta_apply_ms") = Stats.median(applyMs.toSeq)
    r.layers("sources.touched_keys_ms") = Stats.median(touchMs.toSeq)
    r.layers("sources.store_rewrite_ms") = Stats.median(rewriteMs.toSeq)
    r.layers("sources.bytes_written_per_delta_byte") = Stats.median(perByte.toSeq)
    r.layers("sources.files_rewritten_ratio") = Stats.median(filesRatio.toSeq)
    st.report(r)
    if (Trace.on) {
      layerMetrics(r, spark, since, bgPhase.attempted.get + k, bgPhase.rows.get, gc0)
      loadgen(r, bgPhase)
    }
    r
  }
}
