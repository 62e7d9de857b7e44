package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{GraftOntology => O, PropertyGraph}
import graft.operators._
import graft.sources.GraphStore

/** Cached fixture state per (session, sf-dir): graph, subclass closure,
 * and the meta summary that /meta_knowledge_graph + /sri_test_triples
 * share (one shuffle, cached — the long-lived-service posture).
 *
 * All four artifacts load through GraphStore: the build pipeline runs at
 * most ONCE per corpus drop (a batch ingest job writing parquet), and
 * every session after it — including this JVM after a driver restart —
 * warms by scanning columnar data. That split is what keeps service
 * startup flat as the data grows 100x (re-deriving the edge cache was
 * 20-30 s at sf0.1 and scales with the corpus; scanning it does not). */
object Fixture {
  private val closures =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val closureIdxs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      Option[graft.operators.ClosureIndex]]()
  private val metaSummaries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val graphs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), PropertyGraph]()

  /** Store-backed nodes/edges, UNCACHED — the shared loader for graph()
   * and for store-side derivations (closure, meta), so populating the
   * store never touches session caches and build-vs-warm timing stays
   * honest. The lazy build plan is constructed only when a table is
   * stale. */
  private def storeFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    lazy val built = graft.sources.TpchGraph.build(spark, sfDir)
    // Zone-map clustering (r12): nodes by id, edges by subject — literal
    // point probes prune to the batches/row-groups holding the probed
    // keys (see GraphStore.table's scaladoc).
    val nodes = GraphStore.table(spark, sfDir, "nodes", clusterBy = Seq("id"))(built.nodes)
    val edges = GraphStore.table(spark, sfDir, "edges", clusterBy = Seq("subject"))(built.edges)
    // the endpoint-category dimension persisted inside the build is dead
    // once the denormalized table is on disk
    PropertyGraph.unpersistBuildCaches()
    (nodes, edges)
  }

  /** OBJECT-clustered edge replica (reverse-direction probes, see
   * PropertyGraph.reverseEdges). Built by re-sorting the stored edge
   * table — the primary is always written first by storeFrames, so the
   * replica's build never re-runs the graph construction pipeline. */
  private def reverseStoreFrame(spark: SparkSession, sfDir: String,
                                edges: DataFrame): DataFrame =
    GraphStore.table(spark, sfDir, "edges_by_object", clusterBy = Seq("object"))(edges)

  /** Populate every store table for `sfDir` without warming this session's
   * caches (the ingest job's entry point). Returns seconds spent building
   * — 0.0 when the store was already fresh. */
  def ensureStore(spark: SparkSession, sfDir: String): Double = {
    val before = GraphStore.buildSeconds
    val (nodes, edges) = storeFrames(spark, sfDir)
    reverseStoreFrame(spark, sfDir, edges)
    val g = PropertyGraph(nodes, edges)
    GraphStore.table(spark, sfDir, "closure")(
      SubclassClosure.fromGraph(g, O.ontology))
    GraphStore.table(spark, sfDir, "meta_summary")(GraphOps.metaSummary(g))
    GraphStore.buildSeconds - before
  }

  def graph(spark: SparkSession, sfDir: String): PropertyGraph =
    graphs.computeIfAbsent((spark, sfDir), { _ =>
      val (nodes, edges) = storeFrames(spark, sfDir)
      PropertyGraph(nodes.cache(), edges.cache(),
        Some(reverseStoreFrame(spark, sfDir, edges).cache()))
    })

  def closure(spark: SparkSession, sfDir: String): DataFrame =
    closures.computeIfAbsent((spark, sfDir), { _ =>
      val (nodes, edges) = storeFrames(spark, sfDir)
      val c = GraphStore.table(spark, sfDir, "closure")(
        SubclassClosure.fromGraph(PropertyGraph(nodes, edges), O.ontology)).cache()
      c.count()
      c
    })

  /** Driver-side closure index for the point-lookup fast path (built once
   * per session from the cached closure; None when the closure exceeds
   * the driver-size guard — lookups then use the broadcast-join path). */
  def closureIndex(spark: SparkSession, sfDir: String): Option[graft.operators.ClosureIndex] =
    closureIdxs.computeIfAbsent((spark, sfDir), { _ =>
      graft.operators.ClosureIndex.fromClosure(closure(spark, sfDir))
    })

  private val servingSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** The SERVING session for interactive graph lookups: a `newSession()`
   * of the caller's (shared SparkContext + CacheManager — the cached
   * graph frames are reused, nothing is re-encoded) with its own SQLConf
   * tuned for answer-sized work: AQE off (its stage-by-stage re-planning
   * is pure latency when every post-match shuffle is answer-sized) and
   * ONE shuffle partition. That is the honest 100 TB shape too: in a
   * lookup the corpus-sized work is the SCAN, whose parallelism comes
   * from the cached table's partitioning; everything after the match is
   * bounded by the answer-size cutoff guard (G22), so distinct/groupBy/
   * sort on it wants answer-scale, not corpus-scale, partitioning.
   * Batch/pipeline operators keep the caller's session untouched. */
  def serving(spark: SparkSession): SparkSession =
    servingSessions.computeIfAbsent(spark, { s =>
      val sv = s.newSession()
      sv.conf.set("spark.sql.adaptive.enabled", "false")
      sv.conf.set("spark.sql.shuffle.partitions", "1")
      sv
    })

  /** Retire the serving session derived from `spark`: drops it from the
   * registry and evicts its prepared plans (the shared cached fixture
   * frames belong to the SparkContext's CacheManager and stay valid for
   * other sessions). */
  def closeServing(spark: SparkSession): Unit = {
    val sv = servingSessions.remove(spark)
    if (sv != null) SparkEntry.evictPrepared(sv)
  }

  def metaSummary(spark: SparkSession, sfDir: String): DataFrame =
    metaSummaries.computeIfAbsent((spark, sfDir), { _ =>
      val (nodes, edges) = storeFrames(spark, sfDir)
      val m = GraphStore.table(spark, sfDir, "meta_summary")(
        GraphOps.metaSummary(PropertyGraph(nodes, edges))).cache()
      m.count()
      m
    })
}

/** Driver contract — see SURVEY.md §2 for the inventory. Every key is
 * one [[QueryKey]] record in its family's file under `keys/`; the maps
 * below are views derived from those records. */
object SparkEntry {
  import QueryKey.{Prepared, Rebuild}

  /** Graph keys run on the caller's serving session (Fixture.serving —
   * answer-scale shuffle config over the shared cache); pipeline keys
   * run on the caller's batch session. */
  val graphKeys: Seq[QueryKey] = keys.GraphKeys.all
  val pipelineKeys: Seq[QueryKey] = Seq(
    keys.DedupKeys.all, keys.TextKeys.all, keys.CurationKeys.all,
    keys.WebKeys.all, keys.CrawlKeys.all, keys.MediaKeys.all,
    keys.StreamingKeys.all).flatten
  val registry: Seq[QueryKey] = graphKeys ++ pipelineKeys

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("g03_onehop_fwd")(spark, "/root/testdata/sf0.001")

  /** Prepared-plan cache for every Prepared key: a key's DataFrame is
   * built ONCE per (key, session, corpus) and re-EXECUTED on every call —
   * Spark plans a DataFrame lazily and keeps the analyzed/optimized/
   * compiled plan on the instance, so repeat calls skip analysis +
   * optimization + codegen lookup and pay only job scheduling + the
   * scan. This is the serving-layer analog of the reference pre-building
   * its lookup indexes once per boot (plover.py:1790 answer_query runs
   * against prebuilt dicts); each call still runs a fresh Spark job, so
   * results always reflect the store.
   *
   * Lifecycle (r11 advice): entries are built OUTSIDE the map's bin lock
   * (putIfAbsent — a racing duplicate build is harmless, both plans are
   * pure) so a slow plan construction never blocks unrelated lookups,
   * and `evictPrepared` drops a session's entries when it is retired so
   * a long-lived process doesn't pin dead sessions' plans (and whatever
   * intermediates they persist) forever. The key space is otherwise
   * bounded by design: |Prepared keys| x |live sessions| x |corpora|. */
  private val prepared = new java.util.concurrent.ConcurrentHashMap[
    (String, SparkSession, String), DataFrame]()

  /** Drop all prepared plans bound to `session` (call when a session is
   * retired); unpersists any operator-materialized frames the evicted
   * plans pinned. */
  def evictPrepared(session: SparkSession): Unit = {
    val it = prepared.keySet.iterator()
    while (it.hasNext) if (it.next()._2 eq session) it.remove()
    graft.operators.OperatorCaches.drainMaterialized()
  }

  /** Serve `k` on the session `on` derives from the caller's. */
  private def route(k: QueryKey, on: SparkSession => SparkSession)
      : (SparkSession, String) => DataFrame = k.kind match {
    case Rebuild => (s, d) => k.build(on(s), d)
    case Prepared => (s, d) => {
      val key = (k.name, on(s), d)
      val hit = prepared.get(key)
      if (hit != null) hit
      else {
        val df = k.build(key._2, d) // built outside the bin lock
        val raced = prepared.putIfAbsent(key, df)
        if (raced != null) raced else df
      }
    }
  }

  /** Every key, routed: `queries(name)(session, corpusDir)`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (graphKeys.map(k => k.name -> route(k, Fixture.serving)) ++
      pipelineKeys.map(k => k.name -> route(k, identity))).toMap

  /** For each key with an oracle, equivalent ANSI SQL runnable by DuckDB
   * on the same parquet tables. Omitted keys get a weaker rows-only check. */
  val oracleSql: Map[String, String] =
    registry.flatMap(k => k.oracle.map(k.name -> _)).toMap
}
