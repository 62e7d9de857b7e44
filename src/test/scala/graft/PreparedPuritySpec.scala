package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the r21 prepared-pure contract: a pipeline key may serve from the
 * prepared-plan cache ONLY if constructing its DataFrame does no work —
 * at most the one parquet-footer schema-inference job, no training
 * collect, no export/write, no drain, no materialization. A key whose
 * construction starts doing real work (someone adds a collect or an
 * export) MUST be declared `Rebuild`, or the bench would silently skip
 * declared work on repeats — this spec turns that mistake into a red
 * test instead of a gamed benchmark. */
class PreparedPuritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  import QueryKey.{Prepared, Rebuild}

  private def kindOf(name: String) =
    SparkEntry.pipelineKeys.find(_.name == name).get.kind

  test("every Prepared pipeline key builds with at most the schema-read job") {
    val pure = SparkEntry.pipelineKeys.filter(_.kind == Prepared)
    assert(pure.nonEmpty)
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- pure.sortBy(_.name)) {
      // drain the async listener bus between keys
      Thread.sleep(150)
      val before = jobs.get()
      k.build(spark, sfDir)
      Thread.sleep(150)
      val n = jobs.get() - before
      if (n > 1) offenders += s"${k.name} built with $n jobs"
    }
    assert(offenders.isEmpty,
      s"construction no longer pure (declare the key Rebuild or make " +
        s"the work lazy):\n${offenders.mkString("\n")}")
  }

  test("prepared keys reuse the plan; non-prepared keys rebuild") {
    val q = SparkEntry.queries
    val a = q("p50_curation_pipeline")(spark, sfDir)
    val b = q("p50_curation_pipeline")(spark, sfDir)
    assert(a eq b, "pure key did not serve from the prepared cache")
    // a drain key must rebuild per call (construction IS the operation)
    assert(kindOf("p110_streaming_cdx") == Rebuild)
    assert(kindOf("p117_langid_trained") == Rebuild)
    assert(kindOf("p100_pagerank") == Rebuild)
  }
}
