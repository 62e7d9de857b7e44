package graft

/** The QueryKey registry's declarations: one record per key, an oracle for
 * every key but the two Bloom keys, and one prepared-plan cache that
 * releases every key's plans when a session is retired. */
class RegistrySpec extends SparkSpec {

  import QueryKey.{Prepared, Rebuild}

  test("one record per key; derived views agree with the records") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate keys: ${names.diff(names.distinct).mkString(", ")}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.graphKeys.forall(_.name.startsWith("g")))
    assert(SparkEntry.pipelineKeys.forall(_.name.startsWith("p")))
  }

  test("every key has an oracle except exactly the two Bloom keys") {
    val without = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(without == Set("p39_contamination_bloom", "p59_incremental_bloom"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("headline keys are graph lookups served from prepared plans") {
    val headline = SparkEntry.registry.filter(_.headline)
    assert(headline.size == 15)
    assert(headline.forall(k => k.name.startsWith("g") && k.kind == Prepared))
  }

  test("a Rebuild key builds a new plan on every call") {
    val q = SparkEntry.queries("p06_ann_topk")
    assert(SparkEntry.pipelineKeys.find(_.name == "p06_ann_topk").get.kind == Rebuild)
    val s = spark.newSession()
    assert(!(q(s, "/root/testdata/sf0.001") eq q(s, "/root/testdata/sf0.001")))
  }

  test("evictPrepared releases a pipeline key's plan on that session") {
    val sfDir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("p50_curation_pipeline")
    val s = spark.newSession()
    val a = q(s, sfDir)
    assert(q(s, sfDir) eq a) // served from the prepared-plan cache
    SparkEntry.evictPrepared(s)
    val b = q(s, sfDir)
    assert(!(a eq b), "evictPrepared kept the pipeline plan")
  }
}
