package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every graft main uses. */
object Sessions {

  /** A `local[cpus]` session (shuffle partitions = cpus) with the
   * deployment sizing every graft main shares:
   *  - Broadcast threshold 32 MB: executors of this memory class (tens of
   *    GiB) can hash-broadcast dimensions well past Spark's conservative
   *    10 MB default; 32 MB keeps the sf0.1 node-category dimension
   *    (~15 MB cached) on the broadcast side of the build-time denorm
   *    joins instead of shuffling the 1.3 M-row edge table twice.
   *    Operators stay stats-adaptive — genuinely large sides still
   *    shuffle.
   *  - Codegen class cache sized to the WORKLOAD, not Spark's default 100
   *    entries: a serving process answering 100+ distinct prepared
   *    queries compiles several generated classes per plan, so the
   *    default LRU churns and every repeat RE-COMPILES its generated code
   *    (janino, 50-200 ms for a large filter) — measured r13 as a
   *    consistent 2-3x p50 inflation on the expression-heavy lookups (g15
   *    0.33 s in the full 108-key run vs 0.18 s benched alone, identical
   *    plans). Static conf — it takes effect only for the first session
   *    of the JVM. Memory cost is bounded: compiled classes, not data.
   *  - UTC session time zone and no UI. */
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
