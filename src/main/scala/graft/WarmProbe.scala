package graft

/** Diagnostic main: per-step timing of the warm-up block Bench runs
  * before the timed region (graph build + closure + meta summary), so a
  * warm_sec movement can be attributed to a step instead of re-running
  * the whole bench. Args: [sfDir]. */
object WarmProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[warmprobe] $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val buildSec = t("store ingest")(Fixture.ensureStore(spark, sfDir))
    println(f"[warmprobe] (build_sec reported by store: $buildSec%7.2f s)")
    val total0 = System.nanoTime()
    val g = t("graph load")(Fixture.graph(spark, sfDir))
    if (args.length > 1 && args(1) == "explain")
      println(g.edges.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("Join") || l.contains("Exchange"))
        .mkString("[warmprobe] edges plan:\n", "\n", ""))
    t("nodes count")(g.nodes.count())
    t("edges count")(g.edges.count())
    t("reverse edges count")(g.reverseEdges.count())
    t("closure")(Fixture.closure(spark, sfDir).count())
    t("meta summary")(Fixture.metaSummary(spark, sfDir).count())
    println(f"[warmprobe] TOTAL ${(System.nanoTime() - total0) / 1e9}%7.2f s")
    spark.stop()
  }
}
