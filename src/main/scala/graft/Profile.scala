package graft

/**
 * Per-key profiling harness for the optimization rounds: decomposes a
 * key's repeat cost into BUILD+PLAN (construct the DataFrame fresh, as
 * the bench does every repeat) vs EXECUTE-ONLY (re-count an already
 * planned DataFrame — what a prepared-statement serving path pays), and
 * dumps the formatted physical plan for the evidence trail.
 *
 * Run: SPARK_GRAFT_ONLY=p50,p98 sbt "runMain graft.Profile"
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
 *      SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PROFILE_REPS (default 3),
 *      SPARK_GRAFT_PLANS_DIR (set to dump <key>.txt formatted plans).
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    Fixture.ensureStore(spark, sfDir)
    // warm the shared fixture caches exactly like Bench
    locally {
      val g = Fixture.graph(spark, sfDir)
      g.nodes.count(); g.edges.count(); g.reverseEdges.count()
      Fixture.closure(spark, sfDir).count()
      Fixture.metaSummary(spark, sfDir).count()
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val plansDir = sys.env.get("SPARK_GRAFT_PLANS_DIR")
    plansDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))

    def t[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val f3 = (v: Double) => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    println(f"${"key"}%-32s ${"build+cnt (reps)"}%-28s ${"build"}%-8s ${"plan"}%-8s ${"recount (reps)"}%-28s")
    for ((name, fn) <- named) {
      try {
        spark.sparkContext.setJobDescription(s"profile:$name")
        // fresh build + count, as the bench does
        val fresh = (1 to reps).map { _ => t(fn(spark, sfDir).count())._1 }
        // decompose one more repeat: DataFrame construction (may itself
        // run jobs for side-effecting keys), then analysis+optimization+
        // physical planning, then pure re-execution of the planned frame
        val (buildSec, df) = t(fn(spark, sfDir))
        val (planSec, _) = t(df.queryExecution.executedPlan)
        df.count()
        val re = (1 to reps).map { _ => t(df.count())._1 }
        plansDir.foreach { d =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
        }
        println(f"$name%-32s ${fresh.map(f3).mkString(" ")}%-28s ${f3(buildSec)}%-8s ${f3(planSec)}%-8s ${re.map(f3).mkString(" ")}%-28s")
      } catch { case e: Throwable =>
        println(f"$name%-32s ERROR ${Option(e.getMessage).getOrElse(e.toString).take(120)}")
      }
    }
    spark.stop()
  }
}
