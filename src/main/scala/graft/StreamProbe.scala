package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Diagnostic main for the streaming drain keys: registers a
 * StreamingQueryListener and runs selected streaming keys once, printing
 * every micro-batch's durationMs breakdown (addBatch, getBatch,
 * triggerExecution, queryPlanning, walCommit, commitOffsets,
 * stateOperators' commit times) — so a drain's fixed cost can be
 * attributed to planning vs state-store vs sink instead of guessed.
 *
 * Run: SPARK_GRAFT_ONLY=p75,p58 sbt "runMain graft.StreamProbe"
 */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[streamprobe] started ${e.name}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
          .map(s => s"commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}")
          .mkString("; ")
        println(s"[streamprobe] ${p.name} batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=$dur state[$state]")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    Fixture.ensureStore(spark, sfDir)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
    for (r <- 1 to reps; (name, fn) <- named) {
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        println(f"[streamprobe] $name rep=$r total=${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      } catch { case e: Throwable =>
        println(s"[streamprobe] $name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
