package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * Diagnostic main (r21): per-key PURITY audit for the pipeline registry.
 * A key is "construction-pure" when building its DataFrame triggers ZERO
 * Spark jobs — no training collect, no export/write, no drain, no
 * materialization — i.e. the per-repeat rebuild the bench pays for it is
 * pure driver-side plan assembly that a prepared-statement serving path
 * (the discipline SparkEntry's graph lookups have used since r12) would
 * pay once. Only keys this audit proves pure (at most the one schema-
 * read job) may be declared `Prepared`; PreparedPuritySpec pins the proof.
 *
 * Run: sbt "runMain graft.PurityAudit"   (SPARK_GRAFT_SF_DIR, default
 * sf0.001; prints <key> <declared kind> <jobs-during-build>)
 */
object PurityAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    Fixture.ensureStore(spark, sfDir)

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    for (k <- SparkEntry.pipelineKeys.sortBy(_.name)) {
      // settle the async listener bus from the previous key
      Thread.sleep(300)
      val before = jobs.get()
      val r = try { k.build(spark, sfDir); "ok" }
      catch { case e: Throwable => s"ERROR ${Option(e.getMessage).getOrElse("?").take(60)}" }
      Thread.sleep(300)
      println(f"[purity] ${k.name}%-34s ${k.kind}%-8s jobs=${jobs.get() - before}%-5d $r")
    }
    spark.stop()
  }
}
