package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry: `Main <spec.json> <result.json>`.
  *
  * The spec (written by perfbench/run.py) names the workload, the host
  * sizing and the seeded inputs with their expected answers. The harness
  * starts a `local[cpus]` session, runs the workload against the
  * program's public API, checks every answer, and writes one JSON result:
  * counts, failures, end-to-end numbers and (traced runs) per-layer
  * numbers plus the recorded spans. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spec = new Spec(Requests.mapper.readTree(Files.readAllBytes(Paths.get(args(0)))))
    val trace = spec.int("trace") == 1
    val work = spec.work
    val b = SparkSession.builder()
      .appName(s"perfbench-${spec.str("workload")}")
      .master(s"local[${spec.cpus}]")
      .config("spark.sql.shuffle.partitions", spec.cpus.toString)
      // the sizing every graft main applies (see graft.Bench)
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only, whatever the environment says about the host
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      spark.sparkContext.addSparkListener(Listen)
      Trace.enable(spark.sparkContext)
    }
    val sessionS = since(t0)
    val t1 = System.nanoTime()
    val r = spec.str("workload") match {
      case "store" => Workloads.store(spark, spec)
      case "lookup" => Workloads.lookup(spark, spec)
      case "curation" => Workloads.curation(spark, spec)
      case "refresh" => Workloads.refresh(spark, spec)
    }
    r.e2e("harness.session_s") = sessionS
    r.e2e("harness.workload_s") = since(t1)
    r.e2e("mem_peak_mb") = Jvm.peakLiveMb
    val t2 = System.nanoTime()
    spark.stop()
    r.e2e("harness.stop_s") = since(t2)
    write(args(1), r, trace)
  }

  private def write(path: String, r: Result, trace: Boolean): Unit = {
    val m = Requests.mapper
    val out = m.createObjectNode()
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.put("wrong", r.wrong)
    val errs = out.putArray("errors")
    r.errors.foreach(errs.add)
    val e2e = out.putObject("end_to_end")
    r.e2e.foreach { case (k, v) => e2e.put(k, v) }
    val layers = out.putObject("per_layer")
    r.layers.foreach { case (k, v) => layers.put(k, v) }
    val shapes = out.putObject("shape_p50_ms")
    r.shapes.foreach { case (k, v) => shapes.put(k, v) }
    if (trace) {
      val spans = out.putArray("spans")
      Trace.spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
        val o = spans.addObject()
        o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
        o.put("request", s.req); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      }
    }
    Files.write(Paths.get(path), m.writeValueAsBytes(out))
  }
}
