package graft

/** Diagnostic main for the point-lookup fast path: warms the fixture,
  * then runs the named queries repeatedly, printing per-run wall time and
  * (with "explain") the executed plan's join/exchange/generate skeleton —
  * so a per-query-floor movement is attributable to a plan shape instead
  * of re-running the whole bench. Args: <sfDir> <keySubstr[,keySubstr..]>
  * [repeats] [explain]. */
object LookupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").toSeq
    val repeats = if (args.length > 2) args(2).toInt else 5
    val explain = args.contains("explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Fixture.ensureStore(spark, sfDir)
    val g = Fixture.graph(spark, sfDir)
    g.nodes.count(); g.edges.count(); g.reverseEdges.count()
    Fixture.closure(spark, sfDir); Fixture.metaSummary(spark, sfDir).count()
    Fixture.closureIndex(spark, sfDir)
    println(s"[probe] partitions: nodes=${g.nodes.rdd.getNumPartitions} " +
      s"edges=${g.edges.rdd.getNumPartitions} " +
      s"closure=${Fixture.closure(spark, sfDir).rdd.getNumPartitions} " +
      s"meta=${Fixture.metaSummary(spark, sfDir).rdd.getNumPartitions}")
    // Per-call job/stage/task accounting: the residual above floor_sec on
    // point lookups is scheduling constant × jobs-per-call, so the probe
    // reports how many jobs one .count() actually launches.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.atomic.AtomicInteger
    val shape = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.addAndGet(j.stageInfos.size)
        tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        shape.add(j.stageInfos.map(si =>
          s"${si.numTasks}t:${si.name.takeWhile(_ != ' ')}").mkString("+"))
      }
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        started.incrementAndGet()
    })
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if keys.exists(name.contains)) {
      val times = (1 to repeats).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); started.set(0); shape.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a moment to drain
        Thread.sleep(50)
        dt
      }
      println(f"[probe] $name%-26s " +
        times.map(t => f"$t%6.3f").mkString(" ") +
        f"  last-run: ${jobs.get}%d jobs ${stages.get}%d stages ${tasks.get}%d tasks ${started.get}%d ran " +
        shape.toArray.mkString("[", " | ", "]"))
      if (explain) {
        val df = fn(spark, sfDir)
        df.count() // let AQE finalize
        println(df.queryExecution.executedPlan.toString.linesIterator
          .map(_.takeWhile(_ != '[')).filter(l =>
            Seq("Join", "Exchange", "Generate", "Scan", "Sort", "Aggregate",
              "Filter", "Project", "AdaptiveSparkPlan", "Union")
              .exists(l.contains))
          .mkString(s"[probe] $name plan:\n", "\n", ""))
      }
    }
    spark.stop()
  }
}
