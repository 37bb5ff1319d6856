package graft

import org.apache.spark.sql.SparkSession

/** Plan and timing audits over the registered queries
  * ([[SparkEntry.queries]]) at SPARK_GRAFT_SF_DIR. Run:
  * SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile <mode> [args]";
  * an unknown or missing mode prints the usage and exits non-zero.
  */
object Profile {
  private val usage =
    """usage: graft.Profile <mode> [args]
      |  explain <query>...   formatted physical plan of each query
      |  count-prune          flag queries whose joins count() prunes away
      |  jobstats <query>...  jobs, stages, tasks, task time and shuffle bytes of a warm run
      |  time <query> [reps]  wall-clock of each rep (default 3), cache cleared between reps
      |  audit                scan pruning, joins, exchanges and codegen spans of every query""".stripMargin

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    System.err.println(usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    def known(names: Seq[String]): Seq[String] = {
      names.filterNot(SparkEntry.queries.contains)
        .foreach(n => fail(s"unknown query: $n"))
      names
    }
    val run: (SparkSession, String) => Unit = args.toList match {
      case "explain" :: names if names.nonEmpty => explain(known(names))
      case "count-prune" :: Nil => countPrune
      case "jobstats" :: names if names.nonEmpty => jobstats(known(names))
      case "time" :: name :: reps if reps.size <= 1 =>
        time(known(Seq(name)).head, reps.headOption.fold(3)(r =>
          r.toIntOption.filter(_ > 0).getOrElse(fail(s"reps must be a positive integer, got '$r'"))))
      case "audit" :: Nil => audit
      case Nil => fail("missing mode")
      case _ => fail(s"unknown mode or arguments: ${args.mkString(" ")}")
    }
    val spark = GraftSession.start()
    try run(spark, GraftSession.sfDir) finally spark.stop()
  }

  // Plan-audit workflow (PLANS.md).
  private def explain(names: Seq[String])(spark: SparkSession, sfDir: String): Unit =
    names.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }

  /** Bench-integrity audit: flag any registered query whose optimized plan
    * LOSES joins under `count()` (Bench's action). A left join against an
    * aggregate keyed on the join key with no payload referenced is a no-op
    * to Catalyst, so a bare count would time only the surviving prefix of
    * such a query; flagged queries need a semantic no-op guard referencing
    * the join output (see SparkEntry's vocab_encode/substring_dedup
    * entries). */
  private def countPrune(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def joins(p: LogicalPlan): Int =
      p.collectWithSubqueries { case j: Join => j }.size
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val full = joins(df.queryExecution.optimizedPlan)
      val cnt = joins(df.groupBy().count().queryExecution.optimizedPlan)
      if (cnt < full) {
        flagged += 1
        println(s"[count-prune] $name: joins $full -> $cnt under count()")
      }
    }
    println(s"[count-prune] flagged=$flagged")
  }

  /** Attributes a query's wall-clock: a SparkListener counts jobs / stages
    * / tasks and sums executor task time, so wall − Σtask-time/cores
    * separates scheduling and planning overhead from compute. At sf0.1
    * the inputs are sub-MB, so a multi-second query is almost always
    * overhead-bound (many jobs / stages / tiny shuffles) — the same pass
    * count that multiplies real I/O at 100 TB. */
  private def jobstats(names: Seq[String])(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.scheduler._
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import scala.jdk.CollectionConverters._
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shufWr = new AtomicLong
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        shufWr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        stageAgg.put(s.stageInfo.stageId,
          (s.stageInfo.name.takeWhile(_ != '\n').take(70),
            m.executorRunTime, s.stageInfo.numTasks,
            m.executorDeserializeTime, m.jvmGCTime))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // rep 1 warms codegen/caches; rep 2 is the measured one (Bench's
      // median-of-3 is warm-dominated for the same reason)
      fn(spark, sfDir).count(); spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufWr.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // drain the listener bus before reading the counters: a fixed sleep
      // undercounts on a slow bus
      org.apache.spark.sql.graftshim.ColumnBridge
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobstats] $name%-34s wall=$wall%7.2fs jobs=${jobs.get}%3d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"taskSum=${taskMs.get / 1e3}%8.2fs shufWr=${shufWr.get / 1e6}%8.2fMB rows=$n")
      stageAgg.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
        case (sid, (nm, run, nt, deser, gc)) =>
          println(f"[jobstats]   stage $sid%4d run=${run / 1e3}%7.2fs " +
            f"deser=${deser / 1e3}%6.2fs gc=${gc / 1e3}%5.2fs tasks=$nt%4d  $nm")
      }
      stageAgg.clear()
    }
  }

  private def time(name: String, reps: Int)(spark: SparkSession, sfDir: String): Unit = {
    // JVM/codegen and parquet-reader warm-up, so rep 1 is not charged
    // the session's one-time start-up
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] ${s"$name#$i"}%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      spark.catalog.clearCache()
    }
  }

  /** Plan-health audit: for each registered query, summarize scan pruning
    * (ReadSchema), join strategies, exchanges, and codegen. */
  private def audit(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // Execute before reading the plan: under AQE the pre-execution
      // string is the initial plan with no WholeStageCodegen stages, so
      // codegen coverage (and runtime join demotions) only show in the
      // final plan.
      val df = fn(spark, sfDir)
      // Execute THIS queryExecution (df.count() would wrap the plan in
      // a new one and leave the audited AQE plan un-finalized).
      try df.queryExecution.toRdd.foreachPartition(_ => ())
      catch { case _: Throwable => () }
      val plan = df.queryExecution.executedPlan.toString
      val schemas = plan.linesIterator
        .flatMap(l => "ReadSchema: struct<([^>]*)".r.findFirstMatchIn(l).map(_.group(1)))
        .map(s => s.split(",").length + " cols: " + s.take(70)).toSeq
      val joins = "(\\w*(?:Join|Cartesian)\\w*)".r.findAllIn(plan).toSeq
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).map(identity).toSet.size
      println(s"[audit] $name")
      schemas.foreach(s => println(s"[audit]   scan  $s"))
      if (joins.nonEmpty) println(s"[audit]   joins ${joins.groupBy(identity).view.mapValues(_.size).toMap}")
      println(s"[audit]   exchanges=$exchanges codegenSpans=$wsc")
    }
}
