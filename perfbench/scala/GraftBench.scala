package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.model.ExchangeRates
import graft.ops.PaymentOps
import graft.plans.TopologyExtract
import graft.sources.Tables
import graft.streaming.{MetricsSink, StreamingOps, TopologyMetricsListener}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** The benchmark's JVM side: runs one workload in one process with one
  * closed-loop client (the next operation starts when the previous one
  * has finished) and writes a raw record for `perfbench/run.py`, which
  * computes the reported metrics. It calls graft only through public
  * entry points: `SparkEntry.queries`, the `Tables` loaders,
  * `StreamingOps`, `PaymentOps`, `TopologyMetricsListener`,
  * `TopologyExtract` and the SQL functions `GraftFunctions` registers.
  *
  * Usage: GraftBench <workload> <seed> <seconds> <trace 0|1> <data dir>
  *                   <work dir> <out file>
  */
object GraftBench {

  /** One timed operation: a query execution or a micro-batch. */
  final case class Op(name: String, family: String, ms: Double, buildMs: Double,
                      rows: Long, hash: String, error: String)

  final case class Pass(index: Int, traced: Boolean, wallS: Double, ops: Seq[Op],
                        layers: Map[String, Double])

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String) {
    val k: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println("usage: GraftBench <workload> <seed> <seconds> <trace> " +
        "<data dir> <work dir> <out file>")
      sys.exit(2)
    }
    val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6))
    if (c.workload == "selftest") { SelfTest.run(c); return }
    val w: Workload = c.workload match {
      case "batch" => new BatchWorkload(Workloads.batch, c)
      case "streaming" => new StreamingWorkload(c)
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    new Runner(c, w).run()
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.k}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      // small status-store retention, so the live heap after a pass does
      // not depend on which recent executions happen to be retained
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "5")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  /** Order-independent content hash: the row count and the exact sum of
    * 64-bit hashes of each row's JSON form. Equal for any partitioning or
    * row order of the same rows. */
  def contentHash(df: DataFrame): (Long, String) = {
    val row = to_json(struct(df.columns.map(n => col(s"`${n.replace("`", "``")}`")): _*))
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val h = Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    (r.getLong(0), h.toPlainString)
  }

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.toSeq.headOption.getOrElse("").take(300)

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Milliseconds of one `TopologyExtract.fromDataFrame` over `df`,
    * median of three. */
  def extractMs(df: DataFrame, appType: String, name: String): Double =
    medianOf((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      scala.util.Try(TopologyExtract.fromDataFrame(df, appType, name))
      (System.nanoTime() - t0) / 1e6
    })
}

import GraftBench._

/** A workload: what set-up prepares, and what one pass runs. */
trait Workload {
  /** What a pass hands to `settle`. */
  type Done
  /** Load or generate the inputs; part of the timed set-up. */
  def prepare(spark: SparkSession, tracer: Option[Tracer]): Unit
  /** Untimed, once after set-up: anything the correctness checks need. */
  def expect(spark: SparkSession): Unit = ()
  /** One pass over every operation; timed. */
  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Done
  /** Untimed, after the pass's wall and layer counters are read and with
    * the tracer's listeners detached: checks what the pass left and
    * returns its operations and any layer values of its own. */
  def settle(spark: SparkSession, done: Done,
             tracer: Option[Tracer]): (Seq[Op], Map[String, Double])
  /** Untimed, traced runs only: layer probes outside the passes. */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
}

final class Runner(c: Conf, w: Workload) {
  private val setupReps = 5

  /** Live old-generation size: a full GC, a drain of the listener bus
    * (whose handlers release what the first GC's weak references freed,
    * such as broadcast and shuffle blocks), then a second full GC. */
  private def oldGenUsedMb(spark: SparkSession): Double = {
    System.gc()
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed / 1048576.0).sum
  }

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def run(): Unit = {
    val tracer = if (c.trace) Some(new Tracer) else None
    // Set-up: session, warm-up and the workload's inputs, repeated so the
    // reported figure is a median rather than one cold JVM start.
    var spark: SparkSession = null
    val setups = (0 until setupReps).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(c)
      spark.range(200000).selectExpr("sum(id)").collect()
      // the last set-up is traced, so the layer numbers see warm loads
      w.prepare(spark, if (i == setupReps - 1) tracer else None)
      (System.nanoTime() - t0) / 1e9
    }
    val sparkFinal = spark
    val setupLayers = tracer.map(_.snapshot()).getOrElse(Map.empty)
    w.expect(sparkFinal)
    var attached = false
    def attach(on: Boolean): Unit = tracer.filter(_ => on != attached).foreach { t =>
      org.apache.spark.perfbench.ListenerBusDrain(sparkFinal.sparkContext)
      if (on) {
        sparkFinal.sparkContext.addSparkListener(t.sparkListener)
        sparkFinal.listenerManager.register(t.queryListener)
      } else {
        sparkFinal.sparkContext.removeSparkListener(t.sparkListener)
        sparkFinal.listenerManager.unregister(t.queryListener)
      }
      attached = on
    }
    def onePass(i: Int, traced: Boolean): Pass = {
      tracer.foreach(_.pass = i)
      val before = tracer.map { t =>
        org.apache.spark.perfbench.ListenerBusDrain(sparkFinal.sparkContext); t.snapshot()
      }
      val cg0 = codegen()
      val t0 = System.nanoTime()
      val done = w.pass(sparkFinal, i, if (traced) tracer else None)
      val wall = (System.nanoTime() - t0) / 1e9
      val cg1 = codegen()
      val layers = tracer.filter(_ => traced).map { t =>
        org.apache.spark.perfbench.ListenerBusDrain(sparkFinal.sparkContext)
        val after = t.snapshot()
        val b = before.get
        after.map { case (n, v) => n -> (v - b.getOrElse(n, 0.0)) } ++ Map(
          "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
          "codegen.compile_ms" -> (cg1._2 - cg0._2))
      }.getOrElse(Map.empty)
      // the checks are the benchmark's work, not graft's: outside the
      // wall and unseen by the tracer's listeners
      attach(false)
      val (ops, extra) = w.settle(sparkFinal, done, if (traced) tracer else None)
      Pass(i, traced, wall, ops, layers ++ extra)
    }

    // Cold pass: the first execution of every operation in this JVM.
    attach(c.trace)
    val passes = mutable.ArrayBuffer(onePass(0, traced = c.trace))
    val heap = mutable.ArrayBuffer(oldGenUsedMb(sparkFinal))
    // Warm passes: `seconds` at a nominal pass length, at least two. The
    // count is fixed by `seconds`, not by the clock, so every run takes its
    // floor at the same point of the JVM's warm-up. A traced run, to report
    // its own overhead, runs untraced and traced passes in the order
    // U T T U (repeated), which cancels a steady warm-up trend, at least
    // two of each.
    val warm = math.max(2, math.round(c.seconds / Workloads.NominalPassS).toInt)
    for (i <- 1 to (if (c.trace) 4 * math.max(1, warm / 4) else warm)) {
      val traced = c.trace && (i % 4 == 2 || i % 4 == 3)
      attach(traced)
      passes += onePass(i, traced)
      heap += oldGenUsedMb(sparkFinal)
    }
    attach(false)
    val probes = if (c.trace) w.probes(sparkFinal) else Map.empty[String, Double]
    val spans = tracer.map(_.spans()).getOrElse(Seq.empty)
    val record = Map(
      "workload" -> c.workload, "seed" -> c.seed, "k" -> c.k,
      "trace" -> c.trace, "java_version" -> System.getProperty("java.version"),
      "spark_version" -> sparkFinal.version,
      "setup_s" -> setups, "setup_layers" -> setupLayers, "heap_mb" -> heap, "probes" -> probes,
      "passes" -> passes.map { p =>
        Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
          "layers" -> p.layers,
          "ops" -> p.ops.map(o => Map("name" -> o.name, "family" -> o.family,
            "ms" -> o.ms, "build_ms" -> o.buildMs, "rows" -> o.rows,
            "hash" -> o.hash, "error" -> o.error)))
      },
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "pass" -> s.pass, "run" -> s"${c.workload}:${c.seed}")))
    Files.writeString(Paths.get(c.out), Json(record))
    sparkFinal.stop()
  }
}

/** The batch workloads: every pass runs each query once, in an order
  * permuted by the seed, and computes its content hash as the action. */
final class BatchWorkload(queries: Seq[(String, String)], c: Conf) extends Workload {
  private val fns = SparkEntry.queries
  private val families = queries.toMap

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nation" -> Tables.nation, "supplier" -> Tables.supplier,
    "orders" -> Tables.orders, "lineitem" -> Tables.lineitem,
    "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  def prepare(spark: SparkSession, tracer: Option[Tracer]): Unit =
    Workloads.batchTables.foreach { t =>
      val t0 = System.nanoTime()
      loaders(t)(spark, c.data).count()
      tracer.foreach(_.count("sources.scan_s", (System.nanoTime() - t0) / 1e9))
    }

  type Done = Seq[Op]

  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Seq[Op] = {
    val order = new scala.util.Random(c.seed * 1000003L + index).shuffle(queries.map(_._1))
    order.map { name =>
      val opStart = Clock.nowMs
      val t0 = System.nanoTime()
      var buildEnd = t0
      val op = try {
        val df = tracer.fold(fns(name)(spark, c.data))(_.timed("build", "build")(fns(name)(spark, c.data)))
        buildEnd = System.nanoTime()
        val (rows, hash) = tracer.fold(contentHash(df))(_.timed("action", "action")(contentHash(df)))
        val t1 = System.nanoTime()
        Op(name, families(name), (t1 - t0) / 1e6, (buildEnd - t0) / 1e6, rows, hash, null)
      } catch {
        case e: Throwable =>
          Op(name, families(name), (System.nanoTime() - t0) / 1e6,
            (buildEnd - t0) / 1e6, -1L, null, errorText(e))
      }
      tracer.foreach(_.anchor(name, "op", opStart, Clock.nowMs))
      spark.catalog.clearCache()
      op
    }
  }

  /** The timed action was the content hash; run.py compares it with the
    * pinned outputs. */
  def settle(spark: SparkSession, ops: Seq[Op],
             tracer: Option[Tracer]): (Seq[Op], Map[String, Double]) = (ops, Map.empty)

  /** Kernel probes: each registered SQL function over the tokenized
    * documents table, repeated to a measurable size. */
  override def probes(spark: SparkSession): Map[String, Double] = {
    val reps = 20
    val docs = Tables.documents(spark, c.data)
      .select(explode(sequence(lit(1), lit(reps))).as("rep"), col("text"),
        split(col("text"), " ").as("toks"))
      .cache()
    val n = docs.count().toDouble
    val words = docs.select(explode(col("toks")).as("w")).cache()
    val nWords = words.count().toDouble
    def rate(rows: Double)(f: => Any): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      rows / ts.sorted.apply(1)
    }
    val out = Map(
      "functions.minhash_sig_rows_per_s" -> rate(n)(
        docs.selectExpr("minhash_sig(toks, 16) AS s").agg(count(col("s"))).collect()),
      "functions.simhash60_rows_per_s" -> rate(n)(
        docs.selectExpr("simhash60(toks) AS s").agg(count(col("s"))).collect()),
      "functions.winnow60_rows_per_s" -> rate(n)(
        docs.selectExpr("winnow60(text) AS s").agg(count(col("s"))).collect()),
      "functions.misra_gries_rows_per_s" -> rate(nWords)(
        words.selectExpr("misra_gries(w, 64) AS s").collect()))
    docs.unpersist(); words.unpersist()
    val watch = Workloads.watchList.map { q =>
      val t0 = System.nanoTime()
      contentHash(fns(q)(spark, c.data))
      spark.catalog.clearCache()
      s"query.${q}_s" -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // topology extraction over each workload query's plan
    val extract = queries.map { case (q, _) =>
      val ms = extractMs(fns(q)(spark, c.data), "spark-batch", q)
      spark.catalog.clearCache()
      ms
    }
    out ++ watch + ("plans.extract_ms" -> medianOf(extract))
  }
}

/** The paper's two dataflows, each draining a seeded backlog through the
  * parquet file source, one file per trigger under Trigger.AvailableNow:
  * the payments fan-out (both sinks append parquet) and the Update-mode
  * word count over Zipf-distributed text. */
final class StreamingWorkload(c: Conf) extends Workload {
  import Workloads.{StreamFiles, PaymentsPerFile, LinesPerFile, WordsPerLine, Vocabulary}

  private def dir(name: String) = s"${c.work}/streaming/$name"
  private var expected = Map.empty[String, (Long, String)]
  private val published = new java.util.concurrent.atomic.AtomicLong(0)
  private val publishNs = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var tracerNow: Option[Tracer] = None

  /** Counts what the topology listener publishes. */
  private val sink = new MetricsSink {
    def publish(json: String): Unit = published.incrementAndGet()
  }

  /** Times every callback of the topology listener: building and
    * publishing its topology and metrics records. */
  private def timedListener(inner: StreamingQueryListener) = new StreamingQueryListener {
    private def timed(body: => Unit): Unit = {
      val t0 = Clock.nowMs
      try body finally {
        val t1 = Clock.nowMs
        publishNs.addAndGet(((t1 - t0) * 1e6).toLong)
        tracerNow.foreach(_.anchor("publish", "publish", t0, t1))
      }
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      timed(inner.onQueryStarted(e))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(inner.onQueryProgress(e))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
      timed(inner.onQueryIdle(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      timed(inner.onQueryTerminated(e))
  }

  private def lines(): Seq[String] = {
    // Zipf(1.1) over a fixed vocabulary, so the state store holds real
    // key counts: a few hot words and a long tail.
    val rnd = new scala.util.Random(c.seed)
    val cdf = (1 to Vocabulary).map(r => math.pow(r.toDouble, -1.1)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    val cdfArr = cdf.map(_ / total).toArray
    Seq.fill(StreamFiles * LinesPerFile) {
      Seq.fill(WordsPerLine) {
        val i = java.util.Arrays.binarySearch(cdfArr, rnd.nextDouble())
        "w" + (if (i >= 0) i else -i - 1)
      }.mkString(" ")
    }
  }

  def prepare(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    rmTree(new File(dir("")))
    val n = StreamFiles.toLong * PaymentsPerFile
    // one partition per file: range slices are contiguous, so each
    // partition writes exactly one parquet file
    val orders = spark.range(0, n, 1, StreamFiles).select(
      col("id").as("o_orderkey"),
      round(rand(c.seed) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), (rand(c.seed + 1) * 2400).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"))
    PaymentOps.syntheticPaymentsJson(orders).write.parquet(dir("payments-in"))
    import spark.implicits._
    spark.sparkContext.parallelize(lines(), StreamFiles).toDF("value")
      .write.parquet(dir("lines-in"))
    spark.streams.addListener(timedListener(new TopologyMetricsListener("perfbench", sink,
      autoRegisterFrom = Some(spark))))
  }

  /** Reference results from the batch operators over the same feeds. */
  override def expect(spark: SparkSession): Unit = {
    val converted = PaymentOps.convert(
      PaymentOps.jsonDecode(spark.read.parquet(dir("payments-in"))),
      ExchangeRates.ratesDF(spark))
    expected = Map(
      "payments.main" -> contentHash(PaymentOps.jsonEncode(converted)),
      "payments.suspicious" -> contentHash(
        PaymentOps.jsonEncode(converted.filter(PaymentOps.suspicious))),
      "wordcount" -> contentHash(StreamingOps.wordCountSpace(spark.read.parquet(dir("lines-in")))))
  }

  private def write(df: DataFrame, out: String, name: String, sinkMs: mutable.Map[Long, Double],
                    batchId: Long): Unit = {
    val t0 = Clock.nowMs
    df.write.mode("append").parquet(out)
    val t1 = Clock.nowMs
    sinkMs.synchronized(sinkMs(batchId) = sinkMs.getOrElse(batchId, 0.0) + (t1 - t0))
    tracerNow.foreach(_.anchor(name, "sink", t0, t1))
  }

  /** One dataflow's drain: its progress, time in its sink functions per
    * batch id, and the exception it failed with (null when it drained). */
  final case class Drain(progress: Seq[StreamingQueryProgress],
                         sinkMs: mutable.Map[Long, Double], failure: String)

  final case class Drained(out: String, payments: Drain, wordcount: Drain,
                           published0: Long, publishNs0: Long)

  type Done = Drained

  private def paymentsIn(spark: SparkSession): DataFrame =
    spark.readStream.schema("k BIGINT, value STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir("payments-in"))

  private def wordCounts(spark: SparkSession): DataFrame =
    StreamingOps.wordCountSpace(spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir("lines-in")))

  /** Start a dataflow and wait until it has drained the backlog. A query
    * that fails is recorded rather than thrown, so its micro-batches count
    * as failed operations. */
  private def drain(name: String, tracer: Option[Tracer], sinkMs: mutable.Map[Long, Double])
                   (start: => StreamingQuery): Drain = {
    val t0 = Clock.nowMs
    var q: StreamingQuery = null
    val failure = try { q = start; q.awaitTermination(); null }
      catch { case NonFatal(e) => s"$name: ${errorText(e)}" }
    tracer.foreach(_.anchor(name, "drain", t0, Clock.nowMs))
    Drain(Option(q).map(_.recentProgress.toSeq).getOrElse(Seq.empty), sinkMs, failure)
  }

  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Drained = {
    tracerNow = tracer
    val out = dir(s"pass-$index")
    val rates = ExchangeRates.ratesDF(spark)
    val pubs0 = published.get(); val pubNs0 = publishNs.get()

    // dataflow 1: payments fan-out
    val paySink = mutable.Map.empty[Long, Double]
    val payments = drain("payments", tracer, paySink) {
      StreamingOps.paymentsFanout(paymentsIn(spark), rates,
          (df, id) => write(df, s"$out/main", "sink.main", paySink, id),
          (df, id) => write(df, s"$out/suspicious", "sink.suspicious", paySink, id))
        .option("checkpointLocation", s"$out/ck-payments")
        .queryName(s"payments_$index")
        .trigger(Trigger.AvailableNow()).start()
    }

    // dataflow 2: Update-mode word count
    val wcSink = mutable.Map.empty[Long, Double]
    val wordcount = drain("wordcount", tracer, wcSink) {
      wordCounts(spark).writeStream.outputMode("update")
        .foreachBatch((df: DataFrame, id: Long) => write(df, s"$out/counts", "sink.counts", wcSink, id))
        .option("checkpointLocation", s"$out/ck-wordcount")
        .queryName(s"wordcount_$index")
        .trigger(Trigger.AvailableNow()).start()
    }
    tracerNow = None
    Drained(out, payments, wordcount, pubs0, pubNs0)
  }

  /** Sink contents against the batch operators; one operation per
    * micro-batch with input, failed when its dataflow failed, drained the
    * wrong number of files or wrote the wrong results. */
  def settle(spark: SparkSession, d: Drained,
             tracer: Option[Tracer]): (Seq[Op], Map[String, Double]) = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val out = d.out
    def check(name: String, df: => DataFrame): String = try {
      val got = contentHash(df)
      if (got == expected(name)) null
      else s"$name: got ${got._1} rows / ${got._2}, want ${expected(name)._1} / ${expected(name)._2}"
    } catch { case NonFatal(e) => s"$name: ${errorText(e)}" }
    def failures(xs: String*): String = xs.filter(_ != null).mkString("; ")
    val payErr = failures(d.payments.failure,
      check("payments.main", spark.read.parquet(s"$out/main")),
      check("payments.suspicious", spark.read.parquet(s"$out/suspicious")))
    val wcErr = failures(d.wordcount.failure,
      check("wordcount", spark.read.parquet(s"$out/counts")
        .groupBy("word").agg(max("cnt").as("cnt"))))

    def ops(name: String, progress: Seq[StreamingQueryProgress], err: String): Seq[Op] = {
      val ps = progress.filter(_.numInputRows > 0)
      if (ps.size != StreamFiles)
        Seq(Op(name, "StreamingOps", 0.0, 0.0, -1L, null,
          failures(s"$name: ${ps.size} micro-batches with input, want $StreamFiles",
            if (err.isEmpty) null else err)))
      else ps.map { p =>
        val trigger = p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        tracer.foreach { t =>
          val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          t.anchor(s"$name batch ${p.batchId}", "microbatch", st, st + trigger)
        }
        Op(name, "StreamingOps", trigger, 0.0,
          p.numInputRows, null,
          if (err.isEmpty) null else err)
      }
    }
    val payProgress = d.payments.progress
    val wcProgress = d.wordcount.progress
    val allOps = ops("payments", payProgress, payErr) ++ ops("wordcount", wcProgress, wcErr)

    val extra = tracer.map { _ =>
      val withInput = (payProgress ++ wcProgress).filter(_.numInputRows > 0)
      def dur(key: String) = medianOf(withInput.map(_.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0)))
      val state = wcProgress.filter(_.numInputRows > 0).flatMap(_.stateOperators.toSeq)
      Map(
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.planning_ms" -> dur("queryPlanning"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.sink_write_ms" -> medianOf((d.payments.sinkMs.values ++ d.wordcount.sinkMs.values).toSeq),
        "streaming.sink_bytes" -> (treeBytes(new File(s"$out/main")) +
          treeBytes(new File(s"$out/suspicious")) + treeBytes(new File(s"$out/counts"))).toDouble,
        "streaming.metrics_publishes" -> (published.get() - d.published0).toDouble,
        "streaming.metrics_publish_ms" -> (publishNs.get() - d.publishNs0) / 1e6,
        "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state.commit_ms" -> medianOf(state.map(_.commitTimeMs.toDouble)),
        "state.update_ms" -> medianOf(state.map(_.allUpdatesTimeMs.toDouble)))
    }.getOrElse(Map.empty)
    rmTree(new File(out))
    (allOps, extra)
  }

  /** Topology extraction over the two dataflows' streaming plans. */
  override def probes(spark: SparkSession): Map[String, Double] =
    Map("plans.extract_ms" -> medianOf(Seq(
      extractMs(paymentsIn(spark), "spark-streaming", "payments"),
      extractMs(wordCounts(spark), "spark-streaming", "wordcount"))))
}
