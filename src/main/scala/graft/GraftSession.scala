package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe and environment reader of graft's mains
  * (Bench, Verify, Smoke, Profile, StreamingDemo, IODemo). Each variable
  * is parsed once, on first use, and a malformed value fails with an
  * error naming the variable instead of surfacing later as a bare
  * `NumberFormatException`.
  *
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default 4);
  *  - `SPARK_GRAFT_SF_DIR`: the test-data directory Bench and Profile read;
  *  - `SPARK_GRAFT_BENCH_REPS`: timed reps per query in Bench (default 3);
  *  - `SPARK_GRAFT_BENCH_ONLY`, `SPARK_GRAFT_VERIFY_ONLY`: comma-separated
  *    query names restricting Bench / Verify to a subset.
  */
object GraftSession {

  /** A positive integer from `raw`, the value of variable `name`;
    * `default` when the variable is absent. */
  def positiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$s'"))
    }

  /** A comma-separated name list with blank entries dropped; `None` (no
    * filter) when the variable is absent. */
  def nameList(raw: Option[String]): Option[Set[String]] =
    raw.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  private def env(name: String): Option[String] = sys.env.get(name)

  lazy val cpus: Int = positiveInt("SPARK_GRAFT_CPUS", env("SPARK_GRAFT_CPUS"), 4)
  lazy val sfDir: String = env("SPARK_GRAFT_SF_DIR") match {
    case Some(d) if d.trim.isEmpty =>
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR is set but empty")
    case d => d.getOrElse("/root/testdata/sf0.1")
  }
  lazy val benchReps: Int =
    positiveInt("SPARK_GRAFT_BENCH_REPS", env("SPARK_GRAFT_BENCH_REPS"), 3)
  lazy val benchOnly: Option[Set[String]] = nameList(env("SPARK_GRAFT_BENCH_ONLY"))
  lazy val verifyOnly: Option[Set[String]] = nameList(env("SPARK_GRAFT_VERIFY_ONLY"))

  /** The local session every main runs on: `local[cpus]`, one shuffle
    * partition per core, UTC, graft's native expressions, no UI. */
  def start(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
