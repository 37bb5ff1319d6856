package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared rules for sketch-style partial aggregates (Misra-Gries, HLL,
  * histogram summaries). ONE home for the cores-width rule so every
  * sketch op applies the same logic and any refinement lands once
  * (review-caught: the first version copy-pasted the coalesce + its
  * rationale at four sites).
  */
object Sketch {

  /** Coalesce a sketch aggregate's INPUT to cores width.
    *
    * Why: a sketch partial's exchange is #partitions × O(sketch bytes)
    * — partition-bound, not row-bound — so file-split-width inputs
    * (hundreds of thousands of partitions at 100 TB) multiply the
    * exchange for zero extra information, while cores-width loses no
    * parallelism. Measured in PLANS.md (round-9 heavy hitters): 3200
    * amplifier partitions shipped 257 MB of MG summaries; cores-width ships
    * 4.6 MB, and the sketch pass went from losing to the naive groupBy
    * on wall-clock to beating it 2.9×. Coalesce never RAISES the
    * partition count, so narrow inputs pass through unchanged, and
    * sketch merges are associative, so estimates/bounds are
    * partitioning-invariant.
    *
    * The width is max(defaultParallelism, spark.sql.shuffle.partitions):
    * under dynamic allocation `defaultParallelism` reflects only the
    * executors registered AT PLAN TIME (min 2 before any register), and
    * coalesce propagates up through narrow stages — a transiently small
    * value would freeze the whole scan at 2 tasks. The shuffle-partition
    * conf is the session's statically-sized parallelism floor, immune to
    * registration timing (review-caught).
    */
  def coalesceToCores(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // ADVICE r9: read the RESOLVED shuffle-partition count, not the raw
    // conf string — vendor AQE distributions set the conf to non-integer
    // values like "auto", and a raw .toInt would throw at plan time for
    // every sketch operator.
    val width = math.max(
      spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    df.coalesce(width)
  }
}
