package perfbench

import org.apache.spark.sql.functions._

/** Checks of the benchmark's own arithmetic that need Spark: the content
  * hash is the same whether the same rows sit in one partition or four,
  * and differs when one value changes. Prints one JSON line. */
object SelfTest {
  def run(c: GraftBench.Conf): Unit = {
    val spark = GraftBench.session(c)
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("m"),
      concat(lit("w"), col("id").cast("string")).as("s"),
      array(col("id"), col("id") * 2).as("a"))
    val one = GraftBench.contentHash(df.repartition(1))
    val four = GraftBench.contentHash(df.repartition(4))
    val changed = GraftBench.contentHash(
      df.withColumn("m", when(col("id") === 500, lit(99L)).otherwise(col("m"))))
    spark.stop()
    println(Json(Map("one_partition" -> Seq(one._1, one._2),
      "four_partitions" -> Seq(four._1, four._2),
      "one_value_changed" -> Seq(changed._1, changed._2))))
  }
}
