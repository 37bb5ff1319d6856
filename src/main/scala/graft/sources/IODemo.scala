package graft.sources

import org.apache.spark.sql.types._

/** Usage demo for the file I/O surface: write the three self-describing /
  * schema'd formats, read them back, and feed the streaming file source
  * into the word-count operators. Run: sbt "runMain graft.sources.IODemo".
  */
object IODemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.start()
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_io_demo").toString
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))

    IO.write(df, "parquet", s"$base/p", partitionBy = Seq("name"))
    IO.write(df, "json", s"$base/j")
    IO.write(df, "csv", s"$base/c")
    val p = IO.readParquet(spark, s"$base/p").count()
    val j = IO.readJson(spark, s"$base/j", schema).count()
    val c = IO.readCsv(spark, s"$base/c", schema, header = false).count()

    // streaming file source → word count
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(s"$base/stream"))
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$base/stream/part1.json"),
      """{"value":"x y x"}""")
    val q = graft.streaming.StreamingOps.wordCountSpace(
      IO.streamJson(spark, base + "/stream", StructType(Seq(StructField("value", StringType)))))
      .writeStream.format("memory").queryName("io_demo_wc").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val wc = spark.table("io_demo_wc").as[(String, Long)].collect().toMap

    println(s"[iodemo] parquet=$p json=$j csv=$c wc=$wc " +
      (if (p == 3 && j == 3 && c == 3 && wc == Map("x" -> 2L, "y" -> 1L)) "PASS" else "FAIL"))
    spark.stop()
  }
}
