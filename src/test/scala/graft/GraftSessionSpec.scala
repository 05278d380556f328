package graft

/** The session factory installs exactly the conf `graft.Bench` times
  * under (Bench's pinned harness keeps its own builder), and the
  * shared test session is built with it. */
class GraftSessionSpec extends SparkSpec {
  test("factory conf is Bench's six builder values") {
    val minPart = sys.env.getOrElse("SPARK_GRAFT_AQE_MINPART", "16k")
    assert(GraftSession.conf("7") == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minPart,
      "spark.ui.enabled" -> "false"))
    // Bench's builder sets the same keys and no others: a key added to
    // one side only fails here.
    val bench = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"))
    val builder = bench.substring(bench.indexOf(".builder()"),
      bench.indexOf(".getOrCreate()"))
    val benchKeys = "\\.config\\(\"([^\"]+)\"".r
      .findAllMatchIn(builder).map(_.group(1)).toSet
    assert(benchKeys == GraftSession.conf("7").keySet)
  }

  test("the test session carries every factory conf entry") {
    assert(spark.sparkContext.master == "local[2]")
    // Read from the conf the builder installed: SparkEntry.queries
    // re-sets the AQE floor per query on the session at runtime.
    val installed = spark.sparkContext.getConf
    GraftSession.conf("2").foreach { case (k, v) =>
      assert(installed.getOption(k).contains(v),
        s"$k: want $v, got ${installed.getOption(k)}")
    }
  }
}
