package graft

/** Order-controlled micro-benchmark for drift attribution — the
  * PLANS.md protocol (quiet host, both run orders, >= 3 repeats) as a
  * one-command tool instead of a per-round scratch file.
  *
  * Usage: runMain graft.ABBench <sfDir> <repeats> <q1,q2,...>
  *
  * Runs the named queries in the GIVEN order, then in REVERSED order,
  * `repeats` timed repeats each (same noop-write materialization and
  * blocking unpersist as Bench), printing one line per repeat plus
  * /proc/loadavg markers before and after each order block. Reading
  * the output: a query slow only when it runs AFTER a neighbor is
  * state/warm-up bleed (codegen compilation, memory pressure from the
  * neighbor); slow in both orders under low load1 is a real plan
  * regression; lockstep drift with high load1 is co-tenancy. */
object ABBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ABBench <sfDir> <repeats> <q1,q2,...>")
    val (sfDir, reps, names) =
      (args(0), args(1).toInt, args(2).split(",").toSeq)
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    val spark = GraftSession.fromEnv("32")
    def load1: Double =
      try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.sweep(spark)
      dt
    }
    for ((order, tag) <- Seq((names, "given"), (names.reverse, "reversed"))) {
      println(f"[ab] order=$tag load1=$load1%.2f")
      for (r <- 1 to reps; q <- order)
        println(f"[ab] $tag rep=$r $q%-24s ${runOnce(q)}%8.3f s")
      println(f"[ab] order=$tag done load1=$load1%.2f")
    }
    spark.stop()
  }
}
