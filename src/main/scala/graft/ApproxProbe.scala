package graft

import org.apache.spark.sql.functions._

/** Diagnostic: how much headroom does agg_approx_percentiles'
  * within_tol contract have under different source partitionings?
  * The oracle asserts the boolean is TRUE, so any layout change to the
  * scan feeding the GK sketch must keep |ap−ex| within 10% of |ex| at
  * EVERY scale factor — this prints the observed relative error per
  * group for the file-split layout and a defaultParallelism
  * round-robin spread, so the margin is measured instead of assumed.
  * Usage: runMain graft.ApproxProbe [sfDir...]
  */
object ApproxProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv("32")
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      Seq(false, true).foreach { spread =>
        val base = Tables.lineitem(spark, d)
          .select("l_returnflag", "l_extendedprice")
        val l = if (spread)
          base.repartition(spark.sparkContext.defaultParallelism)
        else base
        val g = l.groupBy("l_returnflag").agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("ex"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 100)")
            .as("ap"))
        g.select(col("l_returnflag"),
            (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1))
              / abs(element_at(col("ex"), 1))).as("rel_err_p50"),
            (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2))
              / abs(element_at(col("ex"), 2))).as("rel_err_p90"))
          .collect().foreach { r =>
            println(f"$d spread=$spread flag=${r.getString(0)} " +
              f"p50=${r.getDouble(1)}%.5f p90=${r.getDouble(2)}%.5f")
          }
      }
    }
    spark.stop()
  }
}
