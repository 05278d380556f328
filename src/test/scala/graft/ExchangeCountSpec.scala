package graft

import org.apache.spark.sql.functions._

/** Direct contract spec for ExchangeCount — the node-walk counter two
  * standing gates depend on (RegistryPlanSpec's pinned counts and
  * graft.Profile's `exchanges` column). The registry pins exercise it
  * end-to-end; these cases pin the SEMANTICS on minimal plans so a
  * future Spark bump that changes plan nesting (AQE wrappers, stage
  * reuse) fails here with an interpretable message rather than as
  * fourteen simultaneous registry-pin drifts. */
class ExchangeCountSpec extends SparkSpec {
  import spark.implicits._

  private def count(df: org.apache.spark.sql.DataFrame): Int =
    ExchangeCount.shuffleExchanges(df.queryExecution.executedPlan)

  test("a local scan-project plans zero exchanges") {
    assert(count(Seq(1, 2, 3).toDF("x").select(col("x") + 1)) == 0)
  }

  test("a groupBy aggregation plans exactly one shuffle exchange") {
    val df = Seq((1, "a"), (2, "a"), (3, "b")).toDF("v", "k")
      .groupBy("k").agg(sum("v"))
    assert(count(df) == 1)
  }

  test("a broadcast join contributes ZERO (broadcasts are not the trap)") {
    val big = Seq((1, "a"), (2, "b")).toDF("id", "k")
    val dim = Seq(("a", 10), ("b", 20)).toDF("k", "w")
    // join only — no aggregation: the broadcast exchange is the sole
    // exchange in the plan and must not be counted
    assert(count(big.join(broadcast(dim), "k")) == 0)
  }

  test("the walk descends into the AQE wrapper (counts are not zero " +
      "just because AdaptiveSparkPlanExec is a leaf to collect)") {
    val df = Seq((1, "a"), (2, "b")).toDF("v", "k")
      .repartition(col("k"))         // exchange 1
      .groupBy("k").agg(sum("v"))    // reuses the same partitioning
    // Under AQE the physical subtree hides inside AdaptiveSparkPlanExec,
    // where a naive plan.collect sees nothing; the walk must find the
    // repartition exchange (the groupBy reuses its clustering, so the
    // plan carries exactly one).
    assert(count(df) == 1)
  }

  test("two independent aggregations unioned count both exchanges") {
    val a = Seq((1, "a")).toDF("v", "k").groupBy("k").agg(sum("v"))
    val b = Seq((2, "b")).toDF("v", "k").groupBy("k").agg(sum("v"))
    assert(count(a.unionByName(b)) == 2)
  }
}
