package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf scale-up generator (r19 VERDICT item 1 — "take the sf1.0
  * notch"): replicates a driver-generated sf directory k× with
  * referential integrity preserved, so the FULL registry can run (and
  * be DuckDB-oracle-gated) at a scale the driver never shipped.
  *
  * Per-replica key offsets keep every join's fan-out and skew profile
  * identical to the base corpus — replica r's customer keys shift by
  * r·(maxKey+1), and orders/lineitem/events shift their foreign keys by
  * the SAME per-dimension offsets, so replicas are disjoint connected
  * subgraphs (exactly how TPC-H itself scales: fixed dims, fact growth).
  * region/nation stay fixed (dimension tables don't scale in TPC-H);
  * the time axes keep their range (more rows per window — the real
  * shape of a bigger day). Document text is suffix-perturbed for r>0
  * (ScaleProbe's discipline: no exact-dup collapse; replicas remain
  * NEAR-dups of their source, which is the adversarial shape for the
  * banded dedup families — bucket sizes grow ~k, so the caps and salts
  * are exercised, not dodged). n_chars is recomputed from the
  * perturbed text. Embeddings replicate with fresh ids and a tiny
  * deterministic per-replica component nudge on one dimension so
  * ANN/k-means see k× points, not k coincident copies.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> <k> */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.fromEnv("32")

    def reps(df: DataFrame): DataFrame =
      df.withColumn("__r",
        explode(sequence(lit(0L), lit(k - 1L))))
    def off(keyCol: String, df: DataFrame): Long =
      df.agg(max(col(keyCol))).collect()(0).getLong(0) + 1L
    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scaledata] $name -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // fixed dims: straight copies
    for (t <- Seq("region", "nation"))
      write(t, Tables.table(spark, src, t), 1)

    val cust = Tables.table(spark, src, "customer")
    val supp = Tables.table(spark, src, "supplier")
    val part = Tables.table(spark, src, "part")
    val ords = Tables.table(spark, src, "orders")
    val (cOff, sOff, pOff, oOff) =
      (off("c_custkey", cust), off("s_suppkey", supp),
        off("p_partkey", part), off("o_orderkey", ords))

    write("customer", reps(cust).select(
      (col("c_custkey") + col("__r") * cOff).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), 4)
    write("supplier", reps(supp).select(
      (col("s_suppkey") + col("__r") * sOff).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), 2)
    write("part", reps(part).select(
      (col("p_partkey") + col("__r") * pOff).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), 4)
    write("orders", reps(ords).select(
      (col("o_orderkey") + col("__r") * oOff).as("o_orderkey"),
      (col("o_custkey") + col("__r") * cOff).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), 8)
    write("lineitem", reps(Tables.table(spark, src, "lineitem")).select(
      (col("l_orderkey") + col("__r") * oOff).as("l_orderkey"),
      (col("l_partkey") + col("__r") * pOff).as("l_partkey"),
      (col("l_suppkey") + col("__r") * sOff).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), 16)

    val ev = Tables.events(spark, src)
    val (eOff, uOff) = (off("event_id", ev), off("user_id", ev))
    write("events", reps(ev).select(
      (col("event_id") + col("__r") * eOff).as("event_id"),
      col("ts"),
      (col("user_id") + col("__r") * uOff).as("user_id"),
      col("event_type"), col("value"), col("props")), 8)

    val docs = Tables.table(spark, src, "documents")
    val dOff = off("doc_id", docs)
    write("documents", reps(docs).select(
      (col("doc_id") + col("__r") * dOff).as("doc_id"),
      when(col("__r") === 0L, col("text"))
        .otherwise(concat(col("text"), lit(" rep"), col("__r")))
        .as("text"),
      col("lang"), col("source")).withColumn("n_chars",
      length(col("text")).cast("long")), 8)

    val emb = Tables.table(spark, src, "embeddings")
    val vOff = off("vec_id", emb)
    write("embeddings", reps(emb).select(
      (col("vec_id") + col("__r") * vOff).as("vec_id"),
      // nudge dim 0 by r/1000 so replicas aren't coincident points
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + col("__r").cast("float") / lit(1000.0f))
          .otherwise(x)).as("embedding"),
      col("label")), 2)

    spark.stop()
  }
}
