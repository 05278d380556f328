package graft

import org.apache.spark.sql.functions._

/** Usage demo / smoke driver for the non-query modules (streaming, sinks,
  * multimodal): `sbt "runMain graft.Demo <sfDir> <outDir>"`.
  * Exercises each through its public API against real sources — a rate
  * stream for Structured Streaming, the documents table for multimodal,
  * and a JSON sink write — and prints one status line per module.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir  = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-demo"
    val spark = GraftSession.fromEnv("4")

    // Streaming: rate source → event shape → windowed agg → memory sink.
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(col("timestamp").as("ts"),
        (col("value") % 3).cast("string").as("event_type"),
        (col("value") % 100).cast("double").as("value"))
    val q = streaming.EventStream.tumblingStream(rate, "10 seconds", "0 seconds")
      .writeStream.format("memory").queryName("demo_windows")
      .outputMode("append").start()
    Thread.sleep(3000)
    q.processAllAvailable(); q.stop()
    val states = spark.table("demo_windows").count()
    println(s"[demo] streaming: rate-source windows materialized " +
      s"(append-mode rows so far: $states)")

    // Multimodal: documents text bytes as opaque binary payloads.
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"))
    val feats = multimodal.Multimodal.extractFeatures(media)
    println(s"[demo] multimodal: extracted features for ${feats.count()} " +
      s"payloads, schema=${feats.schema.map(_.name).mkString(",")}")
    val resized = multimodal.Multimodal.resizeStub(media, 4)
    val shrunk = resized.agg(sum(col("byte_len"))).head().getLong(0)
    println(s"[demo] multimodal: resize stub kept $shrunk bytes " +
      s"across ${resized.count()} payloads")

    // Sinks: members pipeline → JSON-lines + doc-collection sinks.
    val members = queries.Entities.queries("members_doc")(spark, sfDir)
    sinks.Sinks.writeJsonDocs(members, s"$outDir/members_json", "id")
    sinks.Sinks.writeDocCollection(members,
      struct(members.columns.toIndexedSeq.map(col): _*),
      s"$outDir/members_coll")
    val nJson = spark.read.json(s"$outDir/members_json").count()
    val coll  = spark.read.parquet(s"$outDir/members_coll")
    val nIds  = coll.select("_id").distinct().count()
    println(s"[demo] sinks: $nJson json docs written; " +
      s"$nIds distinct _ids in collection")

    // DataSource V2 connector round-trip: write two batches through
    // format("graft-docs"), read back with a batch_id predicate that
    // prunes at the directory level.
    val pay = struct(members.columns.toIndexedSeq.map(col): _*)
    val docsDf = members.select(
      sinks.Sinks.docId(pay).as("_id"), to_json(pay).as("doc"))
    for (b <- 0L to 1L)
      docsDf.write.format("graft-docs")
        .option("path", s"$outDir/members_v2").option("batchId", b)
        .mode("append").save()
    val sinceB1 = spark.read.format("graft-docs")
      .load(s"$outDir/members_v2")
      .filter(col("batch_id") >= 1L).count()
    println(s"[demo] graft-docs connector: wrote 2 batches, " +
      s"since-horizon read returned $sinceB1 docs")

    // CDC composition (r18 VERDICT item 8): TAIL the store just
    // written as a changelog, classify each doc against a snapshot of
    // its own first batch (same content hash ⇒ unchanged), and land
    // the verdicts in a SECOND store — store → changelog →
    // importClassifyStream → store, both ends the native connector.
    val snap = spark.read.format("graft-docs")
      .load(s"$outDir/members_v2").filter(col("batch_id") === 0L)
      .select(col("_id").as("id"), sha2(col("doc"), 256).as("h"))
    val cdcQ = streaming.EventStream.importClassifyStream(
        spark.readStream.format("graft-docs")
          .option("maxBatchesPerTrigger", "1")
          .load(s"$outDir/members_v2")
          .select(col("_id").as("id"), sha2(col("doc"), 256).as("h")),
        snap)
      .select(col("id").as("_id"), col("status").as("doc"))
      .writeStream.format("graft-docs")
      .option("path", s"$outDir/members_cdc")
      .option("checkpointLocation", s"$outDir/members_cdc_ckpt")
      .outputMode("append").start()
    try cdcQ.processAllAvailable() finally cdcQ.stop()
    val cdc = spark.read.format("graft-docs")
      .load(s"$outDir/members_cdc")
    val cdcEpochs = cdc.select("batch_id").distinct().count()
    val cdcStatuses = cdc.select("doc").distinct().count()
    println(s"[demo] graft-docs CDC tail: classified ${cdc.count()} " +
      s"docs over $cdcEpochs bounded micro-batches " +
      s"($cdcStatuses distinct statuses)")

    // Scale ops: salted join parity on a skewed key distribution.
    val li = Tables.lineitem(spark, sfDir)
    val su = Tables.supplier(spark, sfDir)
    val plainN = li.join(su,
      li("l_suppkey") === su("s_suppkey")).count()
    val saltedN = operators.ScaleOps.saltedJoin(li,
      su.withColumnRenamed("s_suppkey", "l_suppkey"), "l_suppkey", 8)
      .count()
    println(s"[demo] scaleops: salted join rows=$saltedN, plain=$plainN, " +
      s"equal=${saltedN == plainN}")
    spark.stop()
  }
}
