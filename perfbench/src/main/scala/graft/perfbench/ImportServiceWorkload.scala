package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.jobs.ImportService

/** `import_service`: a closed loop of two clients, each sending
  * `POST /import/extract` to one `ImportService` and waiting for the
  * reply before it sends the next. The clients cycle through the five
  * organizations in a seed-permuted order. */
object ImportServiceWorkload extends Workload {
  val sf = "sf0.01"
  val Clients = 2
  /** The tables the import payload reads. */
  val Sources: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")

  /** One request as the client saw it. */
  final case class Req(org: String, sendMs: Long, endMs: Long,
      endNs: Long, latencyS: Double, status: Int, body: Array[Byte])

  def ok(rs: Seq[Req]): Seq[Req] = rs.filter(_.status == 200)

  /** One closed loop: every request, and the counted ones. */
  final case class Loop(all: Seq[Req], counted: Seq[Req]) {
    /** 200 replies per second while both clients were in the loop: one
      * over the median gap between consecutive replies from the first
      * counted send to the last counted reply. A median, so a burst of
      * load from outside the run that covers less than half the loop
      * does not move it. */
    def throughput: Double = {
      val from = counted.map(_.sendMs).min
      val to = counted.map(_.endMs).max
      val ends = ok(all).filter(q => q.endMs > from && q.endMs <= to)
        .map(_.endNs).sorted
      if (ends.size < 2) 0.0
      else 1e9 / Stats.median(ends.zip(ends.tail).map { case (a, b) =>
        (b - a).toDouble })
    }
  }

  def run(r: Main.Run): SparkSession = {
    val data = r.dataDir(sf)
    val store = r.dir("docstore")
    val outDir = r.dir("mmj")
    val (spark, server) = Main.setUp(r, data, Sources) { s =>
      ImportService.start(s, data, outDir, store)
    }
    val url = URI.create(
      s"http://127.0.0.1:${server.getAddress.getPort}/import/extract")
    val orgs = new scala.util.Random(r.args.seed)
      .shuffle((0 until 5).map(i => s"org-$i"))
    val all = new ConcurrentLinkedQueue[Req]

    def send(client: HttpClient, org: String): Req = {
      val req = HttpRequest.newBuilder(url)
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"organization_id=$org&dispensary_id=1"))
        .build()
      val sendMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (status, body) =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
          (resp.statusCode(), resp.body())
        } catch { case e: Exception =>
          (-1, e.toString.getBytes("UTF-8"))
        }
      val endNs = System.nanoTime()
      val done = Req(org, sendMs, System.currentTimeMillis(), endNs,
        (endNs - t0) / 1e9, status, body)
      all.add(done)
      done
    }

    def newClient(): HttpClient =
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    /** Closed loop: each client sends its next request only after the
      * previous reply, for `warmS` untimed seconds and then `measureS`
      * counted ones. A client's first request in the loop is never
      * counted: the loop starts with the lock free, and every later
      * request meets the other client's. Each client counts at least
      * one request, so the median is never of fewer than two. */
    def loop(warmS: Double, measureS: Double): Loop = {
      val countFrom = System.nanoTime() + (warmS * 1e9).toLong
      val deadline = countFrom + (measureS * 1e9).toLong
      val got = new ConcurrentLinkedQueue[Req]
      val counted = new ConcurrentLinkedQueue[Req]
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val client = newClient()
          var j = 0
          var mine = 0
          while (System.nanoTime() < deadline || mine == 0) {
            val t = System.nanoTime()
            val q = send(client, orgs((j * Clients + c) % orgs.size))
            got.add(q)
            if (j > 0 && t >= countFrom) { counted.add(q); mine += 1 }
            j += 1
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Loop(got.asScala.toSeq, counted.asScala.toSeq)
    }

    // The first request of a fresh service, alone.
    val first = send(newClient(), orgs.head)
    r.context("first_op_s") = first.latencyS

    if (!r.args.trace) {
      val l = loop(Main.WarmUpSeconds, r.args.seconds)
      r.metrics("op_p50_s") = Stats.median(ok(l.counted).map(_.latencyS))
      r.metrics("throughput_ops_s") = l.throughput
      r.context("loop_requests") = l.all.size
      r.context("latencies_s") = ok(l.counted).map(_.latencyS)
    } else {
      // untraced, traced, untraced: the service keeps warming up, and
      // untraced requests on both sides of the traced ones cancel that
      // drift out of the tracing overhead. The flight recording starts
      // before the warm-up: starting it instruments the JDK's file
      // classes and deoptimizes the compiled code that calls them, a
      // cost that would otherwise land on the traced requests.
      val files = new FileWrites(outDir, r.dir("file-writes.jfr"))
      files.start()
      val before = loop(Main.WarmUpSeconds, r.args.seconds / 4.0)
      val tracer = new Tracer(spark)
      tracer.start()
      val traced = loop(0, r.args.seconds / 2.0)
      tracer.stop()
      val after = loop(0, r.args.seconds / 4.0)
      val writes = files.stop()
      layerMetrics(r, tracer, writes, traced,
        ok(before.counted ++ after.counted))
    }
    check(r, spark, store, outDir, all.asScala.toSeq)
    server.stop(0)
    spark
  }

  /** The service handles one request at a time, so a request's server
    * window starts when it was sent or when the reply before it left,
    * whichever is later; the time before that is queue wait. The file
    * sink is the service's writes of mmj files (`writes`: start in epoch
    * ms, seconds) that start inside the window. Means are over the
    * counted 200 replies of the traced loop. */
  def layerMetrics(r: Main.Run, tracer: Tracer, writes: Seq[(Long, Double)],
      traced: Loop, plain: Seq[Req]): Unit = {
    val byEnd = traced.all.sortBy(_.endMs)
    val counted = ok(traced.counted).toSet
    val rows = byEnd.zipWithIndex.collect { case (q, i) if counted(q) =>
      val prevEnd = if (i == 0) q.sendMs else byEnd(i - 1).endMs
      val w = Iv(q.sendMs.max(prevEnd), q.endMs)
      val sums = tracer.sums(w)
      val waitS = (w.start - q.sendMs) / 1e3
      val serverS = w.ms / 1e3
      val fileS = writes.collect {
        case (t, s) if t >= w.start && t <= w.end => s
      }.sum
      (q, waitS, serverS, sums, fileS)
    }
    val n = rows.size.max(1).toDouble
    def mean(f: ((Req, Double, Double, LayerSums, Double)) => Double) =
      rows.map(f).sum / n
    val payloadRows = rows.map(x => Payload.entityRows(x._1.body)).sum
    val latency = mean(_._1.latencyS)
    val wait = mean(_._2)
    val plan = mean(_._4.planS)
    val exec = mean(_._4.execS)
    val file = mean(_._5)
    val other = mean(x => x._3 - x._4.planS - x._4.execS - x._5)
    r.metrics ++= Seq(
      "trace.op_s" -> latency,
      "trace.overhead_s" ->
        (Stats.median(rows.map(_._1.latencyS)) -
          Stats.median(plain.map(_.latencyS))),
      "import_service.queue_wait_s" -> wait,
      "import_service.other_s" -> other,
      "catalyst.plan_s" -> plan,
      "exec.run_s" -> exec,
      // the client-side rest: HTTP client and clock granularity
      "trace.unattributed_s" ->
        (latency - wait - plan - exec - file - other),
      "file_sink.write_s" -> file,
      "import_job.input_rows_per_payload_row" ->
        rows.map(_._4.inRecords).sum.toDouble / payloadRows.max(1L),
      "docstore.commit_s" -> mean(_._4.docStoreS))
    // busy ratio over the server windows: a request's queue wait is the
    // other request's server window, so latency would count it twice
    Layers.execMetrics(r, rows.map(x => (x._4, x._3)))
    // the service's own time outside Spark is import_service.other_s;
    // the benchmark does no driver-side work of its own in a request
    Layers.notExercised(r, "driver.self_s", "queries.build_s",
      "shared_stage.builds", "shared_stage.build_s")
    r.context("traced_requests") = rows.size
    r.context("untraced_requests") = plain.size
  }

  /** Every 200 body parses, bodies of one organization are
    * byte-identical, `mmj-<org>.json` equals the body, and the
    * graft-docs store holds exactly one committed batch per 200 reply,
    * whose `_id` is the body's content hash. Entity counts per
    * organization go to the DuckDB oracle check in run.py. */
  def check(r: Main.Run, spark: SparkSession, store: String,
      outDir: String, reqs: Seq[Req]): Unit = {
    r.attempted += reqs.size
    val good = reqs.filter { q =>
      if (q.status != 200) {
        r.fail(s"${q.org}: HTTP ${q.status} ${new String(q.body, "UTF-8")
          .take(200)}")
        false
      } else true
    }
    val parsed = good.flatMap { q =>
      try Some(q -> Payload.counts(q.body))
      catch { case e: Exception =>
        r.fail(s"${q.org}: body does not parse: $e"); None
      }
    }
    val byOrg = parsed.groupBy(_._1.org)
    val orgCounts = byOrg.map { case (org, xs) =>
      val ref = Payload.sha256(xs.head._1.body)
      xs.tail.filter(x => Payload.sha256(x._1.body) != ref).foreach { _ =>
        r.fail(s"$org: body differs from the first body for $org")
      }
      val file = Files.readAllBytes(Paths.get(s"$outDir/mmj-$org.json"))
      if (Payload.sha256(file) != ref)
        r.fail(s"$org: mmj-$org.json differs from the response body")
      org -> Map("counts" -> xs.head._2, "replies" -> xs.size)
    }
    r.checks("payload_counts") = orgCounts
    r.checks("oracle_sql") =
      Map("payload_import" -> graft.SparkEntry.oracleSql("payload_import"))

    // durability of the graft-docs leg
    val committed = graft.sinks.GraftDocs.committedBatches(
      spark.sparkContext.hadoopConfiguration, store, Seq.empty)
    if (committed.size != good.size)
      r.fail(s"store holds ${committed.size} committed batches for " +
        s"${good.size} replies")
    val rows = spark.read.format("graft-docs").option("path", store).load()
      .select(col("_id"), col("batch_id")).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    rows.groupBy(_._2).foreach { case (b, xs) =>
      if (xs.length != 1) r.fail(s"batch $b holds ${xs.length} documents")
    }
    val want = good.map(q => Payload.sha256(q.body)).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val have = rows.map(_._1).groupBy(identity)
      .map { case (k, v) => k -> v.length }
    (want.keySet ++ have.keySet).foreach { id =>
      val (w, h) = (want.getOrElse(id, 0), have.getOrElse(id, 0))
      if (w != h) r.fail(s"_id $id: $w replies, $h stored documents")
    }
    val storeBytes = committed.flatMap(_._2.map(_._2)).sum
    val bodyBytes = good.map(_.body.length.toLong).sum
    if (r.args.trace)
      r.metrics("docstore.bytes_per_payload_byte") =
        storeBytes.toDouble / bodyBytes.max(1L)
    r.context("store_batches") = committed.size
    r.context("payload_bytes_per_reply") =
      if (good.isEmpty) 0L else bodyBytes / good.size
  }
}
