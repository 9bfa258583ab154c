package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.LedgerPipeline
import graft.sources.ParquetBronzeSource

/** `ledger_serve`: the reference's own path over REST. An `ApiServer` on
  * loopback over fresh bronze and silver dirs; closed-loop client threads
  * that speak HTTP only and follow their seeded schedules of onboards
  * (`POST /v1/ingest` then `POST /v1/normalize`) and reads
  * (`GET /v1/ledger/:w`, `GET /v1/transactions/:w`). Onboards are
  * serialized among the clients: the engine's table locks fail a second
  * concurrent writer loudly by design, so the clients act as one ingest
  * worker, while reads run beside the writes.
  */
final class LedgerServe(spec: JValue, spark: SparkSession, dir: Path, data: String,
    res: Result) extends Workload {
  implicit val formats: Formats = DefaultFormats
  private val limit = (spec \ "ledger" \ "limit").extract[Int]
  private val cores = (spec \ "cores").extract[Int]
  private val sched = JsonMethods.parse(Files.newBufferedReader(
    Paths.get((spec \ "ledger" \ "schedule").extract[String])))
  private val preload = (sched \ "preload").extract[Seq[String]]
  private val clients = (sched \ "clients").extract[Seq[Seq[Seq[String]]]]
  private val cursor = Array.fill(clients.size)(0)
  private val onboardShare = clients.flatten.count(op => op.head == "onboard" || op.head == "replay")
    .toDouble / clients.map(_.size).sum
  /** wallet → [(tx id, lamports, has a ledger entry)] oldest first */
  private val expected: Map[String, Seq[(String, Long, Boolean)]] = {
    val j = JsonMethods.parse(Files.newBufferedReader(
      Paths.get((spec \ "ledger" \ "expected").extract[String])))
    j.asInstanceOf[JObject].obj.map { case (w, rows) =>
      w -> rows.children.map(r => (r(0).extract[String], r(1).extract[Long], r(2).extract[Boolean]))
    }.toMap
  }

  private val srcDir = dir.resolve("bronze_src").toString
  private val bronze = dir.resolve("bronze").toString
  private val silver = dir.resolve("silver").toString
  private val libBronze = dir.resolve("lib_bronze").toString
  private val libSilver = dir.resolve("lib_silver").toString
  private val probe = dir.resolve("append_probe").toString
  private lazy val source = new ParquetBronzeSource(srcDir)
  private var server: graft.api.ApiServer = _
  private var base = ""
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val writeLock = new Object

  // traced-window samples: (layer metric, ms)
  private val layerMs = new ConcurrentLinkedQueue[(String, Double)]()
  private val offered, appended = new java.util.concurrent.atomic.AtomicLong
  private var tracedOps = 0
  private var tracedWallNs = 0L

  def setUp(first: Boolean): Unit = {
    graft.analytics.LedgerQueries.eventsAsBronze(spark, data).write.parquet(srcDir)
    server = new graft.api.ApiServer(spark, source, bronze, silver, ingestLimit = limit)
    base = s"http://127.0.0.1:${server.start()}"
    // onboard the preloaded wallets, then warm reads until their time levels off
    preload.foreach { w =>
      onboard(w, replay = false)
      read("ledger", w); read("transactions", w)
    }
    val ts = Workload.warm(2, if (first) 3 else 6) { _ =>
      preload.foreach { w => read("ledger", w); read("transactions", w) }
    }
    res.record(s"warm_reads_s.${dir.getFileName}", ts.map(t => f"$t%.2f").mkString(","))
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }

  private def post(path: String, wallet: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"wallet":"$wallet","limit":$limit}"""))
      .header("Content-Type", "application/json").build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def exp(w: String) = expected.getOrElse(w, Nil)

  /** POST ingest then normalize; returns the server time in ms. */
  private def onboard(w: String, replay: Boolean): Double = writeLock.synchronized {
    val t0 = System.nanoTime()
    val (s1, b1) = post("/v1/ingest", w)
    val (s2, b2) = post("/v1/normalize", w)
    val ms = (System.nanoTime() - t0) / 1e6
    val nTx = if (replay) 0 else exp(w).size
    val nEntries = if (replay) 0 else exp(w).count(_._3)
    val problems = Seq(
      (s1 == 200 && b1 == s""""Ingested $nTx transactions"""") -> s"ingest $s1 $b1 (want $nTx)",
      (s2 == 200 && b2 == s""""Normalized $nEntries ledger entries"""") -> s"normalize $s2 $b2 (want $nEntries)")
      .collect { case (false, why) => why }
    res.check(s"onboard $w", problems)
    ms
  }

  private def read(kind: String, w: String): Double = {
    val t0 = System.nanoTime()
    val (status, body) = get(s"/v1/$kind/$w")
    val ms = (System.nanoTime() - t0) / 1e6
    val problems = if (status != 200) Seq(s"status $status") else checkRows(kind, w, body)
    res.check(s"$kind $w", problems)
    ms
  }

  /** Served rows against the expectation derived from `events`. */
  private def checkRows(kind: String, w: String, body: String): Seq[String] = {
    val rows = JsonMethods.parse(body).children
    val want = exp(w)
    if (kind == "transactions") {
      val ids = rows.map(r => (r \ "id").extract[String])
      val ts = rows.map(r => (r \ "timestamp").extract[Long])
      Seq(
        (ids == want.map(_._1)) -> s"ids ${ids.take(3)}.. != expected ${want.take(3).map(_._1)}..",
        (ts == ts.sorted) -> "not oldest first").collect { case (false, why) => why }
    } else {
      val lam = want.filter(_._3).map(x => x._1 -> x._2).toMap
      val got = rows.map(r => (r \ "transaction_id").extract[String] ->
        math.round(-(r \ "amount").extract[Double] * 1e9))
      Seq(
        (got.size == lam.size) -> s"${got.size} entries, want ${lam.size}",
        (got.map(_._1).toSet == lam.keySet) -> "transaction ids differ",
        got.forall { case (id, l) => lam.get(id).contains(l) } -> "amount differs from lamports")
        .collect { case (false, why) => why }
    }
  }

  def measure(seconds: Double, trace: Trace, res: Result, prefix: String): Double = {
    val reads, onboards = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.indices.map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val Seq(kind, w) = clients(c)(cursor(c) % clients(c).size)
          cursor(c) += 1
          trace.newOp()
          try kind match {
            case "onboard" | "replay" =>
              onboards.add(trace.span(s"api.$kind", "api")(onboard(w, kind == "replay")))
              if (trace.enabled) library(kind, w, trace)
            case _ =>
              reads.add(trace.span(s"api.$kind", "api")(read(kind, w)))
              if (trace.enabled) library(kind, w, trace)
          } catch { case e: Exception => res.fail(s"$kind $w: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = System.nanoTime() - t0
    val r = reads.asScala.toSeq; val o = onboards.asScala.toSeq
    if (trace.enabled) { tracedOps = r.size + o.size; tracedWallNs = wall }
    // closed-loop throughput at the schedule's fixed read/onboard mix, from
    // the median time of each kind: a window that ends mid-onboard does not
    // swing it the way a raw count of completed operations would. A window
    // too short to complete an onboard leaves it unreported.
    val p50 = Main.median(r)
    res.metric(s"${prefix}op_ms.p50", p50, "ms")
    if (o.nonEmpty) res.metric(s"${prefix}ops_per_s",
      clients.size * 1e3 / ((1 - onboardShare) * p50 + onboardShare * Main.median(o)), "1/s")
    res.record(s"${prefix}completed_per_s", (r.size + o.size) / (wall / 1e9), "1/s")
    res.record(s"${prefix}reads", r.size.toDouble, "count")
    res.record(s"${prefix}onboards", o.size.toDouble, "count")
    res.record(s"${prefix}onboard_ms.p50", Main.median(o), "ms")
    if (trace.enabled) {
      layerMs.add("api.read_http" -> p50)
      if (o.nonEmpty) layerMs.add("api.onboard_http" -> Main.median(o))
    }
    p50
  }

  private def timed[T](key: String, trace: Trace, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = trace.span(key, layer)(body)
    layerMs.add(key -> (System.nanoTime() - t0) / 1e6)
    v
  }

  /** The traced window repeats each scheduled operation as direct library
    * calls: a new wallet's onboard into the library's own dirs, reads over
    * the served tables, and for every onboard or replay one call into each
    * lower layer (fetch, parse, keyed append into a probe table).
    */
  private def library(kind: String, w: String, trace: Trace): Unit = kind match {
    case "onboard" | "replay" => writeLock.synchronized {
      if (kind == "onboard") {
        timed("LedgerPipeline.ingest_ms", trace, "LedgerPipeline")(
          LedgerPipeline.ingest(spark, source, w, limit, libBronze))
        timed("LedgerPipeline.normalize_ms", trace, "LedgerPipeline")(
          LedgerPipeline.normalize(spark, libBronze, w, libSilver))
      }
      val fetched = timed("sources.fetch_ms", trace, "sources")(
        source.fetchHistory(spark, w, limit).collect())
      timed("normalize.parse_ms", trace, "normalize")(
        graft.normalize.ChainNormalizers.normalizeAll(LedgerPipeline.transactions(spark, bronze, w))
          .write.format("noop").mode("overwrite").save())
      val df = spark.createDataFrame(java.util.Arrays.asList(fetched: _*), fetched.head.schema)
      val n = timed("operators.append_ms", trace, "operators")(
        graft.operators.IdempotentSink.appendOnce(spark, df, probe, "id"))
      offered.addAndGet(fetched.length); appended.addAndGet(n)
    }
    case "ledger" => timed("LedgerPipeline.ledger_ms", trace, "LedgerPipeline")(
      LedgerPipeline.ledger(spark, silver, w).collect())
    case _ => timed("LedgerPipeline.transactions_ms", trace, "LedgerPipeline")(
      LedgerPipeline.transactions(spark, bronze, w).collect())
  }

  def layers(trace: Trace, res: Result): Unit = {
    val by = layerMs.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> Main.median(v.map(_._2)) }
    Seq("LedgerPipeline.ingest_ms", "LedgerPipeline.normalize_ms", "LedgerPipeline.ledger_ms",
      "LedgerPipeline.transactions_ms", "sources.fetch_ms", "normalize.parse_ms",
      "operators.append_ms").foreach(k => res.metric(k, by.getOrElse(k, 0.0), "ms"))
    val libRead = Main.median(layerMs.asScala.toSeq.collect {
      case (k, v) if k == "LedgerPipeline.ledger_ms" || k == "LedgerPipeline.transactions_ms" => v })
    res.metric("api.read_overhead_ms", by.getOrElse("api.read_http", 0.0) - libRead, "ms")
    res.metric("api.onboard_overhead_ms", by.getOrElse("api.onboard_http", 0.0) -
      by.getOrElse("LedgerPipeline.ingest_ms", 0.0) - by.getOrElse("LedgerPipeline.normalize_ms", 0.0), "ms")
    res.metric("operators.append_useful_ratio",
      if (offered.get == 0) 0.0 else appended.get.toDouble / offered.get, "ratio")
    val (bf, bb) = treeStats(bronze)
    val (sf, sb) = treeStats(silver)
    val rows = spark.read.parquet(bronze).count() + spark.read.parquet(silver).count()
    res.metric("storage.bronze_files", bf, "count")
    res.metric("storage.silver_files", sf, "count")
    res.metric("storage.bytes_per_row", (bb + sb).toDouble / math.max(rows, 1L), "bytes")
    Workload.sparkLayer(trace, res, s => s.layer == "LedgerPipeline", tracedOps, tracedWallNs, cores)
  }

  private def treeStats(dir: String): (Int, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size, files.map(Files.size).sum)
    }
  }
}
