package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Run one workload as the spec file says and write the raw result JSON.
  *
  * Usage: Main <spec.json>
  *
  * The spec (written by run.py) names the workload, the generated inputs,
  * a fresh state directory, the measuring window and whether this is the
  * traced run. The process sets up `setups` times — each set-up is a fresh
  * session over fresh state dirs, input staging and untimed warm passes
  * until the pass time levels off — then measures on the last one.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val out = Paths.get((spec \ "result").extract[String])
    val res = new Result
    try run(spec, res)
    catch { case e: Throwable =>
      res.fail(s"runner: ${e.getClass.getSimpleName}: ${e.getMessage}")
      e.printStackTrace()
    }
    Files.write(out, res.json.getBytes("UTF-8"))
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }

  private def run(spec: JValue, res: Result): Unit = {
    graft.tools.OracleAux.enabled = false
    val cores = (spec \ "cores").extract[Int]
    val seconds = (spec \ "seconds").extract[Double]
    val traced = (spec \ "trace").extract[Int] == 1
    val nSetups = (spec \ "setups").extract[Int]
    val state = Paths.get((spec \ "state").extract[String])
    val startMs = (spec \ "start_ms").extract[Long]
    res.record("host.cores", cores.toDouble, "count")
    res.record("host.loadavg_start", loadavg(), "load")

    var spark: SparkSession = null
    var work: Workload = null
    var data = ""
    val setupS = (1 to nSetups).map { i =>
      val t0 = System.nanoTime()
      if (work != null) work.close()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      spark = graft.GraftSession.getOrCreate("perfbench", cores)
      spark.sparkContext.setLogLevel("ERROR")
      val dir = Files.createDirectories(state.resolve(s"setup$i"))
      data = linkTree(Paths.get((spec \ "data").extract[String]), dir.resolve("data")).toString
      work = Workload(spec, spark, dir, data, res)
      work.setUp(first = i == 1)
      if (i == 1) (System.currentTimeMillis() - startMs) / 1e3 else (System.nanoTime() - t0) / 1e9
    }
    res.metric("setup_s", median(setupS), "s")
    res.record("setup.each_s", setupS.mkString(","))

    val trace = new Trace(spark.sparkContext, enabled = traced)
    spark.sparkContext.addSparkListener(trace.sparkListener)
    res.record("canary_ms_before", canaryMs(spark, data), "ms")

    if (!traced) work.measure(seconds, trace, res, "")
    else {
      // a half-length untraced window, then the traced one: the overhead of
      // tracing is measured in the same process, on the same warm state
      val plain = work.measure(seconds / 2, new Trace(spark.sparkContext, enabled = false), res, "untraced.")
      val withSpans = work.measure(seconds, trace, res, "")
      res.metric("trace.overhead_frac", withSpans / plain - 1, "ratio")
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      work.layers(trace, res)
      trace.write(state.resolve("spans.jsonl"))
    }
    res.record("canary_ms_after", canaryMs(spark, data), "ms")
    res.record("host.loadavg_end", loadavg(), "load")
    work.close()
    spark.stop()
  }

  /** `d2_count` over the workload's star tables — a fixed small query whose
    * time tells how loaded the host was. For the record only.
    */
  private def canaryMs(spark: SparkSession, dir: String): Double = {
    val q = graft.SparkEntry.queries("d2_count")
    q(spark, dir).collect()
    val t0 = System.nanoTime()
    q(spark, dir).collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(' ')(0).toDouble

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  /** Hard-link a directory tree (the generated inputs) under a new path, so
    * each set-up reads its tables from a path the engine has never seen and
    * any layout the engine memoizes per input path is built again.
    */
  private def linkTree(from: Path, to: Path): Path = {
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }
    to
  }
}

/** Counts, failures and metrics of one run, rendered as JSON for run.py. */
final class Result {
  private val lock = new Object
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val records = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.LinkedHashMap.empty[String, Map[String, String]]

  def ok(): Unit = lock.synchronized(attempted += 1)
  def fail(why: String): Unit = lock.synchronized {
    attempted += 1; failed += 1
    if (failures.size < 50) failures += why
  }
  /** Count an operation, failing it when `problems` is non-empty. */
  def check(what: String, problems: Seq[String]): Unit =
    if (problems.isEmpty) ok() else fail(s"$what: ${problems.take(3).mkString("; ")}")

  def metric(name: String, v: Double, unit: String): Unit = lock.synchronized(metrics(name) = (v, unit))
  def record(name: String, v: Double, unit: String): Unit = lock.synchronized(records(name) = s"$v $unit")
  def record(name: String, v: String): Unit = lock.synchronized(records(name) = v)

  def json: String = {
    import org.json4s.JsonDSL._
    val j = ("attempted" -> attempted) ~ ("failed" -> failed) ~
      ("failures" -> failures.toList) ~
      ("metrics" -> JObject(metrics.toList.map { case (k, (v, u)) =>
        k -> (("value" -> v) ~ ("unit" -> u)) })) ~
      ("record" -> JObject(records.toList.map { case (k, v) => k -> JString(v) })) ~
      ("checks" -> JObject(checks.toList.map { case (k, v) =>
        k -> JObject(v.toList.map { case (a, b) => a -> JString(b) }) }))
    JsonMethods.pretty(JsonMethods.render(j))
  }
}

/** One benchmark workload. */
trait Workload {  /** Stage inputs and run untimed warm passes until the pass time levels
    * off; the `first` set-up of a process starts cold and warms longer.
    */
  def setUp(first: Boolean): Unit
  /** Measure for `seconds`; report end-to-end metrics under `prefix` and
    * return the headline latency (`op_ms.p50`) for the tracing-overhead ratio.
    */
  def measure(seconds: Double, trace: Trace, res: Result, prefix: String): Double
  /** Per-layer metrics from the traced window's spans. */
  def layers(trace: Trace, res: Result): Unit
  def close(): Unit = ()
}

object Workload {
  implicit val formats: Formats = DefaultFormats

  def apply(spec: JValue, spark: SparkSession, dir: Path, data: String, res: Result): Workload =
    (spec \ "workload").extract[String] match {
      case "ledger_serve"   => new LedgerServe(spec, spark, dir, data, res)
      case "star_analytics" => new QueryPasses(spec, spark, dir, data, res)
      case w                => sys.error(s"unknown workload $w")
    }

  /** Run `pass` until its time levels off: at least `min` passes, then stop
    * once a pass time is within `tol` (either way) of the one before — the
    * first pass compares with `prev`, the last warm pass of an earlier
    * set-up in this JVM, when there is one — and at most `max` passes.
    */
  def warm(min: Int, max: Int, tol: Double = 0.1, prev: Option[Double] = None)(
      pass: Int => Unit): Seq[Double] = {
    val ts = mutable.ArrayBuffer.empty[Double] ++ prev
    val skip = ts.size
    def level = ts.size >= 2 && math.abs(ts.last / ts(ts.size - 2) - 1) <= tol
    var i = 0
    while (i < max && (i < min || !level)) {
      val t0 = System.nanoTime(); pass(i); ts += (System.nanoTime() - t0) / 1e9; i += 1
    }
    ts.drop(skip).toSeq
  }

  /** Emit the Spark totals of the traced window, per operation. */
  def sparkLayer(trace: Trace, res: Result, pick: Span => Boolean, ops: Int,
      wallNs: Long, cores: Int): Unit = {
    val c = trace.sparkTotals(pick)
    val n = math.max(ops, 1).toDouble
    res.metric("spark.jobs", c.jobs.get / n, "count")
    res.metric("spark.stages", c.stages.get / n, "count")
    res.metric("spark.tasks", c.tasks.get / n, "count")
    res.metric("spark.plan_ms", c.planMs.get / n, "ms")
    res.metric("spark.shuffle_read_bytes", c.shuffleRead.get / n, "bytes")
    res.metric("spark.shuffle_write_bytes", c.shuffleWrite.get / n, "bytes")
    res.metric("spark.spill_bytes", c.spill.get / n, "bytes")
    res.metric("spark.executor_run_s", c.runNs.get / 1e9 / n, "s")
    res.metric("spark.executor_cpu_s", c.cpuNs.get / 1e9 / n, "s")
    res.metric("spark.gc_s", c.gcMs.get / 1e3 / n, "s")
    res.metric("spark.slot_util", c.runNs.get.toDouble / math.max(wallNs * cores, 1L), "ratio")
  }
}
