package perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._

/** `star_analytics`: passes over a fixed list of read-only star and event
  * queries, each pass in its own seeded order, every query through
  * `SparkEntry.queries(name)` into the `noop` sink.
  */
final class QueryPasses(spec: JValue, spark: SparkSession, dir: Path, data: String,
    res: Result) extends Workload {
  implicit val formats: Formats = DefaultFormats
  private val names = (spec \ "queries").extract[Seq[String]]
  private val orders = (spec \ "passes").extract[Seq[Seq[String]]]
  private val cores = (spec \ "cores").extract[Int]
  private val oracle = graft.SparkEntry.oracleSql.filter { case (q, sql) =>
    names.contains(q) && !sql.contains(graft.tools.OracleAux.SfToken) }
  private var nextPass = 0
  private var traced: Seq[(String, Double)] = Nil // (query, seconds)
  private var tracedPasses = 0
  private var tracedWallNs = 0L

  /** One pass; returns (query, seconds) per query that succeeded. With
    * `verify`, each query writes its result as parquet for run.py's DuckDB
    * check against its oracle SQL instead of into `noop`.
    */
  private def pass(trace: Trace, count: Boolean, verify: Boolean = false): Seq[(String, Double)] = {
    val order = orders(nextPass % orders.size)
    nextPass += 1
    order.flatMap { q =>
      val t0 = System.nanoTime()
      try {
        trace.span(s"SparkEntry.$q", layerOf(q)) {
          val w = graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite")
          if (!verify) w.format("noop").save()
          else oracle.get(q) match {
            case Some(sql) =>
              val p = dir.resolve("verify").resolve(q).toString
              w.parquet(p)
              res.checks(q) = Map("path" -> p, "sql" -> sql)
            case None => res.fail(s"$q: no oracle SQL to check its result against")
          }
        }
        if (count) res.ok()
        Some(q -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Exception =>
        res.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }
  }

  private def layerOf(q: String): String = q.head match {
    case 'c' => "analytics.joins"
    case 'd' => "analytics.aggregates"
    case 'e' => "analytics.windows"
    case 'h' => "analytics.functions"
    case _   => "analytics.scans_sorts"
  }

  /** Warm passes. The first set-up runs two: a cold pass that doubles as
    * the oracle-verification pass, and one warm pass. Later set-ups, the
    * last of which ends right before the measuring window, run at least
    * three and go on until the pass time levels off within 10% of the pass
    * before. (On a 4-core host the JIT still shaves 10-20% off a pass over
    * the first five warm ones.)
    */
  def setUp(first: Boolean): Unit = {
    val off = new Trace(spark.sparkContext, enabled = false)
    val ts =
      if (first) Workload.warm(2, 2)(i => pass(off, count = false, verify = i == 0))
      else Workload.warm(3, 5, prev = QueryPasses.lastWarm)(_ => pass(off, count = false))
    QueryPasses.lastWarm = ts.lastOption
    res.record(s"warm_passes_s.${dir.getFileName}", ts.map(t => f"$t%.2f").mkString(","))
  }

  /** Whole passes until `seconds` have gone by. The pass time reported is
    * the sum over the queries of each one's median time in the window, so a
    * one-off stall in one query of one pass does not move it.
    */
  def measure(seconds: Double, trace: Trace, res: Result, prefix: String): Double = {
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      times ++= pass(trace, count = true)
      passes += 1
    }
    if (trace.enabled) {
      tracedPasses = passes
      tracedWallNs = System.nanoTime() - t0
      traced = times.toSeq
    }
    val passMs = times.groupBy(_._1).values.map(ts => Main.median(ts.map(_._2).toSeq)).sum * 1e3
    res.metric(s"${prefix}op_ms.p50", passMs, "ms")
    res.metric(s"${prefix}ops_per_s", names.size / (passMs / 1e3), "1/s")
    res.record(s"${prefix}passes", passes.toDouble, "count")
    passMs
  }

  /** Family sums of per-query median times, and the Spark totals per pass. */
  def layers(trace: Trace, res: Result): Unit = {
    val byQuery = traced.groupBy(_._1)
    names.groupBy(layerOf).foreach { case (layer, qs) =>
      res.metric(s"$layer.s", qs.map(q => Main.median(byQuery.getOrElse(q, Nil).map(_._2))).sum, "s")
    }
    Workload.sparkLayer(trace, res, _.parent == 0, tracedPasses, tracedWallNs, cores)
  }
}

object QueryPasses {
  /** Last warm pass time in this JVM, carried across set-ups. */
  private var lastWarm: Option[Double] = None
}
