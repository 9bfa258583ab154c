package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` groups the spans of one workload
  * operation; `parent` is the span that was open on the same thread.
  */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, start: Long, var end: Long = 0L)

/** Spark work attributed to a span by the listeners below. */
final class SparkCounts {
  val jobs, stages, tasks = new AtomicLong
  val runNs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, planMs = new AtomicLong
}

/** Spans around the runner's own calls into the engine, kept in memory and
  * written when the run ends. When tracing is off, [[span]] is a plain call.
  *
  * The open span travels to Spark as a job-local property, so a
  * `SparkListener` can charge each job, stage and task to it; planning time
  * comes from `QueryExecution.tracker` when the SQL execution ends, matched
  * to the span by the execution id its jobs carried.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  val counts = TrieMap.empty[Long, SparkCounts]
  private val stageSpan = TrieMap.empty[Int, Long]
  private val execSpan = TrieMap.empty[Long, Long]
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val PropKey = "perfbench.span"

  def newOp(): Unit = opId.set(ids.incrementAndGet())

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get().headOption
      val s = Span(ids.incrementAndGet(), name, layer, opId.get(),
        parent.fold(0L)(_.id), System.nanoTime())
      open.set(s :: open.get())
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        spans.add(s)
        open.set(open.get().tail)
        sc.setLocalProperty(PropKey, parent.map(_.id.toString).orNull)
      }
    }

  private def of(span: Long) = counts.getOrElseUpdate(span, new SparkCounts)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).foreach { sp =>
        val span = sp.toLong
        of(span).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, span))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages.incrementAndGet())
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      org.apache.spark.sql.PerfbenchSqlBridge.planMs(e).foreach { case (exec, ms) =>
        execSpan.get(exec).foreach(of(_).planMs.addAndGet(ms))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = of(span)
        c.tasks.incrementAndGet()
        c.runNs.addAndGet(m.executorRunTime * 1000000L)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Duration minus the part of it that the span's children cover. */
  def selfNs(s: Span, children: Map[Long, Seq[Span]]): Long = {
    val iv = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = 0L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start) - covered
  }

  /** Spark counts summed over the picked spans and their descendants. */
  def sparkTotals(pick: Span => Boolean): SparkCounts = {
    val sp = all
    val byParent = sp.groupBy(_.parent)
    val acc = new SparkCounts
    def add(s: Span): Unit = {
      counts.get(s.id).foreach { c =>
        acc.jobs.addAndGet(c.jobs.get); acc.stages.addAndGet(c.stages.get)
        acc.tasks.addAndGet(c.tasks.get); acc.runNs.addAndGet(c.runNs.get)
        acc.cpuNs.addAndGet(c.cpuNs.get); acc.gcMs.addAndGet(c.gcMs.get)
        acc.shuffleRead.addAndGet(c.shuffleRead.get)
        acc.shuffleWrite.addAndGet(c.shuffleWrite.get)
        acc.spill.addAndGet(c.spill.get); acc.planMs.addAndGet(c.planMs.get)
      }
      byParent.getOrElse(s.id, Nil).foreach(add)
    }
    sp.filter(pick).foreach(add)
    acc
  }

  /** Spans as JSON lines, with self time and their Spark counts. */
  def write(path: java.nio.file.Path): Unit = {
    val sp = all.sortBy(_.start)
    val kids = sp.groupBy(_.parent)
    val lines = sp.map { s =>
      val c = counts.get(s.id)
      def n(f: SparkCounts => AtomicLong) = c.fold(0L)(x => f(x).get)
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","op":${s.op},""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${selfNs(s, kids)},"jobs":${n(_.jobs)},"tasks":${n(_.tasks)},""" +
        s""""shuffle_read":${n(_.shuffleRead)},"plan_ms":${n(_.planMs)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
