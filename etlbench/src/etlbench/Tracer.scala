package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the engine's public API, plus a
  * benchmark-owned [[SparkListener]] that attributes every Spark job, stage
  * and task to the span that submitted it.
  *
  * Attribution rides on a thread-local Spark property: while a span is open
  * the driver thread carries `etlbench.span=<id>`, and every job submitted
  * from it records that id in its properties. Spans and listener events stay
  * in memory; [[summary]] folds them into per-layer counters and [[spansJson]]
  * writes them out when the run ends.
  *
  * An untraced run constructs no Tracer at all: no listener is registered
  * and [[Tracer.span]] on `None` just runs its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Span(val id: Long, val name: String, val parent: Long,
                   val batch: Int, val startNs: Long, val startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Counters the listener accumulates per span id (own jobs only). */
  final class Counters {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, maxTaskMs = 0L
    var inputBytes, shufRead, shufWrite, outBytes, outRows = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var batch = -1

  // listener state: written on the listener-bus thread, read after drain()
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobEndMs = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[Long, Counters]

  private object Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val id = Option(j.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.foreach { s =>
        val sid = s.toLong
        jobSpan(j.jobId) = sid
        jobStartMs(j.jobId) = j.time
        j.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = j.jobId)
        counters.getOrElseUpdate(sid, new Counters).jobs += 1
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (jobSpan.contains(j.jobId)) jobEndMs(j.jobId) = j.time
    }
    private def of(stage: Int): Option[Counters] =
      stageJob.get(stage).flatMap(jobSpan.get).map(counters.getOrElseUpdate(_, new Counters))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      of(s.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      of(t.stageId).foreach { c =>
        c.tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
          c.inputBytes += m.inputMetrics.bytesRead
          c.shufRead += m.shuffleReadMetrics.totalBytesRead
          c.shufWrite += m.shuffleWriteMetrics.bytesWritten
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRows += m.outputMetrics.recordsWritten
        }
      }
    }
    def pending: Boolean = synchronized(jobSpan.keys.exists(j => !jobEndMs.contains(j)))
  }

  spark.sparkContext.addSparkListener(Listener)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size + 1L, name, open.headOption.fold(0L)(_.id), batch,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener bus has delivered the end of every attributed
    * job (task and stage events precede their job's end on the bus). */
  def drain(): Unit = {
    Thread.sleep(200)
    val deadline = System.nanoTime() + 10000000000L
    while (Listener.pending && System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(Listener)
  }

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Summed length of the union of `ivs`, each clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.fold(0L) { case (a, b) => b - a }
  }

  /** Inclusive counters of one span: its own jobs and its descendants'. */
  def spanCounters(s: Span): Map[String, Double] = {
    val tree = subtree(s)
    val cs = tree.flatMap(t => counters.get(t.id))
    val jobIvs = synchronized {
      val ids = tree.map(_.id).toSet
      jobSpan.collect { case (j, sid) if ids(sid) =>
        (jobStartMs(j), jobEndMs.getOrElse(j, s.endMs))
      }.toSeq
    }
    val childIvs = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
    val wall = s.wallS
    Map(
      "wall_s" -> wall,
      "self_s" -> (wall - covered(childIvs, s.startNs, s.endNs) / 1e9),
      "driver_gap_s" -> math.max(0.0,
        wall - covered(jobIvs, s.startMs, s.endMs) / 1e3),
      "jobs" -> cs.map(_.jobs).sum.toDouble,
      "stages" -> cs.map(_.stages).sum.toDouble,
      "tasks" -> cs.map(_.tasks).sum.toDouble,
      "exec_cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
      "gc_s" -> cs.map(_.gcMs).sum / 1e3,
      "max_task_s" -> cs.map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3,
      "input_bytes" -> cs.map(_.inputBytes).sum.toDouble,
      "shuffle_read_bytes" -> cs.map(_.shufRead).sum.toDouble,
      "shuffle_write_bytes" -> cs.map(_.shufWrite).sum.toDouble,
      "output_bytes" -> cs.map(_.outBytes).sum.toDouble,
      "output_rows" -> cs.map(_.outRows).sum.toDouble)
  }

  def spansNamed(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Per-layer metrics: for every span name, each counter averaged per call
    * (0 for a layer the workload never calls). */
  def summary: Map[String, Double] =
    SpanNames.flatMap { n =>
      val per = spansNamed(n).map(spanCounters)
      CounterNames.map { c =>
        s"$n.$c" -> (if (per.isEmpty) 0.0 else per.map(_(c)).sum / per.size)
      }
    }.toMap

  /** One JSON object per span, with its inclusive counters. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "batch" -> s.batch, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ spanCounters(s))
  }
}

object Tracer {
  val Prop = "etlbench.span"

  /** The public-API layers the benchmark times. */
  val SpanNames: Seq[String] = Seq(
    "EtlProcess.load", "MaterializedAgg.refresh", "MaterializedAgg.read",
    "VersionedTable.lookup", "VersionedTable.changes", "VersionedTable.compact",
    "VersionedTable.vacuum", "Catalog.table")

  /** Spans that wrap a workload's reader operation (they report
    * `scan_fraction`). */
  val ReaderSpans: Seq[String] = Seq("MaterializedAgg.read", "VersionedTable.lookup", "Catalog.table")

  val CounterNames: Seq[String] = Seq(
    "wall_s", "self_s", "driver_gap_s", "jobs", "stages", "tasks", "exec_cpu_s",
    "gc_s", "max_task_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "output_bytes", "output_rows")

  /** Runs `body` inside a span when tracing, bare otherwise. */
  def span[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))
}
