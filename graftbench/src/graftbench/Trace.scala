package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval. Times are epoch milliseconds (fractional for the
 *  benchmark's own spans, whole for Spark's events). `op` ties every span
 *  of one benchmark operation together; `parent` is the span that caused it. */
final case class Span(id: Int, name: String, layer: String, start: Double, end: Double,
                      parent: Int, op: Int) {
  def dur: Double = end - start
}

/** One finished task, reduced to the counters the metrics use. */
final case class TaskRec(op: Int, job: Int, durationMs: Long, runMs: Long, schedDelayMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

/** One finished query execution's executed-plan counters. */
final case class QeRec(op: Int, exchanges: Int, filesRead: Long, scanRows: Long, joinRows: Long,
                       scanTimeMs: Long)

/** Counters read from an executed plan (AQE stages included). */
object PlanStats extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): (Int, Long, Long, Long, Long) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val joins = nodes.collect { case j: BaseJoinExec => j }
    (nodes.count(_.isInstanceOf[Exchange]),
      scans.map(m(_, "numFiles")).sum,
      scans.map(m(_, "numOutputRows")).sum,
      joins.map(m(_, "numOutputRows")).sum,
      scans.map(s => m(s, "scanTime") + m(s, "metadataTime")).sum)
  }
}

/**
 * The traced pass's recorder. It keeps everything in memory: spans the
 * benchmark opens around each call into a graft layer, one span per
 * Spark job (linked to the calling span through a local property), the
 * query-execution phases (placed under the innermost span that contains
 * them), per-task counters and executed-plan counters. Nothing inside
 * graft is instrumented.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  val qes = ArrayBuffer.empty[QeRec]
  private var nextId = 0
  private def newId(): Int = synchronized { nextId += 1; nextId }
  private var stack = List.empty[Int]
  @volatile private var curOp = -1
  private var nextOp = 0
  private val openJobs = scala.collection.mutable.Map.empty[Int, (Double, Int, Int)]
  /** Spark job id -> the benchmark span it was started in. */
  val jobParent = scala.collection.mutable.Map.empty[Int, Int]
  private val stageOwner = scala.collection.mutable.Map.empty[Int, (Int, Int)]
  private val phaseRecs = ArrayBuffer.empty[(Int, String, Double, Double)]

  private val SpanProp = "graftbench.span"
  private val OpProp = "graftbench.op"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(-1)
      val op = prop(OpProp)
      openJobs(e.jobId) = (e.time.toDouble, prop(SpanProp), op)
      jobParent(e.jobId) = prop(SpanProp)
      e.stageIds.foreach(s => stageOwner(s) = (e.jobId, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (start, parent, op) =>
        spans += Span(newId(), s"job ${e.jobId}", "scheduler", start, e.time.toDouble, parent, op)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val (job, op) = stageOwner.getOrElse(e.stageId, (-1, -1))
      val i = e.taskInfo
      val tm = e.taskMetrics
      if (tm != null) {
        tasks += TaskRec(op, job, i.duration, tm.executorRunTime,
          Stats.schedulerDelayMs(i.duration, tm.executorRunTime, tm.executorDeserializeTime,
            tm.resultSerializationTime, if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L),
          tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = curOp
      val (ex, files, rows, joinRows, scanMs) =
        try PlanStats.of(qe.executedPlan) catch { case _: Throwable => (0, 0L, 0L, 0L, 0L) }
      Tracer.this.synchronized {
        qes += QeRec(op, ex, files, rows, joinRows, scanMs)
        qe.tracker.phases.foreach { case (phase, s) =>
          phaseRecs += ((op, phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.graftbench.BusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** A span around `body`; Spark jobs started inside are its children. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = newId()
    val parent = stack.headOption.getOrElse(-1)
    val op = curOp
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      synchronized { spans += Span(id, name, layer, start, end, parent, op) }
    }
  }

  /** One benchmark operation: a root span, a fresh operation id, and a
   *  drained listener bus afterwards so its events are all in. */
  def op(name: String)(body: => Unit): Int = {
    nextOp += 1
    val op = nextOp
    curOp = op
    sc.setLocalProperty(OpProp, op.toString)
    try {
      span(name, "client")(body)
      org.apache.spark.graftbench.BusAccess.drain(sc)
      op
    } finally {
      placePhases(op)
      sc.setLocalProperty(OpProp, null)
      curOp = -1
    }
  }

  /** Query phases carry only wall times: hang each under the innermost
   *  benchmark span of its operation that contains it. */
  private def placePhases(op: Int): Unit = synchronized {
    val mine = phaseRecs.filter(_._1 == op)
    phaseRecs --= mine
    val owners = spans.filter(s => s.op == op && s.layer != "scheduler")
    mine.foreach { case (_, phase, s, e) =>
      val inside = owners.filter(o => o.start - 1 <= s && e <= o.end + 1)
      val parent = if (inside.isEmpty) owners.find(_.layer == "client").map(_.id).getOrElse(-1)
                   else inside.minBy(_.dur).id
      spans += Span(newId(), phase, "plans", s, e, parent, op)
    }
  }

  // ---- readers ----

  // the listener thread may still be appending while these read

  def tasksOf(ops: Set[Int]): Seq[TaskRec] = synchronized(tasks.filter(t => ops(t.op)).toSeq)
  def qesOf(ops: Set[Int]): Seq[QeRec] = synchronized(qes.filter(q => ops(q.op)).toSeq)
  def jobsOf(ops: Set[Int]): Int = synchronized(spans.count(s => s.layer == "scheduler" && ops(s.op)))

  /** Seconds of span time named `name` within `ops`. */
  def secs(ops: Set[Int], name: String): Double = synchronized {
    spans.filter(s => ops(s.op) && s.name == name).map(_.dur).sum / 1000
  }

  /** Spark jobs of `ops` started directly inside spans named `parentName`. */
  def jobsUnder(ops: Set[Int], parentName: String): Int = synchronized {
    val parents = spans.filter(s => ops(s.op) && s.name == parentName).map(_.id).toSet
    spans.count(s => s.layer == "scheduler" && parents(s.parent))
  }

  /** Tasks of the Spark jobs started directly inside spans named `parentName`. */
  def tasksUnder(ops: Set[Int], parentName: String): Seq[TaskRec] = synchronized {
    val parents = spans.filter(s => ops(s.op) && s.name == parentName).map(_.id).toSet
    tasks.filter(t => ops(t.op) && parents(jobParent.getOrElse(t.job, -1))).toSeq
  }

  def phaseSecs(ops: Set[Int], phase: String): Double = synchronized {
    spans.filter(s => ops(s.op) && s.layer == "plans" && s.name == phase).map(_.dur).sum / 1000
  }

  /** Self time per layer, in seconds: each span's duration minus the part
   *  of it that its children cover. */
  def selfByLayer(ops: Set[Int]): Map[String, Double] = synchronized {
    val mine = spans.filter(s => ops(s.op)).toSeq
    val kids = mine.groupBy(_.parent)
    mine.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (curA, curB) = (Double.NaN, Double.NaN)
        cs.foreach { case (a, b) =>
          if (curB.isNaN || a > curB) {
            if (!curB.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curB.isNaN) covered += curB - curA
        math.max(0.0, s.dur - covered)
      }.sum / 1000
    }
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":"${esc(s.name)}","layer":"${s.layer}","start_ms":${s.start}%.3f,""" +
        f""""end_ms":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
