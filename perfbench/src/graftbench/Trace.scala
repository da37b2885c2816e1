package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into a layer. `parent` is
  * the enclosing span's id (-1 for an operation's root span); spans of
  * one operation share `trace`. */
final case class Span(id: Int, parent: Int, trace: String, layer: String,
    name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One Spark job with the task metrics of the stages it ran. */
final class JobRec(val id: Int, val startMs: Double) {
  var endMs: Double = startMs
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

final case class PlanRec(startMs: Double, analysis: Double, optimization: Double,
    planning: Double)

/** Span recording from the benchmark's side of each layer boundary. The
  * untraced mode records nothing and registers no listener. */
sealed trait Tracer {
  def span[T](layer: String, name: String, trace: String = "")(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](layer: String, name: String, trace: String)(body: => T): T = body
}

/** Keeps every span, job, stage and planning record in memory; the
  * workload derives its per-layer metrics from them when the run ends. */
final class LiveTrace(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](layer: String, name: String, trace: String)(body: => T): T = {
    val parents = stack.get()
    val (id, tr) = synchronized { nextId += 1; (nextId,
      if (trace.nonEmpty) trace else parents.headOption.map(_._2).getOrElse(name)) }
    val parent = parents.headOption.map(_._1).getOrElse(-1)
    stack.set((id, tr) :: parents)
    val t0 = Clock.nowMs()
    try body
    finally {
      val t1 = Clock.nowMs()
      stack.set(parents)
      synchronized { spans += Span(id, parent, tr, layer, name, t0, t1) }
    }
  }

  /** A span whose bounds come from elsewhere (a streaming trigger's
    * progress record); returns its id. */
  def record(layer: String, name: String, trace: String, startMs: Double,
      endMs: Double, parent: Int): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, trace, layer, name, startMs, endMs)
    nextId
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).foreach { j => j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
        }
      } }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      plans.add(PlanRec(start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var codegen0 = (0L, 0.0)
  private var gc0 = 0L
  private var codegenSum = (0L, 0.0)
  private var gcSum = 0L
  private var tracedMs = 0.0
  private var since = 0.0

  /** Registers the listeners; `pause` unregisters them, so traced and
    * untraced stretches of one run can alternate. */
  def resume(): this.type = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    codegen0 = codegenNow()
    gc0 = Gc.totalMs()
    since = Clock.nowMs()
    this
  }

  /** Unregisters the listeners after every queued event is delivered. */
  def pause(): Unit = {
    org.apache.spark.graftbench.BusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    val (n, t) = codegenNow()
    codegenSum = (codegenSum._1 + n - codegen0._1, codegenSum._2 + math.max(0.0, t - codegen0._2))
    gcSum += Gc.totalMs() - gc0
    tracedMs += Clock.nowMs() - since
  }

  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
  /** Compilations while traced, and their time (the histogram keeps a
    * decaying sample, so the time is count × sampled mean). */
  def codegen: (Long, Double) = codegenSum
  def gcMs: Long = gcSum
  /** Wall time spent traced. */
  def wallMs: Double = tracedMs

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.startMs)
  def jobsIn(s: Double, e: Double): Seq[JobRec] =
    allJobs.filter(j => j.startMs >= s - 1 && j.startMs <= e + 1)
  def plansIn(s: Double, e: Double): Seq[PlanRec] =
    plans.asScala.toSeq.filter(p => p.startMs >= s - 1 && p.startMs <= e + 1)

  /** Length of `[s, e]` covered by the union of `ivs`. */
  def covered(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus what its child
    * spans cover; Spark jobs started inside a leaf span are its "exec"
    * children. */
  def selfTimeByLayer(): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val js = allJobs.map(j => (j.startMs, j.endMs))
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      val jobKids = js.filter { case (a, _) => a >= s.startMs && a <= s.endMs }
      val cover = covered(s.startMs, s.endMs, kids ++ jobKids)
      out(s.layer) += s.ms - cover
    }
    // exec self time: job wall not covered by a nested span
    out("exec") += covered(Double.MinValue, Double.MaxValue, js)
    out.toMap
  }

  /** Writes every span and job as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)}}""" + "\n"
    }
    allJobs.foreach { j =>
      sb ++= s"""{"kind":"job","id":${j.id},"start_ms":${Json.num(j.startMs)},"end_ms":${Json.num(j.endMs)},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"cpu_ms":${j.cpuNs / 1e6},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"spill":${j.spill},"input_bytes":${j.inputBytes}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Sums over a set of jobs. */
final case class ExecSums(jobs: Int, stages: Long, tasks: Long, cpuMs: Double,
    runMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, inputRecords: Long)

object ExecSums {
  def of(js: Seq[JobRec]): ExecSums = ExecSums(js.size, js.map(_.stages.toLong).sum,
    js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e6, js.map(_.runMs).sum.toDouble,
    js.map(_.shuffleWrite).sum, js.map(_.shuffleRead).sum, js.map(_.spill).sum,
    js.map(_.inputBytes).sum, js.map(_.inputRecords).sum)
}
