package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-layer metric helpers shared by the workloads. */
object Metrics {
  /** Spark execution totals over `n` operations that took `wallMs`. */
  def exec(v: mutable.Map[String, Double], s: ExecSums, n: Double, wallMs: Double,
      cpus: Int): Unit = if (n > 0) {
    v("exec.jobs") = s.jobs / n
    v("exec.stages") = s.stages / n
    v("exec.tasks") = s.tasks / n
    v("exec.task_cpu_ms") = s.cpuMs / n
    v("exec.shuffle_write_bytes") = s.shuffleWrite / n
    v("exec.shuffle_read_bytes") = s.shuffleRead / n
    v("exec.spill_bytes") = s.spill / n
    v("exec.busy_share") = if (wallMs > 0) s.runMs / (wallMs * cpus) else 0.0
    v("sources.input_bytes") = s.inputBytes / n
    v("sources.input_records") = s.inputRecords / n
  }

  /** Planning phases of the actions that started inside `ops`, per op. */
  def plans(v: mutable.Map[String, Double], t: LiveTrace, ops: Seq[(Double, Double)]): Unit =
    if (ops.nonEmpty) {
      val ps = ops.flatMap { case (s, e) => t.plansIn(s, e) }
      v("plan.analysis_ms") = ps.map(_.analysis).sum / ops.size
      v("plan.optimization_ms") = ps.map(_.optimization).sum / ops.size
      v("plan.planning_ms") = ps.map(_.planning).sum / ops.size
    }

  /** Codegen, GC and self time per operation over the traced stretches. */
  def common(v: mutable.Map[String, Double], t: LiveTrace, n: Double): Unit = if (n > 0) {
    val (compiles, compileMs) = t.codegen
    v("codegen.compiles") = compiles / n
    v("codegen.compile_ms") = compileMs / n
    v("jvm.gc_ms") = t.gcMs / n
    t.selfTimeByLayer().foreach { case (layer, ms) =>
      if (Layers.selfLayers.contains(layer)) v(s"self_ms.$layer") = ms / n
    }
  }

  /** A closed loop's end-to-end figures, one latency sample (ms) per
    * operation; `checked` requires ten samples beyond the 80th percentile. */
  def e2e(ms: Seq[Double], what: String, checked: Boolean = true): Map[String, Double] =
    Map("ops_per_s" -> ms.size / (ms.sum / 1000.0),
      "latency_p50_ms" -> Stats.median(ms),
      "latency_p80_ms" -> (if (checked) Stats.tail(ms, 80, what) else Stats.pct(ms, 80)))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def pctOr0(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.pct(xs, p)
}

final case class Recorded(rows: Long, hash: String, exact: Boolean)

/** The query fingerprints recorded from two runs of the program this
  * benchmark was defined on. `exact = false` marks a query whose hash
  * differed between those runs: it is checked on its row count only. */
object Fingerprints {
  def load(path: String): Map[String, Recorded] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    root.properties().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Recorded(n.get("rows").asLong, n.get("hash").asText,
        n.get("exact").asBoolean)
    }.toMap
  }
}
