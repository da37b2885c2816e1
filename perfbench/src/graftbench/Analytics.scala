package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `analytics`: one client in a closed loop over the engine's query
  * surface (`SparkEntry.queries`), through the `noop` sink, over the
  * read-only dataset shipped with the benchmark. The first pass times
  * each query's first execution, in the query set's own order; every
  * later pass times repeats, in a seed-permuted order. The run length
  * sets the number of passes, so every query is sampled equally often. */
object Analytics {
  /** The query surface, minus the `capstone_*` store reads (the store
    * has its own workload). */
  def surface: Seq[String] =
    SparkEntry.queries.keys.filterNot(_.startsWith("capstone_")).toSeq.sorted

  /** The measured set, one name a line (README.md says how it was
    * chosen). */
  def querySet(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8").linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** The operator family a query exercises, by its name. */
  def family(q: String): String = {
    val p = q.takeWhile(_ != '_')
    def num(prefix: String) = p.startsWith(prefix) && p.drop(prefix.length).headOption.exists(_.isDigit)
    if (q.startsWith("er_") || q.startsWith("entity_")) "er"
    else if (num("g") || p == "net") "graph"
    else if (p.startsWith("l2")) "dedup"
    else if (p.startsWith("l3")) "ann"
    else if (p.startsWith("l4") || p == "lang" || num("l5")) "text"
    else if (Set("mix", "samp", "pack", "eval", "corpus", "curated", "training", "epoch",
      "contrastive")(p)) "curation"
    else if (num("a")) "agg"
    else if (num("j")) "join"
    else if (num("w") || num("t") || num("o")) "window"
    else if (num("q") || num("f") || p == "quality") "quality"
    else "other"
  }

  /** Measured passes over the query set that make a run of `seconds`;
    * at least two, so the 80th percentile has ten samples beyond it. */
  val PassSeconds = 10.0
  def passesFor(seconds: Double): Int = math.max(2, math.ceil(seconds / PassSeconds).toInt)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, a: Args, r: Result, sessionMs: Double): Unit = {
    val heap = new HeapProbe(spark)
    val qs = SparkEntry.queries
    val set = querySet(a.queries)
    require(set.nonEmpty && set.forall(qs.contains), "query set names an unknown query")
    // set-up: session start and one small aggregate, so the first query
    // does not pay the session's first planning, codegen and shuffle
    val (_, warmMs) = Clock.timed(noop(spark.range(1000).selectExpr("id % 7 AS k")
      .groupBy("k").count()))
    r.put("setup_s", (sessionMs + warmMs) / 1000.0, "s")

    val rng = new Random(a.seed)
    val trace = if (a.trace) Some(new LiveTrace(spark)) else None
    val passMs = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Op]()
    val traced = mutable.ArrayBuffer[Op]()
    // a run is a fixed number of passes, set by its length; with tracing,
    // one traced pass follows them, then one more untraced pass to compare
    // it with. A first execution pays the class loading and JIT
    // compilation the queries before it left undone, so the first pass
    // keeps one order on every run; repeats do not depend on the order.
    val measuredPasses = passesFor(a.seconds)
    val passes = measuredPasses + (if (a.trace) 2 else 0)
    (0 until passes).foreach { pass =>
      val tr: Tracer = trace.filter(_ => pass == measuredPasses).map(_.resume()).getOrElse(NoTrace)
      val sink = if (tr eq NoTrace) untraced else traced
      val p0 = Clock.nowMs()
      (if (pass == 0) set else rng.shuffle(set)).foreach { q =>
        val id = s"$q#$pass"
        val s0 = Clock.nowMs()
        val ok = try {
          tr.span("client", "query", id) {
            val df = tr.span("SparkEntry", "entry.build")(qs(q)(spark, a.dataDir))
            tr.span("exec", "noop.write")(noop(df))
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[analytics] $q failed: ${e.getMessage}")
          false
        }
        sink += Op(q, id, s0, Clock.nowMs(), !ok)
      }
      if (!(tr eq NoTrace)) trace.foreach(_.pause())
      if (tr eq NoTrace) passMs += Clock.nowMs() - p0
      System.err.println(f"[analytics] pass $pass ${(Clock.nowMs() - p0) / 1000}%.2f s")
      heap.sample()
    }
    // the e2e figures come from the measured passes only
    val measured = untraced.toSeq.filter(o => o.trace.split('#').last.toInt < measuredPasses)
    r.attempted = measured.size
    r.failed = measured.count(_.failed)

    val base = Metrics.e2e(measured.filterNot(_.failed).map(_.ms), "query latency")

    // output checks, outside every timed operation
    val fps = Fingerprints.load(a.fingerprints)
    val toCheck =
      if (a.trace) set
      else new Random(a.seed ^ 0x5eedL).shuffle(set).take(3)
    toCheck.foreach { q =>
      fps.get(q) match {
        case None => r.check(false, s"$q: no recorded fingerprint")
        case Some(want) =>
          try {
            val got = Fingerprint.of(qs(q)(spark, a.dataDir))
            r.check(got.rows == want.rows && (!want.exact || got.hex == want.hash),
              s"$q: got rows=${got.rows} hash=${got.hex}, want rows=${want.rows} hash=${want.hash}")
          } catch { case e: Exception => r.check(false, s"$q: check failed: ${e.getMessage}") }
      }
    }
    r.check(r.failed == 0, s"${r.failed} query executions failed")

    trace match {
      case None =>
        base.foreach { case (k, v) => r.put(k, v, if (k == "ops_per_s") "1/s" else "ms") }
        r.put("heap_peak_mb", heap.peakMb, "MB")
      case Some(t) =>
        val tOps = traced.toSeq.filterNot(_.failed)
        val n = tOps.size.toDouble
        val v = mutable.Map[String, Double]()
        val byTrace = t.spans.groupBy(_.trace)
        var gap = 0.0
        val famCpu = mutable.Map[String, Double]().withDefaultValue(0.0)
        val famN = mutable.Map[String, Double]().withDefaultValue(0.0)
        val allJobs = mutable.ArrayBuffer[JobRec]()
        tOps.foreach { op =>
          val js = t.jobsIn(op.startMs, op.endMs)
          allJobs ++= js
          gap += op.ms - t.covered(op.startMs, op.endMs, js.map(j => (j.startMs, j.endMs)))
          val f = family(op.kind)
          famCpu(f) += js.map(_.cpuNs).sum / 1e6
          famN(f) += 1
        }
        val build = tOps.flatMap(o => byTrace.getOrElse(o.trace, Nil)).filter(_.name == "entry.build")
        v("client.suite_s") = Metrics.mean(passMs.toSeq) / 1000.0
        v("entry.build_ms") = build.map(_.ms).sum / n
        v("driver.gap_ms") = gap / n
        Metrics.plans(v, t, tOps.map(o => (o.startMs, o.endMs)))
        Metrics.exec(v, ExecSums.of(allJobs.toSeq), n, tOps.map(_.ms).sum, a.cpus)
        Layers.families.foreach(f =>
          v(s"operators.task_cpu_ms.$f") = if (famN(f) == 0) 0.0 else famCpu(f) / famN(f))
        Metrics.common(v, t, n)
        val tr = Metrics.e2e(tOps.map(_.ms), "", checked = false)
        val warm = Metrics.e2e(untraced.toSeq.filter(o => !o.failed && o.trace.endsWith(s"#${passes - 1}"))
          .map(_.ms), "", checked = false)
        Layers.overheadOf.foreach(k => v(s"trace_overhead.$k") = tr(k) - warm(k))
        Layers.emit(r, v)
        t.dump(Paths.get(a.out + ".trace.jsonl"))
    }
  }

  /** Times each query of the surface once (first execution after the
    * warm-up) and records its fingerprint, for choosing the query set and
    * refreshing the recorded fingerprints. */
  def calibrate(spark: SparkSession, a: Args, outPath: String): Unit = {
    val qs = SparkEntry.queries
    (1 to 2).foreach(_ => noop(qs("q1_agg")(spark, a.dataDir)))
    val lines = new Random(a.seed).shuffle(surface).map { q =>
      val (_, ms) = Clock.timed(noop(qs(q)(spark, a.dataDir)))
      val fp = Fingerprint.of(qs(q)(spark, a.dataDir))
      System.err.println(f"[calibrate] $q%-40s $ms%9.1f ms rows=${fp.rows}")
      s"""${Json.str(q)}: {"ms": ${Json.num(ms)}, "rows": ${fp.rows}, "hash": ${Json.str(fp.hex)}}"""
    }
    Files.write(Paths.get(outPath), lines.sorted.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
