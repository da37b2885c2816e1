package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.FrameParser
import graft.streaming.{IngestPipeline, MergeSink}

/** `sensor_ingest`: sensors' upload files land in a directory and the
  * program ingests them through `IngestPipeline.fromFileLog` →
  * `FrameParser.parse` → CDC projection → `MergeSink.bucketedMergeSink`
  * into a fresh store keyed by `mac`, all at their defaults. The run
  * starts with a landed backlog (catch-up), then a generator thread lands
  * files on a fixed schedule (an open loop): each file is written aside,
  * stamped with its due time and moved into place atomically. Set-up
  * starts the same stream three times on a small backlog, so catch-up
  * runs on a warm session. */
object SensorIngest {
  val NMacs = 2000
  val LinesPerFile = 100
  /** Two triggers at `fromFileLog`'s default of 100 files a trigger. */
  val BacklogFiles = 200
  /** Files of each set-up stream, one trigger: enough that catch-up
    * then runs on a warm JIT (README.md). */
  val StartFiles = 40
  /** Live rate: a little under half of what the engine sustained in warm
    * catch-up when the benchmark was defined (see README.md). */
  val LiveFilesPerS = 15.0
  /** Share of the run length the live phase lasts; catch-up takes most
    * of the rest. */
  val LiveShare = 0.6
  val NBuckets = 64

  final case class Upload(name: String, lines: Seq[String], var dueMs: Double = 0,
      var landedMs: Double = 0)

  /** Pre-generated uploads and the model state they lead to. */
  final class Plan(seed: Long, nBacklog: Int, nLive: Int) {
    val gen = new FrameGen(seed, NMacs)
    val model = new Model
    /** Frames the parser should keep (valid probe requests and deletes). */
    var kept = 0L
    private var ver = 0L
    private def file(name: String, tsBase: Long): Upload = Upload(name, (0 until LinesPerFile).map { i =>
      ver += 1
      val (line, mac, effect) = gen.line(ver, tsBase + i)
      effect.foreach { e => model(mac, e); kept += 1 }
      line
    })
    val backlog: Seq[Upload] = (0 until nBacklog).map(i => file(f"b$i%05d.txt", 1700000000000L + i * 1000L))
    val live: Seq[Upload] = (0 until nLive).map(i => file(f"l$i%05d.txt", 1800000000000L + i * 1000L))
  }

  private def land(u: Upload, staging: Path, landing: Path, mtimeMs: Long): Unit = {
    val tmp = staging.resolve(u.name)
    Files.write(tmp, u.lines.mkString("", "\n", "\n").getBytes("US-ASCII"))
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, landing.resolve(u.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The CDC projection of the parsed frames: `ssid = "error"` is a delete. */
  def cdc(parsed: DataFrame): DataFrame = parsed.filter(col("valid"))
    .select(col("mac"),
      when(col("ssid") === "error", lit("delete")).otherwise(lit("upsert")).as("op"),
      col("sensorId").as("ver"), col("ssid"),
      col("rssi").cast("long").as("rssi"), col("freq").cast("long").as("freq"))

  /** What one ingest run measured. */
  final case class Outcome(catchupRowsPerS: Double, freshness: Seq[Double],
      progress: Seq[StreamingQueryProgress], store: Path, live: Seq[Upload])

  private def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution")

  /** Maps each upload to the data trigger that consumed it: files are
    * taken oldest first, so the cumulative `numInputRows` of the
    * progress records crosses the cumulative line count at each file's
    * batch. Returns None if a trigger boundary splits a file. */
  def attribute(progress: Seq[StreamingQueryProgress], files: Seq[Upload]): Option[Seq[Int]] = {
    val data = progress.filter(_.numInputRows > 0)
    val cum = data.scanLeft(0L)(_ + _.numInputRows).tail
    val fileCum = files.scanLeft(0L)(_ + _.lines.size).tail
    if (cum.lastOption != fileCum.lastOption || !cum.forall(fileCum.contains)) None
    else Some(fileCum.map(c => cum.indexWhere(_ >= c)))
  }

  /** Lands `plan`'s backlog under `root`, as if uploaded over the last
    * minute, in order; returns the landing and staging dirs. */
  private def landBacklog(root: Path, plan: Plan): (Path, Path) = {
    val landing = Files.createDirectories(root.resolve("landing"))
    val staging = Files.createDirectories(root.resolve("staging"))
    val uploaded = System.currentTimeMillis() - 60000L
    plan.backlog.zipWithIndex.foreach { case (u, i) => land(u, staging, landing, uploaded + i * 10L) }
    (landing, staging)
  }

  /** The program's ingest from `landing` into `root/store`. */
  private def startStream(spark: SparkSession, root: Path, landing: Path,
      observe: Boolean): StreamingQuery = {
    val parsed = FrameParser.parse(IngestPipeline.fromFileLog(spark, landing.toString))
    val changes = if (observe) cdc(parsed).observe("parse", count(lit(1)).as("kept")) else cdc(parsed)
    MergeSink.bucketedMergeSink(changes, root.resolve("store").toString,
      root.resolve("ckpt").toString, "mac", "op", "ver", Seq("ssid", "rssi", "freq"),
      nBuckets = NBuckets).start()
  }

  /** The program's set-up for this workload: from building the ingest
    * stream on a fresh store to the end of its first commit, over
    * `StartFiles` landed files. */
  def startUp(spark: SparkSession, root: Path, plan: Plan): Double = {
    val (landing, _) = landBacklog(root, plan)
    val t0 = Clock.nowMs()
    val q = startStream(spark, root, landing, observe = false)
    try q.processAllAvailable() finally q.stop()
    val ms = Clock.nowMs() - t0
    Fs.deleteTree(root)
    ms
  }

  /** Runs the backlog, then the live files, through a fresh stream;
    * `heap` samples after catch-up and after the live files, while the
    * stream is up. */
  def ingest(spark: SparkSession, a: Args, root: Path, plan: Plan, observe: Boolean,
      r: Result, heap: Option[HeapProbe]): Outcome = {
    val (landing, staging) = landBacklog(root, plan)
    val store = root.resolve("store")
    val t0 = Clock.nowMs()
    val q = startStream(spark, root, landing, observe)
    try {
      q.processAllAvailable()
      val catchupMs = Clock.nowMs() - t0
      heap.foreach(_.sample())
      val backlogRows = plan.backlog.map(_.lines.size).sum
      // the open loop: land each live file at its due time
      val liveStart = Clock.nowMs() + 50
      val period = 1000.0 / LiveFilesPerS
      plan.live.zipWithIndex.foreach { case (u, i) =>
        u.dueMs = liveStart + i * period
        val wait = u.dueMs - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(u, staging, landing, u.dueMs.toLong)
        u.landedMs = Clock.nowMs()
      }
      q.processAllAvailable()
      heap.foreach(_.sample())
      val progress = q.recentProgress.toSeq.sortBy(_.batchId)
      val files = plan.backlog ++ plan.live
      val fresh = attribute(progress, files) match {
        case None =>
          r.check(false, "sensor_ingest: trigger input rows do not align with upload files")
          Nil
        case Some(k) =>
          val data = progress.filter(_.numInputRows > 0)
          plan.live.indices.map(i => endMs(data(k(plan.backlog.size + i))) - plan.live(i).dueMs)
      }
      System.err.println(f"[sensor_ingest] catch-up ${catchupMs / 1000}%.2f s, " +
        f"${progress.count(_.numInputRows > 0)} data triggers, ${plan.live.size} live files, " +
        f"freshness p50 ${Metrics.pctOr0(fresh, 50)}%.0f ms p90 ${Metrics.pctOr0(fresh, 90)}%.0f ms")
      Outcome(backlogRows / (catchupMs / 1000.0), fresh, progress, store, plan.live)
    } finally q.stop()
  }

  /** The store's head snapshot against the model, through the SQL door. */
  def checkStore(spark: SparkSession, store: Path, model: Model, r: Result): Unit = {
    val got = spark.read.format("graft").load(store.toString)
      .select("mac", "ssid", "rssi", "freq").collect()
      .map(x => x.getString(0) -> Obs(x.getString(1), x.getLong(2), x.getLong(3))).toMap
    r.check(got.size == model.state.size && got == model.state,
      s"store snapshot differs from the model: ${got.size} rows vs ${model.state.size}; " +
        s"first difference ${(got.toSet diff model.state.toSet).headOption}")
  }

  def run(spark: SparkSession, a: Args, r: Result, sessionMs: Double): Unit = {
    val heap = new HeapProbe(spark)
    val nLive = math.round(LiveFilesPerS * a.seconds * LiveShare).toInt
    val work = java.nio.file.Paths.get(a.workRoot)
    // set-up: start the stream three times on a small backlog, keep the
    // median
    val startPlan = new Plan(a.seed ^ 0x5e7L, StartFiles, 0)
    val setups = (1 to 3).map(i => startUp(spark, work.resolve(s"setup$i"), startPlan))
    r.put("setup_s", (sessionMs + Stats.median(setups)) / 1000.0, "s")

    val plan = new Plan(a.seed, BacklogFiles, nLive)
    val base = ingest(spark, a, work.resolve("run0"), plan, observe = false, r, Some(heap))
    r.attempted = plan.backlog.size + plan.live.size
    r.failed = plan.live.size - base.freshness.size
    checkStore(spark, base.store, plan.model, r)
    def e2e(o: Outcome) = Map("ops_per_s" -> o.catchupRowsPerS,
      "latency_p50_ms" -> Stats.median(o.freshness),
      "latency_p80_ms" -> Stats.tail(o.freshness, 80, "freshness"))
    if (!a.trace) {
      e2e(base).foreach { case (k, v) => r.put(k, v, if (k == "ops_per_s") "1/s" else "ms") }
      r.put("heap_peak_mb", heap.peakMb, "MB")
      return
    }

    // the untraced ingest ran first, on the colder JVM: the overhead figure
    // (traced minus untraced) leans low
    val t = new LiveTrace(spark).resume()
    val tracedPlan = new Plan(a.seed, BacklogFiles, nLive)
    val o = ingest(spark, a, work.resolve("run1"), tracedPlan, observe = true, r, None)
    t.pause()
    checkStore(spark, o.store, tracedPlan.model, r)
    val v = mutable.Map[String, Double]()
    val data = o.progress.filter(_.numInputRows > 0)
    val n = data.size.toDouble
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    var commitGap = 0.0
    val jobs = mutable.ArrayBuffer[JobRec]()
    data.foreach { p =>
      val end = endMs(p)
      val start = end - dur(p, "triggerExecution")
      val addEnd = end - dur(p, "commitOffsets")
      val addStart = addEnd - dur(p, "addBatch")
      val trig = t.record("stream", "trigger", s"batch${p.batchId}", start, end, -1)
      t.record("store", "addBatch", s"batch${p.batchId}", addStart, addEnd, trig)
      val js = t.jobsIn(start, end)
      jobs ++= js
      commitGap += dur(p, "addBatch") - t.covered(addStart, addEnd, js.map(j => (j.startMs, j.endMs)))
    }
    val trigMs = data.map(dur(_, "triggerExecution"))
    val addMs = data.map(dur(_, "addBatch"))
    v("stream.triggers") = n
    v("stream.rows_per_trigger") = data.map(_.numInputRows.toDouble).sum / n
    v("stream.trigger_p50_ms") = Stats.median(trigMs)
    v("stream.trigger_p90_ms") = Stats.pct(trigMs, 90)
    v("stream.overhead_ms") = trigMs.zip(addMs).map { case (x, y) => x - y }.sum / n
    // files landed but not yet in a batch, at each live trigger's start
    attribute(o.progress, tracedPlan.backlog ++ o.live).foreach { k =>
      val liveK = k.drop(tracedPlan.backlog.size)
      val lags = data.indices.filter(_ > k(tracedPlan.backlog.size - 1)).map { i =>
        val start = endMs(data(i)) - dur(data(i), "triggerExecution")
        o.live.indices.count(j => o.live(j).landedMs <= start && liveK(j) >= i).toDouble
      }
      v("stream.lag_files") = Metrics.mean(lags)
    }
    val kept = data.flatMap(p => Option(p.observedMetrics.get("parse")).map(_.getLong(0))).sum
    r.check(kept == tracedPlan.kept,
      s"the parser kept $kept frames, the generator made ${tracedPlan.kept} valid")
    v("parse.kept_ratio") = kept.toDouble / data.map(_.numInputRows).sum
    v("gen.late_ms") = Metrics.mean(o.live.map(u => u.landedMs - u.dueMs))
    v("store.commit_p50_ms") = Stats.median(addMs)
    v("store.commit_p90_ms") = Stats.pct(addMs, 90)
    v("store.commit_jobs") = jobs.size / n
    v("store.commit_stages") = jobs.map(_.stages).sum / n
    v("store.commit_gap_ms") = commitGap / n
    StoreStats.commits(v, spark, o.store,
      (0L until n.toLong).map(StoreStats.versionDir(o.store, _)), NBuckets)
    Metrics.exec(v, ExecSums.of(jobs.toSeq), n, trigMs.sum, a.cpus)
    Metrics.common(v, t, n)
    Metrics.plans(v, t, data.map { p => val e = endMs(p); (e - dur(p, "triggerExecution"), e) })
    val tr = e2e(o)
    val b = e2e(base)
    Layers.overheadOf.foreach(k => v(s"trace_overhead.$k") = tr(k) - b(k))
    Layers.emit(r, v)
    t.dump(java.nio.file.Paths.get(a.out + ".trace.jsonl"))
  }
}
