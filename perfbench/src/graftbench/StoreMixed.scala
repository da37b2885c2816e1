package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.FrameParser
import graft.streaming.MergeSink

/** Store layout figures read from the store directory: each committed
  * version writes its rewritten buckets under `v<version>/_bucket=<b>`. */
object StoreStats {
  final case class VersionDir(files: Long, bytes: Long, buckets: Int)

  def versionDir(store: Path, v: Long): VersionDir = {
    val d = store.resolve(s"v$v")
    if (!Files.isDirectory(d)) VersionDir(0, 0, 0)
    else {
      val parquet = (p: Path) => p.getFileName.toString.endsWith(".parquet")
      val buckets = { val s = Files.list(d)
        try s.iterator().asScala.count(_.getFileName.toString.startsWith("_bucket=")) finally s.close() }
      VersionDir(Fs.fileCount(d, parquet), dataBytes(d), buckets)
    }
  }

  private def dataBytes(d: Path): Long = {
    val s = Files.walk(d)
    try s.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }

  /** Bytes of the head snapshot written once as plain parquet. */
  def headParquetBytes(spark: SparkSession, store: Path): Long = {
    val out = store.resolveSibling(store.getFileName.toString + "-head")
    spark.read.format("graft").load(store.toString).write.parquet(out.toString)
    val b = dataBytes(out)
    Fs.deleteTree(out)
    b
  }

  /** Write figures over the commits `dirs` made. */
  def commits(v: mutable.Map[String, Double], spark: SparkSession, store: Path,
      dirs: Seq[VersionDir], nBuckets: Int): Unit = if (dirs.nonEmpty) {
    val n = dirs.size.toDouble
    val head = headParquetBytes(spark, store).toDouble
    v("store.files_written") = dirs.map(_.files).sum / n
    v("store.bytes_written") = dirs.map(_.bytes).sum / n
    v("store.write_amp") = dirs.map(_.bytes).sum / head
    v("store.buckets_rewritten_share") = dirs.map(_.buckets.toDouble / nBuckets).sum / n
    v("store.space_amp") = Fs.treeBytes(store).toDouble / head
    v("store.files_live") = Fs.fileCount(store, _.getFileName.toString.endsWith(".parquet")).toDouble
  }
}

/** `store_mixed`: one client in a closed loop over a preloaded keyed,
  * bucketed store. Reads go through the SQL door (`format("graft")`):
  * point reads, predicate scans with an aggregate, `versionAsOf` reads
  * and change-feed polls (`MergeSink.pollChanges`). Writes are small
  * `format("graft")` append-upserts and SQL UPDATE, DELETE and MERGE on a
  * catalog table; every `MaintainEvery` writes the client runs a
  * `MergeSink.maintainStore` pass. Keys are Zipf-distributed, half of
  * them drawn from the keys written most recently. */
object StoreMixed {
  val NMacs = 4000
  val PreloadFrames = 8000
  val NBuckets = 16
  val MaintainEvery = 8
  /** Half of the keys are drawn from this many keys written last. */
  val RecentKeys = 32
  /** Seconds of run length per deck (about one deck's wall time on the
    * engine the benchmark was defined on). */
  val DeckSeconds = 8.0
  val Policy = MergeSink.MaintenancePolicy(maxFilesPerBucket = 2, maxLiveVersions = 4,
    retainLast = 64)
  /** The operation mix as a deck of 30, dealt in a seeded order: every
    * run makes the same mix, so its percentiles compare across seeds.
    * The mix is assumed, not measured (README.md gives the reasons):
    * keyed reads make up two thirds, so the median falls among them and
    * the 80th percentile among the scans, polls and writes. */
  val Deck: Seq[(String, Int)] = Seq("point" -> 18, "time_travel" -> 2, "scan" -> 1,
    "cdc_poll" -> 1, "insert" -> 3, "update" -> 2, "delete" -> 1, "merge" -> 2)
  val Reads = Set("point", "scan", "time_travel", "cdc_poll")
  /** Set-up's warm-up round: a few point reads, then one operation of
    * every kind. */
  val WarmUp: Seq[String] = Seq.fill(3)("point") ++ Deck.map(_._1)

  /** Frame lines → CDC rows, through the program's parser. */
  def preloadBatch(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    val frames = lines.toDF("value").select(
      expr("timestamp_millis(cast(split_part(value, ':', 2) AS LONG))").as("ts"),
      expr("cast(split_part(value, ':', 1) AS LONG)").as("sensorId"),
      unbase64(substring_index(col("value"), ":", -1)).as("bytes"))
    SensorIngest.cdc(FrameParser.parse(frames))
  }

  final class Client(spark: SparkSession, val store: Path, seed: Long, gen: FrameGen,
      val model: Model, r: Result, val table: String) {
    import spark.implicits._
    private val rng = new java.util.SplittableRandom(seed ^ 0x5712eL)
    private val recent = mutable.ArrayBuffer[String]()
    private var writes = 0
    val versionDirs = mutable.ArrayBuffer[StoreStats.VersionDir]()
    /** Rows the last read returned. */
    var readRows = 0L
    var maintPasses = 0
    var maintBytes = 0L

    def key(): String =
      if (recent.nonEmpty && rng.nextInt(2) == 0) recent(rng.nextInt(recent.size))
      else gen.macs(gen.macIndex())

    /** A key the store holds, so every UPDATE and DELETE commits. */
    def liveKey(): String = {
      var k = key()
      while (!model.state.contains(k)) k = key()
      k
    }

    /** The next `decks` decks of operations, each shuffled. */
    def deal(decks: Int): Seq[String] = {
      val deck = Deck.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
      (1 to decks).flatMap { _ =>
        (deck.length - 1 to 1 by -1).foreach { i =>
          val j = rng.nextInt(i + 1)
          val x = deck(i); deck(i) = deck(j); deck(j) = x
        }
        deck.toSeq
      }
    }

    private def head(): Long = MergeSink.latestVersion(store.toString).get
    private def door = spark.read.format("graft").load(store.toString)
    private def obs(x: Row) = Obs(x.getString(1), x.getLong(2), x.getLong(3))
    private def rowsOf(df: DataFrame) = df.select("mac", "ssid", "rssi", "freq").collect()
    private def fresh(): Obs = Obs(gen.nextSsid(), gen.nextRssi(), gen.nextFreq())
    private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

    /** Runs one drawn operation inside `t`'s span; returns its kind, the
      * check to run afterwards (outside the timed call) and, for a write,
      * the keys it wrote. */
    def step(kind: String, t: Tracer): (() => Unit, Option[Seq[String]]) = {
      readRows = 0
      val layer = if (Reads(kind)) "door" else "dml"
      kind match {
        case "point" =>
          val k = key()
          val got = t.span(layer, kind)(rowsOf(door.filter(col("mac") === k)))
          readRows = got.length
          (() => r.check(got.map(obs).toSeq == model.state.get(k).toSeq,
            s"point read $k: ${got.toSeq} vs ${model.state.get(k)}"), None)
        case "scan" =>
          val thr = -90L + rng.nextInt(50)
          val got = t.span(layer, kind)(door.filter(col("rssi") > thr).groupBy("freq")
            .agg(count(lit(1)).as("n"), sum("rssi").as("s")).collect())
          readRows = got.length
          val want = model.state.values.filter(_.rssi > thr).groupBy(_.freq)
            .map { case (f, os) => (f, os.size.toLong, os.map(_.rssi).sum) }.toSet
          (() => r.check(got.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet == want,
            s"scan rssi > $thr differs from the model"), None)
        case "time_travel" =>
          val v = math.max(0L, head() - rng.nextInt(8))
          val keys = Seq.fill(4)(key()).distinct
          val got = t.span(layer, kind)(rowsOf(spark.read.format("graft")
            .option("versionAsOf", v).load(store.toString).filter(col("mac").isin(keys: _*))))
          readRows = got.length
          (() => {
            val want = model.at(v).map(m => keys.flatMap(k => m.get(k).map(k -> _)).toMap)
            r.check(want.contains(got.map(x => x.getString(0) -> obs(x)).toMap),
              s"versionAsOf $v read of ${keys.mkString(",")} differs from the model")
          }, None)
        case "cdc_poll" =>
          var got: Option[(Long, Long, Array[Row])] = None
          t.span(layer, kind) {
            MergeSink.pollChanges(spark, store.toString, "bench", startAtVersion = Some(0L)) {
              (df, from, to) => got = Some((from, to, df.collect()))
            }
          }
          got.foreach(g => readRows = g._3.length)
          (() => got.foreach { case (from, to, rows) => checkPoll(from, to, rows) }, None)
        case "insert" =>
          val vs = Seq.fill(2)(key()).distinct.map(_ -> fresh())
          t.span(layer, kind)(vs.map { case (k, o) => (k, o.ssid, o.rssi, o.freq) }
            .toDF("mac", "ssid", "rssi", "freq").write.format("graft").mode("append")
            .save(store.toString))
          vs.foreach { case (k, o) => model(k, Some(o)) }
          (() => (), Some(vs.map(_._1)))
        case "update" =>
          val k = liveKey()
          t.span(layer, kind)(spark.sql(s"UPDATE $table SET rssi = rssi - 1 WHERE mac = ${sqlStr(k)}"))
          model.state.get(k).foreach(o => model(k, Some(o.copy(rssi = o.rssi - 1))))
          (() => (), Some(Seq(k)))
        case "delete" =>
          val k = liveKey()
          t.span(layer, kind)(spark.sql(s"DELETE FROM $table WHERE mac = ${sqlStr(k)}"))
          model(k, None)
          (() => (), Some(Seq(k)))
        case "merge" =>
          val vs = Seq.fill(3)(key()).distinct.map(_ -> fresh())
          vs.map { case (k, o) => (k, o.ssid, o.rssi, o.freq) }.toDF("mac", "ssid", "rssi", "freq")
            .createOrReplaceTempView("bench_src")
          t.span(layer, kind)(spark.sql(
            s"""MERGE INTO $table t USING bench_src s ON t.mac = s.mac
               |WHEN MATCHED THEN UPDATE SET ssid = s.ssid, rssi = s.rssi, freq = s.freq
               |WHEN NOT MATCHED THEN INSERT (mac, ssid, rssi, freq)
               |VALUES (s.mac, s.ssid, s.rssi, s.freq)""".stripMargin))
          vs.foreach { case (k, o) => model(k, Some(o)) }
          (() => (), Some(vs.map(_._1)))
      }
    }

    /** After a write: pins the model to the new head; returns true when
      * a maintenance pass is due. */
    def afterWrite(keys: Seq[String], traced: Boolean): Boolean = {
      recent ++= keys
      if (recent.size > RecentKeys) recent.remove(0, recent.size - RecentKeys)
      val before = model.latest
      val h = head()
      model.commit(h)
      if (traced && h != before) versionDirs += StoreStats.versionDir(store, h)
      writes += 1
      writes % MaintainEvery == 0
    }

    def maintain(t: Tracer): Unit = {
      val rep = t.span("maint", "maintain")(MergeSink.maintainStore(spark, store.toString, Policy))
      val h = head()
      model.commit(h)
      if (rep.triggered) {
        maintPasses += 1
        maintBytes += StoreStats.versionDir(store, h).bytes
      }
    }

    private def checkPoll(from: Long, to: Long, rows: Array[Row]): Unit = {
      (model.at(from), model.at(to)) match {
        case (Some(a), Some(b)) =>
          val want = (a.keySet ++ b.keySet).toSeq.flatMap { k =>
            (a.get(k), b.get(k)) match {
              case (None, Some(n)) => Some((k, "insert", Some(n)))
              case (Some(_), None) => Some((k, "delete", None))
              case (Some(o), Some(n)) if o != n => Some((k, "update", Some(n)))
              case _ => None
            }
          }.toSet
          val got = rows.map { x =>
            val c = x.getAs[String]("change")
            val n = if (c == "delete") None else Some(Obs(x.getAs[String]("ssid_new"),
              x.getAs[Long]("rssi_new"), x.getAs[Long]("freq_new")))
            (x.getAs[String]("mac"), c, n)
          }.toSet
          r.check(got == want, s"change feed v$from..v$to does not reconcile with the writes " +
            s"(${got.size} rows vs ${want.size} expected)")
        case _ => r.check(false, s"change feed range v$from..v$to outside the client's history")
      }
    }
  }

  /** Loads a fresh store at `dir` with one batch of generated frames. */
  def preload(spark: SparkSession, seed: Long, dir: Path): (FrameGen, Model) = {
    val gen = new FrameGen(seed, NMacs)
    val model = new Model
    val lines = (1 to PreloadFrames).map { i =>
      val (line, mac, effect) = gen.line(i.toLong, 1700000000000L + i)
      effect.foreach(model(mac, _))
      line
    }
    MergeSink.applyBucketedBatch(preloadBatch(spark, lines), 0L, dir.toString, "mac", "op", "ver",
      Seq("ssid", "rssi", "freq"), NBuckets)
    model.commit(MergeSink.latestVersion(dir.toString).get)
    (gen, model)
  }

  /** Runs the warm-up round and a maintenance pass through `c`, with
    * their output checks, so the measured decks do not pay the first
    * planning, code generation and JIT compilation of each kind of
    * operation. */
  def warmUp(c: Client): Unit = {
    WarmUp.foreach { kind =>
      val (check, written) = c.step(kind, NoTrace)
      check()
      written.foreach(keys => c.afterWrite(keys, traced = false))
    }
    c.maintain(NoTrace)
  }

  def run(spark: SparkSession, a: Args, r: Result, sessionMs: Double): Unit = {
    val heap = new HeapProbe(spark)
    val work = Paths.get(a.workRoot)
    // set-up: preload three fresh stores, keep the median time and the last
    // store; then the warm-up round on the first one
    val setups = (1 to 3).map { i =>
      val dir = work.resolve(s"store$i")
      val (gm, ms) = Clock.timed(preload(spark, a.seed, dir))
      (dir, gm, ms)
    }
    val warmMs = {
      val (dir, (g, m), _) = setups.head
      val c = new Client(spark, dir, a.seed ^ 0x3a7L, g, m, r, "bench_warm")
      spark.sql(s"CREATE TABLE ${c.table} USING graft LOCATION '$dir'")
      val (_, ms) = Clock.timed(warmUp(c))
      spark.sql(s"DROP TABLE ${c.table}")
      ms
    }
    r.put("setup_s", (sessionMs + Stats.median(setups.map(_._3)) + warmMs) / 1000.0, "s")
    setups.init.foreach(s => Fs.deleteTree(s._1))
    val (store, (gen, model), _) = setups.last
    SensorIngest.checkStore(spark, store, model, r)
    val client = new Client(spark, store, a.seed, gen, model, r, "bench_obs")
    spark.sql(s"CREATE TABLE ${client.table} USING graft LOCATION '$store'")

    // a run is a fixed number of decks, set by its length; with tracing,
    // blocks of ten operations alternate untraced / traced over the same
    // evolving store
    val trace = if (a.trace) Some(new LiveTrace(spark)) else None
    val untraced = mutable.ArrayBuffer[Op]()
    val traced = mutable.ArrayBuffer[Op]()
    val rowsByOp = mutable.Map[String, Long]()
    val decks = math.max(2, math.ceil(a.seconds / DeckSeconds).toInt)
    val kinds = client.deal(if (a.trace) 2 * decks else decks)
    var i = 0
    while (i < kinds.size) {
      val block = (i / 10) % 2 == 1
      if (i % 10 == 0 && block) trace.foreach(_.resume())
      val tr: Tracer = if (block) trace.getOrElse(NoTrace) else NoTrace
      val sink = if (block && a.trace) traced else untraced
      val kind = kinds(i)
      val id = s"op$i"
      val s0 = Clock.nowMs()
      val res = try Some(tr.span("client", "op", id)(client.step(kind, tr)))
      catch { case e: Exception =>
        System.err.println(s"[store_mixed] $kind failed: ${e.getMessage}")
        None
      }
      sink += Op(kind, id, s0, Clock.nowMs(), res.isEmpty)
      rowsByOp(id) = client.readRows
      res.foreach { case (check, written) =>
        check()
        written.foreach { keys =>
          if (client.afterWrite(keys, tr ne NoTrace)) {
            val mid = s"op$i.maint"
            val m0 = Clock.nowMs()
            val ok = try { tr.span("client", "op", mid)(client.maintain(tr)); true }
            catch { case e: Exception =>
              System.err.println(s"[store_mixed] maintain failed: ${e.getMessage}")
              false
            }
            sink += Op("maintain", mid, m0, Clock.nowMs(), !ok)
          }
        }
      }
      i += 1
      if (i % 10 == 0 && block) trace.foreach(_.pause())
      if (!a.trace && i % Deck.map(_._2).sum == 0) heap.sample()
    }
    (untraced ++ traced).groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      System.err.println(f"[store_mixed] $k%-12s n=${os.size}%4d mean ${Metrics.mean(os.map(_.ms).toSeq)}%8.1f ms")
    }
    r.attempted = untraced.size
    r.failed = untraced.count(_.failed)
    r.check(r.failed == 0 && traced.forall(!_.failed), "store operations failed")

    // final state and one full time-travel read against the model
    SensorIngest.checkStore(spark, store, model, r)
    val tv = math.max(0L, model.latest - 5)
    val old = spark.read.format("graft").option("versionAsOf", tv).load(store.toString)
      .select("mac", "ssid", "rssi", "freq").collect()
      .map(x => x.getString(0) -> Obs(x.getString(1), x.getLong(2), x.getLong(3))).toMap
    r.check(model.at(tv).contains(old), s"versionAsOf $tv snapshot differs from the model")

    // the maintenance passes the client runs are part of its work: their
    // time counts in ops_per_s (deck operations over the time of all
    // client work), but not in the latency percentiles, which describe
    // the deck's operations
    def e2e(ops: Seq[Op], checked: Boolean): Map[String, Double] = {
      val done = ops.filterNot(_.failed)
      val deck = done.filter(_.kind != "maintain")
      Metrics.e2e(deck.map(_.ms), "operation latency", checked) +
        ("ops_per_s" -> deck.size / (done.map(_.ms).sum / 1000.0))
    }
    val base = e2e(untraced.toSeq, checked = true)
    trace match {
      case None =>
        base.foreach { case (k, v) => r.put(k, v, if (k == "ops_per_s") "1/s" else "ms") }
        r.put("heap_peak_mb", heap.peakMb, "MB")
      case Some(t) =>
        val v = mutable.Map[String, Double]()
        val ops = traced.toSeq.filterNot(_.failed)
        val n = ops.size.toDouble
        val spans = t.spans.toSeq
        def meanOf(name: String) = Metrics.mean(spans.filter(_.name == name).map(_.ms))
        Seq("point" -> "door.point_read_ms", "scan" -> "door.scan_ms",
          "time_travel" -> "door.time_travel_ms", "cdc_poll" -> "door.cdc_poll_ms",
          "insert" -> "dml.insert_ms", "update" -> "dml.update_ms", "delete" -> "dml.delete_ms",
          "merge" -> "dml.merge_ms").foreach { case (k, m) => v(m) = meanOf(k) }
        val plain = untraced.toSeq.filterNot(_.failed)
        val (pr, pw) = plain.filter(_.kind != "maintain").partition(o => Reads(o.kind))
        v("client.read_p50_ms") = Metrics.pctOr0(pr.map(_.ms), 50)
        v("client.read_p80_ms") = Metrics.pctOr0(pr.map(_.ms), 80)
        v("client.write_p50_ms") = Metrics.pctOr0(pw.map(_.ms), 50)
        v("client.write_p80_ms") = Metrics.pctOr0(pw.map(_.ms), 80)
        val reads = ops.filter(o => Reads(o.kind))
        val readRecords = reads.flatMap(o => t.jobsIn(o.startMs, o.endMs)).map(_.inputRecords).sum
        v("door.records_per_result") = readRecords.toDouble / math.max(1L, reads.map(o => rowsByOp(o.trace)).sum)
        val writes = ops.filter(o => !Reads(o.kind) && o.kind != "maintain")
        val wJobs = writes.map(o => t.jobsIn(o.startMs, o.endMs))
        v("store.commit_p50_ms") = Metrics.pctOr0(writes.map(_.ms), 50)
        v("store.commit_p90_ms") = Metrics.pctOr0(writes.map(_.ms), 90)
        v("store.commit_jobs") = Metrics.mean(wJobs.map(_.size.toDouble))
        v("store.commit_stages") = Metrics.mean(wJobs.map(_.map(_.stages).sum.toDouble))
        v("store.commit_gap_ms") = Metrics.mean(writes.zip(wJobs).map { case (o, js) =>
          o.ms - t.covered(o.startMs, o.endMs, js.map(j => (j.startMs, j.endMs))) })
        StoreStats.commits(v, spark, store, client.versionDirs.toSeq, NBuckets)
        v("maint.passes") = client.maintPasses
        v("maint.ms") = meanOf("maintain")
        v("maint.bytes_rewritten") = if (client.maintPasses == 0) 0.0 else client.maintBytes.toDouble / client.maintPasses
        Metrics.exec(v, ExecSums.of(ops.flatMap(o => t.jobsIn(o.startMs, o.endMs))), n,
          ops.map(_.ms).sum, a.cpus)
        Metrics.plans(v, t, ops.map(o => (o.startMs, o.endMs)))
        Metrics.common(v, t, n)
        val tr = e2e(traced.toSeq, checked = false)
        Layers.overheadOf.foreach(k => v(s"trace_overhead.$k") = tr(k) - base(k))
        Layers.emit(r, v)
        t.dump(Paths.get(a.out + ".trace.jsonl"))
    }
    spark.sql(s"DROP TABLE IF EXISTS ${client.table}")
  }
}
