package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments shared by every workload. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workRoot: String, cpus: Int,
    fingerprints: String, queries: String, out: String, calibrate: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("cpus").toInt,
      need("fingerprints"), need("queries"), need("out"), m.get("calibrate"))
  }
}

/** One measured operation of a workload: what it was, when it ran, and
  * whether it failed. Times are epoch milliseconds (Spark's listener
  * events carry the same clock), durations are measured with nanoTime. */
final case class Op(kind: String, trace: String, startMs: Double, endMs: Double,
    failed: Boolean) {
  def ms: Double = endMs - startMs
}

object Clock {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The named percentile needs at least ten samples beyond it. */
  def tail(xs: Seq[Double], p: Double, what: String): Double = {
    val beyond = xs.size - math.ceil(xs.size * p / 100.0).toInt
    require(beyond >= 10,
      s"$what: p$p needs >= 10 samples beyond it, have ${xs.size} samples")
    pct(xs, p)
  }
}

/** The pinned session: the confs `graft.Bench` builds its session with,
  * at `local[cpus]`, with every work directory under the run's own root. */
object Session {
  def build(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", Paths.get(a.workRoot, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.workRoot, "warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Peak old-generation occupancy after a full collection, sampled at the
  * quiet points of a measured window, between its operations but with the
  * workload's state alive (the session, the running stream, the store and
  * the client's model), never inside a timed operation. Collections the
  * JVM makes on its own while work runs leave promoted garbage in the old
  * generation, so their occupancy swings with GC timing from run to run;
  * a forced collection reads what the program keeps. Each sample first
  * waits for Spark's listener bus to deliver its queued events (they hold
  * plans and metrics of finished queries), then collects three times,
  * 300 ms apart, and on while the occupancy still falls, at most five
  * times: what Spark's ContextCleaner frees once its owners are collected
  * (broadcasts, shuffles, unpersisted batches) can take two rounds. */
final class HeapProbe(spark: SparkSession) {
  private var peak = 0L
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private def used: Long = oldPools.map(_.getUsage.getUsed).sum
  def sample(): Unit = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    System.gc()
    var least = used
    var falling = true
    var rounds = 1
    while (rounds < 3 || (falling && rounds < 5)) {
      Thread.sleep(300)
      System.gc()
      val u = used
      falling = u < least - (1L << 20)
      least = math.min(least, u)
      rounds += 1
    }
    peak = math.max(peak, least)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Gc {
  def totalMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(q => Files.deleteIfExists(q))
    finally s.close()
  }
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
  def fileCount(p: Path, pred: Path => Boolean): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.count(q => Files.isRegularFile(q) && pred(q)).toLong
    finally s.close()
  }
}

/** What a workload hands back: its operations, its metrics in both
  * modes, and whether every output check passed. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  var correct = true
  val problems = mutable.ArrayBuffer[String]()
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    correct = false
    if (problems.size < 20) problems += what
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def result(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$ms}}"""
  }
}
