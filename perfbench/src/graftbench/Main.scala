package graftbench

import java.nio.file.{Files, Paths}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus the paths `run.py` supplies. Writes the result object to `--out`;
  * exits 1 when an output check fails. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = Args.parse(argv)
    val (spark, sessionMs) = Clock.timed(Session.build(a))
    def stage(what: String): Unit =
      System.err.println(f"[${a.workload}] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val r = new Result
    try {
      a.calibrate match {
        case Some(out) => Analytics.calibrate(spark, a, out)
        case None =>
          stage("session up")
          a.workload match {
            case "analytics" => Analytics.run(spark, a, r, sessionMs)
            case "sensor_ingest" => SensorIngest.run(spark, a, r, sessionMs)
            case "store_mixed" => StoreMixed.run(spark, a, r, sessionMs)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          stage("done")
          Files.write(Paths.get(a.out), (Json.result(r) + "\n").getBytes("UTF-8"))
          r.problems.foreach(p => System.err.println(s"[check] $p"))
      }
    } catch { case e: Throwable => spark.stop(); throw e }
    // every stream is stopped and the result is written; the session's
    // work directories go with the run's root, which run.py removes, so the
    // JVM ends here instead of spending a second or two in spark.stop()
    System.err.flush()
    Runtime.getRuntime.halt(if (r.correct) 0 else 1)
  }
}
