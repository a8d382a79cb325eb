package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets a workload up, measures it for a fixed
  * number of seconds, checks its outputs and writes the raw samples as one
  * JSON object. `run.py` builds this, starts it and turns the samples
  * into metrics.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --corpus <dir> --expected <dir> --out <file>`
  */
object Main {

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, corpus: Path, expected: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--corpus")),
      Paths.get(need("--expected")), Paths.get(need("--out")))
  }

  /** Raw samples of one run, filled in by a workload and written out as
    * JSON when the run ends. */
  final class Result {
    val setupReps = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[(String, Option[Double])])]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var retainedBytes = 0L

    /** Runs one operation; a throw or a failed check counts it failed. */
    def attempt(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val errs = try body catch {
        case e: Throwable => Seq(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (errs.nonEmpty) { failed += 1; problems ++= errs.take(3) }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    System.setProperty("graft.yardstick", "off")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the gate entry points' own session recipe; spark.local.dir and the
    // warehouse come from system properties that run.py points at --work
    val spark = graft.LocalSession.fromEnv(defaultCpus = "4", logLevel = "ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark.sparkContext, a.trace)
    val r = new Result
    r.counters("setup.session_s") = sessionS
    try {
      a.workload match {
        case "hockey-fast" => Hockey.run(spark, a, trace, r)
        case "gates-sf0.01" => Gates.run(spark, a, trace, r)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        r.attempted += 1; r.failed += 1
        r.problems += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val jobsJson = if (a.trace) { settle(trace); trace.jobs.json } else "[]"
    val env = Seq(
      "cpus" -> Json.str(cpus),
      "xmx_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
    val json = Seq(
      "env" -> env.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"),
      "setup_reps_s" -> Json.arr(r.setupReps),
      "passes" -> r.passes.map { case (wall, ops) =>
        s"""{"wall_s":$wall,"ops":""" + ops.map { case (n, s) =>
          s"""{"name":${Json.str(n)},"s":${s.fold("null")(_.toString)}}""" }.mkString("[", ",", "]") + "}"
      }.mkString("[", ",", "]"),
      "traced_passes_s" -> Json.arr(r.tracedPasses),
      "counters" -> r.counters.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}"),
      "retained_bytes" -> r.retainedBytes.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "problems" -> r.problems.map(Json.str).mkString("[", ",", "]"),
      "spans" -> trace.spansJson,
      "jobs" -> jobsJson
    ).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.write(a.out, json.getBytes("UTF-8"))
    spark.stop()
  }

  /** The listener bus delivers events asynchronously: wait until every
    * job seen has ended and the job count has stopped moving. */
  private def settle(trace: Trace): Unit = {
    var last = ""
    var stable = 0
    val deadline = System.nanoTime() + 10e9.toLong
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = trace.jobs.json
      if (now == last && !now.contains("\"end_ms\":0,")) stable += 1 else stable = 0
      last = now
    }
  }

  /** Spark-cached bytes plus the program's file-backed scratch bytes. */
  def retainedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum +
      graft.Scratch.totalBytes

  def secs[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }
}
