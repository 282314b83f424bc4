package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Measuring side of the benchmark; `perfbench/run.py` generates the
  * inputs, starts this program, checks its outputs and prints the result.
  *
  * {{{
  * Main --workload kg_ensembl --inputs a.tsv --work DIR --seconds 15 --trace 0
  *      --cores 4 --out result.json
  * Main --workload query_suite --data DIR --queries q1,q2 --families FILE ...
  * }}}
  *
  * One client, closed loop: each operation starts when the previous one
  * finished, on a single `local[cores]` session.
  */
object Main {

  /** Session builds measured per invocation; the median is reported. */
  val Setups = 3

  /** Untimed operations before the measuring window: ETL runs on a
    * fifth-size input, and suite passes after the verification pass. Both
    * workloads keep getting faster for several operations while the JIT
    * compiles Spark's driver-side code.
    */
  val WarmupRuns = 3
  val WarmupPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores, work)
      s.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Setups) s.stop()
      dt
    }
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val spans = new Spans(a.getOrElse("run-id", s"$workload-${System.currentTimeMillis()}"))
    probe.spans = spans
    val tracer = new Tracer(spark, probe, spans)

    val body = workload match {
      case "kg_ensembl" | "kg_annotated" =>
        def runner(inputs: String, dir: String) =
          new EtlRunner(spark, tracer, cores, workload, inputs.split(",").toSeq, work.resolve(dir))
        // the warm-up input comes from another seed: the warm-up pays the
        // one-time class loading and codegen, and nearly all the JIT warm-up
        val warm = runner(a("warmup-inputs"), "etl-warmup")
        val timed = runner(a("inputs"), "etl")
        measure(seconds, trace, minOps = 4,
          Some(() => (1 to WarmupRuns).foreach(_ => warm.runOnce(traced = false))),
          (traced: Boolean) => timed.runOnce(traced)) ++ Map("unit" -> "workflow_run")
      case "query_suite" =>
        val order = a("queries").split(",").toSeq
        val families = scala.io.Source.fromFile(a("families")).getLines()
          .filterNot(l => l.startsWith("#") || l.isBlank)
          .map(_.split("\t")).map(f => f(0) -> f(1)).toMap
        val runner = new SuiteRunner(spark, tracer, cores, a("data"), order, families)
        val verifyDir = work.resolve("verify")
        val v0 = System.nanoTime()
        val verifyFailed = runner.verify(verifyDir)
        Map("verify_dir" -> verifyDir.toString, "verify_failed" -> verifyFailed,
          "verify_s" -> (System.nanoTime() - v0) / 1e9, "unit" -> "suite_pass") ++
          measure(seconds, trace, minOps = 4,
            Some(() => (1 to WarmupPasses).foreach(_ => runner.pass(traced = false))),
            (traced: Boolean) => runner.pass(traced))
    }

    val spansPath = work.resolve("spans.jsonl")
    spans.writeJsonl(spansPath)
    val env = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cores" -> cores,
      "master" -> spark.sparkContext.master)
    val result = Map("workload" -> workload, "env" -> env, "setup_s" -> setups,
      "spans_file" -> spansPath.toString) ++ body
    Files.writeString(Paths.get(a("out")), Json.value(result))
    spark.stop()
  }

  /** The measuring window: an untimed warm-up, then operations until
    * `seconds` have passed and at least `minOps` ran. Traced invocations
    * alternate traced and untraced operations, starting traced, so the two
    * can be compared.
    */
  private def measure(seconds: Double, trace: Boolean, minOps: Int,
                      warmup: Option[() => Any],
                      op: Boolean => Map[String, Any]): Map[String, Any] = {
    val w0 = System.nanoTime()
    val warm = Try(warmup.foreach(_()))
    val warmS = (System.nanoTime() - w0) / 1e9
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a hard cap keeps a pathologically slow build inside the run limit
    while ((elapsed < seconds || ops.size < minOps) && elapsed < 4 * seconds + 30) {
      val traced = trace && ops.size % 2 == 0
      ops += (Try(op(traced)) match {
        case Success(m) => m
        case Failure(e) => Map("traced" -> traced, "error" -> describe(e))
      })
    }
    Map("warmup_s" -> warmS,
      "warmup_error" -> warm.failed.toOption.map(describe),
      "ops" -> ops.toList)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
}
