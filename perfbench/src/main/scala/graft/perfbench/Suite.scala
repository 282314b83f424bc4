package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The query suite: `SparkEntry.queries` entries over a fixed table set,
  * each materialised through the noop sink, in an order chosen by the seed.
  */
final class SuiteRunner(spark: SparkSession, tracer: Tracer, cores: Int, dataDir: String,
                        order: Seq[String], families: Map[String, String]) {

  private val probe = tracer.probe
  private val entries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Untimed first pass: every query's result goes to parquet for the
    * oracle comparison, with the oracle SQL beside it. It is also the
    * warm-up: it pays the one-time codegen, JIT and file-listing costs
    * before timing starts.
    */
  def verify(out: Path): Map[String, String] = {
    Files.createDirectories(out)
    val failed = mutable.LinkedHashMap.empty[String, String]
    order.foreach { q =>
      try entries(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
      catch { case e: Throwable => failed(q) = String.valueOf(e.getMessage).take(300) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => order.contains(q) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(oracle))
    failed.toMap
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass over every query. Traced, each query is a span with two
    * children, construction and execution, and layer metrics are derived
    * from the spans and the listener totals of the pass.
    */
  def pass(traced: Boolean): Map[String, Any] = {
    tracer.drain()
    probe.reset()
    val jobs0 = probe.jobCount.get
    probe.tracing = traced
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    val jobsPerQuery = mutable.Map.empty[String, Long]
    val failed = mutable.ArrayBuffer.empty[String]
    var constructS = 0.0
    var execS = 0.0
    val root = if (traced) tracer.spans.open("suite.pass", 0, "run") else null
    val t0 = Clock.now()
    order.foreach { q =>
      val q0 = Clock.now()
      if (!traced) {
        try noopWrite(entries(q)(spark, dataDir))
        catch { case _: Throwable => failed += q }
      } else {
        val j0 = probe.jobCount.get
        val qs = tracer.spans.open(s"query:$q", root.id, families.getOrElse(q, "unassigned"))
        val (df, cs) = tracer.span(s"construct:$q", qs.id, "construct")(entries(q)(spark, dataDir))
        constructS += cs.seconds
        if (df.isFailure) failed += q
        else {
          val (r, es) = tracer.span(s"exec:$q", qs.id, "exec")(noopWrite(df.get))
          execS += es.seconds
          if (r.isFailure) failed += q
        }
        tracer.spans.close(qs)
        jobsPerQuery(q) = probe.jobCount.get - j0
      }
      perQuery(q) = (Clock.now() - q0) / 1e9
    }
    val t1 = Clock.now()
    if (traced) tracer.spans.close(root)
    tracer.drain()
    probe.tracing = false
    val layers =
      if (!traced) Map.empty[String, Double]
      else layerMetrics(perQuery, jobsPerQuery, constructS, execS)
    Map(
      "traced" -> traced,
      "wall_s" -> (t1 - t0) / 1e9,
      "jobs" -> (probe.jobCount.get - jobs0),
      "query_s" -> perQuery,
      "failed" -> failed.toList,
      "layers" -> layers)
  }

  private def layerMetrics(perQuery: collection.Map[String, Double],
                           jobsPerQuery: collection.Map[String, Long],
                           constructS: Double, execS: Double): Map[String, Double] = {
    val c = probe.agg("construct")
    val x = probe.agg("exec")
    def phase(name: String): Double = probe.phases.getOrElse(name, 0.0)
    val busy = x.runMs / 1e3
    val base = Map(
      "construct.s" -> constructS,
      "construct.jobs" -> c.jobs.toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.jobs" -> x.jobs.toDouble,
      "exec.stages" -> x.stages.toDouble,
      "exec.tasks" -> x.tasks.toDouble,
      "exec.busy_s" -> busy,
      "exec.cpu_s" -> x.cpuNs / 1e9,
      "exec.cores_busy" -> (if (execS > 0) busy / (execS * cores) else 0.0),
      "exec.shuffle_mb" -> x.shuffleWriteBytes / 1e6,
      "exec.spill_mb" -> x.spillBytes / 1e6,
      "exec.gc_s" -> x.gcMs / 1e3)
    val byFamily = perQuery.keys.groupBy(q => families.getOrElse(q, "unassigned"))
    base ++ byFamily.flatMap { case (fam, qs) =>
      Seq(s"$fam.wall_s" -> qs.toSeq.map(perQuery).sum,
        s"$fam.jobs" -> qs.toSeq.map(q => jobsPerQuery.getOrElse(q, 0L)).sum.toDouble)
    }
  }
}
