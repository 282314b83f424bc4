package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.etl.{KnetMappings, NeoLoader, Prop, TabFileMapper, Triples, Workflow}

/** Statement sink for the load step: accepts every statement, as the
  * library's no-op transport does, and counts what it was sent. The
  * counters are JVM-global because Spark ships a copy of the transport to
  * each task; in local mode all copies share this JVM.
  */
final class CountingTransport extends NeoLoader.CypherTransport {
  override def run(statement: String): Unit = {
    val t0 = System.nanoTime()
    val c = CountingTransport
    val elems = CountingTransport.elements(statement)
    if (statement.contains(" AS node_js")) {
      c.nodeBatches.incrementAndGet(); c.nodeElems.addAndGet(elems)
    } else if (statement.contains(" AS edge_js")) {
      c.edgeBatches.incrementAndGet(); c.edgeElems.addAndGet(elems)
    } else c.otherStatements.incrementAndGet()
    c.maxBatch.accumulateAndGet(elems, (a, b) => a max b)
    c.bytes.addAndGet(statement.length)
    c.nanos.addAndGet(System.nanoTime() - t0)
  }
}

object CountingTransport {
  val nodeBatches, edgeBatches, nodeElems, edgeElems, otherStatements,
      maxBatch, bytes, nanos = new AtomicLong

  private val ElementStart = "{\"id\":"

  /** Elements in one UNWIND batch: each inlined element opens with `{"id":`. */
  def elements(statement: String): Long = {
    var n = 0L
    var i = statement.indexOf(ElementStart)
    while (i >= 0) { n += 1; i = statement.indexOf(ElementStart, i + ElementStart.length) }
    n
  }

  def reset(): Unit = Seq(nodeBatches, edgeBatches, nodeElems, edgeElems, otherStatements,
    maxBatch, bytes, nanos).foreach(_.set(0))

  def snapshot(): LoadCounts = LoadCounts(nodeBatches.get, edgeBatches.get, nodeElems.get,
    edgeElems.get, otherStatements.get, maxBatch.get, bytes.get, nanos.get / 1e9)
}

final case class LoadCounts(nodeBatches: Long, edgeBatches: Long, nodeElems: Long,
                            edgeElems: Long, otherStatements: Long, maxBatch: Long,
                            statementBytes: Long, transportS: Double) {
  def asMap: Map[String, Any] = Map(
    "node_batches" -> nodeBatches, "edge_batches" -> edgeBatches,
    "node_elems" -> nodeElems, "edge_elems" -> edgeElems,
    "other_statements" -> otherStatements, "max_batch" -> maxBatch,
    "statement_bytes" -> statementBytes, "transport_s" -> transportS)
}

/** The two ETL workloads: one `Workflow` config each, with its mappers
  * bound by name as the reference's snakefile binds wf_mapping.py objects.
  */
object EtlWorkloads {

  final case class Pipeline(conf: Map[String, String],
                            mappers: Map[String, TabFileMapper],
                            /** step name -> completion marker */
                            markers: Seq[(String, Path)],
                            /** data directories each layer writes */
                            outputs: Map[String, Seq[Path]],
                            pgPath: Path, jsonlPath: Path)

  val BatchSize = 2500

  private def steps(work: Path, maps: Seq[(String, String, String)]): Map[String, String] = {
    val s = "workflow.steps."
    val mapSteps = maps.flatMap { case (name, input, mapper) =>
      Seq(s"$s$name.kind" -> "map", s"$s$name.input" -> input,
        s"$s$name.output" -> work.resolve(s"triples_$mapper").toString,
        s"$s$name.mapper" -> mapper)
    }
    (mapSteps ++ maps.zipWithIndex.map { case ((_, _, mapper), i) =>
        s"${s}pg.inputs.$i" -> work.resolve(s"triples_$mapper").toString
      } ++ Seq(
      s"${s}pg.kind" -> "pg", s"${s}pg.output" -> work.resolve("pg").toString,
      s"${s}jsonl.kind" -> "jsonl", s"${s}jsonl.input" -> work.resolve("pg").toString,
      s"${s}jsonl.output" -> work.resolve("jsonl").toString,
      s"${s}load.kind" -> "load", s"${s}load.input" -> work.resolve("jsonl").toString,
      s"${s}load.done" -> work.resolve("neo").toString,
      s"${s}load.batch_size" -> BatchSize.toString)).toMap
  }

  private def pipeline(work: Path, maps: Seq[(String, String, String)],
                       mappers: Map[String, TabFileMapper]): Pipeline = {
    val triples = maps.map { case (_, _, m) => work.resolve(s"triples_$m") }
    Pipeline(
      steps(work, maps), mappers,
      maps.map { case (name, _, m) => name -> work.resolve(s"triples_$m/_SUCCESS") } ++ Seq(
        "pg" -> work.resolve("pg/_SUCCESS"), "jsonl" -> work.resolve("jsonl/_SUCCESS"),
        "load" -> work.resolve("neo.edges")),
      Map("map" -> triples, "pg" -> Seq(work.resolve("pg")),
        "jsonl" -> Seq(work.resolve("jsonl"))),
      work.resolve("pg"), work.resolve("jsonl"))
  }

  /** The reference's real case (RealCaseSpec, wf_mapping.py): gene,
    * protein, both accession node/edge pairs and encodesProtein, chained
    * over one ENSEMBL→UniProt file.
    */
  def kgEnsembl(inputs: Seq[String], work: Path): Pipeline = {
    val srcProp = Prop.constant("ketl:source", "perfbench/kg_ensembl")
    val geneId = Triples.wrap(col("ENSEMBL ID"), "gene:")
    val protId = Triples.wrap(col("UniProt ID"), "protein:")
    val e2u = TabFileMapper.chained(Seq(
      df => Triples.nodes(df, geneId,
        Seq(Prop.tpe("Gene"), KnetMappings.dataSourcesProp("ENSEMBL-Plants"), srcProp)),
      df => Triples.nodes(df, protId,
        Seq(Prop.tpe("Protein"), KnetMappings.dataSourcesProp("ENSEMBL-Plants"),
          KnetMappings.dataSourcesProp("TAIR"), srcProp)),
      df => {
        val (n, e) = KnetMappings.accessionMappers(
          df, "ENSEMBL-Plants", col("ENSEMBL ID"), geneId, Seq(srcProp))
        n.union(e)
      },
      df => {
        val (n, e) = KnetMappings.accessionMappers(
          df, "UniProt", col("UniProt ID"), protId, Seq(srcProp))
        n.union(e)
      },
      df => Triples.edges(df, "encodesProtein", geneId, protId,
        props = Seq(KnetMappings.dataSourcesProp("ENSEMBL Plants"), srcProp))))
    pipeline(work, Seq(("map_e2u", inputs.head, "e2u")), Map("e2u" -> e2u))
  }

  /** Genes plus their GO annotations mapped onto the SAME gene id (two
    * sources, multi-valued properties, a few hub genes with thousands of
    * values), plus gene-gene interaction edges.
    */
  def kgAnnotated(inputs: Seq[String], work: Path): Pipeline = {
    val Seq(genes, annotations, interactions) = inputs
    val geneId = Triples.wrap(col("gene_id"), "gene:")
    val mappers = Map(
      "genes" -> TabFileMapper.nodes(geneId, Seq(Prop.tpe("Gene"),
        Prop.column("symbol"), Prop.column("chromosome"), Prop.column("description"),
        KnetMappings.dataSourcesProp("TAIR"))),
      "annotations" -> TabFileMapper.nodes(geneId, Seq(Prop.tpe("Gene"),
        Prop.column("go_term", "goTerm"), Prop.column("evidence"),
        Prop.column("publication"), KnetMappings.dataSourcesProp("GOA"))),
      "interactions" -> TabFileMapper.edges("interactsWith",
        Triples.wrap(col("gene_a"), "gene:"), Triples.wrap(col("gene_b"), "gene:"),
        props = Seq(Prop.column("score"), Prop.column("source"))))
    pipeline(work, Seq(("map_annotations", annotations, "annotations"),
      ("map_genes", genes, "genes"), ("map_interactions", interactions, "interactions")),
      mappers)
  }

  def build(workload: String, inputs: Seq[String], work: Path): Pipeline = workload match {
    case "kg_ensembl" => kgEnsembl(inputs, work)
    case "kg_annotated" => kgAnnotated(inputs, work)
  }

  /** Step kinds in pipeline order; the traced run calls `Workflow.run` once
    * per kind with the steps up to that kind, so each call executes exactly
    * that kind's steps and skips the checkpointed ones before it.
    */
  val Kinds: Seq[String] = Seq("map", "pg", "jsonl", "load")

  def confUpTo(conf: Map[String, String], kind: String): Map[String, String] = {
    val keep = Kinds.take(Kinds.indexOf(kind) + 1).toSet
    val kindOf = Workflow.steps(conf).map(s => s.name -> s.kind).toMap
    conf.filter { case (k, _) =>
      kindOf.get(k.stripPrefix("workflow.steps.").takeWhile(_ != '.')).exists(keep)
    }
  }
}

/** Runs one ETL pipeline and gathers the facts its outputs are checked
  * against, after each run and outside the timed window.
  */
final class EtlRunner(spark: SparkSession, tracer: Tracer, cores: Int, workload: String,
                      inputs: Seq[String], work: Path) {

  private val p = EtlWorkloads.build(workload, inputs, work)
  private val transport = new CountingTransport
  private val probe = tracer.probe

  private def clean(): Unit = {
    Files.createDirectories(work)
    val s = Files.list(work)
    try s.iterator().asScala.toList.foreach(Fs.delete) finally s.close()
    CountingTransport.reset()
    probe.reset()
  }

  /** One run from the TSV files to the last load done-flag. Untraced, it is
    * a single `Workflow.run`; traced, one call per step kind, each in its
    * own span, plus a final call that finds every step done (the runner's
    * own cost, the `workflow` layer).
    */
  def runOnce(traced: Boolean): Map[String, Any] = {
    clean()
    tracer.drain()
    val jobs0 = probe.jobCount.get
    probe.tracing = traced
    val t0 = Clock.now()
    val layerSpans: Map[String, Span] =
      if (!traced) {
        Workflow.run(spark, p.conf, p.mappers, transport)
        Map.empty
      } else {
        val root = tracer.spans.open("etl.run", 0, "run")
        val ls = (EtlWorkloads.Kinds :+ "workflow").map { layer =>
          val conf = if (layer == "workflow") p.conf else EtlWorkloads.confUpTo(p.conf, layer)
          val (runs, s) = tracer.span(s"workflow.run:$layer", root.id, layer)(
            Workflow.run(spark, conf, p.mappers, transport))
          val executed = runs.get.filterNot(_.skipped).map(_.kind).toSet
          require(executed == (if (layer == "workflow") Set.empty[String] else Set(layer)),
            s"traced Workflow.run for $layer executed ${executed.mkString(",")}")
          layer -> s
        }
        tracer.spans.close(root)
        ls.toMap
      }
    val t1 = Clock.now()
    tracer.drain()
    probe.tracing = false
    Map(
      "traced" -> traced,
      "wall_s" -> (t1 - t0) / 1e9,
      "jobs" -> (probe.jobCount.get - jobs0),
      "steps" -> stepTimes(t0),
      "layers" -> (if (traced) EtlRunner.layerMetrics(layerSpans, tracer, cores, p, work)
                   else Map.empty)) ++ check()
  }

  /** Step durations from the completion markers the steps leave behind,
    * in completion order.
    */
  private def stepTimes(t0: Long): Seq[Map[String, Any]] = {
    val ends = p.markers.collect { case (name, path) if Files.exists(path) =>
      name -> Files.getLastModifiedTime(path).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    }.sortBy(_._2)
    var prev = t0
    ends.map { case (name, end) =>
      val d = (end - prev) max 0L
      prev = end max prev
      Map("name" -> name, "s" -> d / 1e9)
    }
  }

  /** Output facts for the oracle comparison (outside the timed window). */
  private def check(): Map[String, Any] = {
    val counts = spark.read.parquet(p.pgPath.toString)
      .selectExpr("type", "array_join(labels, ',') AS labels").groupBy("type", "labels")
      .count().collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
    val lines = Fs.dataFiles(p.jsonlPath).flatMap(f => Files.readAllLines(f).asScala).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    Map(
      "pg_counts" -> counts,
      "elements" -> counts.values.sum,
      "jsonl_lines" -> lines.size,
      "jsonl_sha256" -> md.digest().map("%02x".format(_)).mkString,
      "load" -> CountingTransport.snapshot().asMap,
      "load_flags" -> EtlRunner.loadFlags(work))
  }
}

object EtlRunner {

  /** Done-flags the load step left (both phases: 2). */
  def loadFlags(work: Path): Int = Seq("neo.nodes", "neo.edges").count(f => Files.exists(work.resolve(f)))

  def layerMetrics(layerSpans: Map[String, Span], tracer: Tracer, cores: Int,
                   p: EtlWorkloads.Pipeline, work: Path): Map[String, Double] = {
    val probe = tracer.probe
    val load = CountingTransport.snapshot()
    val out = Map.newBuilder[String, Double]
    layerSpans.foreach { case (layer, s) =>
      val a = probe.agg(layer)
      val wall = s.seconds
      val busy = a.runMs / 1e3
      val (rows, bytes, files) = layer match {
        case "load" =>
          ((load.nodeElems + load.edgeElems).toDouble, load.statementBytes / 1e6,
            loadFlags(work).toDouble)
        case _ =>
          (a.outRecords.toDouble, a.outBytes / 1e6,
            p.outputs.getOrElse(layer, Nil).map(d => Fs.dataFiles(d).size).sum.toDouble)
      }
      out ++= Seq(
        "wall_s" -> wall, "self_s" -> tracer.spans.selfSeconds(s),
        "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
        "busy_s" -> busy, "cpu_s" -> a.cpuNs / 1e9,
        "cores_busy" -> (if (wall > 0) busy / (wall * cores) else 0.0),
        "shuffle_write_mb" -> a.shuffleWriteBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
        "peak_exec_mem_mb" -> a.peakExecBytes / 1e6,
        "rows_out" -> rows, "bytes_out_mb" -> bytes, "files_out" -> files
      ).map { case (k, v) => s"$layer.$k" -> v }
    }
    val m = out.result()
    val triples = m.getOrElse("map.rows_out", 0.0)
    val elements = m.getOrElse("pg.rows_out", 0.0)
    m ++ Map(
      "map.triples" -> triples,
      "pg.kvs_per_element" -> (if (elements > 0) triples / elements else 0.0),
      "load.batches" -> (load.nodeBatches + load.edgeBatches).toDouble,
      // the counting transport never raises a transient error, so the
      // loader has nothing to retry
      "load.retries" -> 0.0,
      "load.statement_mb" -> load.statementBytes / 1e6,
      "load.transport_s" -> load.transportS)
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(delete) finally s.close()
      }
      Files.delete(p)
    }

  /** Data files of a Spark output directory (no markers, no checksums). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList
        .filter(f => f.getFileName.toString.startsWith("part-")).sorted
      finally s.close()
    }
}
