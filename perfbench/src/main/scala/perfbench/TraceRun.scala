package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.assemble.{ConceptAssembler, Mrsab, PropertyDocs}
import graft.functions.TurtleFunctions.mapLang
import graft.model.{AttOut, OntologyJob, RelOut, TermProperty, UmlsConceptRow}
import graft.pipeline.UmlsPipeline
import graft.render.{ConceptRenderer, OntologyRender, RenderConfig, SemanticTypes}
import graft.sink.{OntologyWriter, WriteReport}
import graft.sources.{ConfManifest, UmlsSource}

/** Task counters summed per span. Spark delivers listener events
  * asynchronously; `SparkContext.stop()` drains them, so totals are read
  * after the session stops. */
final class SpanAgg {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var maxTaskMs = 0L
  var inBytes = 0L; var inRecords = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
}

/** Attributes every job to the span whose id the submitting thread carried
  * in the `perfbench.span` local property, and every task to its stage's
  * job. */
final class SpanListener extends SparkListener {
  val aggs = new ConcurrentHashMap[Int, SpanAgg]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def agg(span: Int) = aggs.computeIfAbsent(span, _ => new SpanAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    agg(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageSpan.getOrDefault(e.stageId, 0))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }
}

/** One recorded span; `extra` holds span-specific numbers (bytes the
  * sink's cut cached, JVM GC/JIT deltas). */
final case class SpanRec(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, extra: Map[String, Double])

/** In-memory span recorder. A span tags the Spark jobs its body submits
  * (local property [[Tracer.Key]]) so the listener can sum their task
  * counters; spans are written out once, at the end of the run. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private val extras = mutable.Map.empty[Int, Map[String, Double]]

  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, prev)
      recs.synchronized { recs += SpanRec(id, name, parent, t0, t1, Map.empty) }
    }
  }

  /** Attach numbers to span `id` (open or closed). */
  def annotate(id: Int, kv: (String, Double)*): Unit = recs.synchronized {
    extras(id) = extras.getOrElse(id, Map.empty) ++ kv
  }

  def spans: Seq[SpanRec] = recs.synchronized(
    recs.toList.map(r => r.copy(extra = extras.getOrElse(r.id, Map.empty))))
}

object Tracer { val Key = "perfbench.span" }

/** The traced export: one process that replays the export through the
  * public calls `UmlsPipeline.run()` makes, with a span around each, and
  * then splits every SAB's write into layers by timing nested prefixes.
  *
  * Spans `full_cold` and `full_warm` each replay the pipeline: R2 source
  * probe, `SemanticTypes.generate`, `PropertyDocs.collectMap`, one
  * `OntologyWriter.write` per SAB, the R2 output probe. The cold replay
  * runs first, in the state the CLI runs in. The JIT keeps compiling well
  * after it, so two warm replays bracket the layers phase and the layers
  * are checked against their mean.
  *
  * Span `layers` takes one SAB at a time and times nested prefixes of its
  * write, each on a fresh `ConceptAssembler`:
  *   1. `p1_scan`: the SAB/LAT/SUPPRESS-filtered scans and the driver-side
  *      lookups the write makes (MRSAB record, SRC roots, MRRANK);
  *   2. `p2_assemble`: `conceptsColumnsTry`, forced into a no-op sink;
  *   3. `p3_render`: step 2 decoded to `UmlsConceptRow` and rendered with
  *      `ConceptRenderer.render`, no-op sink;
  *   4. `p4_write`: the full `OntologyWriter.write`.
  * `p4_write` runs first, so that, like a write of a warm replay, it
  * follows other work rather than three scans of its own tables. A
  * layer's self time is its prefix minus the one before;
  * `run.py` does that arithmetic from the span file this writes.
  *
  * Usage: `TraceRun <sourceDir> <umls.conf> <outDir> <umlsVersion>
  * <spans.json>`
  */
object TraceRun {

  /** Mirror of the sink's finished-row shape (columns of
    * `ConceptAssembler.conceptsColumnsTry`). */
  final case class Finished(
      code: String, prefLabel: String,
      altLabels: Seq[String], defs: Seq[String], cuis: Seq[String],
      tuis: Seq[String], atts: Seq[AttOut], rels: Seq[RelOut],
      isRoot: Boolean, treeParents: Seq[String], __finish_err: String)

  final case class Rendered(code: String, text: String, dupLiteral: Long,
      dupObject: Long, dupSubclass: Long, properties: Seq[TermProperty],
      error: String)

  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: <sourceDir> <umls.conf> <outDir> <umlsVersion> <spans.json>")
    val spansOut = args(4)
    val a = ExportArgs.parse(args.take(4))
    val spark = Session.build("perfbench-trace")
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val src = UmlsSource.rrf(spark, a.source)
    val jobs = ConfManifest.parseFile(a.conf)

    val conf = a.exportConf
    val styUrl = conf.baseUri + "STY/"

    /** The pipeline's steps, one span each, under span `name`; output in
      * `<outDir>/<name>`. */
    def fullPath(name: String): Seq[WriteReport] =
      tracer.span(name, 0) { full =>
        val (gc0, jit0) = jvmTimes
        val out = s"${a.out}/$name"
        try {
          val pipeline = new UmlsPipeline(spark, src, jobs,
            a.pipelineConfig(out))
          tracer.span("validate_source", full)(_ => pipeline.validateSource())
          val semTypes = tracer.span("semantic_types", full) { _ =>
            val mrsty = src.table("MRSTY")
            val withRoots = SemanticTypes.generate(mrsty, styUrl, withRoots = true)
            Files.write(Paths.get(s"$out/umls_semantictypes.ttl"),
              (OntologyRender.Prefixes + withRoots)
                .getBytes(StandardCharsets.UTF_8))
            SemanticTypes.generate(mrsty, styUrl, withRoots = false)
          }
          val docs = tracer.span("property_docs", full)(_ =>
            PropertyDocs.collectMap(src.table("MRDOC")))
          val reports = jobs.map { job =>
            tracer.span(s"write:${job.sab}", full) { _ =>
              OntologyWriter.write(spark, src, job, conf,
                s"$out/${job.outFile}", docs, semTypes)
            }
          }
          tracer.span("validate_output", full)(_ =>
            pipeline.validateOutput(reports))
          reports
        } finally {
          val (gc1, jit1) = jvmTimes
          tracer.annotate(full, "jvm_gc_s" -> (gc1 - gc0),
            "jvm_jit_s" -> (jit1 - jit0))
        }
      }

    var reports: Seq[WriteReport] = Nil
    var failure: Option[Throwable] = None
    try {
      // Cold, like the CLI run: compared with the untraced export time.
      reports = fullPath("full_cold")
      fullPath("full_warm")

      // One SAB at a time, so each layer's self time is uncontended.
      tracer.span("layers", 0) { layers =>
        val docs = PropertyDocs.collectMap(src.table("MRDOC"))
        val semTypes = SemanticTypes.generate(src.table("MRSTY"), styUrl,
          withRoots = false)
        jobs.foreach { job =>
          tracer.span(s"sab:${job.sab}", layers) { sabSpan =>
            tracer.span("p4_write", sabSpan) { id =>
              val known = cachedRdds(sc)
              OntologyWriter.write(spark, src, job, conf,
                s"${a.out}/layers/${job.outFile}", docs, semTypes)
              tracer.annotate(id, "new_cached_bytes" -> newCachedBytes(sc, known))
            }
            tracer.span("p1_scan", sabSpan)(_ =>
              prefix(spark, src, job, conf.baseUri, 1))
            tracer.span("p2_assemble", sabSpan)(_ =>
              prefix(spark, src, job, conf.baseUri, 2))
            tracer.span("p3_render", sabSpan)(_ =>
              prefix(spark, src, job, conf.baseUri, 3))
          }
        }
      }

      fullPath("full_warm")
    } catch { case t: Throwable => failure = Some(t) }
    finally {
      spark.stop() // drains the listener bus
    }
    Files.write(Paths.get(spansOut),
      spansJson(tracer.spans, listener, reports, failure)
        .getBytes(StandardCharsets.UTF_8))
    failure.foreach(t => throw t)
    println(Json.obj("spans" -> Json.str(spansOut)))
  }

  /** Run the write of `job` up to layer `level` (1-3) into a no-op sink,
    * through the same public calls `OntologyWriter.write` makes. */
  private def prefix(spark: SparkSession, src: UmlsSource, job: OntologyJob,
      baseUri: String, level: Int): Unit = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val rec = Mrsab.orEmpty(Mrsab.record(src, job.sab))
    val lat = rec.lat.getOrElse(throw new IllegalStateException(
      s"No LAT found in MRSAB for ontology ${job.sab}")).toLowerCase
    val asm = new ConceptAssembler(spark, src, job.sab,
      loadOnCuis = job.loadOnCuis, lang = lat)
    try level match {
      case 1 =>
        noop(asm.atoms)
        noop(asm.rels)
        noop(src.table("MRDEF").filter(col("SAB") === job.sab))
        noop(src.table("MRSAT").filter(col("SAB") === job.sab &&
          col("CODE").isNotNull))
        noop(src.table("MRSTY"))
        asm.cuiRoots
        asm.rankByTty
      case _ =>
        val hasTree = job.sab == "MSH" && !asm.meshTree.isEmpty
        val finished = asm.conceptsColumnsTry(strict = false)
        if (level == 2) noop(finished)
        else {
          val cfg = RenderConfig(
            ns = baseUri + job.altUri.getOrElse(job.sab) + "/",
            lang = mapLang(lat),
            hierarchy = true, hasTree = hasTree)
          noop(finished.as(Encoders.product[Finished]).map { f =>
            if (f.__finish_err != null)
              Rendered(f.code, null, 0, 0, 0, Nil, f.__finish_err)
            else Try(ConceptRenderer.render(UmlsConceptRow(f.code,
                f.prefLabel, f.altLabels, f.defs, f.cuis, f.tuis, f.atts,
                f.rels, f.isRoot, f.treeParents), cfg)) match {
              case Success(t) => Rendered(t.code, t.text, t.dupLiteral,
                t.dupObject, t.dupSubclass, t.properties, null)
              case Failure(e) => Rendered(f.code, null, 0, 0, 0, Nil,
                e.toString)
            }
          }(Encoders.product[Rendered]).toDF())
        }
    } finally asm.unpersistShared()
  }

  private def cachedRdds(sc: SparkContext): Set[Int] =
    sc.getRDDStorageInfo.map(_.id).toSet

  /** Bytes held by RDD blocks `Materialize.cut` cached since `known` was
    * taken: `localCheckpoint` RDDs, which Spark names after their class
    * (e.g. `MapPartitionsRDD`), unlike Dataset caches, named after their
    * plan. */
  private def newCachedBytes(sc: SparkContext, known: Set[Int]): Double =
    sc.getRDDStorageInfo
      .filter(r => !known.contains(r.id) && r.name.matches("[A-Za-z]+RDD"))
      .map(r => r.memSize + r.diskSize).sum.toDouble

  private def jvmTimes: (Double, Double) = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    (gc, jit)
  }

  private def spansJson(spans: Seq[SpanRec], l: SpanListener,
      reports: Seq[WriteReport], failure: Option[Throwable]): String = {
    val spanLines = spans.sortBy(_.id).map { s =>
      val a = Option(l.aggs.get(s.id)).getOrElse(new SpanAgg)
      val extra = s.extra.map { case (k, v) => k -> Json.num(v) }.toSeq
      Json.obj((Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString,
        "start_s" -> Json.num(s.startNs / 1e9),
        "end_s" -> Json.num(s.endNs / 1e9),
        "jobs" -> a.jobs.toString, "tasks" -> a.tasks.toString,
        "cpu_s" -> Json.num(a.cpuNs / 1e9), "run_s" -> Json.num(a.runMs / 1e3),
        "gc_s" -> Json.num(a.gcMs / 1e3),
        "max_task_s" -> Json.num(a.maxTaskMs / 1e3),
        "input_bytes" -> a.inBytes.toString,
        "input_records" -> a.inRecords.toString,
        "shuffle_read_bytes" -> a.shuffleRead.toString,
        "shuffle_write_bytes" -> a.shuffleWrite.toString,
        "spill_bytes" -> a.spill.toString) ++ extra): _*)
    }
    val reps = reports.map { r =>
      Json.obj("sab" -> Json.str(r.sab), "terms" -> r.terms.toString,
        "errors" -> r.errors.toString)
    }
    Json.obj(
      "spans" -> spanLines.mkString("[\n", ",\n", "\n]"),
      "reports" -> reps.mkString("[", ", ", "]"),
      "error" -> failure.map(t => Json.str(t.toString)).getOrElse("null"))
  }
}
