package graft.sink

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.assemble.{ConceptAssembler, Mrsab, PropertyDoc}
import graft.functions.TurtleFunctions.mapLang
import graft.model.{OntologyJob, TermProperty}
import graft.operators.Materialize
import graft.render.{ConceptRenderer, OntologyRender, RenderConfig}
import graft.sources.UmlsSource

/** Export configuration mirroring `conf_sample.py:1-43`. */
final case class UmlsExportConfig(
    umlsVersion: String,
    baseUri: String = "http://purl.bioontology.org/ontology/",
    dedupeTriples: Boolean = true,
    includeSemanticTypes: Boolean = true,
    processOnlyCurrentVersion: Boolean = false,
    strict: Boolean = false,
    /** Executors write sorted text parts, the driver concatenates bytes —
      * the multi-GB-per-file scale path (vs row-streaming the driver). */
    distributedWrite: Boolean = false)

/** Per-ontology write outcome: term/error counts (S6) and the duplicate-
  * triple counters (A11, `umls2rdf.py:763-787`). `skipped` alone means the
  * F18 version gate declined to produce the file (nothing to validate);
  * `skipped && resumed` means a previous run produced it — the output
  * check must still verify the file survives on disk. */
final case class WriteReport(
    sab: String, path: String, terms: Long, errors: Long,
    dupLiteral: Long, dupObject: Long, dupSubclass: Long,
    skipped: Boolean = false,
    resumed: Boolean = false)

/** One rendered-or-failed term (S6, `umls2rdf.py:764-771`): exactly one of
  * `text`/`error` is set. */
private[sink] final case class RenderResult(
    code: String, text: String, dupLiteral: Long, dupObject: Long,
    dupSubclass: Long, properties: Seq[TermProperty], error: String)

/** The columnar-finished concept row the sink consumes (r20): the
  * [[graft.assemble.ConceptAssembler.conceptsColumnsTry]] output —
  * [[graft.model.UmlsConceptRow]] fields plus the per-term finishing
  * error (`__finish_err`, NULL on success). Decoding this instead of
  * the grouped [[graft.assemble.ConceptAssembler.assembled]] rows keeps
  * prefLabel selection and the distinct/sort passes inside whole-stage
  * codegen and skips materializing ~30 atom structs per class. */
private[sink] final case class FinishedRow(
    code: String, prefLabel: String,
    altLabels: Seq[String], defs: Seq[String], cuis: Seq[String],
    tuis: Seq[String], atts: Seq[graft.model.AttOut],
    rels: Seq[graft.model.RelOut], isRoot: Boolean,
    treeParents: Seq[String], __finish_err: String) {
  def toConceptRow: graft.model.UmlsConceptRow =
    graft.model.UmlsConceptRow(code, prefLabel, altLabels, defs, cuis,
      tuis, atts, rels, isRoot, treeParents)
}

/** The Turtle file sink (S5, `umls2rdf.py:745-789,888-893`): one ordered
  * UTF-8 file per ontology — prefixes, MRSAB-fed header, class terms,
  * property block, semantic types.
  *
  * Spark-first shape: assembly+render run distributed (narrow map over the
  * assembled concepts); the driver streams the ordered result through
  * `toLocalIterator` into a single file, which is the output contract (one
  * `.ttl` per SAB). Term order is `orderBy(code)` — the reference emits
  * dict-insertion order, unreproducible distributed (SURVEY.md §7.1.6);
  * intra-term bytes are reference-equal.
  */
object OntologyWriter {

  /** Max (code, error) pairs the distributed writer ships to the driver
    * for the S6 error log; the total error COUNT stays exact past it. */
  private[sink] val ErrorLogCap = 1000

  def write(
      spark: SparkSession,
      source: UmlsSource,
      job: OntologyJob,
      conf: UmlsExportConfig,
      outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport = {

    val ns = conf.baseUri + job.altUri.getOrElse(job.sab) + "/"
    val rec = Mrsab.orEmpty(Mrsab.record(source, job.sab))

    // F18 version gate (`umls2rdf.py:881-887`).
    if (conf.processOnlyCurrentVersion && !rec.isCurrentVersion(conf.umlsVersion))
      return WriteReport(job.sab, outFile, 0, 0, 0, 0, 0, skipped = true)

    // MRSAB.LAT is mandatory (`umls2rdf.py:594-597`).
    val lat = rec.lat.getOrElse(throw new IllegalStateException(
      s"No LAT found in MRSAB for ontology ${job.sab}")).toLowerCase

    val assembler = new ConceptAssembler(spark, source, job.sab,
      loadOnCuis = job.loadOnCuis, lang = lat)
    // The reference's tree checks are TRUTHINESS tests (`if tree:`,
    // `umls2rdf.py:411,422,437`) — an MSH export whose D-tree query
    // returns zero edges renders tree-less (no MN-root rule). One
    // limit(1) probe per MSH export reproduces that.
    val hasTree = job.sab == "MSH" && !assembler.meshTree.isEmpty
    val cfg = RenderConfig(
      ns = ns,
      lang = mapLang(lat, conf.strict),
      // The reference's main loop INTENDS hierarchy=(sab != "MSH")
      // (`umls2rdf.py:889`), but `write_into` never forwards its
      // hierarchy parameter to `toRDF` (`umls2rdf.py:745,766`), so the
      // actual rendering always runs hierarchy=True and MSH's CHD
      // suppression comes solely from the tree (`umls2rdf.py:437-448`).
      // Proven byte-for-byte by ReferenceDifferentialSpec: with
      // hierarchy=false the engine emitted a `<ns/CHD>` OBJECT triple
      // for MSH CHD rels where the reference emits nothing.
      hierarchy = true,
      hasTree = hasTree,
      dedupe = conf.dedupeTriples,
      styUrl = conf.baseUri + "STY/")

    // S6 per-term error tolerance (r20 shape): finishing failures ride
    // the columnar plan as `__finish_err` (the failure message);
    // render stays under Try so one bad term cannot sink the file.
    // Consuming conceptsColumnsTry instead of the grouped assembled()
    // rows keeps prefLabel selection and every distinct/sort inside
    // whole-stage codegen — the typed decode (~30 atom structs per
    // class) + Scala finish was the export's single largest per-row
    // cost (OPTIMIZATION_r20.md).
    val renderOne: FinishedRow => RenderResult = { f =>
      if (f.__finish_err != null)
        RenderResult(f.code, null, 0, 0, 0, Nil,
          s"IllegalStateException: ${f.__finish_err}")
      else Try(ConceptRenderer.render(f.toConceptRow, cfg)) match {
        case Success(t) =>
          RenderResult(t.code, t.text, t.dupLiteral, t.dupObject,
            t.dupSubclass, t.properties, null)
        case Failure(e) =>
          RenderResult(f.code, null, 0, 0, 0, Nil,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // Render ONCE (r20, guide §1.2): the global orderBy is a range
    // exchange whose partitioner SAMPLES its child — with render as a
    // live subtree below the sort, the whole assemble+finish+render
    // map executed twice per export (once for the sampling job, once
    // for the real shuffle; 40k render calls for a 20k-term export).
    // Cutting lineage on the RENDERED rows materializes the per-term
    // path exactly once; the sampling pass and the shuffle then
    // re-scan flat (code, text) blocks. (The dual — sorting the
    // assembled rows and rendering above the exchange — measured
    // WORSE: the nested atom/rel struct rows cost more to shuffle,
    // sort and re-decode than the render pass saved; A/B in
    // OPTIMIZATION_r20.md.) Blocks are output-sized and MEMORY_AND_DISK.
    // They are NOT freed when the export returns: localCheckpoint
    // blocks go when the driver garbage-collects the checkpointed RDD
    // (the ContextCleaner acts on GC), and reliable-checkpoint files
    // (the elastic-cluster knob, see Materialize) stay on the
    // checkpoint store unless
    // `spark.cleaner.referenceTracking.cleanCheckpoints` is set.
    val rendered = Materialize.cut(
      assembler.conceptsColumnsTry(conf.strict)
        .as(Encoders.product[FinishedRow])
        .map(renderOne)(Encoders.product[RenderResult]).toDF())
      .as(Encoders.product[RenderResult])
      .orderBy("code")

    val parent = new File(outFile).getParentFile
    if (parent != null) parent.mkdirs()
    try {
      if (conf.distributedWrite)
        writeDistributed(spark, rendered, job, rec, ns, conf,
          outFile, propertyDocs, semanticTypes)
      else
        writeStreamed(rendered, job, rec, ns, conf, outFile,
          propertyDocs, semanticTypes)
    } finally assembler.unpersistShared()
  }

  /** Driver-streamed write: `toLocalIterator` over the ordered terms.
    * Simple, but the driver touches every ROW — fine up to millions of
    * terms, a bottleneck for a multi-GB single-SAB file. */
  private def writeStreamed(
      rendered: org.apache.spark.sql.Dataset[RenderResult],
      job: OntologyJob, rec: graft.assemble.MrsabRecord, ns: String,
      conf: UmlsExportConfig, outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(outFile), StandardCharsets.UTF_8), 1 << 20)
    var terms = 0L; var errors = 0L
    var dupL = 0L; var dupO = 0L; var dupS = 0L
    val props = mutable.LinkedHashMap.empty[String, String]
    try {
      out.write(OntologyRender.Prefixes)
      out.write(OntologyRender.header(ns, job.sab, rec, conf.umlsVersion))
      val it = rendered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        if (r.error != null) {
          errors += 1
          System.err.println(s"ERROR dumping term ${r.code}: ${r.error}")
        } else {
          out.write(r.text)
          terms += 1
          dupL += r.dupLiteral; dupO += r.dupObject; dupS += r.dupSubclass
          r.properties.foreach(p =>
            if (!props.contains(p.uri)) props(p.uri) = p.att)
        }
      }
      out.write(OntologyRender.propertyBlock(
        props.iterator.map { case (u, a) => TermProperty(u, a) }.toSeq,
        propertyDocs))
      if (conf.includeSemanticTypes) {
        out.write(semanticTypes)
        out.write("\n")
      }
    } finally out.close()
    WriteReport(job.sab, outFile, terms, errors, dupL, dupO, dupS)
  }

  /** Distributed write — the 100 TB shape: executors write the globally
    * `orderBy(code)`-sorted term text as parts (a global sort yields
    * range-partitioned parts whose name order IS the code order); the
    * driver never iterates rows — counters, error log lines and the
    * property set ride ACCUMULATORS on the write job itself, so the
    * whole export is ONE pass over the rendered terms (no persist of
    * the full text, no second/third aggregation action) — and the
    * driver then CONCATENATES part bytes into the single-file contract.
    * Byte-identical to [[writeStreamed]] (RrfSourceSpec/
    * OntologyWriterSpec pin this).
    *
    * Exactly-once counters: the accumulator updates run in the map
    * AFTER the global sort, i.e. inside the write job's RESULT stage —
    * Spark applies a result task's accumulator updates once regardless
    * of retries/speculation. (The same map placed before the sort would
    * live in a shuffle-map stage, where stage retries double-count.) */
  private def writeDistributed(
      spark: SparkSession,
      rendered: org.apache.spark.sql.Dataset[RenderResult],
      job: OntologyJob, rec: graft.assemble.MrsabRecord, ns: String,
      conf: UmlsExportConfig, outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport = {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    val terms = sc.longAccumulator("graft.terms")
    val errors = sc.longAccumulator("graft.errors")
    val dupL = sc.longAccumulator("graft.dupLiteral")
    val dupO = sc.longAccumulator("graft.dupObject")
    val dupS = sc.longAccumulator("graft.dupSubclass")
    val errRows = new CappedErrorAccumulator(ErrorLogCap)
    sc.register(errRows, "graft.errRows")
    val propAcc = new MinMapAccumulator
    sc.register(propAcc, "graft.properties")

    // The text sink appends one '\n' per row; term text already ends
    // with '\n', so strip one to keep bytes identical to the streamed
    // writer. Error rows survive the sort so the result-stage map can
    // count them, then drop out before the text projection.
    val partsDir = outFile + ".parts"
    rendered
      .map { r =>
        if (r.error != null) {
          errors.add(1L); errRows.add((r.code, r.error))
        } else {
          terms.add(1L)
          dupL.add(r.dupLiteral); dupO.add(r.dupObject)
          dupS.add(r.dupSubclass)
          r.properties.foreach(p => propAcc.add((p.uri, p.att)))
        }
        r
      }(Encoders.product[RenderResult])
      .filter(col("error").isNull)
      .select(expr("substring(text, 1, length(text) - 1)").as("value"))
      .write.mode("overwrite").text(partsDir)

    val (errKept, errTotal) = errRows.value
    errKept.foreach { t =>
      System.err.println(s"ERROR dumping term ${t._1}: ${t._2}")
    }
    if (errTotal > errKept.size)
      System.err.println(s"... and ${errTotal - errKept.size} more term " +
        s"errors (log capped at ${errKept.size}; full count in the report)")
    // The property block sorts by URI, so first-seen order is
    // irrelevant; the min(att) merge makes the pick deterministic (att
    // and uri are 1:1 — the uri is built FROM the fragment).
    val props = propAcc.value
      .map { case (uri, att) => TermProperty(uri, att) }.toSeq

    val out = new java.io.FileOutputStream(outFile)
    try {
      def w(s: String): Unit =
        out.write(s.getBytes(StandardCharsets.UTF_8))
      w(OntologyRender.Prefixes)
      w(OntologyRender.header(ns, job.sab, rec, conf.umlsVersion))
      val parts = new File(partsDir).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach { f =>
        java.nio.file.Files.copy(f.toPath, out)
      }
      w(OntologyRender.propertyBlock(props, propertyDocs))
      if (conf.includeSemanticTypes) { w(semanticTypes); w("\n") }
    } finally out.close()
    // Clean the intermediate parts (best-effort).
    def rm(f: File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    rm(new File(partsDir))
    WriteReport(job.sab, outFile, terms.value, errors.value,
      dupL.value, dupO.value, dupS.value)
  }
}

/** Capped collection accumulator for the per-term error log: keeps at
  * most `cap` (code, error) pairs plus the EXACT total count, so a
  * pathological export where most terms fail to render (S6
  * catch-and-continue) cannot balloon driver memory — the r9 unbounded
  * collectionAccumulator would have shipped every failing term's
  * message back to the driver. Which `cap` entries survive a
  * distributed run is arbitrary (task merge order); the count is not. */
private[sink] class CappedErrorAccumulator(cap: Int)
    extends org.apache.spark.util.AccumulatorV2[
      (String, String), (Seq[(String, String)], Long)] {
  private val kept =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val nKept = new java.util.concurrent.atomic.AtomicInteger(0)
  private val total = new java.util.concurrent.atomic.AtomicLong(0L)
  override def isZero: Boolean = total.get == 0L
  override def copy(): CappedErrorAccumulator = {
    val c = new CappedErrorAccumulator(cap)
    kept.forEach { t => if (c.nKept.getAndIncrement() < cap) c.kept.add(t) }
    c.total.set(total.get)
    c
  }
  override def reset(): Unit = { kept.clear(); nKept.set(0); total.set(0L) }
  override def add(v: (String, String)): Unit = {
    total.incrementAndGet()
    if (nKept.getAndIncrement() < cap) kept.add(v)
    else nKept.decrementAndGet() // keep the counter from overflowing
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[
      (String, String), (Seq[(String, String)], Long)]): Unit = other match {
    case o: CappedErrorAccumulator =>
      total.addAndGet(o.total.get)
      o.kept.forEach { t =>
        if (nKept.getAndIncrement() < cap) kept.add(t)
        else nKept.decrementAndGet()
      }
    case _ => throw new UnsupportedOperationException(
      s"cannot merge ${other.getClass}")
  }
  override def value: (Seq[(String, String)], Long) = {
    import scala.jdk.CollectionConverters._
    (kept.asScala.toSeq, total.get)
  }
}

/** Accumulator merging (uri → att) pairs with per-key MIN — the
  * deterministic first-seen-equivalent the property block needs (A15),
  * bounded by the ontology's distinct predicate count (small). */
private[sink] class MinMapAccumulator
    extends org.apache.spark.util.AccumulatorV2[
      (String, String), Map[String, String]] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): MinMapAccumulator = {
    val c = new MinMapAccumulator
    m.forEach((k, v) => c.m.put(k, v))
    c
  }
  override def reset(): Unit = m.clear()
  override def add(kv: (String, String)): Unit =
    m.merge(kv._1, kv._2, (a, b) => if (a <= b) a else b)
  override def merge(other: org.apache.spark.util.AccumulatorV2[
      (String, String), Map[String, String]]): Unit =
    other.value.foreach { case (k, v) =>
      m.merge(k, v, (a, b) => if (a <= b) a else b)
    }
  override def value: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }
}
