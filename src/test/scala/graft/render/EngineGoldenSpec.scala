package graft.render

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.{HostileUmls, TestSpark}
import graft.assemble.PropertyDocs
import graft.model.OntologyJob
import graft.sink.{OntologyWriter, UmlsExportConfig}

/** Whole-file byte gates that need no reference checkout: the production
  * writer's complete Turtle output for the fuzz seeds the reference
  * differential runs whole-file (hostile seeds 1-3, structure seeds 1-4),
  * frozen under `src/test/resources/golden/engine/`.
  *
  * These goldens are ENGINE-generated, not reference-generated. The
  * engine was byte-equal to the reference on exactly these seeds whenever
  * [[ReferenceDifferentialSpec]] could run; these files keep that output
  * pinned where it cannot. [[graft.tools.GoldenGen]] regenerates them.
  */
object EngineGoldens {

  /** (golden file name, fixture) for every frozen seed. */
  def cases: Seq[(String, () => Map[String, DataFrame])] =
    (1 to 3).map(s => s"hostile-seed$s.ttl" ->
      (() => HostileUmls.randomFixture(s))) ++
    (1 to 4).map(s => s"structure-seed$s.ttl" ->
      (() => HostileUmls.structureFixture(s)))

  /** The full production write of one fixture's `RND` ontology — real
    * property docs and semantic types, as the whole-file differential
    * invokes it. */
  def export(spark: SparkSession, fixture: Map[String, DataFrame]): String = {
    val source = TestSpark.fixedSource(fixture)
    val conf = UmlsExportConfig(umlsVersion = "2025AA")
    val sem = SemanticTypes.generate(source.table("MRSTY"),
      conf.baseUri + "STY/", withRoots = false)
    val out = Files.createTempDirectory("engine-golden").resolve("RND.ttl")
    OntologyWriter.write(spark, source,
      OntologyJob("RND", None, "RND.ttl", loadOnCuis = false), conf,
      out.toString, PropertyDocs.collectMap(source.table("MRDOC")), sem)
    new String(Files.readAllBytes(out), StandardCharsets.UTF_8)
  }
}

class EngineGoldenSpec extends AnyFunSuite {

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/engine/$name")
    assert(in != null, s"missing golden $name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  test("whole-file exports of the hostile and structure fuzz seeds are " +
    "byte-equal to the committed engine goldens") {
    EngineGoldens.cases.foreach { case (name, fixture) =>
      assert(EngineGoldens.export(TestSpark.spark, fixture()) ===
        golden(name), name)
    }
  }
}
