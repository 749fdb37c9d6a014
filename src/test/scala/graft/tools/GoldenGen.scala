package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.TestSpark
import graft.model.OntologyJob
import graft.pipeline.{PipelineConfig, UmlsPipeline}
import graft.render.EngineGoldens
import graft.sink.UmlsExportConfig
import graft.sources.UmlsSource

/** Regenerates the committed Turtle goldens from the production pipeline
  * over the committed parquet fixtures — the same invocation
  * `RrfSourceSpec."parquet export matches the committed golden files"`
  * replays — plus the engine whole-file goldens `EngineGoldenSpec`
  * replays (`golden/engine/`). Run after any intentional renderer/writer
  * behavior change that `ReferenceDifferentialSpec` has first proven
  * byte-equal to the reference implementation:
  *
  *   sbt 'Test/runMain graft.tools.GoldenGen'
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("graft-golden-gen").toString
    val jobs = Seq(
      OntologyJob("FIX", None, "fix.ttl", loadOnCuis = false),
      OntologyJob("CFX", None, "cfx.ttl", loadOnCuis = true),
      OntologyJob("MSH", None, "msh.ttl", loadOnCuis = false))
    val config = PipelineConfig(out, s"$out/.state",
      UmlsExportConfig(umlsVersion = "2025AA"))
    new UmlsPipeline(spark, UmlsSource.parquet(spark, "fixtures/umls"),
      jobs, config).run()
    val dst = "src/test/resources/golden"
    Seq("fix.ttl", "cfx.ttl", "msh.ttl", "umls_semantictypes.ttl")
      .foreach { f =>
        Files.copy(Paths.get(s"$out/$f"), Paths.get(s"$dst/$f"),
          StandardCopyOption.REPLACE_EXISTING)
        println(s"[golden] rewrote $dst/$f")
      }
    EngineGoldens.cases.foreach { case (name, fixture) =>
      val ttl = EngineGoldens.export(spark, fixture())
      Files.write(Paths.get(s"$dst/engine/$name"),
        ttl.getBytes(StandardCharsets.UTF_8))
      println(s"[golden] rewrote $dst/engine/$name")
    }
    spark.stop()
  }
}
