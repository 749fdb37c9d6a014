package perfbench

import graft.pipeline.UmlsPipeline
import graft.sources.{ConfManifest, UmlsSource}

/** One untraced export, the way `graft.UmlsExportMain` runs it, in a
  * fresh JVM: build the session, then time
  * `new UmlsPipeline(spark, UmlsSource.rrf(..), manifest, config).run()`.
  *
  * Prints one JSON line: the epoch second the session was ready (the
  * caller subtracts its own launch time to get set-up time), the export's
  * wall and process-CPU seconds, peak RSS, and one report per SAB.
  *
  * Usage: `ExportRun <sourceDir> <umls.conf> <outDir> <umlsVersion>`
  */
object ExportRun {
  def main(args: Array[String]): Unit = {
    val a = ExportArgs.parse(args)
    val spark = Session.build("perfbench-export")
    val ready = Proc.epochSeconds
    try {
      val cpu0 = Proc.cpuSeconds
      val t0 = System.nanoTime()
      val reports = new UmlsPipeline(spark, UmlsSource.rrf(spark, a.source),
        ConfManifest.parseFile(a.conf), a.pipelineConfig(a.out)).run()
      val exportS = (System.nanoTime() - t0) / 1e9
      val cpuS = Proc.cpuSeconds - cpu0
      val rss = Proc.peakRssMb
      val sabs = reports.map { r =>
        Json.obj("sab" -> Json.str(r.sab), "terms" -> r.terms.toString,
          "errors" -> r.errors.toString, "skipped" -> r.skipped.toString)
      }.mkString("[", ", ", "]")
      println(Json.obj("ready_epoch_s" -> Json.num(ready),
        "export_s" -> Json.num(exportS), "cpu_s" -> Json.num(cpuS),
        "peak_rss_mb" -> Json.num(rss), "reports" -> sabs))
    } finally spark.stop()
  }
}

/** Set-up only: build the session the export would build, print the epoch
  * second it was ready, stop. Gives a run more set-up samples than it has
  * exports. */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.build("perfbench-setup")
    val ready = Proc.epochSeconds
    try println(Json.obj("ready_epoch_s" -> Json.num(ready)))
    finally spark.stop()
  }
}
