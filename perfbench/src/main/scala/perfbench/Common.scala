package perfbench

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.pipeline.PipelineConfig
import graft.sink.UmlsExportConfig

/** The SparkSession exactly as `graft.UmlsExportMain` builds it:
  * `local[<cores>]`, shuffle partitions `max(cores, 4)`, AQE on. */
object Session {
  def build(app: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The export arguments both benchmark mains take, in `UmlsExportMain`'s
  * order: `<sourceDir> <umls.conf> <outDir> <umlsVersion>`. Every flag is
  * left at its CLI default (sequential, direct source, streamed writer). */
final case class ExportArgs(source: String, conf: String, out: String,
    version: String) {
  def exportConf: UmlsExportConfig = UmlsExportConfig(umlsVersion = version)

  def pipelineConfig(outDir: String): PipelineConfig = PipelineConfig(
    outputDir = outDir, workDir = s"$outDir/.state", exportConf = exportConf)
}

object ExportArgs {
  def parse(args: Array[String]): ExportArgs = {
    require(args.length == 4,
      "usage: <sourceDir> <umls.conf> <outDir> <umlsVersion>")
    ExportArgs(args(0), args(1), args(2), args(3))
  }
}

/** Process-level probes read at the edges of a timed export. */
object Proc {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process, all threads. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def epochSeconds: Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }
}

/** Minimal JSON writing for the one-line results the mains print. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
