package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.LinkedHashMap

/** Every metric of one run, by name, with its unit. Written to
  * `record.json`; the command line picks the contracted metrics out of
  * it. A latency carries its sample count, and a tail the percentile it
  * is. */
final class Record {
  private val metrics = LinkedHashMap.empty[String, String]
  private val fields = LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String, extra: String = ""): Unit =
    metrics(name) = s"""{"value":${num(value)},"unit":"$unit"$extra}"""

  def put(name: String, value: String, raw: Boolean = false): Unit =
    fields(name) = if (raw) value else Run.jsonString(value)

  /** Median and tail of a latency sample, a failed request counting as
    * infinite (written as null). The tail is the highest whole percentile
    * with at least ten samples above it; with ten samples or fewer there
    * is none, and only the median is recorded. */
  def latency(p50Name: String, tailName: String, ms: Seq[Double]): Unit = {
    val n = ms.size
    metric(p50Name, Run.median(ms), "ms",
      s""","samples":$n,"each":${ms.map(x => num(math.rint(x * 10) / 10)).mkString("[", ",", "]")}""")
    if (n > 10) {
      val s = ms.sorted
      val pct = (100L * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      metric(tailName, s(rank - 1), "ms", s""","samples":$n,"percentile":$pct""")
    }
  }

  def write(dir: Path, attempted: Long, failed: Int, traced: Boolean): Unit = {
    val body = (fields.map { case (k, v) => s""""$k":$v""" } ++ Seq(
      s""""traced":$traced""", s""""attempted":$attempted""", s""""failed":$failed""",
      s""""correct":${failed == 0}""",
      metrics.map { case (k, v) => s""""$k":$v""" }.mkString(""""metrics":{""", ",\n", "}")))
      .mkString("{", ",\n", "}\n")
    Files.write(dir.resolve("record.json"), body.getBytes("UTF-8"))
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
}
