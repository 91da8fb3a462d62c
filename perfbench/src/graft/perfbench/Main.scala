package graft.perfbench

import java.nio.file.{Files, Paths}

/** Child-JVM entry of the benchmark (one fresh JVM per run, started by
  * `perfbench/run.py`):
  *
  * {{{
  *   graft.perfbench.Main workload seed seconds trace work coresN cores4N scale
  * }}}
  *
  * Writes the raw run record to `work/result.json`; the launcher turns it
  * into the reported metrics and checks the digests.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, coresN: Int,
                        cores4N: Int, scale: String) {
    /** Inputs come in a fixed number of seed variants, each with
      * recorded digests (see `expected/digests.json`).
      */
    def variant: Int = Math.floorMod(seed, Main.variants.toLong).toInt
  }

  val variants = 4

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${Probe.sinceJvmStart()}%.1f s] $msg")

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, coresN, cores4N, scale) = argv
    val a = Args(workload, seed.toLong, seconds.toDouble, trace == "1", work,
      coresN.toInt, cores4N.toInt, scale)
    val result = workload match {
      case "crawl_steady" => CrawlBench.run(a)
      case "analytics" => AnalyticsBench.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(s"$work/result.json"),
      Json.render(result ++ Map("variant" -> a.variant)))
  }
}
