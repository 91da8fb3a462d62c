package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the child's result file (maps, sequences,
  * strings, numbers, booleans; keys keep insertion order).
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Process and host counters read around timed windows. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Double = System.nanoTime() / 1e9

  /** CPU seconds consumed by this JVM (all threads). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Cumulative GC pause seconds of this JVM. */
  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Host-wide steal seconds from /proc/stat (0 where unavailable). */
  def stealS(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f(0) == "cpu" && f.length > 8) f(8).toLong / 100.0 else 0.0
  } catch { case _: Exception => 0.0 }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Snapshot of (cpu, gc, steal) for window deltas. */
  final case class Counters(cpu: Double, gc: Double, steal: Double) {
    def to(o: Counters): Counters = Counters(o.cpu - cpu, o.gc - gc, o.steal - steal)
  }
  def counters(): Counters = Counters(cpuS(), gcS(), stealS())
}

object Fs {
  def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles.foreach(c => rmrf(c.getPath))
    f.delete()
  }

  def copyDir(src: String, dst: String): Unit = {
    rmrf(dst)
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** (bytes, data files) under `dir`; Spark's checksum and marker files
    * are left out.
    */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f)).toSeq
        .filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }
      (files.map(f => Files.size(f)).sum, files.size.toLong)
    }
  }
}

/** Local Spark sessions of the benchmark: every scratch directory lives
  * under the run's work dir.
  */
object Sessions {
  def open(cores: Int, work: String, aqe: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // crawl waves shuffle O(wave) rows over few partitions, where AQE's
      // per-exchange jobs cost more than its re-planning saves; the
      // analytics workload keeps Spark's default (on)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def close(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
