package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Records every Spark stage and job it sees: per stage its name and
  * call site, the operator scopes of its RDDs, its job group and SQL
  * execution id, its [submission, completion] interval (epoch ms) and the
  * sums of its tasks' executor CPU, GC time and shuffle write bytes.
  * Records live in memory; callers attribute them to layers after the
  * timed window.
  */
class LayerListener extends SparkListener {

  final class Stage(val id: Int, val name: String, val details: String,
                    val scopes: Set[String], val group: String,
                    val execution: String) {
    var start = 0L; var end = 0L
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L
  }

  private val stageById = mutable.LinkedHashMap.empty[Int, Stage]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobSpans += ((t, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("none")
    val s = new Stage(i.stageId, i.name, i.details,
      i.rddInfos.flatMap(_.scope).map(_.name).toSet, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"))
    s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
    stageById(i.stageId) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageById.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageById.get(e.stageId).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def stages: Seq[Stage] = synchronized(stageById.values.toSeq)
  def jobs: Int = synchronized(jobSpans.size)

  /** Seconds of [from, to] (epoch ms) covered by at least one job. */
  def jobCoveredS(from: Long, to: Long): Double =
    Spans.coveredS(synchronized(jobSpans.toSeq), from, to)
}

object Spans {
  /** Seconds of [from, to] (epoch ms) covered by the union of `spans`. */
  def coveredS(spans: Seq[(Long, Long)], from: Long = Long.MinValue,
               to: Long = Long.MaxValue): Double = {
    val clipped = spans.map { case (a, b) => (a max from, b min to) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1e3
  }
}
