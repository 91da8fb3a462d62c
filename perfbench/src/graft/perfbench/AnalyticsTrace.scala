package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Traced pass of the analytics workload: each query runs under its own
  * job group, and the executor CPU of that group's stages
  * ([[LayerListener]]) is the query's.
  */
object AnalyticsTrace {

  def run(spark: SparkSession, data: String,
          untraced: Seq[Seq[AnalyticsBench.QueryRun]]): Map[String, Any] = {
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val g0 = Probe.counters()
    val traced = AnalyticsBench.pass(spark, data,
      Some(q => spark.sparkContext.setJobGroup(q, q)))
    spark.sparkContext.clearJobGroup()
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val g1 = Probe.counters()
    val base = Stats.median(untraced.map(_.map(_.wallS).sum))
    val perQuery = traced.flatMap { r =>
      Seq(s"query.${r.name}_s" -> r.wallS,
        s"query.${r.name}_cpu_s" ->
          listener.stages.filter(_.group == r.name).map(_.cpuNs).sum / 1e9)
    }
    (perQuery ++ Seq(
      "jvm.gc_s" -> g0.to(g1).gc,
      "host.steal_s" -> g0.to(g1).steal,
      "trace.overhead_ratio" -> (traced.map(_.wallS).sum / base - 1))).toMap
  }
}
