package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** One search result row. */
final case class Hit(qid: Long, rank: Int, label: Long, distance: Double)

object Hits {
  /** Reads (qid, rank, label, distance) by column name, so the check does
    * not depend on the column order a search path happens to produce. */
  def of(rows: Array[Row]): Array[Hit] = rows.map { r =>
    Hit(r.getAs[Number]("qid").longValue, r.getAs[Number]("rank").intValue,
      r.getAs[Number]("label").longValue, r.getAs[Number]("distance").doubleValue)
  }
}

/** Spans and per-layer summaries shared by the search-request workloads. */
object Tracing {
  /** One search request as three spans under `root`: `call` (the public
    * function until it returns a DataFrame, including any eager work and
    * lazy build), `plan` (physical planning) and `execute` (collect). */
  def search(tracer: Tracer, root: String)(call: => DataFrame): Array[Row] =
    tracer.span(root) {
      val df = tracer.span("call")(call)
      tracer.span("plan")(df.queryExecution.executedPlan)
      tracer.span("execute")(df.collect())
    }

  def childP50(tracer: Tracer, roots: Seq[Span], child: String): Double = {
    val xs = roots.flatMap(r => tracer.childOf(r, child)).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def requestLayers(w: String, tracer: Tracer, roots: Seq[Span], samples: Int, recall: Double): Seq[Metric] = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.mean(xs)
    val works = roots.map(tracer.work)
    Seq(
      Metric(s"$w.latency_samples", samples.toDouble, "count"),
      Metric(s"$w.call_ms_p50", childP50(tracer, roots, "call"), "ms"),
      Metric(s"$w.plan_ms_p50", childP50(tracer, roots, "plan"), "ms"),
      Metric(s"$w.execute_ms_p50", childP50(tracer, roots, "execute"), "ms"),
      Metric(s"$w.jobs_per_request", mean(works.map(_.jobs.toDouble)), "count"),
      Metric(s"$w.tasks_per_request", mean(works.map(_.tasks.toDouble)), "count"),
      Metric(s"$w.driver_only_ms_p50", p50(roots.map(tracer.driverOnlyMs)), "ms"),
      Metric(s"$w.executor_cpu_ms_per_request", mean(works.map(_.cpuNs / 1e6)), "ms"),
      Metric(s"$w.recall_at_10", recall, "ratio"))
  }
}
