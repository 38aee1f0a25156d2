package perfbench

/** Per-layer metrics of a traced run, from its spans and the listener
  * records filed under them. Each is the median over the spans named. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def fromSpans(t: Tracer, cores: Int): Map[String, Double] = {
    def med(spans: Seq[Span])(f: SpanStats => Double): Double =
      if (spans.isEmpty) Double.NaN else Stats.median(spans.map(s => f(t.stats(s))))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val wide = s"build.total.$cores"
    val assign = t.under(wide, "ingest.assign")
    m("ingest.assign_s") = med(assign)(_.wallS)
    m("ingest.assign_shuffle_mb") = med(assign)(_.shuffleWriteB / MB)
    val store = t.under(wide, "build.store")
    m("build.store_s") = med(store)(_.wallS)
    m("build.stages") = med(store)(_.stages.toDouble)
    m("build.task_skew") = med(store)(_.skew)
    m("build.shuffle_write_mb") = med(store)(_.shuffleWriteB / MB)
    m("build.spill_mb") = med(store)(_.spillB / MB)
    m("build.driver_gap_s") = med(store)(_.gapS)
    m("build.read_s") = med(t.named("build.read"))(_.wallS)

    for (b <- Seq("b1", "b256")) {
      val reqs = t.named(s"query.$b")
      m(s"query.${b}_jobs") = med(reqs)(_.jobs.toDouble)
      m(s"query.${b}_stages") = med(reqs)(_.stages.toDouble)
      m(s"query.${b}_tasks") = med(reqs)(_.tasks.toDouble)
      m(s"query.${b}_shuffle_kb") = med(reqs)(_.shuffleWriteB / 1024.0)
      m(s"query.${b}_driver_gap_ms") = med(reqs)(_.gapS * 1e3)
    }

    for (g <- OpsPhase.Gates) {
      val runs = t.named(s"ops.$g")
      m(s"ops.${g}_stages") = med(runs)(_.stages.toDouble)
      m(s"ops.${g}_shuffle_mb") = med(runs)(_.shuffleWriteB / MB)
      m(s"ops.${g}_task_skew") = med(runs)(_.skew)
    }
    m.toMap
  }
}
