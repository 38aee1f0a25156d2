package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{asc, col, desc}
import graft.build.BuiltIndex
import graft.query.{Engine, Query}

/** Query serving from one closed-loop client: Engine.topK/count is a
  * synchronous batch API, so the client sends its next request when the
  * previous reply is in. Phase 1 sends batch-of-1 requests (orchestration
  * is nearly all of their latency); phase 2 sends 256-query wand batches,
  * which amortize it, so the kernel's share grows. */
object ServePhase {
  val RankedOps = Seq("wand", "maxscore", "block_max_wand", "ranked_and")
  // batch-of-1 ops in a fixed cycle of 32: each ranked op 7 times, and and
  // or twice each, a 1/8 share of counts; every run sends the same mix
  val Schedule: IndexedSeq[String] = (0 until 32).map { k =>
    if (k % 8 == 7) (if (k % 16 == 7) "and" else "or")
    else RankedOps((k - k / 8) % RankedOps.length)
  }
  // query-length mix of graft.core.CollectionGen.zipf
  val LenMix = Array(2, 2, 2, 3, 3, 3, 4, 4, 1, 5, 5, 6, 7, 1, 2, 3)
  val PoolSize = 1024
  val Batch = 256
  // batch-of-1 samples per run; the light serve phase of a traced ops run
  // takes fewer
  val MinB1 = 32
  val MinB1Light = 20
  val HeadTerms = 1000
  val OovShare = 0.03
  val CountSample = 32

  /** Query pool drawn from the built dictionary: half the terms from the
    * top 1000 by df, half uniform over all terms, a few out of vocabulary. */
  def pool(spark: SparkSession, index: BuiltIndex, seed: Long): Array[Array[String]] = {
    import spark.implicits._
    val head = index.dict.orderBy(desc("df"), asc("termId")).limit(HeadTerms)
      .select($"term").as[String].collect()
    val rnd = new java.util.Random(seed * 1000003L + 17)
    val lens = Array.fill(PoolSize)(LenMix(rnd.nextInt(LenMix.length)))
    val kinds = lens.map(n => Array.fill(n) {
      val u = rnd.nextDouble()
      if (u < OovShare) 2 else if (u < 0.5 + OovShare / 2) 0 else 1
    })
    val uniformIds = kinds.flatten.filter(_ == 1)
      .map(_ => rnd.nextInt(index.meta.numTerms.toInt))
    val byId = index.dict.filter(col("termId").isin(uniformIds.distinct.toSeq: _*))
      .select($"termId", $"term").as[(Int, String)].collect().toMap
    var u = 0
    kinds.map(_.map {
      case 0 => head(rnd.nextInt(head.length))
      case 1 => val t = byId(uniformIds(u)); u += 1; t
      case _ => "zoov" + Integer.toString(rnd.nextInt(1 << 30), 36)
    })
  }

  private def same(got: Seq[(Long, Float)], want: Seq[(Long, Float)]): Boolean =
    got.length == want.length && got.zip(want).forall { case ((d, s), (e, t)) =>
      d == e && java.lang.Float.floatToIntBits(s) == java.lang.Float.floatToIntBits(t)
    }

  def run(ctx: Ctx, index: BuiltIndex, budgetS: Double, full: Boolean): PhaseResult = {
    val spark = ctx.session(ctx.cfg.cores)
    import spark.implicits._
    val tracer = ctx.tracer
    val queries = pool(spark, index, ctx.cfg.seed)
    def q(i: Int): Query = Query(i, queries(i % PoolSize))

    def topK(qs: Seq[Query], op: String): Map[Int, Seq[(Long, Float)]] =
      Engine.topK(spark, index, qs, op, 10).collect().groupBy(_.queryId)
        .map { case (id, hits) => id -> hits.sortBy(_.rank).map(h => (h.docId, h.score)).toSeq }
    def count(qs: Seq[Query], op: String): Map[Int, Long] =
      Engine.count(spark, index, qs, op).collect().map(c => c.queryId -> c.matches).toMap

    // untimed: the exhaustive ranking every pruned result is checked
    // against, which also warms the batch path; then every op once
    val oracle = topK((0 until PoolSize).map(q), "ranked_or")
    RankedOps.foreach(op => topK(Seq(q(0)), op))
    Seq("and", "or").foreach(op => count(Seq(q(0)), op))

    // phase 1: batch-of-1 requests; a traced run sends each op of the
    // schedule twice, traced and untraced
    val b1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val b1Untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ranked = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Seq[(Long, Float)])]
    val counted = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val minB1 = if (full) MinB1 else MinB1Light
    val t0 = System.nanoTime()
    var i = 0
    while (b1.length < minB1 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val op = Schedule((if (tracer.on) i / 2 else i) % Schedule.length)
      val req = q(i)
      def send(): Unit =
        if (op == "and" || op == "or")
          counted += ((i % PoolSize, op, count(Seq(req), op).getOrElse(req.queryId, 0L)))
        else ranked += ((i % PoolSize, op, topK(Seq(req), op).getOrElse(req.queryId, Nil)))
      // a traced run alternates traced and untraced requests: the
      // difference of their medians is the tracing overhead. The untraced
      // timer runs inside off(), so it excludes detaching the listener.
      val untraced = tracer.on && i % 2 == 1
      val (_, s) =
        if (untraced) tracer.off(Stats.time(send()))
        else Stats.time(tracer.span("query.b1", i)(send()))
      (if (untraced) b1Untraced else b1) += s
      ctx.out.op()
      i += 1
    }

    Log(s"b1: $i requests")
    // phase 2: 256-query wand batches
    val batches = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batchHits = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[Int, Seq[(Long, Float)]])]
    var j = 0
    while (j < (if (full) 3 else 2)) {
      val base = (j * Batch) % PoolSize
      val (hits, s) = Stats.time {
        tracer.span("query.b256", j)(topK((base until base + Batch).map(q), "wand"))
      }
      batches += s
      batchHits += ((base, hits))
      ctx.out.op()
      j += 1
    }

    Log(s"b256: $j batches ${batches}")
    // checks, untimed: pruning ops against exhaustive ranked_or through the
    // engine; ranked_and against the in-process conjunctive ranking
    val core = new Core(spark, index, queries)
    ranked.foreach { case (p, op, got) =>
      val want = if (op == "ranked_and") core.conjunctiveTop(queries(p), 10)
                 else oracle.getOrElse(p, Nil)
      ctx.out.check(s"$op top-10 of pool query $p equals the exhaustive ranking")(same(got, want))
    }
    batchHits.foreach { case (base, hits) =>
      (0 until Batch).foreach { k =>
        val p = base + k
        ctx.out.check(s"wand b256 top-10 of pool query $p equals ranked_or")(
          same(hits.getOrElse(p, Nil), oracle.getOrElse(p, Nil)))
      }
    }
    // boolean counts go to run.py, which recounts them over the corpus
    val sample = (0 until CountSample).map(k => q(PoolSize - 1 - k))
    Seq("and", "or").foreach { op =>
      val got = count(sample, op)
      sample.foreach(s => counted += ((s.queryId, op, got.getOrElse(s.queryId, 0L))))
    }

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (tracer.on) {
      layer ++= core.replay((0 until Batch).map(queries))
      layer("trace.overhead_pct") =
        (Stats.median(b1.toSeq) / Stats.median(b1Untraced.toSeq) - 1) * 100
    }
    val p50 = Stats.quantile(b1.toSeq, 0.5) * 1e3
    PhaseResult(
      e2e = Map("query_p50_ms" -> p50),
      layer = layer.toMap ++ Map(
        "serve_b1_p50_ms" -> p50,
        "serve_b1_p90_ms" -> Stats.quantile(b1.toSeq, 0.9) * 1e3,
        "serve_b256_qps" -> Batch / Stats.median(batches.toSeq),
        "query.b1_requests" -> b1.length.toDouble),
      claims = Seq("counts" -> counted.map { case (p, op, n) =>
        Map("terms" -> queries(p).toSeq, "op" -> op, "matches" -> n)
      }.toSeq))
  }
}
