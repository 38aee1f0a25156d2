package perfbench

import org.apache.spark.sql.functions.{bit_xor, col, length, sum, xxhash64}
import graft.build.{BuiltIndex, IndexStore}
import graft.ingest.{CorpusDoc, DocIds}

/** What a phase measured: its end-to-end metrics (used when the phase
  * belongs to the run's workload), its per-layer metrics, and the outputs
  * run.py checks. */
final case class PhaseResult(e2e: Map[String, Double], layer: Map[String, Double],
                             claims: Seq[(String, Any)] = Nil, indexDir: String = "")

/** The write path: DocIds.assign -> IndexStore.buildResumable into a fresh
  * directory, at full width and at 1 core, interleaved so both widths see
  * the same host conditions; then one shard's manifest is removed and the
  * resumable build is timed again. */
object BuildPhase {
  val IndexType = "block_optpfor"
  // url-range and build partitions, equal at both widths
  val Partitions = 8
  val Shards = 4

  /** DocID shard size that splits `docs` documents into `Shards` shards. */
  def shardSize(docs: Long): Long = (docs + Shards - 1) / Shards

  /** One timed build of the run's corpus into `dir`; returns seconds. The
    * warm-up reads one corpus file: the same plan, less data. */
  private def buildOnce(ctx: Ctx, cores: Int, dir: String, warmUp: Boolean = false): Double = {
    val spark = ctx.session(cores)
    import spark.implicits._
    ctx.deleteDir(dir)
    val files = new java.io.File(ctx.path("corpus")).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    val corpus = spark.read.parquet(files.take(if (warmUp) 1 else files.length).toIndexedSeq: _*)
      .as[CorpusDoc]
    val (docs, s) = Stats.time {
      ctx.tracer.span(if (warmUp) "build.warmup" else s"build.total.$cores") {
        // buildResumable's first action counts the docs; forcing it here
        // keeps the docId assignment inside the ingest span
        val (docs, n) = ctx.tracer.span("ingest.assign") {
          val d = DocIds.assign(spark, corpus, partitions = Partitions)
          (d, d.count())
        }
        ctx.tracer.span("build.store") {
          IndexStore.buildResumable(spark, docs, IndexType, shardSize(n), dir,
                                    buildPartitions = Partitions)
        }
        docs
      }
    }
    docs.unpersist(blocking = false)
    ctx.out.op()
    Log(f"build at $cores cores: $s%.2f s")
    s
  }

  /** Order-free digest of an index's segments (xor of per-segment hashes
    * of shard, termId and bytes), with Σn, Σocc and Σbytes. */
  private def digest(index: BuiltIndex): (Long, Long, Long, Long) = {
    val spark = index.segments.sparkSession
    import spark.implicits._
    index.segments
      .agg(bit_xor(xxhash64($"shard", $"termId", $"bytes")), sum($"n".cast("long")), sum($"occ"),
           sum(length(col("bytes")).cast("long")))
      .as[(Long, Long, Long, Long)].head()
  }

  /** Full-width builds for `budgetS`, at least 2 after an untimed warm-up;
    * when not `full` (the light phase of a traced ops run), one build and
    * no warm-up. With `narrow`, each is paired with a 1-core build for the
    * scaling efficiency. Then the resume step. */
  def run(ctx: Ctx, budgetS: Double, full: Boolean, narrow: Boolean): PhaseResult = {
    val cfg = ctx.cfg
    val wide = ctx.path("index-wide")
    val slim = ctx.path("index-narrow")
    if (full) buildOnce(ctx, cfg.cores, wide, warmUp = true)

    val tWide = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tNarrow = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minRounds = if (full) 2 else 1
    val t0 = System.nanoTime()
    var round = 0
    while (round < minRounds || (System.nanoTime() - t0) / 1e9 < budgetS) {
      // ABBA order, so drift over the phase hits both widths alike
      if (narrow && round % 2 == 1) tNarrow += buildOnce(ctx, 1, slim)
      tWide += buildOnce(ctx, cfg.cores, wide)
      if (narrow && round % 2 == 0) tNarrow += buildOnce(ctx, 1, slim)
      round += 1
    }
    ctx.deleteDir(slim)

    // resume: drop one seeded shard's manifest, rebuild it, compare bytes
    val spark = ctx.session(cfg.cores)
    import spark.implicits._
    val (freshDigest, postings, occ, bytes) = digest(IndexStore.read(spark, wide))
    val shard = new java.util.Random(cfg.seed).nextInt(Shards)
    new java.io.File(wide, s"manifests/shard-$shard.json").delete()
    val docs = DocIds.assign(spark, spark.read.parquet(ctx.path("corpus")).as[CorpusDoc],
                             partitions = Partitions)
    val docCount = docs.count()
    val (resumed, resumeS) = Stats.time {
      ctx.tracer.span("build.resume") {
        IndexStore.buildResumable(spark, docs, IndexType, shardSize(docCount), wide,
                                  buildPartitions = Partitions)
      }
    }
    docs.unpersist(blocking = false)
    ctx.out.op()
    val (resumedDigest, _, _, _) = digest(resumed)
    ctx.out.check("resumed index segment bytes equal the fresh build's")(
      resumedDigest == freshDigest)

    val wideMed = Stats.median(tWide.toSeq)
    val scaling =
      if (narrow) Map("build_scaling_eff" -> Stats.median(tNarrow.toSeq) / (cfg.cores * wideMed))
      else Map.empty[String, Double]
    PhaseResult(
      e2e = Map("batch_p50_ms" -> wideMed * 1e3),
      layer = scaling ++ Map(
        "build_docs_per_s" -> docCount / wideMed,
        "resume_s" -> resumeS,
        "index_bits_per_posting" -> 8.0 * bytes / postings,
        "build.dict_terms" -> resumed.meta.numTerms.toDouble,
        "build.segments" -> resumed.segments.count().toDouble),
      claims = Seq("build" -> Map("postings" -> postings, "occurrences" -> occ)),
      indexDir = wide)
  }
}

/** Set-up as a user pays it: a fresh session, then a phase's inputs
  * loaded. */
object Setup {
  /** IndexStore.read, with the dictionary, segments and norms cached the
    * way a serving session keeps them. */
  def index(ctx: Ctx, dir: String): BuiltIndex = {
    val spark = ctx.session(ctx.cfg.cores)
    ctx.tracer.span("build.read") {
      val idx = IndexStore.read(spark, dir)
      idx.dict.persist().count()
      idx.segments.persist().count()
      idx.norms.persist().count()
      idx
    }
  }

  def tables(ctx: Ctx): Long = {
    val spark = ctx.session(ctx.cfg.cores)
    spark.read.parquet(ctx.path("ops/documents.parquet")).count() +
      spark.read.parquet(ctx.path("ops/embeddings.parquet")).count()
  }
}
