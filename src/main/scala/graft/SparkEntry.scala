package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.build._
import graft.core._
import graft.ingest._
import graft.query._

/** Driver contract: every operator from SURVEY.md §2 exposed as a
  * (spark, sfDir) => DataFrame, with an ANSI-SQL DuckDB oracle where the
  * semantics are SQL-expressible. Kernel-internal invariants (pruning ==
  * exhaustive, encode/decode round-trip) are exported as zero-mismatch
  * count queries so the driver's DuckDB compare still gates them. */
object SparkEntry {

  // ------------------------------------------------------------ fixtures
  /** Literal query set over the documents vocabulary (stable across SFs);
    * duplicates = query-term multiplicity (queries.hpp:133-150). */
  val FixedQueries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("join", "hash"),
    1 -> Seq("scan", "filter", "table"),
    2 -> Seq("the"),
    3 -> Seq("dup"),
    4 -> Seq("key", "value", "sort", "merge"),
    5 -> Seq("spark", "spark"),
    6 -> Seq("window", "stream", "batch"),
    7 -> Seq("a", "the", "big", "small", "fast", "slow"),
    8 -> Seq("customer", "order", "line"),
    9 -> Seq("vector", "column", "row", "agg", "group"),
    10 -> Seq("data", "query", "big"),
    11 -> Seq("merge", "merge", "sort"),
    12 -> Seq("slow", "fast"),
    13 -> Seq("nonexistentterm"),
    14 -> Seq("join", "nonexistentterm"),
    15 -> Seq("part", "line", "customer", "order", "key"))

  def engineQueries: Seq[Query] =
    FixedQueries.map { case (id, ts) => Query(id, ts.toArray) }

  /** Shingle document-frequency cap for n-gram Jaccard candidate
    * generation; shared by the Spark op and its DuckDB oracle so both
    * sides probe the same candidate pairs. */
  final val NgramMaxShingleDf = 200
  /** Minimum shared cold shingles before a pair is verified. */
  final val NgramMinCoOccur = 2
  /** Embedding-cosine near-dup threshold, quantized: pairs with
    * floor(cos*1000) >= this. 350 is non-vacuous on the fixture
    * embeddings (~270 pairs at sf0.01, max pair cos ~0.51) while the
    * random-pair mass (q90 ~0.16) stays out. */
  final val CosineDupMinQ = 350L

  /** The same query set as SQL literal rows (query_id, term). */
  def queryValuesSql: String =
    FixedQueries.flatMap { case (id, ts) => ts.map(t => s"($id, '$t')") }
      .mkString(", ")

  // -------------------------------------------------------------- caches
  private val cache = scala.collection.concurrent.TrieMap.empty[String, AnyRef]
  private def cached[T <: AnyRef](key: String)(f: => T): T =
    cache.getOrElseUpdate(key, f).asInstanceOf[T]

  def docsOf(spark: SparkSession, sfDir: String) =
    cached(s"docs:$sfDir") {
      val d = DocIds.assign(spark, Corpus.fromDocumentsTable(spark, sfDir),
                            partitions = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }

  def indexOf(spark: SparkSession, sfDir: String,
              indexType: String = "block_optpfor"): BuiltIndex =
    if (indexType == "block_optpfor") {
      // only the default index is kept hot; alternate families (used by
      // the round-trip verify sweep) are one-shot and must not pile up
      // cached segments in long sessions
      cached(s"idx:$indexType:$sfDir") {
        val idx = IndexBuilder.build(spark, docsOf(spark, sfDir), indexType,
                                     shardSize = 1L << 21, buildPartitions = 8)
        idx.segments.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        idx.norms.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        idx
      }
    } else {
      IndexBuilder.build(spark, docsOf(spark, sfDir), indexType,
                         shardSize = 1L << 21, buildPartitions = 8)
    }

  private def queriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    FixedQueries.flatMap { case (id, ts) => ts.map(t => (id.toLong, t)) }
      .toDF("query_id", "term")
  }

  /** Decode every segment back to (term, doc_id, tf) — the full
    * encode->store->decode chain surfaces to the oracle compare. */
  private def decodedPostings(spark: SparkSession, sfDir: String,
                              indexType: String): DataFrame =
    decodedPostingsOf(spark, indexOf(spark, sfDir, indexType))

  private def decodedPostingsOf(spark: SparkSession,
                                idx: BuiltIndex): DataFrame = {
    import spark.implicits._
    val meta = idx.meta
    // label decoded postings with term strings via a termId join — the
    // dictionary never reaches the driver (at web scale it is 10^8+ terms)
    val byId = idx.segments.flatMap { s =>
      val base = s.shard.toLong * meta.shardSize
      val shardDocs = math.min(meta.shardSize, meta.numDocs - base).toInt
      val en: PostingEnum =
        if (IndexBuilder.BlockFamilies(meta.indexType))
          new BlockPostingList.Enumerator(s.bytes, 0, shardDocs,
                                          IndexBuilder.codecFor(meta.indexType))
        else
          new EfPostingList.Enumerator(s.bytes,
                                       EfFamily.byName(meta.indexType),
                                       shardDocs)
      (0 until s.n).map { _ =>
        val r = (s.termId, base + en.docId, en.freq.toLong)
        en.next()
        r
      }
    }.toDF("term_id", "doc_id", "tf")
    byId.join(idx.dict.toDF().select($"termId".as("term_id"), $"term"),
              "term_id")
      .select($"term", $"doc_id", $"tf")
  }

  private def rankedDf(spark: SparkSession, sfDir: String, op: String,
                       scorer: Scorer = Bm25): DataFrame = {
    import spark.implicits._
    Engine.topK(spark, indexOf(spark, sfDir), engineQueries, op, 10, scorer)
      .toDF()
      .select($"queryId".cast("long").as("query_id"),
              $"rank".cast("long").as("rank"),
              $"docId".as("doc_id"), $"score")
      .orderBy("query_id", "rank")
  }

  // ----------------------------------------------------- driver contract

  /** Flagship: end-to-end build + WAND BM25 top-10 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    rankedDf(spark, "/root/testdata/sf0.001", "wand")

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[String, (SparkSession, String) => DataFrame]

    // --- S1/S2/B1: postings via full pipeline + decode (round-trip surface)
    m += "ii_postings" -> ((s, dir) =>
      decodedPostings(s, dir, "block_optpfor").orderBy("term", "doc_id"))

    // --- dictionary (term ids, df, cf)
    m += "ii_dictionary" -> { (s, dir) =>
      import s.implicits._
      indexOf(s, dir).dict.toDF()
        .select($"term", $"termId".cast("long").as("term_id"),
                $"df".cast("long").as("df"), $"cf".cast("long").as("cf"))
        .orderBy("term")
    }

    // --- S3: doc lengths
    m += "ii_doc_lens" -> { (s, dir) =>
      import s.implicits._
      docsOf(s, dir).toDF()
        .select($"docId".as("doc_id"), $"len".cast("long").as("len"))
        .orderBy("doc_id")
    }

    // --- B8: corpus/index stats
    m += "ii_stats" -> { (s, dir) =>
      import s.implicits._
      val idx = indexOf(s, dir)
      val occ = idx.segments.agg(sum($"occ")).as[Long].head()
      val nPost = idx.segments.agg(sum($"n".cast("long"))).as[Long].head()
      Seq((idx.meta.numDocs, idx.meta.numTerms, nPost, occ))
        .toDF("num_docs", "num_terms", "num_postings", "total_occurrences")
    }

    // --- Q1/Q2: boolean counts through the DAAT kernels
    m += "ii_and_count" -> { (s, dir) =>
      import s.implicits._
      Engine.count(s, indexOf(s, dir), engineQueries, "and").toDF()
        .select($"queryId".cast("long").as("query_id"), $"matches")
        .orderBy("query_id")
    }
    m += "ii_or_count" -> { (s, dir) =>
      import s.implicits._
      Engine.count(s, indexOf(s, dir), engineQueries, "or").toDF()
        .select($"queryId".cast("long").as("query_id"), $"matches")
        .orderBy("query_id")
    }

    // --- Q5/Q7 with integer scorer: exact SQL-checkable ranked retrieval
    m += "ii_topk_tf" -> { (s, dir) =>
      import s.implicits._
      rankedDf(s, dir, "ranked_or", TfScorer)
        .select($"query_id", $"rank", $"doc_id",
                $"score".cast("long").as("score_tf"))
    }

    // --- Q7 declarative form: Catalyst BM25 (double, quantized)
    m += "ii_bm25_top10_sql" -> ((s, dir) =>
      Oracle.bm25TopK(s, dir, queriesDf(s), 10))

    // --- Q6/Q8/Q9 + BMW: float32 kernel results (driver rows-check) ...
    m += "ii_wand_top10" -> ((s, dir) =>
      rankedDf(s, dir, "wand").withColumn("score", col("score").cast("double")))
    m += "ii_ranked_and_top10" -> ((s, dir) =>
      rankedDf(s, dir, "ranked_and").withColumn("score", col("score").cast("double")))

    // --- ... and the rank-identity invariant as a zero-mismatch oracle
    m += "ii_pruning_agreement" -> { (s, dir) =>
      import s.implicits._
      val oracle = rankedDf(s, dir, "ranked_or").drop("score").collect().toSeq
      Seq("wand", "maxscore", "block_max_wand").map { op =>
        val got = rankedDf(s, dir, op).drop("score").collect().toSeq
        (op, if (got == oracle) 0L else 1L)
      }.toDF("op", "mismatched").orderBy("op")
    }

    // --- kernel float32 ranking vs the SQL-verified score surface, for
    // BOTH ranked ops. Every kernel top-10 doc must score within ONE
    // quantum of the oracle's own 10th-best quantized score over the
    // op's eligible doc set (ranked_or: any matching doc; ranked_and:
    // only docs containing ALL distinct query terms — reference
    // semantics queries.hpp:322-401): if a kernel doc's double score
    // were below s10-2eps, >=10 eligible docs would out-score it in
    // float32 too (float error eps << 0.005 per score), contradicting
    // its top-10 membership. A ranked_and doc missing a query term has
    // no row in the conjunctive surface and counts as a mismatch
    // outright. With ii_pruning_agreement (wand==maxscore==bmw==
    // ranked_or) this makes all ranked kernels transitively DuckDB-gated.
    m += "ii_kernel_sql_agreement" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val scores = Oracle.bm25Scores(s, dir, queriesDf(s))
      // conjunctive eligibility: docs containing all distinct query terms
      val qd = queriesDf(s).select($"query_id", $"term").distinct()
      val nt = qd.groupBy("query_id").agg(count(lit(1)).as("nt"))
      val conj = qd
        .join(Oracle.postings(s, dir).select($"term", $"doc_id"), "term")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("mt"))
        .join(nt, "query_id").filter($"mt" === $"nt")
        .select("query_id", "doc_id")
      val conjScores = scores.join(conj, Seq("query_id", "doc_id"), "left_semi")
      def mismRows(op: String, surface: DataFrame): DataFrame = {
        val w = Window.partitionBy("query_id")
          .orderBy(col("score_q").desc, col("doc_id").asc)
        val t10 = surface.withColumn("rk", row_number().over(w))
          .filter($"rk" <= 10)
          .groupBy("query_id").agg(min($"score_q").as("t10"))
        val kernel = rankedDf(s, dir, op).select($"query_id", $"doc_id")
        val mism = kernel
          .join(surface.select($"query_id", $"doc_id", $"score_q"),
                Seq("query_id", "doc_id"), "left")
          .join(t10, Seq("query_id"), "left")
          .withColumn("bad",
            when($"score_q".isNull || $"score_q" < $"t10" - 1, 1L).otherwise(0L))
          .groupBy("query_id").agg(sum($"bad").as("mismatches"))
        FixedQueries.map(_._1.toLong).toDF("query_id")
          .join(mism, Seq("query_id"), "left")
          .select(lit(op).as("op"), $"query_id",
                  coalesce($"mismatches", lit(0L)).as("mismatches"))
      }
      mismRows("ranked_and", conjScores)
        .unionAll(mismRows("ranked_or", scores))
        .orderBy("op", "query_id")
    }

    // --- B7 verify: full decode == raw postings, for every index type
    m += "ii_verify_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val raw = Oracle.postings(s, dir)
      Seq("block_optpfor", "block_interpolative", "block_varint",
          "block_mixed", "ef", "single", "uniform", "opt").map { t =>
        val idx = indexOf(s, dir, t)
        val dec = decodedPostingsOf(s, idx)
        val bad = dec.unionAll(raw).groupBy("term", "doc_id", "tf")
          .agg(count(lit(1)).as("c")).filter($"c" =!= 2).count()
        // alternate families are one-shot builds: free their build-internal
        // caches here or each sweep pins 7 corpus-token-sized datasets for
        // the rest of the (long-lived Verify) session
        if (t != "block_optpfor") idx.release()
        (t, bad)
      }.toDF("index_type", "mismatches").orderBy("index_type")
    }

    // --- S4/S5/B5/P2 as a driver gate: resumable store byte-identity
    // (partial build + resume == one-shot build) and hierarchical merge
    // byte-identity (factor-4 coarsening == direct coarse build). Small
    // shards (128 docs) so every sf has multiple shards to resume/merge.
    m += "ii_store_resume_merge" -> { (s, dir) =>
      import s.implicits._
      val d = docsOf(s, dir)
      val shardSize = 128L
      def segMap(idx: BuiltIndex): Map[(Int, Int), Array[Byte]] =
        idx.segments.collect().map(x => (x.termId, x.shard) -> x.bytes).toMap
      def mismatches(a: Map[(Int, Int), Array[Byte]],
                     b: Map[(Int, Int), Array[Byte]]): Long =
        if (a.keySet != b.keySet) 1L
        else a.count { case (k, bytes) =>
          !java.util.Arrays.equals(bytes, b(k))
        }.toLong

      val dirFull = java.nio.file.Files.createTempDirectory("graft_gate_full").toString
      val dirPart = java.nio.file.Files.createTempDirectory("graft_gate_part").toString
      try {
      val full = IndexStore.buildResumable(s, d, "block_optpfor", shardSize,
                                           dirFull, 8)
      val fullSegs = segMap(full)
      // simulate a run killed after shard 0: its data + manifest exist
      val p0 = IndexBuilder.build(s, d, "block_optpfor", shardSize, 8,
                                  onlyShards = Some(Set(0)))
      p0.segments.write.mode("append").partitionBy("shard")
        .parquet(s"$dirPart/segments")
      p0.norms.filter(_.shard == 0).write.mode("append").partitionBy("shard")
        .parquet(s"$dirPart/norms")
      new java.io.File(s"$dirPart/manifests").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dirPart/manifests/shard-0.json"),
        s"""{"shard": 0, "segments": 1, "postings": 1, "occ": 1, "bytes": 1, "inputDocs": $shardSize, "wallMillis": 0, "indexType": "block_optpfor", "builtAtEpochMs": 0, "attempt": "partial", "formatVersion": ${IndexStore.FormatVersion}}""")
      p0.release() // one-shot partial build: data is on disk above
      val resumed = IndexStore.buildResumable(s, d, "block_optpfor", shardSize,
                                              dirPart, 8)
      val resumeBad = mismatches(segMap(resumed), fullSegs)

      val fine = IndexBuilder.build(s, d, "block_optpfor", shardSize, 8)
      val merged = Merge.mergeShards(s, fine, 4)
      val direct = IndexBuilder.build(s, d, "block_optpfor", shardSize * 4, 8)
      val mergeBad = mismatches(segMap(merged), segMap(direct))
      fine.release() // after segMap(merged): merged decodes fine's segments
      direct.release()

      Seq(("merge_byte_identical", mergeBad),
          ("resume_byte_identical", resumeBad))
        .toDF("probe", "mismatches").orderBy("probe")
      } finally {
        // multi-shard parquet trees in /tmp must not survive a failed
        // probe either — long-lived sessions re-run this gate
        graft.streaming.Streaming.deleteRecursively(
          java.nio.file.Paths.get(dirFull))
        graft.streaming.Streaming.deleteRecursively(
          java.nio.file.Paths.get(dirPart))
      }
    }

    // --- O1-O4: space-time hybrid optimization round-trip (budget sweep)
    m += "ii_hybrid_optimizer" -> { (s, dir) =>
      import s.implicits._
      val src = indexOf(s, dir)
      val raw = Oracle.postings(s, dir)
      def mismatches(idx: BuiltIndex): Long = {
        val meta = idx.meta
        val dec = idx.segments.flatMap { seg =>
          val base = seg.shard.toLong * meta.shardSize
          val shardDocs = math.min(meta.shardSize, meta.numDocs - base).toInt
          val en = new BlockPostingList.Enumerator(seg.bytes, 0, shardDocs,
                                                   MixedCodec)
          (0 until seg.n).map { _ =>
            val r = (seg.termId, base + en.docId, en.freq.toLong)
            en.next()
            r
          }
        }.toDF("term_id", "doc_id", "tf")
          .join(idx.dict.toDF().select($"termId".as("term_id"), $"term"),
                "term_id")
          .select($"term", $"doc_id", $"tf")
        dec.unionAll(raw).groupBy("term", "doc_id", "tf")
          .agg(count(lit(1)).as("c")).filter($"c" =!= 2).count()
      }
      val cal = graft.build.HybridOptimizer.calibrate()
      // optimize() returns a persisted, materialized index; the probes
      // below each consume it twice without re-running the sweep
      val space = graft.build.HybridOptimizer.optimize(s, src, 0L, 8, cal)
      val speed = graft.build.HybridOptimizer.optimize(s, src, Long.MaxValue / 2, 8, cal)
      val spaceBytes = space.segments.map(_.bytes.length.toLong).reduce(_ + _)
      val speedBytes = speed.segments.map(_.bytes.length.toLong).reduce(_ + _)
      val rows = Seq(("space_budget", mismatches(space)),
                     ("speed_budget", mismatches(speed)),
                     ("space_not_larger_than_speed",
                      if (spaceBytes <= speedBytes) 0L else 1L))
      space.segments.unpersist()
      speed.segments.unpersist()
      rows.toDF("probe", "mismatches").orderBy("probe")
    }

    // --- the Ding & Suel SIGIR'11 pruning crossover as a driver gate:
    // at 200k docs (lists spanning many 128-doc blocks) block-max WAND
    // must not be slower than plain WAND. Measured kernel-level inside
    // the gate with the bench's interference discipline — interleaved
    // rounds, per-op best (minimum-mean) round — because only
    // within-run comparisons are stable on this host; 5% tolerance on
    // the ratio absorbs residual timer noise.
    m += "ii_bmw_crossover" -> { (s, dir) =>
      import s.implicits._
      // Weather hardening: accumulate per-op best means across up to 3
      // attempts (equivalent to raising rounds 3 -> 9, but stopping as
      // soon as the ratio clears), so a disturbance window must span
      // every attempt — not just straddle one — to fail the gate. The
      // measured means go to stderr so a miss is diagnosable from the
      // run log even though the oracle row carries only the boolean.
      var bmw = Double.MaxValue
      var wand = Double.MaxValue
      var attempt = 0
      var ok = false
      while (!ok && attempt < 3) {
        val perf = Bench.opPerfTestPublic(
          numDocs = 200000, ops = Seq("wand", "block_max_wand"), rounds = 3)
        bmw = math.min(bmw, perf("block_max_wand")("mean"))
        wand = math.min(wand, perf("wand")("mean"))
        ok = bmw <= wand * 1.05
        attempt += 1
        System.err.println(
          f"[ii_bmw_crossover] attempt $attempt: bmw=$bmw%.1f us " +
          f"wand=$wand%.1f us ok=$ok")
      }
      Seq(("bmw_not_slower_than_wand", if (ok) 0L else 1L))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    // ============ training-data pipeline operators over documents ========
    def documents(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/documents.parquet")
    def embeddings(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")

    m += "dedup_exact" -> ((s, dir) => graft.ops.Dedup.exactGroups(documents(s, dir)))

    m += "dedup_ngram_jaccard" -> ((s, dir) =>
      graft.ops.Dedup.ngramJaccardPairs(s, documents(s, dir), k = 3,
                                        threshold = 0.5,
                                        maxShingleDf = NgramMaxShingleDf,
                                        minCoOccur = NgramMinCoOccur))

    m += "dedup_minhash_lsh" -> ((s, dir) =>
      graft.ops.Dedup.minhashLsh(s, documents(s, dir), k = 3, numPerms = 128,
                                 rowsPerBand = 4, threshold = 0.8))

    m += "dedup_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairs(s, documents(s, dir), maxDist = 3))

    // MinHash estimate quality: every emitted pair's estimated jaccard
    // must lie within 0.25 of the TRUE shingle jaccard (128 perms ->
    // sigma ~0.035 at j=0.8; 0.25 is a >5-sigma band, deterministic
    // under the fixed seed)
    m += "dedup_minhash_selfcheck" -> { (s, dir) =>
      import s.implicits._
      val d = documents(s, dir)
      val pairs = graft.ops.Dedup.minhashLsh(s, d, k = 3, numPerms = 128,
                                             rowsPerBand = 4, threshold = 0.8)
      val sets = d.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, graft.ops.Dedup.shingles(t, 3)) }
        .toDF("doc_id", "ss")
      val bad = pairs
        .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa")), "doc_a")
        .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb")), "doc_b")
        .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("double"))
        .withColumn("uni",
          (size($"sa") + size($"sb")).cast("double") - $"inter")
        .withColumn("true_j", $"inter" / $"uni")
        .withColumn("est", $"est_jaccard_x1000".cast("double") / 1000.0)
        .filter(abs($"est" - $"true_j") > 0.25).count()
      Seq(("est_within_025_of_true", bad))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    // SimHash blocking completeness: Manku's 6-block / choose-3 tables
    // must find EXACTLY the pairs a brute-force hamming<=3 scan finds
    m += "dedup_simhash_complete" -> { (s, dir) =>
      import s.implicits._
      val d = documents(s, dir)
      val emitted = graft.ops.Dedup.simhashPairs(s, d, maxDist = 3).count()
      val hashed = d.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, graft.ops.Dedup.simhash(t)) }
        .toDF("doc_id", "h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val brute = hashed.select($"doc_id".as("da"), $"h".as("ha"))
        .crossJoin(hashed.select($"doc_id".as("db"), $"h".as("hb")))
        .filter($"da" < $"db" &&
                bit_count($"ha".bitwiseXOR($"hb")) <= 3).count()
      hashed.unpersist()
      Seq(("blocking_complete", math.abs(emitted - brute)))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    m += "ann_cosine_top5" -> ((s, dir) =>
      graft.ops.Ann.cosineTopK(s, embeddings(s, dir), (0L until 10L), k = 5))

    m += "ann_lsh_top5" -> ((s, dir) =>
      graft.ops.Ann.lshTopK(s, embeddings(s, dir), (0L until 10L), k = 5))

    m += "ann_ivf_top5" -> ((s, dir) =>
      graft.ops.Ann.ivfTopK(s, embeddings(s, dir), (0L until 10L), k = 5))

    // ANN invariants as zero-mismatch probes over an approximate top-5
    // of the first 10 vectors: reported scores must equal the exact
    // cosine of the same pair, and recall@5 vs the exact baseline must
    // clear a generous floor. Everything is seeded, so the recall at a
    // gate SF is a fixed deterministic number (IVF training included:
    // hash-ordered seed sample + driver-local Lloyd with a fixed
    // accumulation-chunk grid — no shuffle-order float nondeterminism
    // in the trained centroids)
    def annSelfcheck(s: SparkSession, emb: DataFrame,
                     approx: DataFrame): DataFrame = {
      import s.implicits._
      import graft.ops.Ann
      val ann = approx
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = Ann.cosineTopK(s, emb, (0L until 10L), k = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val badCos = Ann.rescore(
          ann.select($"query_id", $"neighbor_id", $"cos_q"), emb,
          Ann.Query, Ann.Neighbor, out = "cos_q2")
        .filter($"cos_q" =!= $"cos_q2").count()
      val hits = ann.select($"query_id", $"neighbor_id")
        .join(exact.select($"query_id", $"neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi").count()
      val total = exact.count()
      val recall1000 = if (total == 0) 1000L else hits * 1000L / total
      ann.unpersist(); exact.unpersist()
      Seq(("cos_q_consistent", badCos),
          ("recall_at5_ge_600", if (recall1000 >= 600L) 0L else 1L))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    m += "ann_ivf_selfcheck" -> { (s, dir) =>
      val emb = embeddings(s, dir)
      annSelfcheck(s, emb, graft.ops.Ann.ivfTopK(s, emb, (0L until 10L), k = 5))
    }

    m += "ann_lsh_selfcheck" -> { (s, dir) =>
      val emb = embeddings(s, dir)
      annSelfcheck(s, emb, graft.ops.Ann.lshTopK(s, emb, (0L until 10L), k = 5))
    }

    // embedding-cosine near-dup: exact O(N^2) baseline (DuckDB-gated),
    // LSH-bucketed scale path, and the invariant probes — the LSH output
    // must be an exact SUBSET of the brute-force pairs (its re-rank
    // recomputes the exact cosine) with recall above a deterministic
    // floor (fixed seed)
    m += "dedup_embedding_cosine" -> ((s, dir) =>
      graft.ops.Ann.cosinePairs(s, embeddings(s, dir), CosineDupMinQ))

    m += "dedup_embedding_cosine_lsh" -> ((s, dir) =>
      graft.ops.Ann.lshCosinePairs(s, embeddings(s, dir), CosineDupMinQ))

    m += "dedup_embedding_cosine_selfcheck" -> { (s, dir) =>
      import s.implicits._
      val emb = embeddings(s, dir)
      val exact = graft.ops.Ann.cosinePairs(s, emb, CosineDupMinQ)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lsh = graft.ops.Ann.lshCosinePairs(s, emb, CosineDupMinQ)
      val notSubset = lsh.join(exact, Seq("vec_a", "vec_b", "cos_q"),
                               "left_anti").count()
      val total = exact.count()
      val hits = lsh.count()
      exact.unpersist()
      val recall1000 = if (total == 0) 1000L else hits * 1000L / total
      Seq(("exact_subset", notSubset),
          ("recall_ge_700", if (recall1000 >= 700L) 0L else 1L))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    // Structured-Streaming agreement: the documents table replayed as 5
    // single-file micro-batches must answer exactly like batch —
    // state-store dedup keeps one survivor per distinct text, the
    // watermarked windowed aggregation reproduces the batch time
    // buckets, and flatMapGroupsWithState running counters converge to
    // the batch groupBy counts
    m += "stream_agreement" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.Streaming
      val src = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
      try {
      Streaming.stageChunks(s, dir, src, chunks = 5)
      val docs = documents(s, dir)

      val kept = Streaming.runToCompletion(s, src, Streaming.dedupStream, "append")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchHashes = docs.select(md5($"text").as("text_hash")).distinct()
      val dupBad = kept.groupBy("text_hash").count().filter($"count" > 1).count()
      val keptHashes = kept.select("text_hash").distinct()
      val missing = batchHashes.join(keptHashes, Seq("text_hash"), "left_anti").count()
      val extra = keptHashes.join(batchHashes, Seq("text_hash"), "left_anti").count()
      kept.unpersist()
      val dedupBad = dupBad + missing + extra

      def symDiff(a: DataFrame, b: DataFrame): Long =
        a.unionAll(b).groupBy(a.columns.map(col).toIndexedSeq: _*)
          .agg(count(lit(1)).as("c")).filter($"c" =!= 2).count()

      val win = Streaming.runToCompletion(s, src, Streaming.windowedLangStats,
                                          "complete")
        .select($"window_start", $"lang", $"n_docs", $"sum_chars")
      val batchWin = docs
        .withColumn("window_start",
          (floor((lit(Streaming.EpochSeconds) +
                  $"doc_id" * Streaming.SecondsPerDoc) / 60) * 60).cast("long"))
        .groupBy("window_start", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select($"window_start", $"lang", $"n_docs", $"sum_chars")
      val winBad = symDiff(win, batchWin)

      val run = Streaming.runToCompletion(s, src,
        st => Streaming.runningLangCounts(st).toDF(), "append")
      val runFinal = run.groupBy("lang").agg(max($"running").as("n"))
      val batchCounts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val runBad = symDiff(runFinal, batchCounts)

      Seq(("dedup_first_seen", dedupBad), ("running_state", runBad),
          ("windowed_counts", winBad))
        .toDF("probe", "mismatches").orderBy("probe")
      } finally Streaming.deleteRecursively(java.nio.file.Paths.get(src))
    }

    m += "text_quality" -> ((s, dir) => graft.ops.TextOps.quality(documents(s, dir)))

    m += "text_lang_id" -> ((s, dir) => graft.ops.TextOps.langId(documents(s, dir)))

    m += "text_token_counts" -> ((s, dir) =>
      graft.ops.TextOps.tokenCounts(documents(s, dir)))

    m += "text_fingerprint" -> ((s, dir) =>
      graft.ops.TextOps.fingerprints(documents(s, dir)))

    // mm invariants as a zero-mismatch probe: the decoders parse REAL
    // binary layouts (PPM/WAV/Y4M), so decoded metadata must equal what
    // was synthesized, features are a 16-bin histogram summing to 1,
    // and n_bytes equals the true payload length, for every row
    m += "mm_selfcheck" -> { (s, dir) =>
      import s.implicits._
      val media = graft.ops.Multimodal.syntheticMedia(s, dir)
      val mdf = media.toDF()
        .select($"media_id", $"modality".as("m_modality"),
                octet_length($"payload").cast("long").as("payload_bytes"),
                $"meta_width", $"meta_height", $"meta_sample_rate")
      val feats = graft.ops.Multimodal.extractFeatures(media).toDF()
      val joined = feats.join(mdf, Seq("media_id"), "full_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val badLen = joined.filter(size($"features") =!= 16).count()
      val badSum = joined.filter($"n_bytes" > 0 &&
        abs(aggregate($"features", lit(0.0),
                      (a, x) => a + x.cast("double")) - 1.0) > 1e-3).count()
      val badBytes = joined.filter($"n_bytes".isNull || $"payload_bytes".isNull ||
                                   $"n_bytes" =!= $"payload_bytes").count()
      val badMeta = joined.filter(
        ($"m_modality" === "image" &&
           ($"dec_width" =!= $"meta_width" ||
            $"dec_height" =!= $"meta_height")) ||
        ($"m_modality" === "audio" &&
           $"dec_sample_rate" =!= $"meta_sample_rate") ||
        ($"m_modality" === "video" &&
           ($"dec_width" =!= $"meta_width" ||
            $"dec_height" =!= $"meta_height" || $"dec_frames" < 1)) ||
        $"m_modality".isNull || $"modality".isNull).count()
      joined.unpersist()
      Seq(("decoded_meta", badMeta), ("feature_len", badLen),
          ("histogram_sum", badSum), ("payload_bytes", badBytes))
        .toDF("probe", "mismatches").orderBy("probe")
    }

    m += "mm_features" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.syntheticMedia(s, dir)).toDF()
        .select($"media_id", $"modality", $"n_bytes",
                $"dec_width".cast("long").as("dec_width"),
                $"dec_height".cast("long").as("dec_height"),
                $"dec_sample_rate".cast("long").as("dec_sample_rate"),
                $"dec_frames".cast("long").as("dec_frames"),
                round(element_at($"features", 1).cast("double"), 6).as("f0"),
                round(element_at($"features", 16).cast("double"), 6).as("f15"))
        .orderBy("media_id")
    }

    // decoded metadata alone, DuckDB-gated: the synthesis parameters are
    // closed-form in doc_id (Multimodal.syntheticMedia), so width/
    // height/sample-rate/frames — parsed from the REAL binary payloads
    // by the format decoders, never echoed from the synthesis — and the
    // exact payload byte count are all oracle-checkable as CASE
    // expressions over the documents table
    m += "mm_meta" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.syntheticMedia(s, dir)).toDF()
        .select($"media_id", $"modality", $"n_bytes",
                $"dec_width".cast("long").as("dec_width"),
                $"dec_height".cast("long").as("dec_height"),
                $"dec_sample_rate".cast("long").as("dec_sample_rate"),
                $"dec_frames".cast("long").as("dec_frames"))
        .orderBy("media_id")
    }

    m.toMap
  }

  // --------------------------------------------------------- oracle SQL

  private val TokCte =
    """WITH tok AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      |    FROM documents) t WHERE term <> ''
      |), postings AS (
      |  SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY term, doc_id
      |), lens AS (
      |  SELECT doc_id, count(*)::BIGINT AS len FROM tok GROUP BY doc_id
      |)""".stripMargin

  private def qCte: String =
    s""", q(query_id, term) AS (VALUES ${queryValuesSql})
       |, qd AS (SELECT DISTINCT query_id, term FROM q)
       |, qids AS (SELECT DISTINCT query_id FROM q)
       |, qsize AS (SELECT query_id, count(*) AS nt FROM qd GROUP BY query_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ii_postings" ->
      s"$TokCte SELECT term, doc_id, tf FROM postings ORDER BY term, doc_id",

    "ii_dictionary" ->
      s"""$TokCte, d AS (
         |  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
         |  FROM postings GROUP BY term)
         |SELECT term, (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id,
         |       df, cf FROM d ORDER BY term""".stripMargin,

    "ii_doc_lens" ->
      s"$TokCte SELECT doc_id, len FROM lens ORDER BY doc_id",

    "ii_stats" ->
      s"""$TokCte SELECT
         |  (SELECT count(*) FROM documents)::BIGINT AS num_docs,
         |  (SELECT count(DISTINCT term) FROM tok)::BIGINT AS num_terms,
         |  (SELECT count(*) FROM postings)::BIGINT AS num_postings,
         |  (SELECT sum(tf) FROM postings)::BIGINT AS total_occurrences""".stripMargin,

    "ii_and_count" ->
      s"""$TokCte $qCte, hits AS (
         |  SELECT qd.query_id, p.doc_id
         |  FROM qd JOIN postings p USING (term)
         |  GROUP BY qd.query_id, p.doc_id
         |  HAVING count(*) = (SELECT nt FROM qsize WHERE qsize.query_id = qd.query_id))
         |SELECT qids.query_id::BIGINT AS query_id,
         |       coalesce(h.c, 0)::BIGINT AS matches
         |FROM qids LEFT JOIN (
         |  SELECT query_id, count(*) AS c FROM hits GROUP BY query_id) h
         |  USING (query_id)
         |ORDER BY query_id""".stripMargin,

    "ii_or_count" ->
      s"""$TokCte $qCte
         |SELECT qids.query_id::BIGINT AS query_id,
         |       coalesce(h.c, 0)::BIGINT AS matches
         |FROM qids LEFT JOIN (
         |  SELECT query_id, count(DISTINCT doc_id) AS c
         |  FROM qd JOIN postings USING (term) GROUP BY query_id) h
         |  USING (query_id)
         |ORDER BY query_id""".stripMargin,

    "ii_topk_tf" ->
      s"""$TokCte $qCte, qf AS (
         |  SELECT query_id, term, count(*)::BIGINT AS qtf FROM q GROUP BY query_id, term
         |), scored AS (
         |  SELECT qf.query_id, p.doc_id, sum(qf.qtf * p.tf)::BIGINT AS score_tf
         |  FROM qf JOIN postings p USING (term)
         |  GROUP BY qf.query_id, p.doc_id
         |), ranked AS (
         |  SELECT query_id, doc_id, score_tf,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score_tf DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
         |       doc_id, score_tf
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "ii_bm25_top10_sql" ->
      s"""$TokCte $qCte, qf AS (
         |  SELECT query_id, term, count(*)::DOUBLE AS qtf FROM q GROUP BY query_id, term
         |), d AS (
         |  SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY term
         |), stats AS (
         |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |         (SELECT sum(len) FROM lens)::DOUBLE / (SELECT count(*) FROM lens) AS avg_len
         |), scored AS (
         |  SELECT qf.query_id, p.doc_id,
         |         sum(qf.qtf * greatest(1e-6, ln((s.n - d.df + 0.5) / (d.df + 0.5))) * 2.2
         |             * (p.tf / (p.tf + 1.2 * (0.5 + 0.5 * (lens.len / s.avg_len))))) AS score
         |  FROM qf
         |  JOIN postings p USING (term)
         |  JOIN d USING (term)
         |  JOIN lens USING (doc_id)
         |  CROSS JOIN stats s
         |  GROUP BY qf.query_id, p.doc_id
         |), ranked AS (
         |  SELECT query_id, doc_id, floor(score * 100)::BIGINT AS score_q,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY floor(score * 100) DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, doc_id, score_q
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "ii_pruning_agreement" ->
      "SELECT * FROM (VALUES ('block_max_wand', 0::BIGINT), ('maxscore', 0::BIGINT), ('wand', 0::BIGINT)) AS t(op, mismatched) ORDER BY op",

    "ii_store_resume_merge" ->
      ("SELECT * FROM (VALUES ('merge_byte_identical', 0::BIGINT), " +
       "('resume_byte_identical', 0::BIGINT)) AS t(probe, mismatches) ORDER BY probe"),

    "ann_lsh_selfcheck" ->
      ("SELECT * FROM (VALUES ('cos_q_consistent', 0::BIGINT), " +
       "('recall_at5_ge_600', 0::BIGINT)) AS t(probe, mismatches) ORDER BY probe"),

    "ann_ivf_selfcheck" ->
      ("SELECT * FROM (VALUES ('cos_q_consistent', 0::BIGINT), " +
       "('recall_at5_ge_600', 0::BIGINT)) AS t(probe, mismatches) ORDER BY probe"),

    "dedup_minhash_selfcheck" ->
      ("SELECT * FROM (VALUES ('est_within_025_of_true', 0::BIGINT)) " +
       "AS t(probe, mismatches) ORDER BY probe"),

    "dedup_simhash_complete" ->
      ("SELECT * FROM (VALUES ('blocking_complete', 0::BIGINT)) " +
       "AS t(probe, mismatches) ORDER BY probe"),

    "ii_bmw_crossover" ->
      ("SELECT * FROM (VALUES ('bmw_not_slower_than_wand', 0::BIGINT)) " +
       "AS t(probe, mismatches) ORDER BY probe"),

    "ii_kernel_sql_agreement" ->
      ("SELECT * FROM (VALUES " +
       Seq("ranked_and", "ranked_or").flatMap(op =>
         FixedQueries.map { case (id, _) =>
           s"('$op', $id::BIGINT, 0::BIGINT)" })
         .mkString(", ") +
       ") AS t(op, query_id, mismatches) ORDER BY op, query_id"),

    // mirrors Multimodal.syntheticMedia's closed-form synthesis exactly:
    // modality by doc_id % 3; PPM bytes = "P6\n<w> <h>\n255\n" + w*h*3;
    // WAV bytes = 44-byte canonical header + 2 per PCM16 sample; Y4M
    // bytes = "YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 C420\n" (33 chars +
    // the digits) + frames * ("FRAME\n" + w*h + 2*(w/2)*(h/2))
    "mm_meta" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 3 AS k,
        |         8 + (doc_id % 5) * 4 AS iw, 8 + (doc_id % 7) * 2 AS ih,
        |         8000 + (doc_id % 4) * 4000 AS rate,
        |         64 + (doc_id % 192) AS ns,
        |         16 + (doc_id % 4) * 8 AS vw, 16 + (doc_id % 3) * 8 AS vh,
        |         1 + (doc_id % 3) AS fr
        |  FROM documents)
        |SELECT media_id,
        |  CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  (CASE k
        |    WHEN 0 THEN 3 + length(iw::VARCHAR) + 1 + length(ih::VARCHAR) + 5 + iw * ih * 3
        |    WHEN 1 THEN 44 + ns * 2
        |    ELSE 33 + length(vw::VARCHAR) + length(vh::VARCHAR)
        |         + fr * (6 + vw * vh + 2 * (vw // 2) * (vh // 2))
        |  END)::BIGINT AS n_bytes,
        |  (CASE k WHEN 0 THEN iw WHEN 1 THEN 0 ELSE vw END)::BIGINT AS dec_width,
        |  (CASE k WHEN 0 THEN ih WHEN 1 THEN 0 ELSE vh END)::BIGINT AS dec_height,
        |  (CASE k WHEN 1 THEN rate ELSE 0 END)::BIGINT AS dec_sample_rate,
        |  (CASE k WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE fr END)::BIGINT AS dec_frames
        |FROM m ORDER BY media_id""".stripMargin,

    "mm_selfcheck" ->
      ("SELECT * FROM (VALUES ('decoded_meta', 0::BIGINT), " +
       "('feature_len', 0::BIGINT), " +
       "('histogram_sum', 0::BIGINT), ('payload_bytes', 0::BIGINT)) " +
       "AS t(probe, mismatches) ORDER BY probe"),

    "ii_verify_roundtrip" ->
      ("SELECT * FROM (VALUES " +
       Seq("block_interpolative", "block_mixed", "block_optpfor",
           "block_varint", "ef", "opt", "single", "uniform")
         .map(t => s"('$t', 0::BIGINT)").mkString(", ") +
       ") AS t(index_type, mismatches) ORDER BY index_type"),

    "ii_hybrid_optimizer" ->
      ("SELECT * FROM (VALUES ('space_budget', 0::BIGINT), " +
       "('space_not_larger_than_speed', 0::BIGINT), " +
       "('speed_budget', 0::BIGINT)) AS t(probe, mismatches) ORDER BY probe"),

    "dedup_exact" ->
      """SELECT text_hash, dup_count, keeper_doc_id FROM (
        |  SELECT md5(text) AS text_hash, count(*)::BIGINT AS dup_count,
        |         min(doc_id) AS keeper_doc_id
        |  FROM documents GROUP BY md5(text)) t
        |WHERE dup_count >= 2 ORDER BY text_hash""".stripMargin,

    // mirrors the Spark op's three phases: exact-dup pre-collapse to one
    // representative per distinct text, df-capped candidate generation
    // over representatives, exact verification, then expansion back to
    // member pairs plus jaccard-1 intra-group pairs
    "dedup_ngram_jaccard" ->
      s"""WITH g AS (
        |  SELECT doc_id, md5(text) AS h, text FROM documents),
        |reps AS (
        |  SELECT h, min(doc_id) AS rep_id, count(*)::BIGINT AS members
        |  FROM g GROUP BY h),
        |mem AS (SELECT r.rep_id, g.doc_id FROM g JOIN reps r USING (h)),
        |t AS (
        |  SELECT r.rep_id AS doc_id, list_filter(
        |    regexp_split_to_array(lower(g.text), '[^a-z0-9]+'), x -> x <> '') AS a
        |  FROM g JOIN reps r ON g.doc_id = r.rep_id),
        |sh AS (
        |  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
        |  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-2)) AS i FROM t) u),
        |cold AS (SELECT s FROM sh GROUP BY s
        |         HAVING count(*) BETWEEN 2 AND $NgramMaxShingleDf),
        |shc AS (SELECT doc_id, s FROM sh JOIN cold USING (s)),
        |cand AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= $NgramMinCoOccur),
        |sets AS (SELECT doc_id, list(s) AS ss, count(*)::BIGINT AS sz
        |         FROM sh GROUP BY doc_id),
        |rpairs AS (
        |  SELECT doc_a, doc_b,
        |         len(list_intersect(za.ss, zb.ss))::BIGINT AS inter,
        |         za.sz AS sz_a, zb.sz AS sz_b
        |  FROM cand
        |  JOIN sets za ON za.doc_id = doc_a
        |  JOIN sets zb ON zb.doc_id = doc_b),
        |cross_pairs AS (
        |  SELECT least(xa.doc_id, xb.doc_id) AS doc_a,
        |         greatest(xa.doc_id, xb.doc_id) AS doc_b,
        |         inter, (sz_a + sz_b - inter)::BIGINT AS uni,
        |         inter::DOUBLE / (sz_a + sz_b - inter) AS jaccard
        |  FROM rpairs
        |  JOIN mem xa ON xa.rep_id = rpairs.doc_a
        |  JOIN mem xb ON xb.rep_id = rpairs.doc_b
        |  WHERE inter::DOUBLE / (sz_a + sz_b - inter) >= 0.5),
        |intra AS (
        |  SELECT xa.doc_id AS doc_a, xb.doc_id AS doc_b,
        |         s.sz AS inter, s.sz AS uni, s.sz::DOUBLE / s.sz AS jaccard
        |  FROM reps r
        |  JOIN sets s ON s.doc_id = r.rep_id
        |  JOIN mem xa ON xa.rep_id = r.rep_id
        |  JOIN mem xb ON xb.rep_id = r.rep_id AND xa.doc_id < xb.doc_id
        |  WHERE r.members >= 2 AND s.sz >= 1)
        |SELECT doc_a, doc_b, inter, uni, jaccard FROM cross_pairs
        |UNION ALL
        |SELECT doc_a, doc_b, inter, uni, jaccard FROM intra
        |ORDER BY doc_a, doc_b""".stripMargin,

    "ann_cosine_top5" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |flat AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS i, v FROM e),
        |vals AS (SELECT vec_id, i, v[i]::DOUBLE AS x FROM flat),
        |nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM vals GROUP BY vec_id),
        |dots AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, sum(q.x*d.x) AS dot
        |  FROM vals q JOIN vals d ON q.i = d.i
        |  WHERE q.vec_id < 10 AND d.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         floor(1000 * dot / (nq.n * nd.n))::BIGINT AS cos_q
        |  FROM dots
        |  JOIN nrm nq ON nq.vec_id = query_id
        |  JOIN nrm nd ON nd.vec_id = neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_q,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
        |       neighbor_id::BIGINT AS neighbor_id, cos_q
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |flat AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS i, v FROM e),
        |vals AS (SELECT vec_id, i, v[i]::DOUBLE AS x FROM flat),
        |nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM vals GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x*b.x) AS dot
        |  FROM vals a JOIN vals b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b,
        |       floor(1000 * dot / (na.n * nb.n))::BIGINT AS cos_q
        |FROM dots
        |JOIN nrm na ON na.vec_id = vec_a
        |JOIN nrm nb ON nb.vec_id = vec_b
        |WHERE floor(1000 * dot / (na.n * nb.n)) >= $CosineDupMinQ
        |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_embedding_cosine_selfcheck" ->
      ("SELECT * FROM (VALUES ('exact_subset', 0::BIGINT), " +
       "('recall_ge_700', 0::BIGINT)) AS t(probe, mismatches) ORDER BY probe"),

    "stream_agreement" ->
      ("SELECT * FROM (VALUES ('dedup_first_seen', 0::BIGINT), " +
       "('running_state', 0::BIGINT), ('windowed_counts', 0::BIGINT)) " +
       "AS t(probe, mismatches) ORDER BY probe"),

    "text_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, length(text)::BIGINT AS n_chars,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                     t -> t <> '') AS ts
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, n_chars, len(ts)::BIGINT AS n_tokens,
        |         len(list_distinct(ts))::BIGINT AS n_distinct,
        |         len(list_filter(ts, t -> t IN ('the','a','and','of','to','in')))::BIGINT AS n_stop,
        |         list_reduce(list_prepend(0::BIGINT,
        |           list_transform(ts, t -> length(t)::BIGINT)), (a, b) -> a + b) AS sum_len
        |  FROM toks),
        |ratios AS (
        |  SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop,
        |         sum_len::DOUBLE / n_tokens::DOUBLE AS avg_token_len,
        |         n_stop::DOUBLE / n_tokens::DOUBLE AS stop_ratio,
        |         n_distinct::DOUBLE / n_tokens::DOUBLE AS distinct_ratio
        |  FROM feat)
        |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop, avg_token_len,
        |       stop_ratio, distinct_ratio,
        |       distinct_ratio * (1.0 - stop_ratio) AS quality_score
        |FROM ratios ORDER BY doc_id""".stripMargin,

    "text_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                     t -> t <> '') AS ts
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang,
        |    len(list_filter(ts, t -> t IN ('the','a','of','and','is')))::BIGINT AS score_en,
        |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist')))::BIGINT AS score_de,
        |    len(list_filter(ts, t -> t IN ('le','la','les','et','est')))::BIGINT AS score_fr,
        |    len(list_filter(ts, t -> t IN ('el','la','los','y','es')))::BIGINT AS score_es
        |  FROM toks),
        |pred AS (
        |  SELECT *, CASE
        |    WHEN score_en = 0 AND score_de = 0 AND score_fr = 0 AND score_es = 0 THEN 'und'
        |    WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |    WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
        |    WHEN score_fr >= score_es THEN 'fr'
        |    ELSE 'es' END AS predicted_lang
        |  FROM scores)
        |SELECT doc_id, labeled_lang, predicted_lang,
        |       (predicted_lang = labeled_lang)::BIGINT AS is_correct,
        |       score_en, score_de, score_fr, score_es
        |FROM pred ORDER BY doc_id""".stripMargin,

    "text_token_counts" ->
      s"""$TokCte
         |SELECT doc_id, count(*)::BIGINT AS ws_tokens,
         |       sum(ceil(length(term) / 4.0))::BIGINT AS bpe_ish_tokens
         |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
        |  FROM documents)
        |SELECT doc_id, list_reduce(
        |    list_prepend(0::BIGINT, list_transform(ts, t ->
        |      1 + length(t)*97 + ascii(t)*31 + ascii(substring(t, length(t), 1)))),
        |    (acc, x) -> (acc * 1000003 + x) % 2147483647)::BIGINT AS fingerprint
        |FROM toks ORDER BY doc_id""".stripMargin)
}
