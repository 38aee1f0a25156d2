package graft.build

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core._
import graft.ingest._

/** One compressed posting (sub-)list: term x docID-shard.
  *
  * The shard IS the salt for head-term skew (SURVEY.md §7.4.2): a
  * stop-word's postings split into docID-contiguous sub-lists bounded by
  * shardSize, each encodable independently and in parallel; shard-local
  * docIDs stay in u32 like the reference's (binary_collection.hpp:15),
  * global docID = shard * shardSize + local. blockMaxScores is the
  * per-128-posting-block max BM25 doc_term_weight (the block-max WAND
  * sidecar, extending wand_data.hpp:20-53 to block granularity).
  */
final case class Segment(termId: Int, shard: Int, n: Int, occ: Long,
                         firstDoc: Long, lastDoc: Long,
                         bytes: Array[Byte],
                         blockMaxScores: Array[Float], maxScore: Float)

/** Per-shard BM25 length norms (wand_data.hpp:20-32: len / avgLen,
  * float32). */
final case class ShardNorms(shard: Int, numDocs: Int, norms: Array[Float])

final case class IndexMeta(numDocs: Long, avgLen: Float, shardSize: Long,
                           indexType: String, numTerms: Long,
                           numPostings: Long)

/** In-memory handle on a built index (datasets remain distributed).
  *
  * `serving` is the query-time layout, built once on the first query by
  * one `segments`/`dict` join on termId and one cogroup with `norms` by
  * shard: partition i holds docID shard i's term -> (Segment, global df)
  * map and norm array, so a query batch, term resolution included, is one
  * narrow pass over it.
  *
  * `release` frees that layout and the build-internal caches
  * (`releaseBuild`: the tokens-sized term-ranged layout, the dictionary
  * and the corpus when the builder cached it; a no-op for indexes loaded
  * from disk or derived by merge/hybrid). Callers that build one-shot
  * indexes in a long-lived session MUST invoke it once they have forced
  * everything they need — otherwise each build pins a corpus-token-sized
  * cache for the session lifetime and starves later jobs of execution
  * memory (observed as a 16-core build spilling where a 4-core one did
  * not). After release, re-consuming the datasets recomputes from source. */
final case class BuiltIndex(meta: IndexMeta,
                            dict: Dataset[DictEntry],
                            segments: Dataset[Segment],
                            norms: Dataset[ShardNorms],
                            releaseBuild: () => Unit = () => ()) {
  private var layout: RDD[(Int, (Map[String, (Segment, Long)], Array[Float]))] = _

  def serving: RDD[(Int, (Map[String, (Segment, Long)], Array[Float]))] = synchronized {
    if (layout == null) {
      val numShards = ((meta.numDocs + meta.shardSize - 1) / meta.shardSize).toInt
      layout = segments.rdd.keyBy(_.termId)
        .join(dict.rdd.map(e => e.termId -> (e.term, e.df)))
        .map { case (_, (s, (term, df))) => s.shard -> (term, (s, df)) }
        .cogroup(norms.rdd.keyBy(_.shard), new HashPartitioner(numShards))
        .mapValues { case (segs, ns) =>
          (segs.toMap, ns.headOption.fold(Array.empty[Float])(_.norms))
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    layout
  }

  def release(): Unit = {
    synchronized { if (layout != null) layout.unpersist(blocking = false) }
    releaseBuild()
  }
}

object IndexBuilder {

  val BlockFamilies = Set("block_optpfor", "block_interpolative",
                          "block_varint", "block_mixed")

  def codecFor(indexType: String): BlockCodec = indexType match {
    case "block_optpfor" => OptPfdCodec
    case "block_interpolative" => InterpolativeCodec
    case "block_varint" => VarintCodec
    case "block_mixed" => MixedCodec
    case other => throw new IllegalArgumentException(s"not a block type: $other")
  }

  /** Encode one (termId, shard) run. Postings must be docID-sorted. */
  def encodeSegment(indexType: String, termId: Int, shard: Int,
                    shardNumDocs: Int, docs: Array[Int], tfs: Array[Int],
                    normLens: Array[Float]): Segment = {
    val n = docs.length
    var occ = 0L
    var maxScore = 0.0f
    val blocks = (n + 127) / 128
    val blockMax = new Array[Float](blocks)
    var i = 0
    while (i < n) {
      occ += tfs(i)
      val s = Bm25.docTermWeight(tfs(i).toLong, normLens(i))
      val b = i >>> 7
      if (s > blockMax(b)) blockMax(b) = s
      if (s > maxScore) maxScore = s
      i += 1
    }
    val bytes =
      if (BlockFamilies(indexType))
        BlockPostingList.encode(codecFor(indexType), docs, tfs)
      else
        EfPostingList.encode(EfFamily.byName(indexType), shardNumDocs, docs, tfs)
    Segment(termId, shard, n, occ, docs(0).toLong, docs(n - 1).toLong,
            bytes, blockMax, maxScore)
  }

  /** Terms above this realized-vocabulary size switch the postings
    * plan from broadcast termIds to the range layout (see [[build]]).
    * ~5M entries ≈ a few hundred MB broadcast — comfortably inside an
    * executor; web-scale vocabularies (10^8-10^9) take the other path. */
  val MaxBroadcastTerms: Long =
    sys.env.getOrElse("SPARK_GRAFT_BCAST_TERMS_MAX", "5000000").toLong

  /** Full build: corpus docs -> dictionary -> postings -> compressed
    * docID-sorted segments + norms + meta.
    *
    * Plan shape (scale notes):
    *  - per-doc tokenize carries (term, tf, len): no token-level shuffle,
    *    no postings-x-norms join (normLen = len/avgLen is computed from
    *    the carried len and the broadcast scalar avgLen);
    *  - the dictionary is a map-side-combined groupBy(term) — the
    *    shuffle carries per-partition DISTINCT terms, not tokens — then
    *    the same range-sort + offsets dense-rank scheme as
    *    DocIds.assign (Dictionary.build);
    *  - postings, vocab <= MaxBroadcastTerms (any bench/sf scale): the
    *    dict broadcasts as a term -> termId hash map, tokens map
    *    straight to int termIds, and the |tokens|-sized relation
    *    crosses the network exactly ONCE — the (termId, shard) encode
    *    shuffle, with int-only rows (no term strings). No sampling
    *    pass, no token-level range shuffle, no tokens-sized cache:
    *    measured ~40% less memory traffic per doc, which is what the
    *    wide half of a scaling pair is starved of (memory bandwidth
    *    per core drops ~35% from 4 to 16 busy cores on this box);
    *  - postings, web-scale vocab (10^9 terms won't broadcast): ONE
    *    range shuffle by term lays tokens out term-contiguous, and
    *    dense termIds + termId-tagged postings are streaming passes
    *    over that layout (per-partition distinct-run counts -> prefix
    *    offsets, no postings-x-dict join) — the tokens relation then
    *    crosses the network twice (range + encode), never three times;
    *  - encode groups by (termId, shard) via repartition +
    *    sortWithinPartitions; encode is a streaming mapPartitions over
    *    consecutive runs (the deterministic parallel-prepare/
    *    ordered-commit of semiasync_queue.hpp:12-96 is exactly Spark's
    *    sorted-shuffle contract);
    *  - head-term skew is bounded by shardSize (docID-range salting).
    */
  def build(spark: SparkSession, docs: Dataset[DocRow], indexType: String,
            shardSize: Long = 1L << 22,
            buildPartitions: Int = 32,
            onlyShards: Option[Set[Int]] = None,
            cacheCorpus: Boolean = true): BuiltIndex = {
    import spark.implicits._

    // persist the corpus only if the caller has not already: callers like
    // SparkEntry.docsOf pass a session-cached dataset, and unpersisting
    // THAT from release() would silently evict the caller's cache.
    // cacheCorpus=false (bench/scaling path, or any corpus larger than
    // executor memory) skips the cache entirely: consumers re-execute
    // the corpus lineage, whose shuffle map stages are skipped on
    // re-execution — the upstream shuffle files are the cache, at zero
    // heap (see DocIds.assign persist=false).
    val docsOwned = cacheCorpus &&
      docs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val docsP =
      if (docsOwned) docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docs
    val (numDocs, sumLen) = docsP.agg(count(lit(1)), sum($"len"))
      .as[(Long, Long)].head()
    require(numDocs > 0, "empty corpus")
    val avgLen = (sumLen.toDouble / numDocs.toDouble).toFloat

    // dictionary: dense termIds by ORDER BY term, df/cf per term. The
    // groupBy is map-side combined, so the shuffle is vocab-shaped.
    val dict = Dictionary.build(
      spark,
      docsP.flatMap(d => Tokenize.termFreqs(d.text)).toDF("term", "tf"),
      buildPartitions)
    val numTerms = dict.count() // already materialized; cached-cheap

    // tracks the broadcast/cache this build owns, released in release()
    var bcMap: org.apache.spark.broadcast.Broadcast[TermLookup] = null
    var byTerm: Dataset[(String, Long, Int, Int)] = null

    val postings =
      if (numTerms <= MaxBroadcastTerms) {
        // broadcast path: tokens -> int termIds in the map stage; the
        // big relation shuffles once, keyed and carried as ints only.
        // The dict crosses to the driver and back as COMPACT per-
        // partition chunks (blob + lengths, ids implicit in order):
        // collecting 1-2M (String, Int) rows and Java-serializing a
        // HashMap measured ~2.5 s of driver-serial time inside the
        // timed build plus ~0.7 s deserialize PER EXECUTOR — Amdahl
        // cost the 4N half of a scaling pair pays 4x (see TermLookup).
        // Dictionary.build's partitions are termId-contiguous in id
        // order by construction; fromChunks requires it.
        val chunks = dict.select($"termId", $"term").as[(Int, String)]
          .mapPartitions { it =>
            if (it.isEmpty) Iterator.empty
            else {
              val first = it.next()
              val lens = new scala.collection.mutable.ArrayBuilder.ofInt
              val bytes = new java.io.ByteArrayOutputStream(1 << 16)
              var n = 1
              var b = first._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              lens += b.length
              bytes.write(b)
              var expect = first._1 + 1
              it.foreach { case (id, term) =>
                require(id == expect,
                        s"dict partition not id-contiguous at $id (expected $expect)")
                expect += 1
                n += 1
                b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                lens += b.length
                bytes.write(b)
              }
              Iterator.single((first._1, n, bytes.toByteArray, lens.result()))
            }
          }.collect()
        val lookup = TermLookup.fromChunks(chunks)
        require(lookup.numTerms == numTerms,
                s"term lookup has ${lookup.numTerms} terms, dict $numTerms")
        bcMap = spark.sparkContext.broadcast(lookup)
        val bc = bcMap
        docsP.flatMap { d =>
          val ids = bc.value
          Tokenize.termFreqs(d.text).map { case (t, tf) =>
            val id = ids.id(t)
            if (id < 0)
              throw new IllegalStateException(s"token '$t' missing from dict")
            (id, d.docId, tf, d.len)
          }
        }.toDF("termId", "docId", "tf", "len")
      } else {
        // range-layout path: lay tokens out term-contiguous and assign
        // the SAME dense rank in-stream from per-partition run counts
        // (RangePartitioner maps every row of a term to one partition,
        // so runs never split; global term order across partitions
        // makes layout rank == dict rank)
        byTerm = docsP.flatMap { d =>
          Tokenize.termFreqs(d.text).map { case (t, tf) =>
            (t, d.docId, tf, d.len)
          }
        }.toDF("term", "docId", "tf", "len")
          .repartitionByRange(buildPartitions, $"term")
          .sortWithinPartitions($"term", $"docId")
          .as[(String, Long, Int, Int)]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val termCounts = byTerm.mapPartitions { it =>
          var n = 0L
          var prev: String = null
          it.foreach { r =>
            if (prev == null || r._1 != prev) { n += 1; prev = r._1 }
          }
          Iterator.single(n)
        }.collect()
        val offsets = termCounts.scanLeft(0L)(_ + _)
        require(offsets.last == numTerms,
                s"layout rank cardinality ${offsets.last} != dict $numTerms")
        val bcOff = spark.sparkContext.broadcast(offsets)
        byTerm.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var id = bcOff.value(pid) - 1
          var prev: String = null
          it.map { case (term, docId, tf, len) =>
            if (prev == null || term != prev) { id += 1; prev = term }
            (id.toInt, docId, tf, len)
          }
        }.toDF("termId", "docId", "tf", "len")
      }

    val shardSizeL = shardSize
    val avgLenF = avgLen
    val numDocsL = numDocs
    val idxType = indexType

    val withShard = postings
      .withColumn("shard", ($"docId" / lit(shardSizeL)).cast("int"))
    val filtered = onlyShards match {
      case Some(s) => withShard.filter($"shard".isin(s.toSeq: _*))
      case None => withShard
    }

    val segments = filtered
      .repartition(buildPartitions, $"termId", $"shard")
      .sortWithinPartitions($"termId", $"shard", $"docId")
      .select($"termId", $"shard", $"docId", $"tf", $"len")
      .as[(Int, Int, Long, Int, Int)]
      .mapPartitions { it =>
        new Iterator[Segment] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Segment = {
            val (termId, shard, _, _, _) = buf.head
            val docsB = new scala.collection.mutable.ArrayBuilder.ofInt
            val tfsB = new scala.collection.mutable.ArrayBuilder.ofInt
            val normsB = new scala.collection.mutable.ArrayBuilder.ofFloat
            val base = shard.toLong * shardSizeL
            while (buf.hasNext && buf.head._1 == termId && buf.head._2 == shard) {
              val (_, _, docId, tf, len) = buf.next()
              docsB += (docId - base).toInt
              tfsB += tf
              normsB += len.toFloat / avgLenF
            }
            val shardNumDocs =
              math.min(shardSizeL, numDocsL - base).toInt
            encodeSegment(idxType, termId, shard, shardNumDocs,
                          docsB.result(), tfsB.result(), normsB.result())
          }
        }
      }

    // per-shard norm arrays for query-time scoring. Column-prune BEFORE
    // the typed stages: a typed .map over DocRow would deserialize the
    // whole row and drag the text payload through the groupBy for a
    // 2-column result (measured 3.3 s of a 58 s build).
    val norms = docsP
      .select($"docId", $"len").as[(Long, Int)]
      .map { case (docId, len) =>
        (((docId / shardSizeL).toInt), (docId % shardSizeL).toInt, len)
      }
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val entries = it.toArray.sortBy(_._2)
        val arr = new Array[Float](entries.length)
        entries.foreach { case (_, local, len) => arr(local) = len.toFloat / avgLenF }
        ShardNorms(shard, entries.length, arr)
      }

    val numPostings = 0L // filled when persisted; avoid an extra job here
    BuiltIndex(IndexMeta(numDocs, avgLen, shardSize, indexType, numTerms,
                         numPostings),
               dict, segments, norms,
               releaseBuild = () => {
                 if (byTerm != null) byTerm.unpersist(blocking = false)
                 // unpersist (not destroy): keeps the driver copy so a
                 // post-release re-consumption can still recompute;
                 // dropping the BuiltIndex lets the ContextCleaner GC it
                 if (bcMap != null) bcMap.unpersist(blocking = false)
                 dict.unpersist(blocking = false)
                 if (docsOwned) docsP.unpersist(blocking = false)
                 ()
               })
  }
}
