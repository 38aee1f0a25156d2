package graft.query

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._
import graft.build._

/** A query: id + term strings (duplicates allowed; folded into query-term
  * multiplicity exactly like queries.hpp:133-150). */
final case class Query(queryId: Int, terms: Array[String])

final case class RankedHit(queryId: Int, rank: Int, docId: Long, score: Float)
final case class CountResult(queryId: Int, matches: Long)

/** Distributed query serving: each batch is one Spark job, a narrow pass
  * over the index's shard-resident layout ([[BuiltIndex.serving]]) — every
  * docID shard resolves the query terms against its own term map and runs
  * the DAAT kernel over its in-memory segments, and the driver merges the
  * per-shard top-ks into a global top-k ordered (score desc, docId asc).
  * For a single shard this is exactly the reference's single-node
  * execution.
  */
object Engine {

  final val RankedOps = Set("ranked_and", "ranked_or", "wand", "maxscore",
                            "block_max_wand")
  final val CountOps = Set("and", "or")

  /** Per-shard kernel run over the shard's term -> (Segment, global df)
    * map. A query term the shard lacks, whether out of vocabulary or only
    * absent from this shard, empties a conjunction here and drops out of a
    * disjunction; since df is global, the merged results are the same as
    * resolving against the whole dictionary. */
  private def runShard(op: String, scorer: Scorer, meta: IndexMeta,
                       k: Int, queries: Array[Query],
                       segs: Map[String, (Segment, Long)],
                       norms: Array[Float],
                       shard: Int): Iterator[(Int, Long, Float, Long)] = {
    // returns (queryId, docIdGlobal, score, matches) rows; for boolean ops
    // score is 0 and matches carries the count
    val base = shard.toLong * meta.shardSize
    val shardNumDocs = norms.length
    val isBlock = IndexBuilder.BlockFamilies(meta.indexType)
    val codec = if (isBlock) IndexBuilder.codecFor(meta.indexType) else null
    val family = if (isBlock) null else EfFamily.byName(meta.indexType)

    queries.iterator.flatMap { case Query(qid, qterms) =>
      // query_freqs: termId-sorted (segment, qtf, df) of the terms held here
      val qtfs = qterms.groupMapReduce(identity)(_ => 1)(_ + _)
      val present = qtfs.toArray.flatMap { case (t, qtf) =>
        segs.get(t).map { case (seg, df) => (seg, qtf, df) }
      }.sortBy(_._1.termId)
      val conjunctive = op == "and" || op == "ranked_and"
      if (present.isEmpty || (conjunctive && present.length != qtfs.size)) {
        if (op == "and" || op == "or") Iterator.single((qid, -1L, 0.0f, 0L))
        else Iterator.empty
      } else {
        def openEnum(seg: Segment): PostingEnum =
          if (isBlock)
            new BlockPostingList.Enumerator(seg.bytes, 0, shardNumDocs, codec)
          else
            new EfPostingList.Enumerator(seg.bytes, family, shardNumDocs)
        op match {
          case "and" =>
            val enums = present.map(t => openEnum(t._1))
            Iterator.single((qid, -1L, 0.0f,
                             Daat.andCount(enums, shardNumDocs)))
          case "or" =>
            val enums = present.map(t => openEnum(t._1))
            Iterator.single((qid, -1L, 0.0f,
                             Daat.orCount(enums, shardNumDocs)))
          case _ =>
            val lists = present.map { case (seg, qtf, df) =>
              val en = openEnum(seg)
              val qw = scorer.queryTermWeight(qtf.toLong, df, meta.numDocs)
              new Daat.ScoredList(en, qw, qw * seg.maxScore,
                                  if (isBlock) en.asInstanceOf[BlockPostingList.Enumerator] else null,
                                  seg.blockMaxScores)
            }
            val top = op match {
              case "ranked_or" => Daat.rankedOr(lists, norms, shardNumDocs, k, scorer)
              case "ranked_and" => Daat.rankedAnd(lists, norms, shardNumDocs, k, scorer)
              case "wand" => Daat.wand(lists, norms, shardNumDocs, k, scorer)
              case "maxscore" => Daat.maxscore(lists, norms, shardNumDocs, k, scorer)
              case "block_max_wand" =>
                require(isBlock, "block_max_wand requires a block index")
                Daat.blockMaxWand(lists, norms, shardNumDocs, k, scorer)
              case other => throw new IllegalArgumentException(other)
            }
            top.iterator.map { case (d, s) => (qid, base + d, s, 0L) }
        }
      }
    }
  }

  /** Ranked top-k (op in RankedOps). */
  def topK(spark: SparkSession, index: BuiltIndex, queries: Seq[Query],
           op: String, k: Int = 10,
           scorer: Scorer = Bm25): Dataset[RankedHit] = {
    import spark.implicits._
    require(RankedOps(op), s"topK serves ${RankedOps.mkString("/")}, not $op")
    require(op != "block_max_wand" || IndexBuilder.BlockFamilies(index.meta.indexType),
            s"block_max_wand requires a block index, not ${index.meta.indexType}")
    // global merge: top-k per query by (score desc, docId asc)
    val hits = shardResults(index, queries, op, k, scorer).groupBy(_._1)
      .toSeq.flatMap { case (qid, rows) =>
        rows.sortBy { case (_, d, s, _) => (-s, d) }.take(k).zipWithIndex
          .map { case ((_, d, s, _), r) => RankedHit(qid, r + 1, d, s) }
      }
    spark.createDataset(hits)
  }

  /** Boolean counts (op in CountOps); queries no shard touched count 0. */
  def count(spark: SparkSession, index: BuiltIndex, queries: Seq[Query],
            op: String): Dataset[CountResult] = {
    import spark.implicits._
    require(CountOps(op), s"count serves ${CountOps.mkString("/")}, not $op")
    val got = shardResults(index, queries, op, 0, Bm25)
      .groupMapReduce(_._1)(_._4)(_ + _)
    spark.createDataset(queries.map(_.queryId).distinct
      .map(qid => CountResult(qid, got.getOrElse(qid, 0L))))
  }

  /** Runs the batch on every shard of the serving layout in one job and
    * collects the (queryId, docId, score, matches) rows. */
  private def shardResults(index: BuiltIndex, queries: Seq[Query],
                           op: String, k: Int,
                           scorer: Scorer): Array[(Int, Long, Float, Long)] = {
    val batch = queries.toArray
    val meta = index.meta
    index.serving.flatMap { case (shard, (segs, norms)) =>
      runShard(op, scorer, meta, k, batch, segs, norms, shard)
    }.collect()
  }
}
