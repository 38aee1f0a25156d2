package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.build.{BuiltIndex, IndexBuilder, Segment}
import graft.core.{BlockPostingList, Bm25, Daat, PostingEnum}

/** The DAAT kernels replayed in this process, outside Spark, over the
  * same index's segments: per-query kernel time and blocks decoded (the
  * `profile` counters BlockPostingList.Enumerator accepts), and the
  * exhaustive conjunctive ranking that ranked_and is checked against.
  * Lists are opened and weighted the way Engine does per shard. */
final class Core(spark: SparkSession, index: BuiltIndex, queries: Array[Array[String]]) {
  import spark.implicits._
  private val meta = index.meta
  require(IndexBuilder.BlockFamilies(meta.indexType), s"not a block index: ${meta.indexType}")
  private val codec = IndexBuilder.codecFor(meta.indexType)

  private val terms: Map[String, (Int, Long)] = {
    val wanted = queries.flatten.distinct.toSeq
    index.dict.filter(col("term").isin(wanted: _*)).collect()
      .map(e => e.term -> (e.termId, e.df)).toMap
  }
  private val segs: Map[(Int, Int), Segment] =
    index.segments.filter(col("termId").isin(terms.values.map(_._1).toSeq: _*))
      .collect().map(s => (s.shard, s.termId) -> s).toMap
  private val norms: Map[Int, Array[Float]] =
    index.norms.collect().map(n => n.shard -> n.norms).toMap

  /** (termId, qtf, df), termId-ascending; None when a term is unknown. */
  private def resolve(q: Array[String]): (Array[(Int, Int, Long)], Boolean) = {
    val known = q.flatMap(terms.get)
    val qts = known.groupBy(identity).toArray
      .map { case ((tid, df), occ) => (tid, occ.length, df) }.sortBy(_._1)
    (qts, known.length != q.length)
  }

  private def lists(shard: Int, qts: Array[(Int, Int, Long)],
                    profile: Array[Long] => Unit): Array[Daat.ScoredList] =
    qts.filter(t => segs.contains((shard, t._1))).map { case (tid, qtf, df) =>
      val seg = segs((shard, tid))
      val prof = new Array[Long](2 * ((seg.n + codec.blockSize - 1) / codec.blockSize))
      profile(prof)
      val en = new BlockPostingList.Enumerator(seg.bytes, 0, norms(shard).length, codec, prof)
      val qw = Bm25.queryTermWeight(qtf.toLong, df, meta.numDocs)
      new Daat.ScoredList(en, qw, qw * seg.maxScore, en, seg.blockMaxScores)
    }

  private def kernel(op: String, ls: Array[Daat.ScoredList], nrm: Array[Float],
                     k: Int): Array[(Int, Float)] = op match {
    case "wand" => Daat.wand(ls, nrm, nrm.length, k, Bm25)
    case "maxscore" => Daat.maxscore(ls, nrm, nrm.length, k, Bm25)
    case "block_max_wand" => Daat.blockMaxWand(ls, nrm, nrm.length, k, Bm25)
    case "ranked_and" => Daat.rankedAnd(ls, nrm, nrm.length, k, Bm25)
    case "ranked_or" => Daat.rankedOr(ls, nrm, nrm.length, k, Bm25)
  }

  /** Top-k of the conjunction: the exhaustive disjunctive ranking of each
    * shard, kept to the documents that hold every query term. */
  def conjunctiveTop(q: Array[String], k: Int): Seq[(Long, Float)] = {
    val (qts, unknown) = resolve(q)
    if (unknown || qts.isEmpty) return Nil
    norms.keys.toSeq.flatMap { shard =>
      val nrm = norms(shard)
      if (!qts.forall(t => segs.contains((shard, t._1)))) Nil
      else {
        val docSets = qts.map { t =>
          val seg = segs((shard, t._1))
          val en: PostingEnum = new BlockPostingList.Enumerator(seg.bytes, 0, nrm.length, codec)
          val s = new java.util.BitSet(nrm.length)
          var i = 0
          while (i < seg.n) { s.set(en.docId); en.next(); i += 1 }
          s
        }
        val all = docSets.reduce { (a, b) => a.and(b); a }
        val base = shard.toLong * meta.shardSize
        kernel("ranked_or", lists(shard, qts, _ => ()), nrm, nrm.length)
          .filter(h => all.get(h._1)).map { case (d, s) => (base + d, s) }.toSeq
      }
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  /** Per op: median kernel time per query (all shards) and mean blocks
    * decoded per query, over `qs`; a first pass warms the JIT. */
  def replay(qs: Seq[Array[String]]): Map[String, Double] =
    ServePhase.RankedOps.flatMap { op =>
      def pass(): (Seq[Double], Seq[Long]) = qs.map { q =>
        val (qts, unknown) = resolve(q)
        var blocks = 0L
        val t0 = System.nanoTime()
        if (!(op == "ranked_and" && unknown)) norms.keys.foreach { shard =>
          val profs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          val ls = lists(shard, qts, profs += _)
          if (ls.nonEmpty && !(op == "ranked_and" && ls.length != qts.length))
            kernel(op, ls, norms(shard), 10)
          blocks += profs.map(_.sum).sum
        }
        ((System.nanoTime() - t0) / 1e3, blocks)
      }.unzip
      pass()
      val (us, blocks) = pass()
      Seq(s"core.kernel_us_p50.$op" -> Stats.median(us),
          s"core.blocks_decoded_per_query.$op" -> blocks.sum.toDouble / blocks.length)
    }.toMap
}
