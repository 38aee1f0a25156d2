package graft.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.build._
import graft.ingest._
import graft.query._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  // ---- brute-force model straight from the texts --------------------------
  private lazy val model: BruteModel = BruteModel.fromDocuments(spark, sfDir)

  private val queryTerms: Seq[Array[String]] = Seq(
    Array("join", "hash"),
    Array("scan", "filter", "table"),
    Array("the"),
    Array("dup"),
    Array("key", "value", "sort", "merge"),
    Array("spark", "spark"), // duplicate term -> qtf 2
    Array("window", "stream", "batch"),
    Array("nonexistentterm"),
    Array("join", "nonexistentterm"),
    Array("a", "the", "big", "small", "fast", "slow"),
    Array("customer", "order", "line"),
    Array("vector", "column", "row", "agg", "group"))
  private val queries: Seq[Query] =
    queryTerms.zipWithIndex.map { case (t, i) => Query(i, t) }

  private def buildIdx(indexType: String, shardSize: Long,
                       corpus: => Dataset[CorpusDoc] =
                         Corpus.fromDocumentsTable(spark, sfDir)): BuiltIndex = {
    val docs = DocIds.assign(spark, corpus, partitions = 4)
    IndexBuilder.build(spark, docs, indexType, shardSize, buildPartitions = 4)
  }

  test("verify: decoded segments reproduce the raw postings exactly") {
    val idx = buildIdx("block_optpfor", 1L << 20)
    val codec = IndexBuilder.codecFor("block_optpfor")
    val dict = idx.dict.collect().map(e => e.termId -> e.term).toMap
    val segs = idx.segments.collect()
    var postings = 0L
    for (s <- segs) {
      val e = new BlockPostingList.Enumerator(s.bytes, 0,
        math.min(idx.meta.shardSize, model.numDocs).toInt, codec)
      val term = dict(s.termId)
      val expected = model.postings(term)
      assert(e.size == expected.length, s"term=$term")
      for (i <- expected.indices) {
        assert(e.docId == expected(i)._1, s"term=$term i=$i")
        assert(e.freq == expected(i)._2, s"term=$term i=$i freq")
        e.next()
        postings += 1
      }
    }
    assert(postings == model.totalPostings)
  }

  test("ranked queries: engine == brute-force float32 model, all ops") {
    val idx = buildIdx("block_optpfor", 1L << 20).copy()
    idx.segments.persist(); idx.norms.persist()
    for (op <- Seq("ranked_or", "wand", "maxscore", "block_max_wand")) {
      val got = Engine.topK(spark, idx, queries, op, 10).collect()
        .groupBy(_.queryId)
      for (q <- queries) {
        val expected = model.rankedOr(q.terms, 10)
        val hits = got.getOrElse(q.queryId, Array.empty).sortBy(_.rank)
          .map(h => (h.docId, h.score)).toSeq
        assert(hits == expected.toSeq, s"op=$op q=${q.terms.mkString(",")}")
      }
    }
    // conjunctive
    val gotAnd = Engine.topK(spark, idx, queries, "ranked_and", 10).collect()
      .groupBy(_.queryId)
    for (q <- queries) {
      val expected = model.rankedAnd(q.terms, 10)
      val hits = gotAnd.getOrElse(q.queryId, Array.empty).sortBy(_.rank)
        .map(h => (h.docId, h.score)).toSeq
      assert(hits == expected.toSeq, s"ranked_and q=${q.terms.mkString(",")}")
    }
  }

  test("multi-shard build gives identical results to single-shard") {
    val single = buildIdx("block_optpfor", 1L << 20)
    val sharded = buildIdx("block_optpfor", 64) // ~8 shards at 500 docs
    for (op <- Seq("ranked_or", "wand", "block_max_wand")) {
      val a = Engine.topK(spark, single, queries, op, 10).collect()
        .sortBy(h => (h.queryId, h.rank)).map(h => (h.queryId, h.docId, h.score)).toSeq
      val b = Engine.topK(spark, sharded, queries, op, 10).collect()
        .sortBy(h => (h.queryId, h.rank)).map(h => (h.queryId, h.docId, h.score)).toSeq
      assert(a == b, s"op=$op")
    }
    val ca = Engine.count(spark, single, queries, "and").collect()
      .map(c => c.queryId -> c.matches).toMap
    val cb = Engine.count(spark, sharded, queries, "and").collect()
      .map(c => c.queryId -> c.matches).toMap
    assert(ca == cb)
  }

  test("boolean counts match set algebra") {
    val idx = buildIdx("block_optpfor", 1L << 20)
    val and = Engine.count(spark, idx, queries, "and").collect()
      .map(c => c.queryId -> c.matches).toMap
    val or = Engine.count(spark, idx, queries, "or").collect()
      .map(c => c.queryId -> c.matches).toMap
    for (q <- queries) {
      assert(and(q.queryId) == model.andCount(q.terms), s"and ${q.terms.mkString(",")}")
      assert(or(q.queryId) == model.orCount(q.terms), s"or ${q.terms.mkString(",")}")
    }
  }

  test("EF-family index (opt/PEF) answers identically to block index") {
    val block = buildIdx("block_optpfor", 1L << 20)
    val pef = buildIdx("opt", 1L << 20)
    for (op <- Seq("ranked_or", "wand", "maxscore")) {
      val a = Engine.topK(spark, block, queries, op, 10).collect()
        .sortBy(h => (h.queryId, h.rank)).map(h => (h.queryId, h.docId, h.score)).toSeq
      val b = Engine.topK(spark, pef, queries, op, 10).collect()
        .sortBy(h => (h.queryId, h.rank)).map(h => (h.queryId, h.docId, h.score)).toSeq
      assert(a == b, s"op=$op")
    }
  }

  test("per-shard term resolution: shard-local, cross-shard and unknown terms") {
    // every term of the sf fixture occurs in every shard; a Zipf corpus
    // has a rare tail whose terms each lie in one shard
    val corpus = Corpus.synthetic(spark, 500, partitions = 4)
    val zipf = BruteModel.fromTexts(corpus.collect().map(d =>
      d.url.stripPrefix("https://example.org/doc/").toLong -> d.text))
    val idx = buildIdx("block_optpfor", 64, corpus) // 8 shards at 500 docs
    val shardLocal = zipf.postings.toSeq.sortBy(_._1).collect {
      case (t, ps) if ps.length >= 2 && ps.map(_._1 / 64).distinct.length == 1 =>
        t -> ps.head._1 / 64
    }
    val (t1, s1) = shardLocal.head
    val t2 = shardLocal.collectFirst { case (t, s) if s != s1 => t }.get
    val head = zipf.postings.maxBy(_._2.length)._1 // in every shard
    val qs = Seq(Array(t1), Array(t1, t2), Array(t2, "nonexistentterm"),
                 Array(t1, t1), Array(t1, head))
      .zipWithIndex.map { case (t, i) => Query(i, t) }
    assert(zipf.andCount(Array(t1, t2)) == 0L && zipf.orCount(Array(t1, t2)) > 0L)
    for (op <- Engine.RankedOps.toSeq.sorted) {
      val got = Engine.topK(spark, idx, qs, op, 10).collect().groupBy(_.queryId)
      for (q <- qs) {
        val expected =
          if (op == "ranked_and") zipf.rankedAnd(q.terms, 10)
          else zipf.rankedOr(q.terms, 10)
        val hits = got.getOrElse(q.queryId, Array.empty).sortBy(_.rank)
          .map(h => (h.docId, h.score)).toSeq
        assert(hits == expected.toSeq, s"op=$op q=${q.terms.mkString(",")}")
      }
    }
    val and = Engine.count(spark, idx, qs, "and").collect()
      .map(c => c.queryId -> c.matches).toMap
    val or = Engine.count(spark, idx, qs, "or").collect()
      .map(c => c.queryId -> c.matches).toMap
    for (q <- qs) {
      assert(and(q.queryId) == zipf.andCount(q.terms), s"and ${q.terms.mkString(",")}")
      assert(or(q.queryId) == zipf.orCount(q.terms), s"or ${q.terms.mkString(",")}")
    }
  }

  test("a repeated batch is one narrow pass: no shuffle, exactly 1 job") {
    val idx = buildIdx("block_optpfor", 64) // ~8 shards at 500 docs
    // jobs and shuffle-write bytes that Spark ran for one call
    def traced(call: => Any): (Int, Long) = {
      val sc = spark.sparkContext
      val jobs = new AtomicInteger
      val shuffleBytes = new AtomicLong
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m =>
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      TestListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try { call; TestListenerBus.drain(sc) }
      finally sc.removeSparkListener(listener)
      (jobs.get, shuffleBytes.get)
    }
    def topK() = Engine.topK(spark, idx, queries, "wand", 10).collect().toSet
    def count() = Engine.count(spark, idx, queries, "and").collect().toSet
    // the first calls build the serving layout; the repeats only read it
    val (hits, counts) = (topK(), count())
    for ((name, repeat) <- Seq("topK" -> (() => assert(topK() == hits)),
                               "count" -> (() => assert(count() == counts)))) {
      val (jobs, shuffleBytes) = traced(repeat())
      assert(shuffleBytes == 0L, s"$name wrote $shuffleBytes shuffle bytes")
      assert(jobs == 1, s"$name ran $jobs jobs")
    }
  }

  private lazy val blockIdx = buildIdx("block_optpfor", 1L << 20)

  test("topK rejects a boolean op") {
    intercept[IllegalArgumentException] {
      Engine.topK(spark, blockIdx, queries, "and", 10).collect()
    }
  }

  test("count rejects a ranked op") {
    intercept[IllegalArgumentException] {
      Engine.count(spark, blockIdx, queries, "wand").collect()
    }
  }

  test("block_max_wand rejects an EF index") {
    val pef = buildIdx("opt", 1L << 20)
    intercept[IllegalArgumentException] {
      Engine.topK(spark, pef, Seq(Query(0, Array("nonexistentterm"))),
                  "block_max_wand", 10).collect()
    }
  }
}

/** Independent model computed straight from the document texts. */
final case class BruteModel(numDocs: Long,
                            postings: Map[String, Array[(Long, Int)]],
                            docLens: Map[Long, Int],
                            avgLen: Float) {
  def totalPostings: Long = postings.valuesIterator.map(_.length.toLong).sum
  private def normLen(doc: Long): Float = docLens(doc).toFloat / avgLen

  private def qfs(terms: Array[String]): Array[(String, Int)] =
    terms.filter(postings.contains).sorted
      .foldLeft(List.empty[(String, Int)]) {
        case ((t, c) :: rest, term) if t == term => (t, c + 1) :: rest
        case (acc, term) => (term, 1) :: acc
      }.reverse.toArray

  def rankedOr(terms: Array[String], k: Int): Array[(Long, Float)] = {
    val qt = qfs(terms)
    if (qt.isEmpty) return Array.empty
    val docs = qt.flatMap(t => postings(t._1).map(_._1)).distinct.sorted
    val topk = new TopKQueue(k)
    // local docIds fit Int in tests
    for (doc <- docs) {
      var score = 0.0f
      for ((term, qtf) <- qt) {
        val tfOpt = postings(term).find(_._1 == doc)
        tfOpt.foreach { case (_, tf) =>
          val qw = Bm25.queryTermWeight(qtf.toLong, postings(term).length.toLong, numDocs)
          score += qw * Bm25.docTermWeight(tf.toLong, normLen(doc))
        }
      }
      topk.insert(score, doc.toInt)
    }
    topk.finalized().map { case (d, s) => (d.toLong, s) }
  }

  def rankedAnd(terms: Array[String], k: Int): Array[(Long, Float)] = {
    val distinct = terms.distinct
    if (distinct.exists(!postings.contains(_))) return Array.empty
    val qt = qfs(terms)
    if (qt.isEmpty) return Array.empty
    val sets = qt.map(t => postings(t._1).map(_._1).toSet)
    val common = sets.reduce(_ intersect _).toArray.sorted
    val topk = new TopKQueue(k)
    for (doc <- common) {
      var score = 0.0f
      for ((term, qtf) <- qt) {
        val tf = postings(term).find(_._1 == doc).get._2
        val qw = Bm25.queryTermWeight(qtf.toLong, postings(term).length.toLong, numDocs)
        score += qw * Bm25.docTermWeight(tf.toLong, normLen(doc))
      }
      topk.insert(score, doc.toInt)
    }
    topk.finalized().map { case (d, s) => (d.toLong, s) }
  }

  def andCount(terms: Array[String]): Long = {
    val distinct = terms.distinct
    if (distinct.isEmpty) return 0L
    if (distinct.exists(!postings.contains(_))) return 0L
    distinct.map(t => postings(t).map(_._1).toSet).reduce(_ intersect _).size.toLong
  }

  def orCount(terms: Array[String]): Long = {
    val present = terms.distinct.filter(postings.contains)
    if (present.isEmpty) return 0L
    present.map(t => postings(t).map(_._1).toSet).reduce(_ union _).size.toLong
  }
}

object BruteModel {
  def fromDocuments(spark: SparkSession, sfDir: String): BruteModel = {
    import spark.implicits._
    fromTexts(spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect())
  }

  /** Model of (docId, text) rows. */
  def fromTexts(rows: Array[(Long, String)]): BruteModel = {
    val postings = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    val docLens = scala.collection.mutable.Map.empty[Long, Int]
    for ((id, text) <- rows.sortBy(_._1)) {
      val tfs = Tokenize.termFreqs(text)
      docLens(id) = Tokenize.tokens(text).length
      for ((term, tf) <- tfs)
        postings(term) = (id, tf) :: postings.getOrElse(term, Nil)
    }
    val lensSum = docLens.values.map(_.toLong).sum
    val avgLen = (lensSum.toDouble / rows.length).toFloat
    BruteModel(rows.length.toLong,
               postings.map { case (t, l) => t -> l.reverse.toArray }.toMap,
               docLens.toMap, avgLen)
  }
}
