package graft.tools

import org.apache.spark.sql.SparkSession
import graft.build._
import graft.core._
import graft.ingest._
import graft.query._

/** Ad-hoc profiling main (not part of the driver contract). */
object Profile {
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val what = if (args.nonEmpty) args(0) else "all"

    if (what == "scaling") {
      val n = if (args.length > 1) args(1).toInt else 300000
      // JIT warmup on a small corpus first
      graft.Bench.buildThroughputPublic(16, 20000)
      graft.Bench.buildThroughputPublic(16, 80000)
      for (round <- 1 to 3; cores <- Seq(4, 16)) {
        val tp = graft.Bench.buildThroughputPublic(cores, n)
        println(f"[prof] round $round cores=$cores tp=$tp%.0f docs/s")
      }
      return
    }

    if (what == "blocks") {
      // Q12 analog: replay the query set per op with block-access
      // profiling; pruning quality = fraction of blocks decoded vs the
      // exhaustive oracle
      val z = CollectionGen.zipf(numDocs = 10000, vocab = 50000)
      val coll = z.coll
      val codec: BlockCodec = OptPfdCodec
      val enc = coll.termDocs.indices.map(ti =>
        BlockPostingList.encode(codec, coll.termDocs(ti), coll.termFreqs(ti))).toArray
      val maxW = coll.termDocs.indices.map { ti =>
        coll.termDocs(ti).indices.map(i =>
          Bm25.docTermWeight(coll.termFreqs(ti)(i).toLong,
                             coll.normLens(coll.termDocs(ti)(i)))).max
      }.toArray
      val blockMax = coll.termDocs.indices.map { ti =>
        val docs = coll.termDocs(ti); val tfs = coll.termFreqs(ti)
        Array.tabulate((docs.length + 127) / 128) { b =>
          (b * 128 until math.min(docs.length, (b + 1) * 128)).map(i =>
            Bm25.docTermWeight(tfs(i).toLong, coll.normLens(docs(i)))).max
        }
      }.toArray
      for (op <- Seq("ranked_or", "wand", "maxscore", "block_max_wand")) {
        val counters = coll.termDocs.indices.map(ti =>
          new Array[Long](2 * ((coll.termDocs(ti).length + 127) / 128))).toArray
        z.queries.foreach { q =>
          val lists = Daat.queryFreqs(q).map { qt =>
            val en = new BlockPostingList.Enumerator(enc(qt.termId), 0,
              coll.numDocs, codec, counters(qt.termId))
            val qw = Bm25.queryTermWeight(qt.qtf.toLong,
              coll.termDocs(qt.termId).length.toLong, coll.numDocs.toLong)
            new Daat.ScoredList(en, qw, qw * maxW(qt.termId), en,
                                blockMax(qt.termId))
          }
          op match {
            case "ranked_or" => Daat.rankedOr(lists, coll.normLens, coll.numDocs, 10)
            case "wand" => Daat.wand(lists, coll.normLens, coll.numDocs, 10)
            case "maxscore" => Daat.maxscore(lists, coll.normLens, coll.numDocs, 10)
            case "block_max_wand" => Daat.blockMaxWand(lists, coll.normLens, coll.numDocs, 10)
          }
        }
        val docsDecodes = counters.map(c =>
          (0 until c.length / 2).map(b => c(2 * b)).sum).sum
        val freqDecodes = counters.map(c =>
          (0 until c.length / 2).map(b => c(2 * b + 1)).sum).sum
        println(f"[prof] $op%-15s docs-block decodes=$docsDecodes%9d freq-block decodes=$freqDecodes%9d")
      }
      return
    }

    if (what == "perftest") {
      val perf = graft.Bench.opPerfTestPublic()
      perf.toSeq.sortBy(_._1).foreach { case (op, st) =>
        println(f"[prof] $op%-15s mean=${st("mean")}%8.1f us  q50=${st("q50")}%8.1f  q90=${st("q90")}%8.1f  q95=${st("q95")}%8.1f")
      }
      return
    }

    if (what == "phases") {
      val n = if (args.length > 1) args(1).toInt else 300000
      for (cores <- Seq(8, 32)) {
        val s2 = SparkSession.builder().master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", math.max(cores, 8))
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.ui.enabled", "false").getOrCreate()
        s2.sparkContext.setLogLevel("WARN")
        import s2.implicits._
        val corpus = Corpus.synthetic(s2, n, partitions = 64)
        val docs = t(s"[$cores] gen+assign")(
          { val d = DocIds.assign(s2, corpus, 64)
            d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            d.count(); d })
        val tf = docs.flatMap { d =>
          Tokenize.termFreqs(d.text).map { case (t0, tf0) => (t0, d.docId, tf0, d.len) }
        }.toDF("term", "docId", "tf", "len")
        t(s"[$cores] termFreqs count")(tf.count())
        val dict = t(s"[$cores] dict build")(
          { val d = Dictionary.build(s2, tf.select($"term", $"tf"), 64)
            d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            d.count(); d })
        t(s"[$cores] full build")(
          { val idx = IndexBuilder.build(s2, docs, "block_optpfor", 1L << 21, 64)
            idx.segments.agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1))).collect()
            idx.release() })
        s2.stop()
      }
      return
    }
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("PROF_SF", "/root/testdata/sf0.01")

    if (what == "all" || what == "sql") {
      import spark.implicits._
      val qdf = graft.SparkEntry.FixedQueries
        .flatMap { case (id, ts) => ts.map(t => (id.toLong, t)) }
        .toDF("query_id", "term")
      t("trivial job 1")(spark.range(1000000).agg(org.apache.spark.sql.functions.sum("id")).collect())
      t("trivial job 2")(spark.range(1000000).agg(org.apache.spark.sql.functions.sum("id")).collect())
      t("read parquet count")(spark.read.parquet(s"$sfDir/documents.parquet").count())
      t("tokens.count")(Oracle.tokens(spark, sfDir).count())
      t("tokens.count 2nd")(Oracle.tokens(spark, sfDir).count())
      t("postings.count")(Oracle.postings(spark, sfDir).count())
      val post = Oracle.postings(spark, sfDir)
      val lens = Oracle.docLens(spark, sfDir)
      import org.apache.spark.sql.functions._
      t("join-no-window") {
        val df = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        val q = qdf.groupBy("query_id", "term").agg(count(lit(1)).cast("double").as("qtf"))
        val stats = lens.agg(count(lit(1)).cast("double").as("n"),
                             (sum("len") / count(lit(1))).as("avg_len"))
        q.join(post, "term").join(df, "term").join(lens, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("qw", col("qtf") * greatest(lit(1.0e-6),
            log((col("n") - col("df") + 0.5) / (col("df") + 0.5))) * lit(2.2))
          .groupBy("query_id", "doc_id").agg(sum(col("qw")).as("score"))
          .count()
      }
      t("bm25TopK count 1st")(Oracle.bm25TopK(spark, sfDir, qdf, 10).count())
      t("bm25TopK count 2nd")(Oracle.bm25TopK(spark, sfDir, qdf, 10).count())
    }

    if (what == "all" || what == "kernel") {
      // kernel latency on a synthetic in-memory collection
      val coll = graft.core.CollectionGen.make(numDocs = 100000, numTerms = 200,
                                               seed = 77L)
      val codec = OptPfdCodec
      val enc = coll.termDocs.indices.map(t =>
        BlockPostingList.encode(codec, coll.termDocs(t), coll.termFreqs(t))).toArray
      val maxW = coll.termDocs.indices.map { ti =>
        var m = 0.0f
        for (i <- coll.termDocs(ti).indices)
          m = math.max(m, Bm25.docTermWeight(coll.termFreqs(ti)(i).toLong,
                                             coll.normLens(coll.termDocs(ti)(i))))
        m
      }.toArray
      val blockMax = coll.termDocs.indices.map { ti =>
        val docs = coll.termDocs(ti); val tfs = coll.termFreqs(ti)
        Array.tabulate((docs.length + 127) / 128) { b =>
          var m = 0.0f
          for (i <- b * 128 until math.min(docs.length, (b + 1) * 128))
            m = math.max(m, Bm25.docTermWeight(tfs(i).toLong, coll.normLens(docs(i))))
          m
        }
      }.toArray
      val rnd = new scala.util.Random(1)
      val queries = Array.fill(500)(Array.fill(1 + rnd.nextInt(5))(
        rnd.nextInt(coll.termDocs.length)))
      def lists(q: Array[Int]) = Daat.queryFreqs(q).map { qt =>
        val en = new BlockPostingList.Enumerator(enc(qt.termId), 0, coll.numDocs, codec)
        val qw = Bm25.queryTermWeight(qt.qtf.toLong, coll.termDocs(qt.termId).length.toLong,
                                      coll.numDocs.toLong)
        new Daat.ScoredList(en, qw, qw * maxW(qt.termId), en, blockMax(qt.termId))
      }
      for (op <- Seq("ranked_or", "wand", "block_max_wand", "maxscore")) {
        def run(q: Array[Int]) = op match {
          case "ranked_or" => Daat.rankedOr(lists(q), coll.normLens, coll.numDocs, 10)
          case "wand" => Daat.wand(lists(q), coll.normLens, coll.numDocs, 10)
          case "maxscore" => Daat.maxscore(lists(q), coll.normLens, coll.numDocs, 10)
          case "block_max_wand" => Daat.blockMaxWand(lists(q), coll.normLens, coll.numDocs, 10)
        }
        queries.foreach(run) // warmup
        queries.foreach(run)
        val t0 = System.nanoTime()
        queries.foreach(run)
        val us = (System.nanoTime() - t0) / 1e3 / queries.length
        println(f"[prof] kernel $op: $us%.1f us/query (100k docs, 200 terms)")
      }
    }
    spark.stop()
  }
}
