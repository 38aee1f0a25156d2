package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical input row, per the target corpus shape: Common-Crawl-style
  * web pages (url, warc_ts, html, text, lang). */
final case class CorpusDoc(url: String, warc_ts: java.sql.Timestamp,
                           html: Array[Byte], text: String, lang: String)

final case class DocRow(docId: Long, url: String, text: String, len: Int)
final case class DictEntry(term: String, termId: Int, df: Long, cf: Long)
final case class Posting(termId: Int, docId: Long, tf: Int)

object Corpus {
  /** Deterministic synthetic web corpus (FIXTURES.md §1, seed-stable,
    * byte-identical text per url across runs and cluster sizes): Zipf(1.1)
    * tokens over a synthetic vocabulary, doc length ~ reference profile. */
  def synthetic(spark: SparkSession, n: Int, partitions: Int = 32): Dataset[CorpusDoc] = {
    import spark.implicits._
    val vocabSize = math.max(1000, 12 * math.min(n, 200000))
    spark.range(0, n.toLong, 1, partitions).map { i =>
      val idx = i.toInt
      val rnd = new scala.util.Random(42L + idx)
      val len = 30 + rnd.nextInt(400)
      val sb = new StringBuilder(len * 8)
      var t = 0
      while (t < len) {
        // Zipf(s=1.1) via inverse-power sampling
        val u = rnd.nextDouble()
        val rank = math.min(vocabSize - 1,
          math.pow(u, -1.0 / 1.1).toInt - 1)
        if (t > 0) sb.append(' ')
        // zero-padded "w%06d" without String.format (it dominated gen
        // time); identical output for any rank
        sb.append('w')
        val s = Integer.toString(rank)
        var p = 6 - s.length
        while (p > 0) { sb.append('0'); p -= 1 }
        sb.append(s)
        t += 1
      }
      val text = sb.toString
      val url = "https://example.org/doc/%010d".format(idx)
      CorpusDoc(url,
                new java.sql.Timestamp(1483228800000L + idx * 1000L),
                ("<html><body>" + text + "</body></html>").getBytes("UTF-8"),
                text, "en")
    }
  }

  /** Adapter: driver testdata `documents.parquet` (doc_id, text, lang, ...)
    * to the canonical corpus shape. urls are zero-padded doc_ids, so the
    * dense-rank-by-url docID contract maps docId == doc_id. */
  def fromDocumentsTable(spark: SparkSession, sfDir: String): Dataset[CorpusDoc] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
      .map { r =>
        val id = r.getLong(0)
        CorpusDoc("https://example.org/doc/%012d".format(id),
                  new java.sql.Timestamp(1483228800000L + id * 1000L),
                  Array.emptyByteArray, r.getString(1), r.getString(2))
      }
  }
}

object Scan {
  /** Spread a narrow scan over the session's parallelism before a
    * compute-dense operator: hash-repartition on `key` when the scan
    * plans fewer than min(defaultParallelism, 16) partitions. A
    * gate-sized table is one parquet file = ONE scan partition, which
    * ran the whole per-row map on a single task (measured at sf0.1: the
    * all-pairs cosine loop's stream side 2.4 s, the oracle tokenize
    * 1.4 s of a 5.4 s gate). A real multi-split corpus already plans
    * enough partitions and skips the exchange, which at scale would
    * move the full relation for nothing. */
  private[graft] def spread(spark: SparkSession, df: DataFrame,
                            key: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.min(par, 16))
      df.repartition(par, col(key))
    else df
  }
}

object Tokenize {
  /** Deterministic tokenizer: lowercase (Locale.ROOT) + split on
    * non-alphanumeric runs. Matches DuckDB
    * regexp_split_to_array(lower(text), '[^a-z0-9]+') on ASCII input. */
  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)

  /** `tokens(text).length` without allocating: counts maximal [a-z0-9]
    * runs in one char scan, lowercasing ASCII inline. The hot path of
    * the docId-assignment len column — `tokens()` allocates a full
    * lowercased copy plus two arrays per doc, which profiled as pure
    * GC in the build's tokenize stages. Any non-ASCII char falls back
    * to the exact `tokens()` path (String.toLowerCase has multi-char
    * mappings, e.g. U+0130, that a char scan cannot reproduce). */
  def countTokens(text: String): Int = {
    val n = text.length
    var i = 0
    var cnt = 0
    var in = false
    while (i < n) {
      val c = text.charAt(i)
      if (c >= 128) return tokens(text).length
      val tok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
                (c >= '0' && c <= '9')
      if (tok && !in) cnt += 1
      in = tok
      i += 1
    }
    cnt
  }

  /** Per-document term frequencies without a token-level shuffle: one
    * hash-map pass per document (map-side combine by construction).
    * Tokenizes by direct char scan on ASCII (no full-text lowercase
    * copy, no regex, no token arrays — one String per token emitted is
    * the only allocation); non-ASCII input falls back to `tokens()`
    * for byte-exact agreement with the oracle tokenizer. */
  def termFreqs(text: String): Array[(String, Int)] = {
    val m = new java.util.HashMap[String, Int]()
    val inc: java.util.function.BiFunction[Int, Int, Int] = (a, b) => a + b
    val n = text.length
    var i = 0
    var ascii = true
    val sb = new java.lang.StringBuilder(24)
    while (ascii && i < n) {
      val c = text.charAt(i)
      if (c >= 128) ascii = false
      else {
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc)
        else if (sb.length > 0) { m.merge(sb.toString, 1, inc); sb.setLength(0) }
        i += 1
      }
    }
    if (!ascii) {
      m.clear()
      tokens(text).foreach(t => m.merge(t, 1, inc))
    } else if (sb.length > 0) m.merge(sb.toString, 1, inc)
    val out = new Array[(String, Int)](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(j) = (e.getKey, e.getValue); j += 1 }
    scala.util.Sorting.stableSort(out, (a: (String, Int), b: (String, Int)) => a._1 < b._1)
    out
  }
}

/** Range partitioner over url keys with PRECOMPUTED boundaries.
  * Partition i receives keys k with bounds(i-1) < k <= bounds(i)
  * (partition 0: k <= bounds(0); last: k > bounds(last)) — the same
  * upper-bound convention as Spark's RangePartitioner, but without its
  * sampling job: boundaries come from a url-only scan (see
  * [[DocIds.assign]]), so constructing this class costs nothing. */
final class UrlRangePartitioner(val bounds: Array[String])
    extends org.apache.spark.Partitioner {
  override def numPartitions: Int = bounds.length + 1
  override def getPartition(key: Any): Int = {
    val k = key.asInstanceOf[String]
    // first index with bounds(i) >= k; duplicates in bounds (degenerate
    // samples) resolve to the first match, leaving later dups empty
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) < k) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object DocIds {
  /** Dense docIDs by ORDER BY url, scalable — and the TEXT NEVER
    * MOVES: only urls (tagged with their origin partition/position) go
    * through a shuffle; the assigned ids are scattered back to the
    * origin partitions and zipped against the pinned corpus scan. docId
    * is exactly |{u : u < url}| — a pure function of the url set,
    * independent of partitioning internals.
    *
    * OWNERSHIP: the returned dataset is persisted (at `storage`); the
    * CALLER must `unpersist()` it when done — in a long-lived session,
    * un-freed assignments accumulate alongside the build-internal
    * caches (see BuiltIndex.release). Scan-shaped inputs return LAZY
    * (the caller's first action writes the cache as a side effect of
    * real work); inputs that needed a pinned projection are
    * materialized eagerly before the pin is released.
    *
    * Plan shape (why not repartitionByRange + zipWithIndex, the v1
    * scheme): Catalyst's range exchange SAMPLES ITS FULL INPUT to pick
    * boundaries — over a web corpus that is a whole extra scan +
    * tokenize of every document, re-sampled per action unless the RDD
    * is pinned — and zipWithIndex adds a fetch+sort pass just to count
    * partitions. Worse, both schemes push every (url, text) row
    * through shuffle write + remote fetch + sort: at 8-wide that
    * data-movement stage measured 2.6x the CPU of the identical
    * 2-wide work (DRAM-bound string traffic) while the pure-compute
    * stages of the same build scaled flat. Here the full-weight rows
    * stay where the scan put them:
    *   1. url-only column scan (parquet prunes to the url column) ->
    *      deterministic stride-decimated weighted sample -> range
    *      boundaries, no sampling job over the text;
    *   2. url-only pass -> EXACT count per url-range partition ->
    *      prefix offsets (the id base of each range);
    *   3. (url, origin pid, origin pos) through the TINY url shuffle,
    *      sorted by (url, pid, pos) — total order, deterministic even
    *      under duplicate urls — ids assigned from the exact offsets;
    *   4. ids shuffled BACK by origin pid (tiny rows again) and
    *      zipPartitions-aligned with the pinned (url, text) scan by
    *      position; every zipped row asserts url equality, so any
    *      planner divergence between the pruned url scan and the full
    *      scan fails loudly instead of corrupting ids.
    * The big relation is read from source once and written to the
    * columnar cache once — never shuffled, never sorted, never
    * fetched.
    *
    * `storage`: MEMORY_AND_DISK by default; pass DISK_ONLY when the
    * corpus exceeds executor memory (the bench/scaling path does) — the
    * cache then costs zero heap and reads back through the page cache.
    * The persist is DATASET-level (columnar, column-prunable: norms
    * reads docId+len without touching text). `len` is computed inside
    * the cache-materialize pass; only a cache miss re-tokenizes, and
    * re-executions never re-shuffle urls (the tiny shuffles' files
    * persist and their map stages are skipped). */
  /** True when every re-execution of `p` — including a column-PRUNED
    * one — yields identical rows in identical partition positions: leaf
    * scans and deterministic narrow ops only. Anything with an exchange
    * is not: a round-robin repartition's stabilizing pre-sort keys on
    * the full row BYTES (a pruned plan sorts different bytes → different
    * partition contents), and a hash exchange's reduce-side row order
    * follows nondeterministic fetch arrival. */
  private def pruneStable(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val nodeOk = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias => true
      case _: SerializeFromObject | _: DeserializeToObject => true
      case _: MapElements | _: TypedFilter | _: MapPartitions => true
      case s: Sort => !s.global
      case _ => false
    }
    nodeOk && p.expressions.forall(_.deterministic) &&
      p.children.forall(pruneStable)
  }

  def assign(spark: SparkSession, corpus: Dataset[CorpusDoc],
             partitions: Int = 32,
             storage: org.apache.spark.storage.StorageLevel =
               org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : Dataset[DocRow] = {
    import spark.implicits._
    // column-level select BEFORE the typed stages so Catalyst prunes the
    // scan to (url, text): a typed .map would deserialize whole rows and
    // drag the html payload (the bulk of a web corpus) through the plan
    val projected = corpus.toDF().select($"url", $"text")
    // The scatter scheme reads the corpus through TWO plans (a pruned
    // url-only scan and the full scan) and requires them to agree row
    // for row. Scan-shaped upstreams do (and keep parquet's url-column
    // pruning — the fast path the build relies on); an upstream with a
    // shuffle or a nondeterministic expression does not, so pin the
    // projection once and serve both plans from the pinned cache. The
    // in-memory cache is columnar, so the url passes still prune.
    val pinned =
      if (pruneStable(corpus.queryExecution.analyzed)) None
      else {
        val p = projected.persist(storage)
        p.count()
        Some(p)
      }
    val src = pinned.getOrElse(projected)
    val urls = src.select($"url").as[String]
    // pass 1 (url column only): deterministic stride-decimated sample,
    // <= cap urls per input partition, each carrying its stride as a
    // weight — the fixed-seed-free equivalent of a weighted reservoir
    // (identical input order => identical sample, any run, any wideness)
    // one pinned url-only RDD serves the sample, count, and tagging
    // passes: identical partitioning across all three by construction
    val urlRdd = urls.rdd
    val cap = 4096
    val samples = urlRdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuffer[String](cap)
      var stride = 1L
      var i = 0L
      it.foreach { u =>
        if (i % stride == 0) {
          if (buf.length == cap) {
            var w = 0
            var r = 0
            while (r < buf.length) {
              if ((r & 1) == 0) { buf(w) = buf(r); w += 1 }
              r += 1
            }
            buf.dropRightInPlace(buf.length - w)
            stride *= 2
          }
          buf += u
        }
        i += 1
      }
      buf.iterator.map(u => (u, stride))
    }.collect()
    val bounds: Array[String] =
      if (samples.isEmpty || partitions <= 1) Array.empty
      else {
        val sorted = samples.sortBy(_._1)
        val total = sorted.iterator.map(_._2).sum.toDouble
        val out = new scala.collection.mutable.ArrayBuffer[String](partitions - 1)
        var cum = 0.0
        var nextCut = total / partitions
        var j = 0
        while (j < sorted.length && out.length < partitions - 1) {
          cum += sorted(j)._2
          while (cum >= nextCut && out.length < partitions - 1) {
            if (out.isEmpty || out.last < sorted(j)._1) out += sorted(j)._1
            nextCut += total / partitions
          }
          j += 1
        }
        out.toArray
      }
    val part = new UrlRangePartitioner(bounds)
    // pass 2 (url column only): EXACT count per output partition — the
    // id offsets, with no fetch+sort job over the full rows
    val counts = urlRdd.mapPartitions { it =>
      val c = new Array[Long](part.numPartitions)
      it.foreach(u => c(part.getPartition(u)) += 1)
      Iterator.single(c)
    }.fold(new Array[Long](part.numPartitions)) { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    val offsets = counts.scanLeft(0L)(_ + _)
    val bcOff = spark.sparkContext.broadcast(offsets)
    // the full-weight scan, PINNED: one RDD instance = one set of file
    // splits, shared by the url-tagging pass and the final zip, so the
    // (pid, pos) tags always address the same rows
    val base = src.as[(String, String)].rdd
    val nParts = base.getNumPartitions
    require(urlRdd.getNumPartitions == nParts,
            s"docId scatter: url scan planned ${urlRdd.getNumPartitions} " +
            s"partitions but the full scan planned $nParts")
    // 3. tiny shuffle: (url, origin pid, origin pos) sorted by the full
    // triple — deterministic total order even under duplicate urls —
    // then ids assigned in-stream from the exact range offsets
    val tagged = urlRdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = 0
      it.map { u =>
        val t = ((u, pid, pos), ())
        pos += 1
        t
      }
    }
    val sortedIds = tagged
      .repartitionAndSortWithinPartitions(new UrlTriplePartitioner(part))
      .mapPartitionsWithIndex { (pid, it) =>
        var id = bcOff.value(pid)
        it.map { case ((u, opid, opos), _) =>
          val r = (opid, (opos, id, u))
          id += 1
          r
        }
      }
    // 4. scatter ids back to their origin partitions (tiny rows), align
    // with the pinned scan by position, tokenize into the cache
    val idsByOrigin = sortedIds.partitionBy(new ExactPartitioner(nParts))
    val out = spark.createDataset(
      base.zipPartitions(idsByOrigin) { (docIt, idIt) =>
        val ids = idIt.map(_._2).toArray.sortInPlaceBy(_._1)
        var pos = 0
        docIt.map { case (url, text) =>
          require(pos < ids.length,
                  s"docId scatter: more rows than ids at pos $pos")
          val (opos, id, u) = ids(pos)
          require(opos == pos && u == url,
                  s"docId scatter misalignment at pos $pos: " +
                  s"tagged ($opos, $u) vs scanned $url — the pruned url " +
                  "scan and the full scan planned different partitions. " +
                  "(Raised from DocIds.assign's deferred zip: with a " +
                  "scan-shaped input this fires during the CALLER'S first " +
                  "action on the assigned docs, not inside assign itself.)")
          pos += 1
          DocRow(id, url, text, Tokenize.countTokens(text))
        } ++ {
          require(pos == ids.length,
                  s"docId scatter: ${ids.length - pos} unconsumed ids " +
                  s"(url scan saw more rows than the full scan)")
          Iterator.empty
        }
      }).persist(storage)
    // Scan-shaped upstream (no pinned projection): defer materialization
    // to the caller's first action — it writes the cache as a side
    // effect of real work (IndexBuilder's corpus agg), one pass and one
    // job cheaper than an eager count, and every later consumer still
    // reads the pinned cache. With a pinned projection the eager count
    // is LOAD-BEARING: the projection must stay persisted until the zip
    // has materialized (unpersisting first would re-execute the zip
    // against an unpinned plan, tripping the alignment require), so
    // materialize now and only then release it.
    pinned.foreach { p =>
      out.count()
      p.unpersist(blocking = false)
    }
    out
  }
}

/** Routes a (url, pid, pos) sort key by its url through the wrapped
  * url-range partitioner: same url placement as [[UrlRangePartitioner]]
  * (so the exact per-range counts stay valid) while the key carries the
  * origin tag for a fully deterministic total sort order. */
final class UrlTriplePartitioner(inner: UrlRangePartitioner)
    extends org.apache.spark.Partitioner {
  override def numPartitions: Int = inner.numPartitions
  override def getPartition(key: Any): Int =
    inner.getPartition(key.asInstanceOf[(String, Int, Int)]._1)
}

/** Identity partitioner over Int keys in [0, n) — the scatter-back
  * address space of origin partition ids. */
final class ExactPartitioner(n: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

object Dictionary {
  /** Dense termIDs by ORDER BY term with global df/cf — same scalable
    * range-sort + offsets scheme. The reference presumes ids assigned
    * upstream in list order (/root/reference/README.md:68-70); this fixes
    * the contract to lexicographic term order.
    *
    * OWNERSHIP: the returned dataset is persisted and already
    * materialized; the CALLER must `unpersist()` it when done (same
    * contract as DocIds.assign). The fused IndexBuilder.build derives
    * its dictionary internally and frees it via BuiltIndex.release; this
    * standalone path exists for callers that need a dictionary without
    * an index. */
  def build(spark: SparkSession, termDocFreqs: DataFrame,
            partitions: Int = 32): Dataset[DictEntry] = {
    import spark.implicits._
    // persist the vocab-shaped aggregate BEFORE the range shuffle: the
    // RangePartitioner's sampling pass evaluates its whole input, so an
    // unpersisted aggregate would run the (tokens-sized) upstream agg
    // TWICE — once to sample boundaries, once to shuffle (measured
    // ~18 s of a 58 s 1.2M-doc build). The cache is vocab-sized rows.
    val pre = termDocFreqs
      .groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = pre
      .repartitionByRange(partitions, $"term")
      .sortWithinPartitions($"term")
      .select($"term", $"df", $"cf")
      .as[(String, Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = agg.mapPartitions(it => Iterator.single(it.size)).collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = agg.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var next = bc.value(pid)
      it.map { case (term, df, cf) =>
        val id = next
        next += 1
        DictEntry(term, id.toInt, df, cf)
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same lifecycle as DocIds.assign: materialize, free the aggregates
    out.count()
    agg.unpersist(blocking = false)
    pre.unpersist(blocking = false)
    out
  }
}
