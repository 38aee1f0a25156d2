package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.ingest.Tokenize

/** Web-corpus deduplication operators: exact (hash groupBy), n-gram
  * Jaccard (shingle inverted index + pair verification), MinHash+LSH
  * (band-bucket join), SimHash (segment-blocked Hamming). All
  * deterministic and expressed Spark-first: the candidate generation is
  * a self-join on a blocking key, never an all-pairs crossJoin, so the
  * plans scale as sum-of-bucket^2 rather than corpus^2. */
object Dedup {

  /** Exact duplicate groups by content hash. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(count(lit(1)).cast("long").as("dup_count"),
           min("doc_id").as("keeper_doc_id"))
      .filter(col("dup_count") >= 2)
      .orderBy("text_hash")

  /** Exact-duplicate pre-collapse shared by the near-dup ops: one
    * representative (min doc_id) per distinct text.
    *
    * Returns (repDocs, membership): repDocs is (doc_id, text) with one
    * row per DISTINCT text (doc_id = the representative), membership is
    * (rep_id, doc_id, members) mapping every input doc to its
    * representative. Near-dup candidate generation then runs over
    * distinct texts only — a cluster of M byte-identical documents (the
    * most common web-duplication shape) costs one hash groupBy instead
    * of flooding a blocking bucket with M entries and M^2/2 candidate
    * pairs. */
  private def collapseExact(docs: DataFrame): (DataFrame, DataFrame) = {
    val keyed = docs.select(col("doc_id"), col("text"),
                            md5(col("text")).as("h"))
    val reps = keyed.groupBy("h")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).cast("long").as("members"))
    val membership = keyed.select(col("h"), col("doc_id"))
      .join(reps, "h")
      .select(col("rep_id"), col("doc_id"), col("members"))
    val repDocs = keyed
      .join(reps.select(col("rep_id")), keyed("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("text"))
    (repDocs, membership)
  }

  /** Spread a small-by-bytes / heavy-by-CPU relation over the cluster
    * before a compute-dense per-row map. The near-dup ops' shingling /
    * signature maps read the collapseExact join output, which AQE
    * coalesces to a handful of partitions by SIZE (a few MB of text) —
    * leaving the tokenize+hash work, the real cost at gate scale, on
    * 1-2 tasks. A deterministic hash repartition on doc_id restores
    * parallelism for a few MB of shuffle; width follows the session's
    * defaultParallelism, not a constant. */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** A near-dup op's part of [[expandExact]]: its pairs among
    * representatives (doc_a < doc_b, then value columns); the
    * representatives that get intra pairs, as rep_id plus the columns
    * `intraValues` reads (None: every duplicate group); and the op's
    * caches to release. */
  private final case class RepPairs(pairs: DataFrame,
                                    intraReps: Option[DataFrame],
                                    intraValues: Seq[Column],
                                    caches: Seq[DataFrame] = Nil)

  /** The steps every near-dup op shares: collapse exact duplicates, let
    * `op` pair up the spread (doc_id, text) representatives, expand each
    * representative pair to its member pairs (identical texts share
    * shingle sets, signatures and simhashes, so values carry over) and
    * add the intra-group pairs of exact copies. An M-copy cluster is
    * inherently M^2/2 output rows; exactGroups gives it linearly. The
    * small result is materialized so that membership and the op's
    * caches are released here, not leaked into the caller's session. */
  private def expandExact(spark: SparkSession, docs: DataFrame)
                         (op: DataFrame => RepPairs): DataFrame = {
    val (repDocs, membership0) = collapseExact(docs)
    val membership = membership0.persist(MEMORY_AND_DISK)
    val rep = op(spread(spark, repDocs))
    val values = rep.pairs.columns.toSeq.diff(Seq("doc_a", "doc_b")).map(col)
    val cross = rep.pairs
      .join(membership.select(col("rep_id").as("doc_a"),
                              col("doc_id").as("ma")), "doc_a")
      .join(membership.select(col("rep_id").as("doc_b"),
                              col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a") +:
              greatest(col("ma"), col("mb")).as("doc_b") +: values: _*)
    val groups = membership.filter(col("members") >= 2)
    val dupGroups = rep.intraReps.fold(groups)(groups.join(_, "rep_id"))
    val carried = rep.intraReps.toSeq
      .flatMap(_.columns.filter(_ != "rep_id")).map(col)
    val intra = dupGroups
      .select(col("rep_id") +: col("doc_id").as("ma") +: carried: _*)
      .join(dupGroups.select(col("rep_id"), col("doc_id").as("mb")), "rep_id")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a") +: col("mb").as("doc_b") +:
              rep.intraValues: _*)
    val result = cross.unionByName(intra).orderBy("doc_a", "doc_b")
      .persist(MEMORY_AND_DISK)
    result.count()
    rep.caches.foreach(_.unpersist())
    membership.unpersist()
    result
  }

  /** Token k-shingles of a document, distinct. Documents with fewer than
    * k tokens have NO shingles (matches the oracle's n-gram definition,
    * generate_series(1, len-k+1) yielding nothing) — returning a partial
    * shingle would pair all short/empty docs through "". */
  def shingles(text: String, k: Int): Array[String] = {
    val toks = Tokenize.tokens(text)
    if (toks.length < k) Array.empty
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      .distinct.toArray
  }

  /** Exact n-gram Jaccard near-duplicate pairs, three-phase:
    *
    * 0. EXACT-DUP PRE-COLLAPSE (collapseExact): candidate generation
    *    runs over one representative per distinct text; exact-duplicate
    *    clusters — the dominant web-duplication shape and the main
    *    dedup target — are recovered via the hash groups in linear
    *    work, never pair-enumerated through shingle buckets.
    * 1. CANDIDATES from a shingle inverted index restricted to shingles
    *    whose distinct-text frequency is <= `maxShingleDf`, requiring
    *    >= `minCoOccur` shared cold shingles. The df filter runs
    *    BEFORE any bucket materializes (count per shingle, then join),
    *    so a boilerplate shingle with millions of postings is dropped
    *    by a streaming count, not collected into one executor buffer.
    * 2. EXACT verification: candidate pairs join their full (uncapped)
    *    per-doc shingle sets and intersect them, so reported jaccard
    *    values are exact — phases 0-1 only affect which pairs are
    *    probed.
    *
    * RECALL LIMITS (the df cap is lossy, not merely a reordering): a
    * NEAR-duplicate cluster of more than `maxShingleDf` distinct text
    * variants has every shared shingle above the cap and produces no
    * candidates; likewise `minCoOccur` drops pairs of distinct texts
    * whose overlap is a single shingle (e.g. exactly-k-token docs).
    * Such missed pairs CAN be true near-duplicates. Exact duplicates
    * are always recovered regardless (phase 0); the residual blind spot
    * is clusters of >maxShingleDf mutually-near-but-unequal variants. */
  def ngramJaccardPairs(spark: SparkSession, docs: DataFrame, k: Int = 3,
                        threshold: Double = 0.5,
                        maxShingleDf: Int = 200,
                        minCoOccur: Int = 2): DataFrame =
    expandExact(spark, docs) { repDocs =>
      import spark.implicits._
      // One cached row per distinct text holding its (already-distinct)
      // shingle ARRAY — not the exploded (doc_id, shingle) relation. The
      // posting view below re-derives rows with a codegen'd explode per
      // consumer; the cache is corpus-of-arrays sized (rows = distinct
      // texts), and the per-doc set needed by the verify phase is the
      // cached array itself, which deletes the collect_set re-aggregation
      // of every posting row the old shape paid (its widest shuffle).
      val shArr = repDocs.as[(Long, String)]
        .map { case (id, text) => (id, shingles(text, k)) }
        .toDF("doc_id", "ss")
        .persist(MEMORY_AND_DISK)
      val sh = shArr.select(col("doc_id"), explode(col("ss")).as("shingle"))
      // df FIRST (a streaming partial-aggregated count), hot shingles
      // dropped before any posting list is collected: the join and the
      // groupBy below hash-partition on the same key, and every collected
      // bucket is <= maxShingleDf elements by construction
      val cold = sh.groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxShingleDf))
        .select("shingle")
      val cand = sh.join(cold, "shingle")
        .groupBy("shingle")
        .agg(collect_list(col("doc_id")).as("ds"))
        .select(col("ds")).as[Array[Long]]
        .flatMap { ds =>
          val s = ds.sorted
          for {
            i <- s.indices.iterator
            j <- (i + 1) until s.length
          } yield (s(i), s(j))
        }
        .toDF("doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= minCoOccur)
        .select("doc_a", "doc_b")
      // per-doc shingle sets, straight from the cache: shingles() output
      // is distinct by construction, and the only consumers take
      // size(array_intersect(...)) — order-insensitive — so this equals
      // the old collect_set aggregate row for row. Docs with zero
      // shingles carry an empty array here where the old groupBy had no
      // row; every consumer either inner-joins on candidate docs (which
      // have >= minCoOccur shingles) or filters sz >= 1, so those rows
      // are unreachable either way.
      val sets = shArr.select(col("doc_id"), col("ss"),
                              size(col("ss")).cast("long").as("sz"))
      val repPairs = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a"),
                          col("sz").as("sz_a")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b"),
                          col("sz").as("sz_b")), "doc_b")
        .withColumn("inter", size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
        .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "uni", "jaccard")
      // intra-group pairs (jaccard exactly 1) for exact copies with at
      // least one shingle
      RepPairs(repPairs,
               Some(sets.filter(col("sz") >= 1)
                      .select(col("doc_id").as("rep_id"), col("sz"))),
               Seq(col("sz").as("inter"), col("sz").as("uni"),
                   (col("sz").cast("double") / col("sz").cast("double"))
                     .as("jaccard")),
               Seq(shArr))
    }

  // ---------------------------------------------------------------- MinHash

  final val MinHashPrime = (1L << 61) - 1

  /** Thread-local MD5 instance: fp64 runs once per shingle/term in the
    * signature maps' innermost loops, and MessageDigest.getInstance is
    * a provider lookup + allocation per call; digest() leaves the
    * instance reset, so reuse is exact. */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of MD5 as a non-negative Long — the shingle
    * fingerprint (stable across JVMs). */
  def fp64(s: String): Long = {
    val d = md5Local.get().digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v & Long.MaxValue
  }

  /** Deterministic permutation parameters. */
  def perms(numPerms: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPerms)((math.abs(rnd.nextLong()) % (MinHashPrime - 1) + 1,
                          math.abs(rnd.nextLong()) % MinHashPrime))
  }

  def minhashSignature(shingleFps: Array[Long],
                       ps: Array[(Long, Long)]): Array[Long] = {
    val sig = Array.fill(ps.length)(Long.MaxValue)
    var i = 0
    while (i < shingleFps.length) {
      val x = shingleFps(i)
      var j = 0
      while (j < ps.length) {
        val (a, b) = ps(j)
        // (a*x + b) mod p with p = 2^61-1 via 128-bit-free reduction
        val h = java.lang.Math.floorMod(
          multiplyHighMod(a, x, b), MinHashPrime)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** (a*x + b) mod (2^61-1) using Math.multiplyHigh for the 128-bit
    * product; Mersenne-prime folding. */
  private def multiplyHighMod(a: Long, x: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    // fold 128-bit (hi, lo) mod 2^61-1: value = hi*2^64 + lo;
    // 2^64 mod p = 8, since 2^61 = 1 (mod p)
    val loMod = (lo & MinHashPrime) + (lo >>> 61)
    val hiMod = java.lang.Math.floorMod(hi, MinHashPrime) * 8 % MinHashPrime
    (loMod + hiMod + java.lang.Math.floorMod(b, MinHashPrime)) % MinHashPrime
  }

  /** MinHash + LSH near-duplicate candidates: `numPerms` permutations in
    * bands of `rowsPerBand`; docs sharing any band bucket are verified
    * with the signature-estimated similarity.
    *
    * Scale shape: exact duplicates are pre-collapsed (collapseExact) so
    * identical-text clusters — which would otherwise put M copies into
    * EVERY band bucket and emit M^2/2 candidate rows per band — are
    * resolved by a linear hash groupBy and re-expanded on output with
    * est_jaccard = 1. Band buckets larger than `maxBucket` DISTINCT
    * texts (pathological boilerplate collisions) are dropped before the
    * bucket self-join, mirroring the n-gram op's df cap; pairs inside a
    * dropped bucket can still surface through any of the other bands. */
  def minhashLsh(spark: SparkSession, docs: DataFrame, k: Int = 3,
                 numPerms: Int = 128, rowsPerBand: Int = 4,
                 threshold: Double = 0.8, seed: Long = 42L,
                 maxBucket: Int = 1000): DataFrame =
    expandExact(spark, docs) { repDocs =>
      import spark.implicits._
      val ps = spark.sparkContext.broadcast(perms(numPerms, seed))
      // docs with no shingles have no MinHash signature (an all-MaxValue
      // sentinel signature would bucket every short doc together)
      val sigs = repDocs.as[(Long, String)]
        .flatMap { case (id, text) =>
          val fps = shingles(text, k).map(fp64)
          if (fps.isEmpty) None
          else Some((id, minhashSignature(fps, ps.value)))
        }.toDF("doc_id", "sig")
        .persist(MEMORY_AND_DISK)
      val bands = numPerms / rowsPerBand
      val banded = sigs.as[(Long, Array[Long])].flatMap { case (id, sig) =>
        (0 until bands).map { b =>
          val slice = sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
          (b, slice.mkString(","), id)
        }
      }.toDF("band", "bucket", "doc_id")
      // bucket sizes first (streaming count), oversized buckets dropped
      // before the self-join materializes their pairs
      val coldBuckets = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz").between(2, maxBucket))
        .select("band", "bucket")
      val coldBanded = banded.join(coldBuckets, Seq("band", "bucket"))
      val l = coldBanded.as("l")
      val r = coldBanded.as("r")
      val cand = l.join(r, col("l.band") === col("r.band") &&
                           col("l.bucket") === col("r.bucket") &&
                           col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
      // estimate similarity from full signatures
      val sa = sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a")
      val sb = sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b")
      val repPairs = cand.join(sa, "doc_a").join(sb, "doc_b")
        .as[(Long, Long, Array[Long], Array[Long])]
        .map { case (b, a, sb2, sa2) =>
          var eq = 0
          var i = 0
          while (i < sa2.length) { if (sa2(i) == sb2(i)) eq += 1; i += 1 }
          (a, b, eq.toDouble / sa2.length)
        }.toDF("doc_a", "doc_b", "est_jaccard")
        .filter(col("est_jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"),
                floor(col("est_jaccard") * 1000).cast("long").as("est_jaccard_x1000"))
      // intra-group pairs of exact copies with a signature (>= 1
      // shingle) estimate 1.0
      RepPairs(repPairs, Some(sigs.select(col("doc_id").as("rep_id"))),
               Seq(lit(1000L).as("est_jaccard_x1000")), Seq(sigs))
    }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over tf-weighted token fingerprints. */
  def simhash(text: String): Long = {
    val acc = new Array[Int](64)
    Tokenize.termFreqs(text).foreach { case (term, tf) =>
      val h = fp64(term)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += tf else acc(b) -= tf
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** SimHash blocking tables per Manku, Jain & Sarma (WWW'07 §3): the 64
    * bits split into 6 blocks (11,11,11,11,10,10 bits); one table per
    * 3-block combination (C(6,3) = 20), keyed on the ~32-bit
    * concatenation of those blocks. A pair at Hamming distance <= 3 has
    * its differing bits inside at most 3 blocks, so at least 3 blocks
    * are clean and some 3-combination of clean blocks exists — the pair
    * collides in that table (pigeonhole-complete). Key cardinality
    * ~2^32 PER TABLE grows with the corpus, unlike 16-bit segments
    * (65,536 values, ~15k-doc average buckets at 10^9 docs and
    * quadratic pair emission beyond). */
  private val SimHashBlockBounds = Array(0, 11, 22, 33, 44, 54, 64)
  private val SimHashCombos: Array[Array[Int]] =
    (0 until 6).combinations(3).map(_.toArray).toArray

  /** (table, key) blocking entries for one simhash. */
  def simhashBlockKeys(h: Long): Array[(Int, Long)] =
    Array.tabulate(SimHashCombos.length) { t =>
      var key = 0L
      SimHashCombos(t).foreach { b =>
        val lo = SimHashBlockBounds(b)
        val w = SimHashBlockBounds(b + 1) - lo
        key = (key << w) | ((h >>> lo) & ((1L << w) - 1))
      }
      (t, key)
    }

  /** Near-dup pairs with Hamming distance <= maxDist, blocked on the
    * Manku multi-table wide keys above; exact Hamming verification on
    * colliding pairs. Exact duplicates are pre-collapsed first: an
    * M-copy identical-text cluster would otherwise collide in EVERY
    * table (20 * M^2/2 candidate rows); identical text means identical
    * simhash, so intra-group pairs are emitted directly at distance 0
    * and cross-group distances carry over from the representatives.
    * Blocking stays pigeonhole-COMPLETE — no bucket cap here, because
    * exactness (every dist<=maxDist pair found) is this operator's
    * contract, gate-verified against brute force. */
  def simhashPairs(spark: SparkSession, docs: DataFrame,
                   maxDist: Int = 3): DataFrame = {
    import spark.implicits._
    require(maxDist <= 3, "6-block/choose-3 tables cover maxDist <= 3")
    expandExact(spark, docs) { repDocs =>
      val hashed = repDocs.as[(Long, String)]
        .map { case (id, t) => (id, simhash(t)) }
        .toDF("doc_id", "simhash")
      val seg = hashed.as[(Long, Long)].flatMap { case (id, h) =>
        simhashBlockKeys(h).map { case (t, key) => (t, key, id, h) }
      }.toDF("tbl", "key", "doc_id", "simhash")
      val l = seg.as("l")
      val r = seg.as("r")
      val repPairs = l.join(r, col("l.tbl") === col("r.tbl") &&
                               col("l.key") === col("r.key") &&
                               col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
                col("l.simhash").as("ha"), col("r.simhash").as("hb"))
        .distinct()
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("hamming") <= maxDist)
        .select(col("doc_a"), col("doc_b"),
                col("hamming").cast("long").as("hamming"))
      // every duplicate group is at distance 0, no extra join needed
      RepPairs(repPairs, None, Seq(lit(0L).as("hamming")))
    }
  }
}
