package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.ingest.Scan

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Baseline: exact brute-force cosine top-k, scored by a
  * compiled dot-product UDF (`dot`). Scale paths: random-hyperplane LSH
  * bucketing and IVF-Flat inverted lists, so candidate generation is a
  * join instead of a crossJoin; every path re-ranks its candidates by
  * the same exact score. */
object Ann {

  /** Double-precision dot product of two float-array columns.
    *
    * Compiled kernel, not zip_with + aggregate: Catalyst higher-order
    * functions are NOT whole-stage-codegen'd — they evaluate as
    * interpreted lambda expressions with per-element boxing, and in the
    * all-pairs ops the dot lands inside a BroadcastNestedLoopJoin
    * condition, so every candidate pair paid the interpreted path
    * (measured 10.3 s for dedup_embedding_cosine at sf0.1, ~2M pairs;
    * plans/r07/dedup_embedding_cosine_before.txt shows the lambda tree
    * in the join condition). The replacement sums a(i)*b(i) as doubles
    * in ASCENDING INDEX ORDER — exactly the left-fold order of the old
    * aggregate(zip_with(...), 0.0, +) — so every score is bit-identical
    * and the DuckDB oracles are unaffected. Null arrays yield null like
    * the old expression tree (zip_with propagates null); the fixture
    * and driver embeddings are fixed-width so the unequal-length corner
    * (old: null-padded, new: min-length) is unreachable. */
  private val dotUdf = udf { (a: Array[Float], b: Array[Float]) =>
    if (a == null || b == null) None
    else {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      Some(s)
    }
  }

  def dot(a: Column, b: Column): Column = dotUdf(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Column names of one side of a scored pair: id, vector, norm. */
  private[graft] final case class Side(id: String, vec: String, nrm: String) {
    /** (id, vector, norm) per row of `embeddings`: norms once per
      * VECTOR (O(N*d)), not per pair (O(pairs*d)). */
    def of(embeddings: DataFrame): DataFrame =
      embeddings.select(col("vec_id").as(id), col("embedding").as(vec),
                        norm(col("embedding")).as(nrm))
  }
  private[graft] val Query = Side("query_id", "qv", "qn")
  private[graft] val Neighbor = Side("neighbor_id", "nv", "nn")
  private val PairA = Side("vec_a", "va", "na")
  private val PairB = Side("vec_b", "vb", "nb")

  /** The one exact score: floor(cos * 1000) of a pair of sides,
    * evaluated as dot / (na * nb) * 1000 in that order. */
  private def cosQ(a: Side, b: Side): Column =
    floor(dot(col(a.vec), col(b.vec)) / (col(a.nrm) * col(b.nrm)) * 1000)
      .cast("long")

  /** Exact re-rank: joins each candidate (a.id, b.id) pair to both
    * sides' vectors and norms and adds their score as `out`. */
  private[graft] def rescore(cand: DataFrame, embeddings: DataFrame,
                             a: Side, b: Side,
                             out: String = "cos_q"): DataFrame =
    cand.join(a.of(embeddings), a.id).join(b.of(embeddings), b.id)
      .withColumn(out, cosQ(a, b))

  /** The k best neighbors per query by (cos_q desc, neighbor_id asc):
    * (query_id, rank, neighbor_id, cos_q) ordered by (query_id, rank). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").cast("long").as("query_id"),
              col("rank").cast("long").as("rank"),
              col("neighbor_id").cast("long").as("neighbor_id"),
              col("cos_q"))
      .orderBy("query_id", "rank")
  }

  /** Scored (vec_a, vec_b) pairs with cos_q >= minCosQ, ordered. */
  private def pairsAtLeast(scored: DataFrame, minCosQ: Long): DataFrame =
    scored.filter(col("cos_q") >= minCosQ)
      .select(col("vec_a").cast("long").as("vec_a"),
              col("vec_b").cast("long").as("vec_b"), col("cos_q"))
      .orderBy("vec_a", "vec_b")

  /** Exact cosine top-k neighbors for the query vectors (vec_id in
    * queryIds), quantized to floor(cos*1000) for engine-independent
    * ranking; tie-break by neighbor id. */
  def cosineTopK(spark: SparkSession, embeddings: DataFrame,
                 queryIds: Seq[Long], k: Int = 10): DataFrame = {
    // the tiny query side broadcasts so the scan streams map-side
    val q = broadcast(
      Query.of(embeddings.filter(col("vec_id").isin(queryIds: _*))))
    topK(q.crossJoin(Neighbor.of(Scan.spread(spark, embeddings, "vec_id")))
           .filter(col("query_id") =!= col("neighbor_id"))
           .withColumn("cos_q", cosQ(Query, Neighbor)), k)
  }

  /** Embedding-cosine near-duplicate pairs, exact baseline: every
    * (vec_a < vec_b) with floor(cos*1000) >= minCosQ. O(N^2) over the
    * corpus — the labeled exact oracle path that the DuckDB gate
    * mirrors; production corpora use lshCosinePairs. */
  def cosinePairs(spark: SparkSession, embeddings: DataFrame,
                  minCosQ: Long): DataFrame = {
    // the left side streams through the nested-loop join (the right is
    // broadcast); spread it so the O(N^2) condition evaluation runs wide
    pairsAtLeast(PairA.of(Scan.spread(spark, embeddings, "vec_id"))
                   .crossJoin(PairB.of(embeddings))
                   .filter(col("vec_a") < col("vec_b"))
                   .withColumn("cos_q", cosQ(PairA, PairB)), minCosQ)
  }

  /** Embedding-cosine near-dup, scale path: multi-table hyperplane
    * buckets generate candidates (same family as lshTopK), exact cosine
    * re-ranks and filters — so every emitted pair's cos_q is EXACT and
    * the output is a subset of cosinePairs; only recall is approximate.
    * Buckets larger than maxBucket distinct vectors are dropped before
    * the self-join (hot-bucket cap, as in the text dedup ops); a pair
    * in a dropped bucket can still surface via the other tables. */
  def lshCosinePairs(spark: SparkSession, embeddings: DataFrame,
                     minCosQ: Long, numPlanes: Int = 0,
                     numTables: Int = 24, seed: Long = 42L,
                     maxBucket: Int = 1000): DataFrame = {
    val (tables, buckets) =
      hyperplaneLsh(spark, embeddings, numPlanes, numTables, seed)
    val sigs = buckets(Scan.spread(spark, embeddings, "vec_id"))
      .persist(MEMORY_AND_DISK)
    val coldBuckets = sigs.groupBy("table", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
      .select("table", "bucket")
    val cold = sigs.join(coldBuckets, Seq("table", "bucket"))
    val cand = cold.select(col("table"), col("bucket"),
                           col("vec_id").as("vec_a"))
      .join(cold.select(col("table"), col("bucket"),
                        col("vec_id").as("vec_b")),
            Seq("table", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val result = pairsAtLeast(rescore(cand, embeddings, PairA, PairB), minCosQ)
      .persist(MEMORY_AND_DISK)
    result.count()
    sigs.unpersist()
    tables.unpersist(false) // frees executor copies; stays re-shippable
    result
  }

  /** Multi-table random-hyperplane LSH, shared by lshCosinePairs and
    * lshTopK: `numTables` seeded hyperplane sets (plane count from the
    * corpus size when numPlanes <= 0), broadcast once. Returns the
    * broadcast and the signer that maps a (vec_id, embedding) frame to
    * one (table, bucket, vec_id) row per vector per table. */
  private def hyperplaneLsh(spark: SparkSession, embeddings: DataFrame,
                            numPlanes: Int, numTables: Int, seed: Long)
      : (Broadcast[Array[Array[Array[Double]]]], DataFrame => DataFrame) = {
    import spark.implicits._
    val planeCount =
      if (numPlanes > 0) numPlanes
      else defaultNumPlanes(embeddings.count())
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    val tables = spark.sparkContext.broadcast(
      Array.tabulate(numTables)(t => hyperplanes(planeCount, dim, seed + t)))
    val buckets = (vecs: DataFrame) =>
      vecs.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          tables.value.indices.map(t => (t, signature(v, tables.value(t)), id))
        }.toDF("table", "bucket", "vec_id")
    (tables, buckets)
  }

  /** Deterministic random hyperplanes (Gaussian, seeded). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH signature bits: sign of projection on each hyperplane. */
  def signature(v: Array[Float], planes: Array[Array[Double]]): Int = {
    var sig = 0
    var p = 0
    while (p < planes.length) {
      var s = 0.0
      val plane = planes(p)
      var i = 0
      while (i < v.length) { s += v(i) * plane(i); i += 1 }
      if (s > 0) sig |= 1 << p
      p += 1
    }
    sig
  }

  /** Expected-bucket-size-driven hyperplane count: 2^planes buckets per
    * table should keep the average bucket near `bucketTarget` vectors,
    * so planes must grow ~log2(N) — a FIXED plane count leaves 10^7+
    * vector buckets at web scale and the candidate join goes quadratic.
    * Floor of 5 keeps small/gate-sized corpora at the verified recall
    * regime. */
  def defaultNumPlanes(n: Long, bucketTarget: Long = 256L): Int =
    // cap 30: the signature packs one bit per plane into an Int key
    math.min(30,
      math.max(5, math.ceil(math.log(math.max(1L, n).toDouble /
                                       bucketTarget) / math.log(2.0)).toInt))

  // ------------------------------------------------------------ IVF-Flat

  /** L2 norms of the centroid rows, computed once per trained matrix:
    * the per-vector assignment must not recompute nlist norms (it was
    * the hottest constant factor in the r4 implementation). */
  def centroidNorms(cents: Array[Array[Double]]): Array[Double] = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var s = 0.0; var i = 0
      while (i < cent.length) { s += cent(i) * cent(i); i += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    out
  }

  /** Single nearest centroid by cosine — allocation-free while-loop
    * argmin over the broadcast matrix with precomputed norms. This is
    * the dominant per-row map at corpus scale (every vector is assigned
    * exactly once); ties break to the lower index. */
  def nearestCentroid(v: Array[Float], cents: Array[Array[Double]],
                      norms: Array[Double]): Int = {
    var vn = 0.0
    var vi = 0
    while (vi < v.length) { vn += v(vi).toDouble * v(vi); vi += 1 }
    vn = math.sqrt(vn)
    var best = 0
    var bestCos = -2.0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0; var i = 0
      while (i < cent.length) { d += v(i) * cent(i); i += 1 }
      val cos = if (vn == 0 || norms(c) == 0) -1.0 else d / (vn * norms(c))
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  /** The `n` nearest centroids by cosine (ties to the lower index).
    * Only the query-side probe list uses n > 1 — Q·nProbe work total —
    * so the sort here is off the hot path by construction. */
  def nearestCentroids(v: Array[Float], cents: Array[Array[Double]],
                       norms: Array[Double], n: Int): Array[Int] = {
    if (n == 1) return Array(nearestCentroid(v, cents, norms))
    var vn = 0.0
    var vi = 0
    while (vi < v.length) { vn += v(vi).toDouble * v(vi); vi += 1 }
    vn = math.sqrt(vn)
    val scored = cents.indices.map { c =>
      val cent = cents(c)
      var d = 0.0
      var i = 0
      while (i < cent.length) { d += v(i) * cent(i); i += 1 }
      val cos = if (vn == 0 || norms(c) == 0) -1.0 else d / (vn * norms(c))
      (-cos, c)
    }.sorted
    scored.take(n).map(_._2).toArray
  }

  /** Train the IVF coarse quantizer: deterministic seed centroids (the
    * `nlist` vectors with the smallest column-hash of vec_id — a fixed
    * pseudo-random sample), then `iters` Lloyd rounds run ON THE DRIVER
    * over the collected sample. Training reads at most `sampleCap`
    * vectors: at web scale the quantizer is always fit on a bounded
    * sample (FAISS trains IVF on ~30-256 points per centroid), so both
    * the collect (sampleCap × dim floats) and the centroid matrix
    * (nlist × dim) stay driver-friendly no matter how large the corpus
    * is. Driver-local Lloyd is what makes the trained centroids
    * bit-deterministic: a Spark avg() update merges shuffle partials in
    * nondeterministic order, which perturbs double sums at ULP scale
    * across runs. Here every accumulation runs on a FIXED chunk grid
    * (64 index-range chunks regardless of thread count) and chunk
    * partials merge in chunk order — parallel AND order-independent of
    * the scheduler. */
  def trainIvfCentroids(spark: SparkSession, embeddings: DataFrame,
                        nlist: Int, iters: Int = 2,
                        sampleCap: Int = 50000): Array[Array[Double]] = {
    import spark.implicits._
    val sample: Array[Array[Float]] = embeddings
      .select(col("vec_id"), col("embedding"))
      .orderBy(hash(col("vec_id")), col("vec_id"))
      .limit(sampleCap)
      .as[(Long, Array[Float])]
      .collect()
      .map(_._2)
    var cents = sample.take(nlist).map(_.map(_.toDouble))
    val dim = if (cents.isEmpty) 0 else cents(0).length
    val nChunks = 64 // fixed grid: results do not depend on pool size
    val chunk = math.max(1, (sample.length + nChunks - 1) / nChunks)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(nChunks,
        Runtime.getRuntime.availableProcessors())))
    try {
      for (_ <- 0 until iters) {
        val frozen = cents
        val norms = centroidNorms(frozen)
        val tasks = (0 until sample.length by chunk).map { lo =>
          pool.submit(new java.util.concurrent.Callable[
              (Array[Array[Double]], Array[Long])] {
            def call(): (Array[Array[Double]], Array[Long]) = {
              val sums = Array.fill(frozen.length)(new Array[Double](dim))
              val counts = new Array[Long](frozen.length)
              val hi = math.min(sample.length, lo + chunk)
              var j = lo
              while (j < hi) {
                val v = sample(j)
                val c = nearestCentroid(v, frozen, norms)
                val s = sums(c)
                var i = 0
                while (i < dim) { s(i) += v(i); i += 1 }
                counts(c) += 1
                j += 1
              }
              (sums, counts)
            }
          })
        }
        val sums = Array.fill(frozen.length)(new Array[Double](dim))
        val counts = new Array[Long](frozen.length)
        tasks.foreach { f => // merged in chunk-index order: deterministic
          val (ps, pc) = f.get()
          var c = 0
          while (c < frozen.length) {
            val s = sums(c); val p = ps(c)
            var i = 0
            while (i < dim) { s(i) += p(i); i += 1 }
            counts(c) += pc(c)
            c += 1
          }
        }
        // empty clusters keep their previous centroid (standard Lloyd)
        cents = frozen.indices.map { c =>
          if (counts(c) == 0L) frozen(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
    } finally pool.shutdown()
    cents
  }

  /** nlist ~ sqrt(N), the classic IVF sizing: bucket size and probe
    * count both grow as sqrt(N), keeping query cost O(sqrt(N) * d *
    * nProbe) instead of O(N * d). Cap 4096 keeps the broadcast centroid
    * matrix driver-friendly (the cap is a sample-training artifact, not
    * a semantic limit). */
  def defaultNlist(n: Long): Int =
    math.min(4096, math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** IVF-Flat approximate top-k: assign every vector to its nearest
    * trained centroid (inverted lists), probe the `nProbe` centroids
    * nearest to each query, rank the probed lists' members by EXACT
    * cosine (so reported scores are exact; only recall is approximate —
    * same contract as lshTopK). Candidate generation is a join keyed by
    * cluster id: at 10^12 vectors the crossJoin's N*Q pairs become
    * Q * nProbe * (N / nlist) — with nlist ~ sqrt(N), ~Q * sqrt(N) *
    * nProbe pairs. */
  def ivfTopK(spark: SparkSession, embeddings: DataFrame,
              queryIds: Seq[Long], k: Int = 10, nlist: Int = 0,
              nProbe: Int = 8): DataFrame = {
    val idx = buildIvf(spark, embeddings, nlist)
    val res = ivfTopKWith(spark, idx, embeddings, queryIds, k, nProbe)
    idx.release()
    res
  }

  /** A trained IVF index whose inverted lists (vector -> nearest
    * centroid assignment) are persisted and materialized, so a session
    * serving many top-k queries pays training + the O(N) assignment
    * pass ONCE instead of per call. Call [[IvfIndex.release]] when done
    * — in a long-lived session un-released indexes pin an N-row cache
    * each (same lifecycle contract as BuiltIndex.release). */
  final class IvfIndex private[ops] (
      val nlist: Int,
      private[ops] val cents: org.apache.spark.broadcast.Broadcast[
        (Array[Array[Double]], Array[Double])],
      val assigned: DataFrame) {
    /** Free the persisted inverted lists and executor centroid copies
      * (unpersist, not destroy: results derived from this index stay
      * re-shippable through their lineage). */
    def release(): Unit = {
      assigned.unpersist(blocking = false)
      cents.unpersist(false)
    }
  }

  /** Train centroids and materialize the inverted lists once (the
    * reusable half of [[ivfTopK]]). */
  def buildIvf(spark: SparkSession, embeddings: DataFrame,
               nlist: Int = 0): IvfIndex = {
    import spark.implicits._
    val lists = if (nlist > 0) nlist else defaultNlist(embeddings.count())
    val trained = trainIvfCentroids(spark, embeddings, lists)
    val cents = spark.sparkContext.broadcast((trained, centroidNorms(trained)))
    val assigned = Scan.spread(spark, embeddings, "vec_id")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (nearestCentroid(v, cents.value._1, cents.value._2), id)
      }
      .toDF("cluster", "neighbor_id")
      .persist(MEMORY_AND_DISK)
    assigned.count() // materialize: queries must never re-run the O(N) pass
    new IvfIndex(lists, cents, assigned)
  }

  /** Probe a prebuilt [[IvfIndex]]: rank the nProbe nearest lists'
    * members by exact cosine, top-k per query. */
  def ivfTopKWith(spark: SparkSession, idx: IvfIndex,
                  embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
                  nProbe: Int = 8): DataFrame = {
    import spark.implicits._
    val cents = idx.cents
    val assigned = idx.assigned
    val probes = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCentroids(v, cents.value._1, cents.value._2, nProbe)
          .map(c => (c, id))
      }.toDF("cluster", "query_id")
    val cand = broadcast(probes).join(assigned, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    // Materialize the (Q·k)-row result before returning: the centroid
    // broadcast and inverted lists belong to the IvfIndex, whose
    // release() (called by ivfTopK, or by the session owner when done
    // querying) frees executor copies without poisoning this frame's
    // lineage. Callers may unpersist the returned frame when done (the
    // gates do).
    val res = topK(rescore(cand, embeddings, Query, Neighbor), k)
      .persist(MEMORY_AND_DISK)
    res.count()
    res
  }

  /** LSH-bucketed approximate top-k: multi-table (numTables) signatures;
    * candidates = same bucket in any table; ranked by exact cosine.
    * numPlanes <= 0 derives the plane count from the corpus size
    * (defaultNumPlanes). Recall/approximation verified against
    * cosineTopK in ScalaTest and the ann_lsh_selfcheck gate.
    * The query side signs only the query vectors, so the corpus
    * signatures have one consumer and need no cache: the result stays
    * lazy and holds nothing the caller must release. */
  def lshTopK(spark: SparkSession, embeddings: DataFrame,
              queryIds: Seq[Long], k: Int = 10, numPlanes: Int = 0,
              numTables: Int = 24, seed: Long = 42L): DataFrame = {
    val (_, buckets) =
      hyperplaneLsh(spark, embeddings, numPlanes, numTables, seed)
    // the query filter is restated above the signer: Catalyst cannot
    // see through the flatMap, and needs it to prune the re-rank's
    // query side to these ids
    val isQuery = col("vec_id").isin(queryIds: _*)
    val qs = buckets(embeddings.filter(isQuery)).filter(isQuery)
      .withColumnRenamed("vec_id", "query_id")
    val sigs = buckets(Scan.spread(spark, embeddings, "vec_id"))
    val cand = qs.join(sigs, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    topK(rescore(cand, embeddings, Query, Neighbor), k)
  }
}
