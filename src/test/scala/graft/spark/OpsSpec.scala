package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def documents = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("exact dedup finds identical texts and nothing else") {
    val groups = Dedup.exactGroups(documents).collect()
    // brute force
    val texts = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = texts.groupBy(_._2).filter(_._2.length >= 2)
    assert(groups.length == expected.size)
    assert(groups.map(_.getLong(1)).sum == expected.values.map(_.length).sum)
    for (g <- groups) {
      val keeper = g.getLong(2)
      val dupCount = g.getLong(1)
      val matching = expected.values.find(_.exists(_._1 == keeper))
      assert(matching.isDefined && matching.get.length == dupCount)
      assert(matching.get.map(_._1).min == keeper)
    }
  }

  test("ngram jaccard pairs match brute force") {
    val got = Dedup.ngramJaccardPairs(spark, documents, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val texts = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Dedup.shingles(r.getString(1), 3).toSet))
    val expected = (for {
      (a, sa) <- texts; (b, sb) <- texts if a < b
      inter = (sa intersect sb).size if inter > 0
      uni = (sa union sb).size
      if inter.toDouble / uni >= 0.5
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(got.toSet == expected)
    assert(got.nonEmpty, "fixture should contain near-duplicates")
  }

  test("ngram jaccard recovers exact-dup clusters hotter than the df cap") {
    import spark.implicits._
    // 30 identical copies: every shingle's naive df (30) exceeds the cap
    // (5), so shingle candidates alone would miss the whole cluster —
    // the exact-dup pre-collapse must recover all 435 pairs at jaccard 1
    val n = 30
    val rows = (0 until n).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta")) :+
      (100L, "totally different text about sparks and queries here")
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(spark, docs, 3, 0.5,
                                      maxShingleDf = 5, minCoOccur = 2)
      .collect()
    assert(got.length == n * (n - 1) / 2)
    got.foreach { r =>
      assert(r.getDouble(4) == 1.0)
      assert(r.getLong(2) == r.getLong(3)) // inter == uni
    }
  }

  test("minhash LSH recovers exact-dup clusters past the bucket cap") {
    import spark.implicits._
    val n = 20
    val rows = (0 until n).map(i =>
      (i.toLong, "one two three four five six seven eight nine ten")) :+
      (100L, "entirely different words for the second distinct doc text")
    val docs = rows.toDF("doc_id", "text")
    // maxBucket=1: every multi-entry bucket is dropped, yet the
    // identical-text cluster still yields all pairs via pre-collapse
    val got = Dedup.minhashLsh(spark, docs, 3, 128, 4, 0.8, maxBucket = 1)
      .collect()
    assert(got.length == n * (n - 1) / 2)
    got.foreach(r => assert(r.getLong(2) == 1000L))
  }

  test("simhash pre-collapses exact-dup clusters to distance-0 pairs") {
    import spark.implicits._
    val n = 30
    val rows = (0 until n).map(i =>
      (i.toLong, "same text repeated across the whole cluster here")) :+
      (100L, "an unrelated document with distinct vocabulary entirely")
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(spark, docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val intra = got.filter(p => p._1 < n && p._2 < n)
    assert(intra.length == n * (n - 1) / 2)
    intra.foreach(p => assert(p._3 == 0L))
  }

  test("simhash Manku blocking keys are pigeonhole-complete for dist<=3") {
    val rnd = new scala.util.Random(7)
    assert(Dedup.simhashBlockKeys(0L).length == 20) // C(6,3) tables
    for (_ <- 0 until 500) {
      val h = rnd.nextLong()
      var h2 = h
      (0 until rnd.nextInt(4)).foreach(_ => h2 ^= 1L << rnd.nextInt(64))
      val shared = Dedup.simhashBlockKeys(h).toSet
        .intersect(Dedup.simhashBlockKeys(h2).toSet)
      assert(shared.nonEmpty, f"no shared table key for $h%x vs $h2%x")
    }
  }

  test("ANN default plane count scales with corpus size") {
    assert(Ann.defaultNumPlanes(100) == 5)
    assert(Ann.defaultNumPlanes(500) == 5)
    assert(Ann.defaultNumPlanes(1000000000L) == 22) // ceil(log2(1e9/256))
    assert(Ann.defaultNumPlanes(Long.MaxValue / 2) == 30) // Int-key cap
  }

  test("minhash LSH finds all high-similarity pairs (recall vs exact)") {
    val got = Dedup.minhashLsh(spark, documents, 3, 128, 4, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val texts = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Dedup.shingles(r.getString(1), 3).toSet))
    val exact = (for {
      (a, sa) <- texts; (b, sb) <- texts if a < b
      j = (sa intersect sb).size.toDouble / (sa union sb).size
      if j >= 0.95
    } yield (a, b)).toSet
    // every >=0.95-Jaccard pair must be recalled at est-threshold 0.8
    assert(exact.subsetOf(got),
           s"missed ${exact -- got} of ${exact.size} exact pairs")
  }

  test("simhash near-dup pairs include exact duplicates") {
    val got = Dedup.simhashPairs(spark, documents, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val texts = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exactDups = (for {
      (a, ta) <- texts; (b, tb) <- texts if a < b && ta == tb
    } yield (a, b)).toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(exactDups.subsetOf(gotPairs))
    got.foreach { case (a, b, d) => assert(d <= 3, s"pair ($a,$b) dist $d") }
    // hamming is symmetric-consistent with direct computation
    val byId = texts.toMap
    got.take(20).foreach { case (a, b, d) =>
      val ha = Dedup.simhash(byId(a))
      val hb = Dedup.simhash(byId(b))
      assert(java.lang.Long.bitCount(ha ^ hb) == d)
    }
  }

  test("exact cosine top-k matches brute force") {
    val got = Ann.cosineTopK(spark, embeddings, Seq(0L, 1L, 2L), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val vecs = embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- Seq(0L, 1L, 2L)) {
      val qv = vecs.find(_._1 == q).get._2
      val expected = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, math.floor(cos(qv, v) * 1000).toLong) }
        .sortBy { case (id, c) => (-c, id) }.take(5)
      val mine = got.filter(_._1 == q).sortBy(_._2)
        .map(h => (h._3, h._4)).toSeq
      assert(mine == expected.toSeq, s"q=$q")
    }
  }

  test("LSH ANN achieves reasonable recall@5 vs exact") {
    val qids = (0L until 10L)
    val exact = Ann.cosineTopK(spark, embeddings, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val approx = Ann.lshTopK(spark, embeddings, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val recalls = qids.map { q =>
      val e = exact.getOrElse(q, Array.empty).map(_._2).toSet
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      if (e.isEmpty) 1.0 else (e intersect a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 $mean too low: $recalls")
  }

  test("IVF ANN achieves reasonable recall@5 vs exact; scores are exact") {
    val qids = (0L until 10L)
    val exact = Ann.cosineTopK(spark, embeddings, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val exactByQ = exact.map(r => (r._1, r._2)).groupBy(_._1)
    val exactCos = exact.map(r => (r._1, r._2) -> r._3).toMap
    // full exact surface for score-consistency of pairs outside top-5;
    // k derived from the fixture so a grown fixture stays complete
    val kAll = (embeddings.count() - 1).toInt
    val allCos = Ann.cosineTopK(spark, embeddings, qids, kAll).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val approx = Ann.ivfTopK(spark, embeddings, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // every reported cosine must equal the exact cosine of that pair
    approx.foreach { case (q, nb, cq) =>
      val exactCosOpt = allCos.get((q, nb))
      assert(exactCosOpt.contains(cq),
             s"IVF cos mismatch for ($q,$nb): got $cq, exact=$exactCosOpt")
    }
    val approxByQ = approx.map(r => (r._1, r._2)).groupBy(_._1)
    val recalls = qids.map { q =>
      val e = exactByQ.getOrElse(q, Array.empty).map(_._2).toSet
      val a = approxByQ.getOrElse(q, Array.empty).map(_._2).toSet
      if (e.isEmpty) 1.0 else (e intersect a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF mean recall@5 = $mean")
    assert(mean >= 0.5, s"mean recall@5 $mean too low: $recalls")
    assert(exactCos.nonEmpty)
  }

  test("prebuilt IvfIndex serves repeated queries identically to one-shot") {
    val oneShot = Ann.ivfTopK(spark, embeddings, 0L until 10L, 5).collect()
      .map(_.toSeq).toSet
    val idx = Ann.buildIvf(spark, embeddings)
    try {
      // two query batches against ONE assignment pass; the union of the
      // per-batch results must equal the one-shot answer (training is
      // deterministic, so the index is bit-identical across builds)
      val a = Ann.ivfTopKWith(spark, idx, embeddings, 0L until 5L, 5)
        .collect().map(_.toSeq).toSet
      val b = Ann.ivfTopKWith(spark, idx, embeddings, 5L until 10L, 5)
        .collect().map(_.toSeq).toSet
      assert(a.union(b) == oneShot)
      assert(a.intersect(b).isEmpty)
    } finally idx.release()
  }

  test("embedding cosine near-dup pairs match brute force") {
    val got = Ann.cosinePairs(spark, embeddings, 300L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vecs = embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cosQ(a: Array[Float], b: Array[Float]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      math.floor(1000 * d / (math.sqrt(na) * math.sqrt(nb))).toLong
    }
    val expected = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      q = cosQ(va, vb) if q >= 300L
    } yield (a, b, q)).toSet
    assert(got.toSet == expected)
    assert(got.nonEmpty, "threshold should be non-vacuous on the fixture")
  }

  test("LSH cosine pairs are an exact subset of brute force, good recall") {
    val exact = Ann.cosinePairs(spark, embeddings, 300L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lsh = Ann.lshCosinePairs(spark, embeddings, 300L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lsh.subsetOf(exact), s"non-exact pairs: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("dedup and ANN ops leave no cache behind but their own result") {
    val qids = 0L until 10L
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(spark, documents)),
      "minhashLsh" -> (() => Dedup.minhashLsh(spark, documents)),
      "simhashPairs" -> (() => Dedup.simhashPairs(spark, documents)),
      "cosinePairs" -> (() => Ann.cosinePairs(spark, embeddings, 300L)),
      "lshCosinePairs" -> (() => Ann.lshCosinePairs(spark, embeddings, 300L)),
      "cosineTopK" -> (() => Ann.cosineTopK(spark, embeddings, qids, 5)),
      "lshTopK" -> (() => Ann.lshTopK(spark, embeddings, qids, 5)),
      "ivfTopK" -> (() => Ann.ivfTopK(spark, embeddings, qids, 5)))
    for ((name, op) <- ops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = op()
      assert(out.collect().nonEmpty, s"$name: empty on the fixture")
      out.unpersist(blocking = true)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
             s"$name left a persisted relation in the session")
    }
  }

  test("text ops are deterministic and self-consistent") {
    val q = TextOps.quality(documents).collect()
    assert(q.length == documents.count())
    q.foreach { r =>
      val nTokens = r.getLong(2)
      assert(nTokens > 0)
      val stopRatio = r.getDouble(6)
      assert(stopRatio >= 0.0 && stopRatio <= 1.0)
      val quality = r.getDouble(8)
      assert(quality >= 0.0 && quality <= 1.0)
    }
    val lang = TextOps.langId(documents).collect()
    assert(lang.forall(r => Set("en", "und", "de", "fr", "es")(r.getString(2))))
    val fp = TextOps.fingerprints(documents).collect()
    val fp2 = TextOps.fingerprints(documents).collect()
    assert(fp.map(_.getLong(1)).toSeq == fp2.map(_.getLong(1)).toSeq)
    assert(fp.forall(r => r.getLong(1) >= 0 && r.getLong(1) < TextOps.FpP))
  }

  test("media decoders parse the real binary layouts") {
    // PPM with a header comment (netpbm spec allows them)
    val ppm = "P6\n# c\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, 0, 0, 0) // one white + one black pixel
    val (w, h, f) = Multimodal.decodePpm(ppm).get
    assert(w == 2 && h == 1)
    assert(f(15) == 0.5f && f(0) == 0.5f)

    val wav = Multimodal.wavPayload(16000, 100, 1L)
    val (rate, fw) = Multimodal.decodeWav(wav).get
    assert(rate == 16000)
    assert(math.abs(fw.sum - 1.0f) < 1e-3)

    val y4m = Multimodal.y4mPayload(4, 2, 3, 9L)
    val (yw, yh, frames, fy) = Multimodal.decodeY4m(y4m).get
    assert(yw == 4 && yh == 2 && frames == 3)
    assert(math.abs(fy.sum - 1.0f) < 1e-3)

    // cross-format magics must not decode
    assert(Multimodal.decodePpm(wav).isEmpty)
    assert(Multimodal.decodeWav(ppm).isEmpty)
    assert(Multimodal.decodeY4m(wav).isEmpty)
    // truncated raster is rejected, falls back to byte histogram
    assert(Multimodal.decodePpm(ppm.dropRight(2)).isEmpty)

    // Int-overflow corruption: declared sizes near 2^31 must neither
    // index out of bounds nor wrap the bounds checks
    val hugePpm = "P6\n40000 30000\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](64)(7) // w*h*3 wraps negative in Int
    assert(Multimodal.decodePpm(hugePpm).isEmpty)
    val hugeWav = Multimodal.wavPayload(16000, 4, 1L)
    // corrupt the data-chunk size to 0x7FFFFFF0 (pos += 8+size wraps)
    val sz = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(0x7FFFFFF0).array()
    System.arraycopy(sz, 0, hugeWav, 40, 4)
    val dec = Multimodal.decodeWav(hugeWav) // clamps: decodes what exists
    assert(dec.forall(_._1 == 16000))
    val hugeY4m = "YUV4MPEG2 W40000 H40000 C420\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](64)(7)
    assert(Multimodal.decodeY4m(hugeY4m).isEmpty)
    // decode() is total: corrupt payloads fall back to the byte histogram
    Seq(hugePpm, hugeWav, hugeY4m).zipWithIndex.foreach { case (pl, i) =>
      val f = Multimodal.decode(
        Multimodal.MediaRow(1000L + i, "image", pl, 0, 0, 0))
      assert(f.features.length == 16)
      assert(f.n_bytes == pl.length)
    }
  }

  test("multimodal feature extraction: decoded metadata, shape, determinism") {
    val media = Multimodal.syntheticMedia(spark, sfDir)
    val rows = media.collect()
    val byId = rows.map(r => r.media_id -> r).toMap
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == documents.count())
    feats.foreach { f =>
      val m = byId(f.media_id)
      assert(f.features.length == 16)
      assert(math.abs(f.features.sum - 1.0f) < 1e-3) // normalized histogram
      assert(f.n_bytes == m.payload.length)
      m.modality match {
        case "image" =>
          assert(f.dec_width == m.meta_width && f.dec_height == m.meta_height)
        case "audio" =>
          assert(f.dec_sample_rate == m.meta_sample_rate)
        case "video" =>
          assert(f.dec_width == m.meta_width && f.dec_height == m.meta_height)
          assert(f.dec_frames == 1 + (f.media_id % 3).toInt)
      }
    }
    val again = Multimodal.extractFeatures(media).collect()
      .sortBy(_.media_id).map(_.features.toSeq)
    assert(feats.sortBy(_.media_id).map(_.features.toSeq).toSeq == again.toSeq)
  }
}
