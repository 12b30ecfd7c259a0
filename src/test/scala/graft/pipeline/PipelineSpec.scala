package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup / ANN / text / multimodal pipeline operators over the
  * deterministic sandbox corpus at sf0.001. */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash signature: deterministic, and identical shingle sets collide on every permutation") {
    import spark.implicits._
    val rows = Seq("a b c d e f g", "a b c d e f g", "x y z w q r s").toDF("text")
      .select(TextFunctions.minhash_sig(
        TextFunctions.shingles(TextFunctions.words(col("text")), 3), 64).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0) == rows(1), "same text must give identical signatures")
    assert(rows(0) != rows(2), "different text must differ")
    assert(rows(0).length == 64)
  }

  test("unicode normalize: NFC composes, is idempotent, preserves NFC-stable text; strip_accents drops marks") {
    import spark.implicits._
    // decomposed, precomposed, ASCII, and CJK (NFC-stable) inputs
    val in = Seq("Cafe\u0301", "Caf\u00E9", "plain ascii", "\u4F60\u597D",
      "No\u0308el i\u0307 A\u030A").toDF("t")
    val rows = in.select(
      TextFunctions.nfc(col("t")).as("n"),
      TextFunctions.nfc(TextFunctions.nfc(col("t"))).as("nn"),
      TextFunctions.stripAccents(col("t")).as("s")).collect()
    assert(rows(0).getString(0) == "Caf\u00E9") // composes
    assert(rows(1).getString(0) == "Caf\u00E9") // already NFC: unchanged
    assert(rows(2).getString(0) == "plain ascii")
    assert(rows(3).getString(0) == "\u4F60\u597D")
    assert(rows(4).getString(0) == "N\u00F6el i\u0307 \u00C5")
    rows.foreach(r => assert(r.getString(0) == r.getString(1), "NFC idempotent"))
    assert(rows(0).getString(2) == "Cafe" && rows(1).getString(2) == "Cafe")
    assert(rows(4).getString(2) == "Noel i A")
    // supplementary-plane combining mark (U+10A01, Mn, a surrogate
    // pair in UTF-16): code-point iteration must strip it; per-char
    // iteration would see SURROGATE halves and keep it
    val kharoshthi = new String(Character.toChars(0x10A00)) +
      new String(Character.toChars(0x10A01))
    val sup = Seq(kharoshthi).toDF("t")
      .select(TextFunctions.stripAccents(col("t")).as("s")).collect()(0).getString(0)
    assert(sup == new String(Character.toChars(0x10A00)))
    // registry surface agrees with the typed API
    val viaSql = spark.sql(
      "SELECT graft_nfc('Cafe\u0301'), graft_strip_accents('Caf\u00E9')").collect()(0)
    assert(viaSql.getString(0) == "Caf\u00E9" && viaSql.getString(1) == "Cafe")
  }

  test("simhash: identical bags collide; near-identical bags are close in Hamming; disjoint bags far") {
    import spark.implicits._
    val fps = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away today",
      "the quick brown fox jumps over the lazy dog and runs far away now",
      "completely different words entirely unrelated content here nothing shared at all ever"
    ).toDF("text")
      .select(TextFunctions.simhash64(TextFunctions.words(col("text"))).as("f"))
      .collect().map(_.getLong(0))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(0), fps(1)) <= 16, s"near-dup hamming ${hamming(fps(0), fps(1))}")
    assert(hamming(fps(0), fps(2)) > 16, s"unrelated hamming ${hamming(fps(0), fps(2))}")
  }

  test("exact dedup keeps the lowest doc_id of each clique and counts copies") {
    import spark.implicits._
    val df = Seq((5L, "aa bb"), (2L, "aa bb"), (9L, "cc dd"), (7L, "aa bb"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 3L), (9L, 1L)))
  }

  test("MinHash-LSH and SimHash dedup recover EXACTLY the exact-Jaccard pair set on the corpus") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    assert(exact.nonEmpty, "corpus must contain planted near-dups")
    assert(pairSet(Dedup.minhashLshPairs(docs, 128, 32, 0.5)) == exact, "minhash-lsh recall+precision")
    assert(pairSet(Dedup.simhashPairs(docs, 16, 0.5)) == exact, "simhash recall+precision")
  }

  test("inverted-index jaccard equals brute-force jaccard (no candidate lost to the index)") {
    // brute force on a small slice
    val sub = docs.filter(col("doc_id") < 100)
    val viaIndex = Dedup.ngramJaccardPairs(sub, 3, 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sh = sub.select(col("doc_id").cast("long").as("id"),
      TextFunctions.shingles(TextFunctions.words(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if j >= 0.1
    } yield (a, b) -> j).toMap
    assert(viaIndex.keySet == brute.keySet)
    viaIndex.foreach { case (k, j) => assert(math.abs(j - brute(k)) < 1e-6) }
  }

  test("stop-shingle cap (scale path) loses no pairs at the threshold on this corpus") {
    val uncapped = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    val capped = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5, maxShingleDocs = 8))
    assert(capped == uncapped, "J>=0.5 pairs share many shingles; dropping hot ones must not lose them")
  }

  test("near-dup clusters: reps are cluster minima, every paired doc appears, keep flags consistent") {
    val pairs = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    val clusters = Dedup.nearDupClusters(docs, 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val pairedDocs = pairs.flatMap(p => Seq(p._1, p._2))
    assert(clusters.keySet == pairedDocs)
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) must share a cluster rep")
    }
    clusters.foreach { case (id, (rep, keep)) =>
      assert(rep <= id)
      assert(keep == (rep == id))
    }
  }

  test("cosine kernel matches hand computation; cosine pairs are symmetric-free (a<b) and thresholded") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val c = df.select(Dedup.cosine(col("a").cast("array<double>"),
      col("b").cast("array<double>")).as("c")).head().getDouble(0)
    assert(math.abs(c - 1.0 / math.sqrt(2)) < 1e-12)
    val pairs = Dedup.cosinePairs(emb, 0.44).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.44)
    }
  }

  test("brute-force top-k: ranks are exact-descending cosine with id tiebreak, k rows per query") {
    val top = Ann.bruteTopK(emb, 3, 5).collect()
    assert(top.length == 15)
    top.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to 5))
      val cosines = byRank.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y })
    }
  }

  test("LSH ANN: deterministic hyperplanes, candidates only from bucket collisions, recall floor holds") {
    assert(Ann.planeComponent(3, 17) == Ann.planeComponent(3, 17))
    val out = Ann.lshTopK(emb, 10, 10).collect()
    assert(out.length == 10)
    assert(out.forall(_.getBoolean(1)), "per-query recall floor")
  }

  test("IVF ANN: deterministic Lloyd quantizer, probe-and-rerank recall >= 0.3 per query") {
    val out = Ann.ivfTopK(emb, 10, 10, recallFloor = 0.3).collect()
    assert(out.length == 10)
    assert(out.forall(_.getBoolean(1)), "per-query IVF recall floor")
  }

  test("multimodal: all three kinds decode through REAL codecs (PGM pixels, WAV signed samples, Y4M frames)") {
    val decoded = Multimodal.decode(spark, Multimodal.synthesize(spark, docs))
      .collect().map(d => d.doc_id -> d).toMap
    val truth = docs.select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(decoded.size == truth.size)
    truth.foreach { case (id, text) =>
      val d = decoded(id)
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      id % 3 match {
        case 0 => // PGM image: pixel stats over cycled text bytes
          val (w, h) = (16 + n % 64, 16 + (n * 7) % 64)
          assert(d.width == w && d.height == h && d.n_frames == 1)
          val px = (0 until w * h).map(i => bytes(i % n) & 0xff)
          assert(d.n_payload_bytes == px.length)
          assert(d.checksum == px.map(_.toLong).sum % 1000000007L)
          assert((d.px_min, d.px_max, d.px_sum) == ((px.min, px.max, px.map(_.toLong).sum)))
          assert(d.feat.length == 16 && math.abs(d.feat.sum - px.length) < 1e-9)
        case 1 => // WAV: stats over SIGNED samples b*257-32768, checksum over data bytes
          assert(d.width == 8000 && d.height == 1, "sample rate / channels")
          assert(d.n_payload_bytes == 2 * n && d.n_frames == n)
          val s = bytes.map(b => (b & 0xff) * 257 - 32768)
          assert((d.px_min, d.px_max, d.px_sum) == ((s.min, s.max, s.map(_.toLong).sum)))
          // little-endian PCM16 bytes of b*257-32768 are [b, b+128] for ASCII
          val byteSum = bytes.map(b => 2L * (b & 0xff) + 128L).sum
          assert(d.checksum == byteSum % 1000000007L)
          assert(d.feat.length == 16 && math.abs(d.feat.sum - n) < 1e-9)
        case _ => // Y4M: real frame count, stats over every frame's shifted pixels
          val (w, h, nf) = (8 + n % 24, 8 + (n * 5) % 24, 2 + n % 3)
          assert(d.width == w && d.height == h && d.n_frames == nf)
          val px = for { f <- 0 until nf; i <- 0 until w * h } yield bytes((i + 11 * f) % n) & 0xff
          assert(d.n_payload_bytes == nf * w * h)
          assert(d.checksum == px.map(_.toLong).sum % 1000000007L)
          assert((d.px_min, d.px_max, d.px_sum) == ((px.min, px.max, px.map(_.toLong).sum)))
          assert(d.feat.length == 16 && math.abs(d.feat.sum - px.length) < 1e-9)
      }
    }
  }

  test("WAV codec: hand-built RIFF with an extra chunk round-trips; chunk walker honors word alignment") {
    // 3 samples spanning the signed range, plus a 3-byte (odd) LIST
    // chunk BEFORE data to force the word-aligned skip path
    val samples = Array[Short](-32768, 0, 32767)
    val canonical = MultimodalCodec.buildWav(44100, samples)
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0) // 3-byte chunk + pad
    val m = canonical.take(36) ++ extra ++ canonical.drop(36)
    // patch RIFF size for the inserted chunk
    val riffSize = m.length - 8
    m(4) = riffSize.toByte; m(5) = (riffSize >> 8).toByte; m(6) = (riffSize >> 16).toByte; m(7) = (riffSize >> 24).toByte
    val d = MultimodalCodec.decodeWav(Multimodal.MediaRow(1L, "audio", m))
    assert((d.width, d.height, d.n_frames, d.n_payload_bytes) == ((44100, 1, 3, 6)))
    assert((d.px_min, d.px_max, d.px_sum) == ((-32768, 32767, -1L)))
    // data bytes: 0x00 0x80, 0x00 0x00, 0xff 0x7f
    assert(d.checksum == (0x00 + 0x80 + 0x00 + 0x00 + 0xff + 0x7f).toLong)
  }

  test("Y4M codec: hand-built two-frame stream parses, samples real frames, and resize resamples every frame") {
    val f0 = Array[Byte](10, 20, 30, 40)
    val f1 = Array[Byte](50, 60, 70, 80)
    val m = MultimodalCodec.buildY4m(2, 2, Array(f0, f1))
    val d = MultimodalCodec.decodeY4m(Multimodal.MediaRow(2L, "video", m))
    assert((d.width, d.height, d.n_frames, d.n_payload_bytes) == ((2, 2, 2, 8)))
    assert((d.px_min, d.px_max, d.px_sum) == ((10, 80, 360L)))
    val y4m = MultimodalCodec.y4mFrames(m)
    assert(y4m.frameOffsets.length == 2 && y4m.frameBytes == 4)
    // every frame upsamples 2x2 -> 4x4 as 2x2 blocks
    val up = MultimodalCodec.resizeY4m(m, 4, 4)
    val upS = MultimodalCodec.y4mFrames(up)
    assert((upS.width, upS.height, upS.frameOffsets.length) == ((4, 4, 2)))
    val frame1 = up.slice(upS.frameOffsets(1), upS.frameOffsets(1) + 16).map(_ & 0xff).toSeq
    assert(frame1 == Seq(50, 50, 60, 60, 50, 50, 60, 60, 70, 70, 80, 80, 70, 70, 80, 80))
    // a frame-rate tag and frame params don't confuse the parser; C420 default is rejected
    intercept[IllegalArgumentException] {
      MultimodalCodec.y4mFrames("YUV4MPEG2 W2 H2 F30:1\nFRAME\n####".getBytes("US-ASCII"))
    }
  }

  test("PGM codec: hand-built image round-trips through decode, and nearest-neighbor resize picks the exact pixels") {
    // 2x2 image: 10 20 / 30 40
    val pgm = "P5\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30, 40)
    val d = MultimodalCodec.decodePgm(Multimodal.MediaRow(7L, "image", pgm))
    assert((d.width, d.height, d.n_payload_bytes) == ((2, 2, 4)))
    assert((d.px_min, d.px_max, d.px_sum) == ((10, 40, 100L)))
    // upscale 2x2 -> 4x4: src index = (y*2/4, x*2/4) => 2x2 blocks
    val up = MultimodalCodec.resizePgm(pgm, 4, 4)
    val (w, h, mx, off) = MultimodalCodec.pgmHeader(up)
    assert((w, h, mx) == ((4, 4, 255)))
    val px = up.drop(off).map(_ & 0xff).toSeq
    assert(px == Seq(10, 10, 20, 20, 10, 10, 20, 20, 30, 30, 40, 40, 30, 30, 40, 40))
    // downscale 2x2 -> 1x1 keeps the top-left pixel
    val down = MultimodalCodec.resizePgm(pgm, 1, 1)
    assert(down.drop(MultimodalCodec.pgmHeader(down)._4).map(_ & 0xff).toSeq == Seq(10))
  }

  test("text ops: rolling fingerprint formula, tokenizer agreement, lang-id argmax, quality gates") {
    import spark.implicits._
    // pin split(text,'') + aggregate semantics against a hand-rolled value
    val s = "ab c"
    val expected = s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val got = Seq((1L, s)).toDF("doc_id", "text")
      .select(expr("aggregate(transform(split(text, ''), c -> ascii(c)), 0L, (a, c) -> (a * 31 + c) % 1000000007)"))
      .head().getLong(0)
    assert(got == expected, s"rolling hash $got != $expected")

    val fp = TextOps.fingerprints(docs).collect()
    assert(fp.length == 500 && fp.map(_.getString(1)).distinct.length == 500,
      "distinct texts -> distinct md5")

    val tc = TextOps.tokenCounts(docs).collect()
    tc.foreach(r => assert(r.getInt(1) == r.getInt(2), "both tokenizers agree on this corpus"))

    val li = TextOps.langId(docs).collect()
    li.foreach { r =>
      val scores = Seq(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
      val pred = r.getString(7)
      if (scores.max == 0) assert(pred == "und")
      else assert(Seq("de", "en", "es", "fr", "zh")(scores.indexOf(scores.max)) == pred)
    }

    val q = TextOps.quality(docs).collect()
    q.foreach { r =>
      assert(r.getDouble(4) <= 1.0 && r.getDouble(4) > 0.0) // type-token ratio
      assert(r.getDouble(3) > 0.0)                          // mean word len
    }
  }

  test("quality-model inference: scalar recompute, empty-feature docs, shuffle-free plan") {
    import spark.implicits._
    def roll(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    def weight(bucket: Long): Long = bucket * 2654435761L % 1000003L % 2001L - 1000L
    def refScore(text: String, dim: Int = 512): Long = {
      val ws = text.split("\\s+")
      ws.sliding(2).map(_.mkString(" ")).toSeq.distinct
        .map(g => weight(roll(g) % dim)).sum
    }
    val frame = Seq((0L, "alpha beta gamma alpha beta"), (1L, "solo"))
      .toDF("doc_id", "text")
    val out = TextOps.qualityModel(frame).orderBy("doc_id").collect()
    assert(out(0).getLong(2) == refScore("alpha beta gamma alpha beta"))
    assert(out(0).getInt(1) == 3, "distinct bigrams: alpha beta / beta gamma / gamma alpha")
    // shorter-than-n docs hash as ONE whole-doc feature (the
    // WordShingles convention every shingle consumer shares)
    val soloScore = weight(roll("solo") % 512)
    assert(out(1).getInt(1) == 1 && out(1).getLong(2) == soloScore
      && out(1).getBoolean(3) == (soloScore > 0),
      "single-word doc: one whole-doc feature")
    // inference must be a scan + projection: no exchange anywhere
    val plan = TextOps.qualityModel(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quality inference must not shuffle:\n$plan")
  }

  test("LSH-pair clustering equals exact-pair clustering on this corpus (banded recall ~1)") {
    def clusterSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val exact = clusterSet(Dedup.nearDupClusters(docs, 0.5))
    val lsh = clusterSet(Dedup.nearDupClustersLsh(docs, 0.5))
    assert(exact.nonEmpty)
    assert(lsh == exact, "MinHash-banded pair source must yield the same components here")
  }

  test("decontamination: planted leak flagged, clean docs kept, prefiltered result equals exact") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated training text with no shared trigrams at all"),
      (3L, "benchmark answer the capital of france is paris obviously")
    ).toDF("doc_id", "text")
    val test = Seq(
      (100L, "question the capital of france is paris correct")
    ).toDF("doc_id", "text")
    val ov = Decontam.overlap(train, test, n = 3, maxOverlap = 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(ov(3L)._1 >= 3 && !ov(3L)._2, s"leaked doc must be dropped: ${ov(3L)}")
    assert(ov(1L) == ((0L, true)) && ov(2L) == ((0L, true)))
    val kept = Decontam.decontaminate(train, test).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    // corpus-scale: the bloom-prefiltered operator must equal the pure
    // exact intersection (no prefilter) — FPs verified away, FNs impossible
    val tr = docs.filter(col("doc_id") % 7 =!= 0)
    val te = docs.filter(col("doc_id") % 7 === 0)
    def inv(d: org.apache.spark.sql.DataFrame) = d.select(
      col("doc_id").cast("long").as("id"),
      explode(TextFunctions.shingles(TextFunctions.words(col("text")), 3)).as("g"))
    val exact = inv(tr)
      .join(inv(te).select("g").distinct(), Seq("g"), "left_semi")
      .groupBy("id").agg(countDistinct(col("g")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Decontam.overlap(tr, te).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.filter(_._2 > 0)
    assert(got == exact, "prefiltered overlap diverged from exact intersection")
    assert(exact.nonEmpty, "corpus split should produce real contamination")
  }

  test("PII redaction: emails and long digit runs replaced with typed tokens, counts exact") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+x@mail.example.org or bob@ex.io today"),
      (2L, "ids 1234567 and 99887766554 but keep 12345 and year 2026"),
      (3L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("write to <EMAIL> or <EMAIL> today", 2, 0)))
    // 5-digit runs and years stay; >=6-digit runs go
    assert(out(2L) == (("ids <NUM> and <NUM> but keep 12345 and year 2026", 0, 2)))
    assert(out(3L) == (("clean text with no pii at all", 0, 0)))
  }

  test("PII redaction: mixed-case emails redact, and digit runs inside emails don't inflate n_numbers") {
    import spark.implicits._
    val df = Seq(
      // uppercase everywhere a real address allows it
      (1L, "mail Alice.Smith@Example.COM today"),
      // the overlap trap: a >=6-digit run INSIDE an email is scrubbed
      // as <EMAIL>; only the standalone run counts as a <NUM> redaction
      (2L, "user123456789@x.com plus standalone 123456789 end"),
      (3L, "Ops.Team99887766@Example.COM only")
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("mail <EMAIL> today", 1, 0)))
    assert(out(2L) == (("<EMAIL> plus standalone <NUM> end", 1, 1)))
    assert(out(3L) == (("<EMAIL> only", 1, 0)))
  }

  test("stratified sample: deterministic md5-nibble coin, per-source rates independent") {
    import spark.implicits._
    val d = docs.select(col("doc_id").cast("long").as("doc_id"), col("source"))
    val a = DataShaping.stratifiedSample(d, Map("src0" -> 12), defaultRate16 = 6)
    val b = DataShaping.stratifiedSample(d, Map("src0" -> 12), defaultRate16 = 6)
    val ka = a.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ka == b.select("doc_id").collect().map(_.getLong(0)).toSet, "must be deterministic")
    // every kept row satisfies its own rate; rates land near expectation
    a.collect().foreach(r => assert(r.getAs[Int]("nibble") < r.getAs[Int]("rate16")))
    val n0 = d.filter(col("source") === "src0").count().toDouble
    val k0 = a.filter(col("source") === "src0").count().toDouble
    assert(math.abs(k0 / n0 - 12.0 / 16) < 0.25, s"src0 rate ${k0 / n0}")
    // changing ANOTHER source's rate cannot change src0's sample
    def src0Kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("source") === "src0").select("doc_id").collect().map(_.getLong(0)).toSet
    val c = DataShaping.stratifiedSample(d, Map("src0" -> 12, "src1" -> 16), 6)
    assert(src0Kept(c) == src0Kept(a), "src0's sample must not move when src1's rate changes")
  }

  test("sequence packing: offset-bin assignment, per-source windows, budget semantics") {
    import spark.implicits._
    val t = Seq(
      ("s", 1L, 1000), ("s", 2L, 3000), ("s", 3L, 2000), ("s", 4L, 4000), ("s", 5L, 100),
      ("t", 1L, 5000), ("t", 2L, 10)
    ).toDF("source", "doc_id", "n_tok")
    val out = DataShaping.packSequences(t, budget = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4)))).toMap
    // source s: offsets 0,1000,4000,6000,10000 -> bins 0,0,0,1,2
    assert(out(("s", 1L)) == ((1000L, 0L)))
    assert(out(("s", 2L)) == ((4000L, 0L)))
    assert(out(("s", 3L)) == ((6000L, 0L)))
    assert(out(("s", 4L)) == ((10000L, 1L)))
    assert(out(("s", 5L)) == ((10100L, 2L)))
    // source t packs independently: offsets 0, 5000 -> bins 0, 1
    assert(out(("t", 1L))._2 == 0L && out(("t", 2L))._2 == 1L)
  }

  test("sequence packing: two-phase prefix sum matches the single-window formula bitwise and spreads one source over >1 task") {
    import org.apache.spark.sql.expressions.Window
    // single-source corpus: a per-source window cumsum would hash
    // every row into ONE task — the named 100 TB scale-killer the
    // bucketed prefix sum exists to avoid
    val single = TokenTable.load(spark, dir).withColumn("source", lit("only"))
    val packed = DataShaping.packSequences(single, budget = 4096, targetBuckets = 16)
    // AQE legitimately coalesces this tiny corpus back to one
    // partition — what's under test is the exchange GRANULARITY, so
    // turn coalescing off for the task-count probe. The probe walks
    // the RDD (a bare select(spark_partition_id()) would let Catalyst
    // prune the whole window away and report the scan's partitioning)
    val partsUsed = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      packed.rdd.mapPartitionsWithIndex { case (i, it) =>
        if (it.hasNext) Iterator(i) else Iterator.empty
      }.collect().length
    }
    assert(partsUsed > 1, s"single-source pack still ran in $partsUsed task")
    // bitwise parity with the naive single-window formula
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = single.select(col("source"),
        col("doc_id").cast("long").as("doc_id"), col("n_tok").cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("bin_id", floor((col("cum_tok") - col("n_tok")) / 4096))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long, Long)] =
      df.select("source", "doc_id", "n_tok", "cum_tok", "bin_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(rows(packed) == rows(naive))
    // empty input keeps the output schema
    val empty = DataShaping.packSequences(single.where(lit(false)), budget = 4096)
    assert(empty.columns.toSeq ==
      Seq("source", "doc_id", "n_tok", "cum_tok", "bin_id") && empty.count() == 0)
  }

  test("context chunking: exact offset ranges, straddlers flagged, per-source streams independent") {
    import spark.implicits._
    val t = Seq(
      ("s", 1L, 100), ("s", 2L, 80), ("s", 3L, 300), ("s", 4L, 32),
      ("t", 1L, 640)
    ).toDF("source", "doc_id", "n_tok")
    val out = DataShaping.chunkTokenStream(t, ctx = 128)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // s offsets: 0, 100, 180, 480; chunk = off div 128 .. (end-1) div 128
    assert(out(("s", 1L)) == ((0L, 0L, 0L, false)))     // [0,100)   -> chunk 0
    assert(out(("s", 2L)) == ((100L, 0L, 1L, true)))    // [100,180) -> 0..1 straddles
    assert(out(("s", 3L)) == ((180L, 1L, 3L, true)))    // [180,480) -> 1..3 spans two boundaries
    assert(out(("s", 4L)) == ((480L, 3L, 3L, false)))   // [480,512) -> ends exactly at a boundary
    // t's stream starts at its own offset 0; [0,640) -> chunks 0..4
    assert(out(("t", 1L)) == ((0L, 0L, 4L, true)))
  }

  test("priority sampling: weight dominance, tau estimator, small-population exactness, determinism") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => ("s", i, if (i == 42L) 1000000 else 10))
      .toDF("source", "doc_id", "n_tok")
    val sample = DataShaping.prioritySample(docs, n = 5, weight = col("n_tok"))
    val rows = sample.collect()
    assert(rows.length == 5)
    // a weight 10^5 times everyone else's has priority ~10^5 larger: always sampled
    assert(rows.exists(_.getLong(1) == 42L), "dominant-weight doc missing from sample")
    // est_w = max(w, tau) with one shared tau: every light doc gets the same est_w >= w
    val estByDoc = rows.map(r => r.getLong(1) -> (r.getLong(2), r.getLong(4))).toMap
    val tau = estByDoc.collect { case (id, (w, e)) if id != 42L => e }.toSet
    assert(tau.size == 1, s"light docs must share the tau estimate, got $tau")
    assert(estByDoc.forall { case (_, (w, e)) => e >= w })
    // population <= n: tau = 0, estimator EXACT, everything kept
    val tiny = (1L to 3L).map(i => ("s", i, 10 * i.toInt)).toDF("source", "doc_id", "n_tok")
    val all = DataShaping.prioritySample(tiny, n = 5, weight = col("n_tok")).collect()
    assert(all.length == 3 && all.forall(r => r.getLong(4) == r.getLong(2)),
      "small population must estimate exactly (tau = 0)")
    assert(all.forall(_.getBoolean(5)), "exact estimate must pass est_ok")
    // deterministic: same coin, same sample
    val again = DataShaping.prioritySample(docs, n = 5, weight = col("n_tok"))
      .collect().map(_.getLong(1)).toSet
    assert(again == rows.map(_.getLong(1)).toSet)
  }

  test("curation pair sources: LSH and capped modes keep the same survivors as the exact pipeline") {
    def survivors(ps: Curation.PairSource): Set[Long] =
      Curation.curate(docs, minJ = 0.5, pairSource = ps)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = survivors(Curation.PairSource.Exact(3, 0.5))
    assert(exact.nonEmpty)
    // the two-arg overload routes to the exact join
    val default = Curation.curate(docs, minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(default == exact)
    // the 100 TB modes: banded recall ~1 / a cap high enough to keep
    // every threshold pair on this corpus => identical survivor sets
    assert(survivors(Curation.PairSource.Lsh(0.5)) == exact)
    assert(survivors(Curation.PairSource.Capped(3, 0.5, 64)) == exact)
  }

  test("repetition stats: counts, char coverage, lex tie-break, short-doc zeros, keep rule") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"), // 2-grams: "a b"x2, "b a"x2 (tie -> "a b"); 3-grams: "a b a"x2, "b a b"
      (2L, "x"),         // shorter than any gram: all zeros
      (3L, "x y"))       // one 2-gram, no dup; no 3-gram
      .toDF("doc_id", "text")
    val out = TextOps.repetition(df).orderBy("doc_id").collect()
    val r1 = out(0)
    assert((r1.getInt(2), r1.getInt(3), r1.getLong(4), r1.getLong(5)) == ((4, 2, 6L, 12L)),
      s"2-gram stats of doc1: $r1")
    assert((r1.getInt(6), r1.getInt(7), r1.getLong(8), r1.getLong(9)) == ((3, 2, 10L, 10L)),
      s"3-gram stats of doc1: $r1")
    assert(!r1.getBoolean(10), "top 2-gram covers 6*5 > 9 chars: drop")
    val r2 = out(1)
    assert((r2.getInt(2), r2.getInt(3), r2.getLong(4), r2.getLong(5)) == ((0, 0, 0L, 0L)))
    assert(r2.getBoolean(10), "no grams => nothing repetitive => keep")
    val r3 = out(2)
    assert((r3.getInt(2), r3.getInt(3), r3.getLong(4), r3.getLong(5)) == ((1, 1, 3L, 0L)))
    // a genuinely diverse doc keeps
    val keep = TextOps.repetition(Seq((9L,
      "one two three four five six seven eight nine ten eleven twelve")).toDF("doc_id", "text"))
      .collect()(0)
    assert(keep.getBoolean(10))
  }

  test("span dedup: global first-wins across and within docs, reconstruction in block order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),  // both blocks first occurrences
      (2L, "a b c x y z"),  // block 0 duplicates doc1's
      (3L, "d e f d e f"),  // both blocks duplicate doc1's block 1
      (4L, "q q q q q q"))  // WITHIN-doc dup: second block removed
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, w = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2, 0, "a b c d e f"),
      (2L, 2, 1, "x y z"),
      (3L, 2, 2, ""),
      (4L, 2, 1, "q q q")), s"got ${out.toSeq}")
  }

  test("temperature weights: floor-sqrt of per-source totals, flattens big sources") {
    import spark.implicits._
    // totals: big = 100 docs x 10 tok = 1000 -> w 31; small = 5 docs
    // x 10 = 50 -> w 7 (floor sqrt, NOT round: sqrt(50) = 7.07)
    val tt = ((0L until 100L).map(i => (i.toString, "big", 10)) ++
      (100L until 105L).map(i => (i.toString, "small", 10)))
      .toDF("doc_id", "source", "n_tok")
    val w = DataShaping.temperatureWeightsSqrt(tt)
    assert(w == Map("big" -> 31L, "small" -> 7L), s"got $w")
    // α = 1/2 flattens: proportional weights would be 20:1, sqrt
    // weights are 31:7 ≈ 4.4:1 — the small source's kept-token SHARE
    // rises versus proportional mixing
    val kept = DataShaping.mixtureSample(tt, w, budgetNum = 1, budgetDen = 2)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = DataShaping.mixtureSample(tt, w, budgetNum = 1, budgetDen = 2)
      .select("source", "rate4096").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    // rate = T*w*4096 / (2*wsum*actual): big = 1050*31*4096/(2*38*1000)
    // = 1754; small = 1050*7*4096/(2*38*50) = 7922 -> capped 4096
    assert(rates == Map("big" -> 1754, "small" -> 4096), s"got $rates")
    assert(kept.getOrElse("small", 0L) == 5L, s"small keeps all: $kept")
  }

  test("mixture sampling: rate cap and thinning branches, equal weights don't collapse, determinism") {
    import spark.implicits._
    // two sources, 100 docs each, 10 tokens per doc => actual = 1000
    // each, T = 2000
    val tt = (0L until 200L).map(i =>
      (i.toString, (if (i < 100) "big" else "small"), 10))
      .toDF("doc_id", "source", "n_tok")
    // weights 3:1, budget = half the corpus: big's target = 2000/2 *
    // 3/4 = 750 of 1000 actual -> rate 3072; small's = 250 -> 1024
    val out = DataShaping.mixtureSample(tt, Map("big" -> 3L, "small" -> 1L),
      budgetNum = 1, budgetDen = 2)
    val rates = out.select("source", "rate4096").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(rates == Map("big" -> 3072, "small" -> 1024), s"got $rates")
    // EQUAL weights on multiple sources must not collapse in the
    // weight-sum (a Set.map would dedupe 1+1 -> 1): rate = whole
    // budget fraction, 2048 each
    val eq = DataShaping.mixtureSample(tt, Map.empty, budgetNum = 1, budgetDen = 2)
      .select("source", "rate4096").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(eq == Map("big" -> 2048, "small" -> 2048), s"got $eq")
    // over-budget source hits the 4096 cap (keep everything)
    val capped = DataShaping.mixtureSample(tt, Map("big" -> 100L),
      budgetNum = 1, budgetDen = 1)
      .select("source", "rate4096").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(capped("big") == 4096)
    // deterministic: same call, same kept set
    val kept1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = DataShaping.mixtureSample(tt, Map("big" -> 3L, "small" -> 1L),
      budgetNum = 1, budgetDen = 2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == kept2 && kept1.nonEmpty)
  }

  test("epoch shuffle: per-epoch permutation, epochs differ, bucketed rank equals global row_number") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = DataShaping.epochShuffle(df, epochs = Seq(1, 2), bucketHexChars = 1)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 200)
    val byEpoch = out.groupBy(_._1)
    // expected global order: md5("e:id") ascending (hex strings sort
    // like their bytes), doc_id tie-break
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    for (e <- Seq(1, 2)) {
      val got = byEpoch(e).sortBy(_._3).map(_._2).toSeq
      assert(byEpoch(e).map(_._3).sorted.toSeq == (0L until 100L), s"epoch $e positions")
      val expected = (0L until 100L).sortBy(i => (md5hex(s"$e:$i"), i))
      assert(got == expected, s"epoch $e order")
    }
    assert(byEpoch(1).sortBy(_._3).map(_._2).toSeq != byEpoch(2).sortBy(_._3).map(_._2).toSeq,
      "different epochs must be different permutations")
  }

  test("exact-fixture cache invalidates when a corpus file is rewritten in place") {
    import spark.implicits._
    import java.nio.file.{Files, StandardCopyOption}
    // deterministic pseudo-random components; vec closePair._2 is a
    // near-copy of vec closePair._1 (cos ~ 1), all other pairs land
    // far below it
    def comp(i: Int, d: Int): Float =
      (((i * 1103515245L + d * 12345L + 6789L) % 1000003L).toFloat / 1000003f) * 2f - 1f
    def corpus(closePair: (Int, Int)): org.apache.spark.sql.DataFrame =
      (0 until 12).map { i =>
        val src = if (i == closePair._2) closePair._1 else i
        val bump = if (i == closePair._2) 0.001f else 0f
        (i.toLong, Array.tabulate(4)(d => comp(src, d) + bump * d).toSeq)
      }.toDF("vec_id", "embedding")
    val tmp = Files.createTempDirectory("anncache")
    val target = tmp.resolve("emb.parquet")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val d = tmp.resolve(name)
      df.coalesce(1).write.mode("overwrite").parquet(d.toString)
      val part = Files.list(d).iterator()
      var src: java.nio.file.Path = null
      while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
      Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    def top1(of: Int): Long = {
      val pairs = Ann.exactTopPairs(spark.read.parquet(target.toString), nQueries = 1, k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.length == 1 && pairs.head._1 == 0L)
      pairs.head._2
    }
    stage(corpus((0, 3)), "a", 1700000000000L)
    assert(top1(0) == 3L, "corpus A: vec 3 is planted as vec 0's nearest")
    // rewrite the SAME file path with different content (vec 7 now nearest)
    stage(corpus((0, 7)), "b", 1700000001000L)
    assert(top1(0) == 7L,
      "cache keyed on (path,len,mtime) must recompute after an in-place rewrite")
  }

  test("leakFreeSplit: near-dup pairs never straddle splits; every doc assigned exactly once") {
    import spark.implicits._
    val d = docs
    val labels = Dedup.nearDupClusters(d, 0.5)
    val split = DataShaping.leakFreeSplit(d, labels).cache()
    // the leakage property itself: every exact-Jaccard pair agrees
    val pairs = Dedup.ngramJaccardPairs(d, 3, 0.5)
    val disagree = pairs
      .join(split.select($"doc_id".as("id_a"), $"split".as("sa")), Seq("id_a"))
      .join(split.select($"doc_id".as("id_b"), $"split".as("sb")), Seq("id_b"))
      .filter($"sa" =!= $"sb").count()
    assert(disagree == 0, "a near-dup pair straddled train/eval")
    assert(split.count() == d.count(), "every doc gets exactly one split row")
    val dist = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist.keySet == Set("train", "val", "test"),
      s"all three splits populated on this corpus: $dist")
    assert(dist("train") > dist("val") && dist("train") > dist("test"),
      s"12/2/2 nibble slots must favor train: $dist")
    split.unpersist()
  }
}
