package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.syntheticMedia(spark, sf).cache()

  test("decode roundtrip: every synthetic record decodes with consistent metadata") {
    val meta = Multimodal.decodeMeta(media).cache()
    assert(meta.count() === media.count())
    assert(meta.filter(!col("ok")).count() === 0)
    // dims follow the deterministic fixture law
    val bad = meta.filter(col("width") =!= (lit(16) + col("media_id") % 64)).count()
    assert(bad === 0)
  }

  test("binaryFile ingest: raw media files load as (path, length, content) and decode") {
    import spark.implicits._
    // the standard multimodal ingest path at scale: a directory of raw
    // blobs read by the binaryFile source — schema-on-read metadata plus
    // the payload bytes, feeding the same typed MediaFile pipeline
    // under target/ like the suite's other artifacts (cleaned with the
    // build), not an ever-accreting /tmp directory
    val dir = java.nio.file.Paths.get(
      freshRoot("binfiles"))
    java.nio.file.Files.createDirectories(dir)
    val media = Multimodal.syntheticMedia(spark, sf).collect().take(8)
    media.foreach { m =>
      java.nio.file.Files.write(dir.resolve(s"media-${m.media_id}.bin"), m.content)
    }
    val loaded = spark.read.format("binaryFile").load(dir.toString)
    assert(loaded.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))
    assert(loaded.count() === media.length.toLong)
    // lengths survive, ids recover from the path, and the payloads still
    // decode through the typed pipeline
    val files = loaded
      .select(
        regexp_extract(col("path"), "media-(\\d+)\\.bin", 1).cast("long").as("media_id"),
        col("content"), col("length"))
    assert(files.filter(col("length") =!= length(col("content"))).count() === 0)
    // the catalog (id → declared kind) rides next to the blobs, as a real
    // ingest manifest would; decodeMeta cross-checks it against the header
    val kinds = media.map(m => (m.media_id, m.kind)).toSeq.toDF("media_id", "kind")
    val ds = files.join(kinds, "media_id")
      .select(col("media_id"), col("kind"), col("content"))
      .as[Multimodal.MediaFile]
    val meta = Multimodal.decodeMeta(ds)
    assert(meta.filter(col("ok") === false).count() === 0,
      "every round-tripped blob must decode")
  }

  test("corrupt payloads surface as ok=false rows, not task failures") {
    import spark.implicits._
    val corrupt = Seq(
      Multimodal.MediaFile(1L, "image", Array[Byte](1, 2, 3)),
      Multimodal.MediaFile(2L, "image",
        Multimodal.FakeCodec.encode("image", 8, 8, 0, "x".getBytes))).toDS()
    val meta = Multimodal.decodeMeta(corrupt).collect().sortBy(_.media_id)
    assert(!meta(0).ok && meta(1).ok)
  }

  test("frame sampling emits every k-th frame id for videos only") {
    val meta = Multimodal.decodeMeta(media)
    val sampled = Multimodal.sampleFrames(meta, step = 5)
    val row = sampled.join(meta.select(col("media_id"), col("frames")), "media_id")
      .collect()
    assert(row.nonEmpty)
    row.foreach { r =>
      val ids = r.getAs[scala.collection.Seq[Int]]("frame_ids")
      val frames = r.getAs[Int]("frames")
      assert(ids.head === 0 && ids.forall(i => i < frames && i % 5 == 0))
    }
    // only videos have frames
    val nonVideo = sampled.join(meta.filter(col("kind") =!= "video"), "media_id").count()
    assert(nonVideo === 0)
  }

  test("byte-histogram features are L1-normalized 64-vectors usable by cosine") {
    val feats = Multimodal.byteHistogram(media).cache()
    val sums = feats.select(aggregate(col("feature"), lit(0.0), _ + _).as("s"))
      .collect().map(_.getDouble(0))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9))
    // identical payloads → identical features → cosine 1 via Similarity
    val self = feats.limit(10)
      .select(Similarity.cosine(col("feature"), col("feature")).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("REAL codec: corrupt/truncated image bytes degrade to ok=false rows, valid ones decode") {
    import spark.implicits._
    val goodPng = Multimodal.JdkImageCodec.encodePng(4L)
    val goodBmp = Multimodal.JdkImageCodec.encodeBmp(7L)
    val cases = Seq(
      Multimodal.MediaFile(4L, "png", goodPng),
      Multimodal.MediaFile(7L, "bmp", goodBmp),
      Multimodal.MediaFile(90L, "png", goodPng.take(20)), // truncated header
      Multimodal.MediaFile(91L, "png", goodPng.dropRight(goodPng.length / 2)), // torn body
      Multimodal.MediaFile(92L, "png", Array[Byte](1, 2, 3)), // garbage
      Multimodal.MediaFile(93L, "png", Array.empty[Byte])).toDS()
    val meta = Multimodal.decodeImages(cases).collect().map(m => m.media_id -> m).toMap
    assert(meta(4L).ok && meta(4L).width === Multimodal.JdkImageCodec.width(4L))
    assert(meta(7L).ok && meta(7L).height === Multimodal.JdkImageCodec.height(7L))
    Seq(90L, 91L, 92L, 93L).foreach { id =>
      assert(!meta(id).ok, s"corrupt payload $id must surface as ok=false")
    }
  }

  test("REAL codec: pixel-histogram features feed the brute-force cosine top-k (sim1 shape)") {
    val imgs = Multimodal.imageFixtures(spark, sf, n = 60)
    val feats = Multimodal.pixelHistogram(imgs).cache()
    // L1-normalized 64-vectors, like the embeddings the sim tier consumes
    val sums = feats.select(aggregate(col("feature"), lit(0.0), _ + _).as("s"))
      .collect().map(_.getDouble(0))
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))
    // the sim1 plan shape over image features: broadcast one query
    // feature, score the rest, top-5
    val q = broadcast(feats.filter(col("media_id") === 0L)
      .select(col("feature").as("qv")))
    val top = feats.filter(col("media_id") =!= 0L).crossJoin(q)
      .select(col("media_id"),
        Similarity.cosine(col("feature"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("media_id")).limit(5)
      .collect()
    assert(top.length === 5)
    assert(top.forall(r => r.getDouble(1) >= -1.0 - 1e-9 && r.getDouble(1) <= 1.0 + 1e-9))
    // deterministic fixtures → deterministic neighbor ranking across runs
    val again = feats.filter(col("media_id") =!= 0L).crossJoin(q)
      .select(col("media_id"),
        Similarity.cosine(col("feature"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("media_id")).limit(5).collect()
    assert(top.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    feats.unpersist()
  }

  test("REAL audio codec: WAV bytes are RIFF files, round-trip every sample, corrupt bytes degrade") {
    import spark.implicits._
    // genuine container: RIFF....WAVE magic
    val bytes = Multimodal.JdkAudioCodec.encodeWav(7L)
    assert(new String(bytes.take(4), "US-ASCII") === "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
    // decode recovers the formula samples exactly
    val Some((rate, ch, samples)) = Multimodal.JdkAudioCodec.decodeWav(bytes)
    assert(rate === Multimodal.JdkAudioCodec.sampleRate(7L) && ch === 1)
    assert(samples.length === Multimodal.JdkAudioCodec.nSamples(7L))
    assert(samples.zipWithIndex.forall { case (s, i) =>
      s == Multimodal.JdkAudioCodec.sampleAt(7L, i.toLong)
    })
    // corrupt/truncated bytes → ok=false rows in the distributed decode
    val media = Seq(
      Multimodal.MediaFile(1L, "wav", Multimodal.JdkAudioCodec.encodeWav(1L)),
      Multimodal.MediaFile(2L, "wav", bytes.take(20)), // truncated header
      Multimodal.MediaFile(3L, "wav", Array.fill[Byte](64)(42))).toDS()
    val meta = Multimodal.decodeWavs(media).collect().sortBy(_.media_id)
    assert(meta.map(_.ok).toSeq === Seq(true, false, false))
  }

  test("resize scales metadata deterministically and stays decodable") {
    val resized = Multimodal.decodeMeta(Multimodal.resize(media, 0.5)).cache()
    assert(resized.filter(!col("ok")).count() === 0)
    val orig = Multimodal.decodeMeta(media)
      .select(col("media_id"), col("width").as("w0"))
    val cmp = resized.join(orig, "media_id")
      .filter(col("width") =!= floor(col("w0") / 2).cast("int") &&
        col("width") =!= greatest(floor(col("w0") / 2), lit(1)).cast("int"))
    assert(cmp.count() === 0)
  }

  test("mm4 frame sampling: every 4th frame id, from header-decoded frame counts") {
    import spark.implicits._
    val dir = freshRoot("graft-mm4")
    // video ids (doc_id % 3 == 2): 2 → 3 frames, 5 → 6, 8 → 9; doc 3 is
    // audio (frames = 0) and must not emit rows
    Seq((2L, "aa"), (3L, "bb"), (5L, "cc"), (8L, "dd"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.defs.find(_.name == "mm4_frame_sample").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((2L, 0L), (5L, 0L), (5L, 4L),
      (8L, 0L), (8L, 4L), (8L, 8L)))
  }

  test("mm5 dHash: every one-pixel near-copy pairs with its base within hamming 2") {
    val pairs = Multimodal.defs.find(_.name == "mm5_image_phash_neardup").get
      .run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // construction guarantee: one bumped pixel touches one grid cell →
    // at most the 2 comparison bits reading that cell flip
    val copies = pairs.filter { case (a, b, _) => b == a + 200 }
    assert(copies.length === 100)
    assert(copies.forall(_._3 <= 2))
    // and nothing else is close: formula images with different ids are
    // noise to each other (P[hamming ≤ 3] ≈ 2^-46 per pair)
    assert(pairs.length === copies.length)
  }

  test("mm5 kernel: corrupt bytes drop out; banding is keyed, never all-pairs") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaFile(1L, "png", Multimodal.JdkImageCodec.encodePng(1L)),
      Multimodal.MediaFile(2L, "png", Array.fill[Byte](64)(7))).toDS()
    val hashed = Multimodal.dhash64(media).collect()
    assert(hashed.map(_.media_id).toSeq === Seq(1L)) // corrupt row vanished
    // the pair plan joins on (blk, bv) — an equi-join — with no cartesian
    val plan = Multimodal.defs.find(_.name == "mm5_image_phash_neardup").get
      .run(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("mm8 JPEG: lossy-but-bounded round trip; truncated and non-JPEG bytes all-false") {
    // unit-level error audit: the measured JDK-default-quality error on
    // the smooth ramp must sit WELL inside the pinned tolerances (≥ 2x
    // headroom) AND be nonzero for at least one image — proving the pin
    // certifies a real lossy codec, not a disguised pass-through, and
    // won't flap across JDK quality-table changes
    var worstMean = 0L; var worstMae = 0L; var anyErr = false
    (0L until 100L).foreach { id =>
      val img = Multimodal.JdkImageCodec.decode(
        Multimodal.JdkImageCodec.encodeJpeg(id)).get
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      assert(w === Multimodal.JdkImageCodec.width(id))
      assert(h === Multimodal.JdkImageCodec.height(id))
      var errSum = 0L; var absSum = 0L; var p = 0
      while (p < w * h) {
        val e = 256L * (raster.getSample(p % w, p / w, 0) - ((p % w) + (p / w) + id))
        errSum += e; absSum += math.abs(e); p += 1
      }
      val n = w.toLong * h
      worstMean = math.max(worstMean, math.abs(errSum) / n)
      worstMae = math.max(worstMae, absSum / n)
      if (absSum > 0) anyErr = true
    }
    assert(anyErr, "JPEG round trip was bit-exact — not exercising a lossy path")
    assert(worstMean <= Multimodal.JpegMeanTol256 / 2,
      s"mean error $worstMean/256 too close to the pin ${Multimodal.JpegMeanTol256}/256")
    assert(worstMae <= Multimodal.JpegMaeTol256 / 2,
      s"MAE $worstMae/256 too close to the pin ${Multimodal.JpegMaeTol256}/256")

    // distributed verdicts: the exact tier taxonomy the oracle states
    val rows = Multimodal.decodeJpegVerdicts(Multimodal.jpegFixtures(spark, sf))
      .collect().sortBy(_.media_id)
    assert(rows.length === 140)
    rows.foreach { r =>
      val expOk = r.media_id < 100
      assert(r.ok === expOk, s"media ${r.media_id}")
      assert(r.dims_ok === expOk && r.mean_ok === expOk && r.mae_ok === expOk,
        s"media ${r.media_id}: $r")
    }
  }

  test("mm9 animated GIF: genuine multi-frame files, exact pixel round trip, truncation collapses") {
    // container sanity: real GIF magic, one file per video
    val bytes = Multimodal.JdkGifCodec.encodeGif(7L)
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"))

    // unit-level exactness: every frame of every fixture decodes to the
    // formula bit-for-bit (lossless LZW — no tolerance needed)
    (0L until 20L).foreach { id =>
      val frames = Multimodal.JdkGifCodec.decodeFrames(
        Multimodal.JdkGifCodec.encodeGif(id)).get
      assert(frames.size === Multimodal.JdkGifCodec.nFrames(id))
      val (w, h) = (Multimodal.JdkGifCodec.width(id), Multimodal.JdkGifCodec.height(id))
      frames.zipWithIndex.foreach { case (img, f) =>
        assert(img.getWidth === w && img.getHeight === h)
        var p = 0
        while (p < w * h) {
          val got = (img.getRGB(p % w, p / w) >> 16) & 0xff
          assert(got === Multimodal.JdkGifCodec.valueAt(id, f, p), s"id=$id f=$f p=$p")
          p += 1
        }
      }
    }

    // distributed taxonomy: valid videos emit one ok row per frame,
    // truncated ones exactly one all-false row (no partial sequences)
    val rows = Multimodal.decodeVideoFrames(Multimodal.videoFixtures(spark, sf))
      .collect()
    val (good, bad) = rows.partition(_.ok)
    assert(bad.map(_.media_id).sorted.toSeq === (60L until 70L))
    assert(bad.forall(r => r.frame_id == -1 && r.n_px == 0))
    (0L until 60L).foreach { id =>
      val fs = good.filter(_.media_id == id).map(_.frame_id).sorted.toSeq
      assert(fs === (0 until Multimodal.JdkGifCodec.nFrames(id)), s"id=$id")
    }
  }
}
