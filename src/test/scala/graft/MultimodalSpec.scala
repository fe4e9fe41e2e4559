package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** A deliberately different decoder: inverted mean, coarse 4-bucket
  * histogram — if ANY partitioning/memo/schema logic were entangled with
  * FakeCodec, running this through the same plumbing would diverge
  * structurally. Top-level so the shipped factory closure captures no
  * test-suite state.
  */
private object InverseCodec extends Multimodal.MediaCodec {
  def decode(payload: Array[Byte]): (Double, Array[Long]) = {
    val hist = new Array[Long](4)
    var sum = 0L
    payload.foreach { b => val u = b & 0xff; hist(u / 64) += 1; sum += u }
    (if (payload.isEmpty) 0.0 else 255.0 - sum.toDouble / payload.length, hist)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("media table carries binary payloads with typed metadata") {
    val m = Multimodal.mediaTable(spark, TestSpark.sf)
    val row = m.filter(_.media_id == 0).collect().head
    assert(row.kind == "image")
    assert(row.payload.length.toLong == row.meta_len) // ASCII text: 1 byte/char
  }

  test("extractFeatures is deterministic and partition-shaped") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, TestSpark.sf))
    val f = feats.filter(_.media_id == 0).collect().head
    assert(f.histogram.length == Multimodal.FakeCodec.HIST_BUCKETS)
    assert(f.histogram.sum == f.n_bytes)
    assert(f.mean_byte > 0)
    // re-run → identical hash (deterministic stub)
    val f2 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, TestSpark.sf))
      .filter(_.media_id == 0).collect().head
    assert(f.payload_hash == f2.payload_hash)
  }

  test("cell-batched extraction matches the plain path, co-locates identical payloads, and scales past the cell count") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.mediaTable(spark, TestSpark.sf)
    val cells = graft.operators.Similarity.ivfAssign(spark, TestSpark.sf)
      .select(col("vec_id"), col("centroid_id"))
    val plain = Multimodal.extractFeatures(media)
      .collect().map(f => (f.media_id, f.payload_hash, f.n_bytes, f.mean_byte)).toSet
    val batched = Multimodal.extractFeaturesByCell(media, cells,
      numPartitions = Some(64))
    val got = batched
      .collect().map(f => (f.media_id, f.payload_hash, f.n_bytes, f.mean_byte)).toSet
    assert(got == plain)
    // identical payloads land in exactly one partition (every memo-cache
    // hit preserved — the memo only ever hits on exact payload equality);
    // pid is stamped directly on the extraction output
    val withPid = batched.toDF().withColumn("pid", spark_partition_id())
    val split = withPid.groupBy("payload_hash")
      .agg(countDistinct("pid").as("n_parts"))
      .where(col("n_parts") > 1).count()
    assert(split == 0, "an identical payload was split across partitions")
    // decode parallelism is NOT capped at the ≤17 cell count: the salt
    // spreads work across >17 partitions when partitions are available
    val occupied = withPid.select("pid").distinct().count()
    assert(occupied > 17, s"decode ran in only $occupied partitions — parallelism capped by cell count")
  }

  test("multimodal driver row: chain output replays the FakeCodec decode exactly and the group design shares payloads") {
    import org.apache.spark.sql.functions._
    val got = Multimodal.featuresByCellChain(spark, TestSpark.sf)
    // independent replay of one doc's features straight from the synth
    // rule + FakeCodec (no Spark plumbing): doc 7 → group 0
    val md = java.security.MessageDigest.getInstance("MD5")
    val payload = Array.tabulate(64)(k => md.digest(s"g0_$k".getBytes("UTF-8"))(0))
    val (mean, hist) = Multimodal.FakeCodec.decode(payload)
    val row = got.where(col("media_id") === 7).collect().head
    assert(row.getAs[Double]("mean_byte") == mean)
    (0 until 16).foreach(i => assert(row.getAs[Long](f"h$i%02d") == hist(i)))
    // groups of ten share a payload → feature vector identical within a
    // group (the memo-hit design the row exists to exercise)
    val distinctPerGroup = got
      .groupBy((col("media_id") / 10).cast("long").as("grp"))
      .agg(countDistinct(col("mean_byte"), col("h00"), col("h15")).as("n"))
      .where(col("n") > 1).count()
    assert(distinctPerGroup == 0, "a payload group produced divergent features")
  }

  test("codec seam: a second codec rides the same cell-batched plumbing unchanged") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.mediaTable(spark, TestSpark.sf)
    val cells = graft.operators.Similarity.ivfAssign(spark, TestSpark.sf)
      .select(col("vec_id"), col("centroid_id"))
    val viaFake = Multimodal.extractFeaturesByCell(media, cells,
      numPartitions = Some(64))
    val viaInverse = Multimodal.extractFeaturesByCell(media, cells,
      numPartitions = Some(64), codecFactory = () => InverseCodec)
    val fake = viaFake.collect().map(f => f.media_id -> f).toMap
    val inv = viaInverse.collect().map(f => f.media_id -> f).toMap
    // identical plumbing: same row set, ids, byte counts, payload hashes
    assert(inv.keySet == fake.keySet)
    inv.foreach { case (id, f) =>
      assert(f.n_bytes == fake(id).n_bytes)
      assert(f.payload_hash == fake(id).payload_hash)
      // and the features really came from the injected codec
      assert(f.histogram.length == 4)
      if (f.n_bytes > 0) assert(f.mean_byte == 255.0 - fake(id).mean_byte)
    }
    // partition shape identical too: same salt keys → same distribution
    val pidsInv = viaInverse.toDF().withColumn("pid", spark_partition_id())
      .select("pid").distinct().count()
    assert(pidsInv > 17, s"injected codec must keep salted parallelism, got $pidsInv partitions")
  }

  test("real JDK image codec decodes actual PNG bytes per-cell with memo hits preserved") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // real image bytes: 8 distinct deterministic 16x16 PNGs (javax.imageio
    // round-trip — the same decoder family the codec uses), each duplicated
    // 5x so the per-partition memo has something to hit
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, (seed * 2654435761L.toInt + y * 16 + x) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val payloads = (0 until 8).map(png)
    val media = spark.createDataset((0 until 40).map { i =>
      Multimodal.MediaRow(i.toLong, "image", "image/png", payloads(i % 8), 16L * 16L)
    })
    // cell derives from the PAYLOAD identity (i % 8), not the row id —
    // the production invariant the memo guarantee rests on: identical
    // payloads have identical embeddings, hence identical cells
    val cells = (0 until 40).map(i => (i.toLong, ((i % 8) % 3).toLong))
      .toDF("vec_id", "centroid_id")
    val feats = Multimodal.extractFeaturesByCell(media, cells,
      numPartitions = Some(8), codecFactory = () => Multimodal.ImageIoCodec)
    val got = feats.collect().map(f => f.media_id -> f).toMap
    assert(got.keySet == (0 until 40).map(_.toLong).toSet)
    // features came from REAL pixel decode: match a driver-side reference
    // decode of the same bytes, and the histogram censuses all 256 pixels
    val ref = payloads.map(Multimodal.ImageIoCodec.decode)
    got.foreach { case (id, f) =>
      val (mean, hist) = ref((id % 8).toInt)
      assert(f.mean_byte == mean && f.histogram.toSeq == hist.toSeq)
      assert(f.histogram.sum == 256L)
      assert(f.n_bytes == payloads((id % 8).toInt).length.toLong)
    }
    // duplicates agree with each other and land in ONE partition each
    // (the memo can only hit on exact payload equality — splitting a
    // payload across partitions forfeits its hits)
    val split = feats.toDF().withColumn("pid", spark_partition_id())
      .groupBy("payload_hash").agg(countDistinct("pid").as("n_parts"))
      .where(col("n_parts") > 1).count()
    assert(split == 0, "an identical payload was split across partitions")
  }

  test("perceptual hash: identical images collide, perturbed images sit at small hamming, distinct images far") {
    import spark.implicits._
    def pngOf(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // a structured gradient, a copy with ONE pixel flipped (re-encoded
    // PNG: different BYTES, near-identical pixels), and its negative
    val base = pngOf((x, y) => ((x * 8) << 16) | ((y * 8) << 8) | ((x + y) * 4))
    val nearCopy = pngOf((x, y) =>
      if (x == 5 && y == 5) 0xffffff else ((x * 8) << 16) | ((y * 8) << 8) | ((x + y) * 4))
    val negative = pngOf((x, y) => 0xffffff ^ (((x * 8) << 16) | ((y * 8) << 8) | ((x + y) * 4)))
    assert(!java.util.Arrays.equals(base, nearCopy)) // bytes differ ⇒ md5 dedup (d01) is blind here
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", "image/png", base, 0L),
      Multimodal.MediaRow(2L, "image", "image/png", base.clone(), 0L), // exact dup
      Multimodal.MediaRow(3L, "image", "image/png", nearCopy, 0L),
      Multimodal.MediaRow(4L, "image", "image/png", negative, 0L)))
    val hashes = Multimodal.perceptualHash(media, () => Multimodal.ImageIoCodec)
    val h = hashes.collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(h(1L) == h(2L)) // equal payloads hash equal
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 2,
      s"one-pixel perturbation moved the hash too far: ${java.lang.Long.bitCount(h(1L) ^ h(3L))}")
    // the negative inverts every above/below-mean decision ⇒ far away
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) >= 32)
    val pairs = Multimodal.phashNearDup(hashes).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("DCT pHash catches the gamma re-encode aHash misses, through the same banding") {
    import spark.implicits._
    // 64×64 natural-photo shape: a large near-black region, a large
    // near-white region, structured mid-range content between — the
    // regime where a gamma shift is closest to what a real re-encode
    // does (the flat extremes stay flat; the midtones move nonlinearly,
    // dragging aHash's mean-relative bits across the line while the
    // dominant low-frequency DCT structure keeps its median order)
    def luma(x: Int, y: Int): Int = {
      val v =
        if (x < 16) 10
        else if (x >= 48) 235
        else 60 + (x - 16) * 4 +
          (if (y >= 20 && y < 36 && x >= 20 && x < 36) 30 else 0) +
          20 * (((x / 8) + (y / 8)) % 2)
      math.max(0, math.min(255, v))
    }
    def pngOf(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = f(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = pngOf(luma)
    // gamma-2.5 re-encode: a MONOTONE intensity map — the classic
    // brightness/contrast-shifted repost. Every pixel AND the tile mean
    // move nonlinearly, so aHash's mean-relative bits flip wholesale
    // (a whole ramp column crosses the shifted mean — 8 bits, spread
    // one-per-band by the k = row·8+col tile layout), while the scene's
    // low-frequency structure is preserved.
    val gamma = pngOf((x, y) =>
      math.round(255.0 * math.pow(luma(x, y) / 255.0, 2.4)).toInt)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", "image/png", base, 0L),
      Multimodal.MediaRow(2L, "image", "image/png", gamma, 0L)))
    val a = Multimodal.perceptualHash(media, () => Multimodal.ImageIoCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    val d = Multimodal.perceptualDctHash(media, () => Multimodal.ImageIoCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    val aHam = java.lang.Long.bitCount(a(1L) ^ a(2L))
    val dHam = java.lang.Long.bitCount(d(1L) ^ d(2L))
    assert(aHam > 6, s"aHash was expected to MISS the gamma re-encode (hamming $aHam)")
    assert(dHam <= 6, s"pHash must CATCH the gamma re-encode (hamming $dHam)")
    // …and through the same banded near-dup operator:
    val aPairs = Multimodal.phashNearDup(
      Multimodal.perceptualHash(media, () => Multimodal.ImageIoCodec)).collect()
    val dPairs = Multimodal.phashNearDup(
      Multimodal.perceptualDctHash(media, () => Multimodal.ImageIoCodec)).collect()
    assert(aPairs.isEmpty, s"aHash banding should not pair the re-encode: ${aPairs.toSeq}")
    assert(dPairs.map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")))
      .contains((1L, 2L)), "pHash banding must pair the re-encode")
    // determinism: equal payloads, equal DCT hashes
    val d2 = Multimodal.perceptualDctHash(media, () => Multimodal.ImageIoCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(d2 == d)
  }

  test("JPEG: a real lossy re-encode decodes through the same seam and " +
      "pHash pairs it with its PNG original; different scenes stay far") {
    import spark.implicits._
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = math.max(0, math.min(255, f(x, y)))
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def pngOf(f: (Int, Int) => Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img(f), "png", bos)
      bos.toByteArray
    }
    def jpegOf(f: (Int, Int) => Int, quality: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img(f), null, null), p)
      ios.close(); w.dispose()
      bos.toByteArray
    }
    // the gamma test's scene WITHOUT its 8-px checkerboard: that term
    // lands mid-frequency DCT energy exactly where JPEG quantization
    // bites, pushing several low-block coefficients across the median
    // (measured hamming 8 with it; a lossy codec genuinely destroys
    // near-boundary bits — the invariance claim is for smooth scenes);
    // a second scene with the ramp reversed differs in low-frequency
    // structure and must stay far
    def scene(x: Int, y: Int): Int =
      if (x < 16) 10 else if (x >= 48) 235
      else 60 + (x - 16) * 4 +
        (if (y >= 20 && y < 36 && x >= 20 && x < 36) 30 else 0)
    def other(x: Int, y: Int): Int = scene(63 - x, y)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", "image/png", pngOf(scene), 0L),
      Multimodal.MediaRow(2L, "image", "image/jpeg", jpegOf(scene, 0.9f), 0L),
      Multimodal.MediaRow(3L, "image", "image/jpeg", jpegOf(other, 0.9f), 0L)))
    val d = Multimodal.perceptualDctHash(media, () => Multimodal.ImageIoCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    val reHam = java.lang.Long.bitCount(d(1L) ^ d(2L))
    val farHam = java.lang.Long.bitCount(d(1L) ^ d(3L))
    assert(reHam <= 6, s"pHash must catch the JPEG re-encode (hamming $reHam)")
    assert(farHam > 6, s"different scenes must stay far (hamming $farHam)")
    // and through the banded operator: the lossy re-encode pairs, the
    // different scene does not
    val pairs = Multimodal.phashNearDup(
      Multimodal.perceptualDctHash(media, () => Multimodal.ImageIoCodec))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)) &&
      !pairs.contains((2L, 3L)), s"pairs: $pairs")
  }

  test("audio tier: spectral fingerprint catches gain-shift and requantize " +
      "re-encodes the byte aHash misses; distinct content stays far") {
    import spark.implicits._
    // minimal RIFF/PCM-16 WAV around a sample array (the real container
    // WavPcmCodec parses — fmt chunk walked, data chunk found)
    def wavOf(samples: Array[Int]): Array[Byte] = {
      val dataLen = 2 * samples.length
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(s => bb.putShort(s.toShort))
      bb.array()
    }
    // 8 windows × 512 samples; per window a distinct half of the 8
    // probed bands carries a strong sine, the rest silence — bits are
    // decisively separated, never borderline
    def signal(active: (Int, Int) => Boolean): Array[Int] =
      Array.tabulate(4096) { i =>
        val w = i / 512
        (0 until 8).filter(b => active(w, b))
          .map(b => 3000.0 * math.sin(2 * math.Pi * (b + 1) / 32.0 * i))
          .sum.round.toInt
      }
    val base = signal((w, b) => (w + b) % 2 == 0)
    val gain = base.map(_ / 2)              // loudness shift: every byte moves
    val requant = base.map(s => (s >> 8) << 8) // 8-bit re-encode: ~256-step noise
    val other = signal((w, b) => (w + b) % 2 == 1) // complementary content
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio", "audio/wav", wavOf(base), 0L),
      Multimodal.MediaRow(2L, "audio", "audio/wav", wavOf(gain), 0L),
      Multimodal.MediaRow(3L, "audio", "audio/wav", wavOf(requant), 0L),
      Multimodal.MediaRow(4L, "audio", "audio/wav", wavOf(other), 0L)))
    val f = Multimodal.audioFingerprint(media, () => Multimodal.WavPcmCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    def ham(m: Map[Long, Long], a: Long, b: Long) =
      java.lang.Long.bitCount(m(a) ^ m(b))
    assert(ham(f, 1L, 2L) <= 6,
      s"spectral fingerprint must CATCH the gain shift (hamming ${ham(f, 1L, 2L)})")
    assert(ham(f, 1L, 3L) <= 6,
      s"spectral fingerprint must CATCH the requantize (hamming ${ham(f, 1L, 3L)})")
    assert(ham(f, 1L, 4L) > 6,
      s"distinct content must stay far (hamming ${ham(f, 1L, 4L)})")
    // the byte-level aHash over the same payloads misses the gain shift
    // (every PCM byte moves) — the separation that justifies the
    // spectral tier, mirroring the gamma/pHash split for images
    val a = Multimodal.perceptualHash(media, () => Multimodal.WavPcmCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(ham(a, 1L, 2L) > 6,
      s"byte aHash was expected to MISS the gain shift (hamming ${ham(a, 1L, 2L)})")
    // …and through the same banded near-dup operator
    val pairs = Multimodal.phashNearDup(
      Multimodal.audioFingerprint(media, () => Multimodal.WavPcmCodec))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)),
      s"banding must pair the gain/requant variants: $pairs")
    assert(!pairs.contains((1L, 4L)),
      s"banding must not pair complementary content: $pairs")
    // determinism: equal payloads, equal fingerprints
    val f2 = Multimodal.audioFingerprint(media, () => Multimodal.WavPcmCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(f2 == f)
  }

  test("video tier: temporal fingerprint catches re-timed/brightness re-encodes and " +
      "separates diverging motion a first-frame image hash cannot") {
    import spark.implicits._
    // real YUV4MPEG2 container, Cmono plane (the strict Y4mCodec parse)
    def y4mOf(w: Int, h: Int, frames: Seq[Array[Int]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
      frames.foreach { f =>
        bos.write("FRAME\n".getBytes("US-ASCII"))
        f.foreach(bos.write)
      }
      bos.toByteArray
    }
    // 32×32, 8 frames: a 4-pixel-row bright band at band-row `pos(k)`
    def clip(pos: Int => Int): Seq[Array[Int]] =
      (0 until 8).map { k =>
        Array.tabulate(32 * 32) { i =>
          val y = i / 32
          if (y / 4 == pos(k)) 180 else 60
        }
      }
    val a = clip(k => k)                     // band sweeps DOWN
    val b = clip(k => if (k == 0) 0 else 8 - k) // same FIRST frame, sweeps UP
    val aBright = a.map(_.map(v => v + 20))  // unclipped brightness re-encode
    val aRetimed = a.flatMap(f => Seq(f, f)) // frame-doubled (re-timing)
    val aQuant = a.map(_.map(v => v & 0xfc)) // 6-bit requantize
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", "video/y4m", y4mOf(32, 32, a), 0L),
      Multimodal.MediaRow(2L, "video", "video/y4m", y4mOf(32, 32, aBright), 0L),
      Multimodal.MediaRow(3L, "video", "video/y4m", y4mOf(32, 32, aRetimed), 0L),
      Multimodal.MediaRow(4L, "video", "video/y4m", y4mOf(32, 32, aQuant), 0L),
      Multimodal.MediaRow(5L, "video", "video/y4m", y4mOf(32, 32, b), 0L)))
    val f = Multimodal.videoFingerprint(media, () => Multimodal.Y4mCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(f(1L), f(2L)) <= 6, s"brightness shift must be caught (${ham(f(1L), f(2L))})")
    assert(ham(f(1L), f(3L)) <= 6, s"re-timed copy must be caught (${ham(f(1L), f(3L))})")
    assert(ham(f(1L), f(4L)) <= 6, s"requantize must be caught (${ham(f(1L), f(4L))})")
    assert(ham(f(1L), f(5L)) > 6,
      s"diverging motion must stay far (${ham(f(1L), f(5L))})")
    // the single-frame miss: a first-frame image hash cannot tell a
    // and b apart (their first frames are IDENTICAL) — the false
    // positive class the temporal fingerprint exists to avoid
    def firstFrameAHash(p: Array[Byte]): Long = {
      val tile = Multimodal.Y4mCodec.frameRasters(p, 8).head
      val mean = tile.map(_.toLong).sum / 64
      (0 until 64).foldLeft(0L)((h, k) => if (tile(k) > mean) h | (1L << k) else h)
    }
    assert(firstFrameAHash(y4mOf(32, 32, a)) == firstFrameAHash(y4mOf(32, 32, b)),
      "first frames are identical by construction — the image-hash miss")
    // …and through the same banded near-dup operator
    val pairs = Multimodal.phashNearDup(
      Multimodal.videoFingerprint(media, () => Multimodal.Y4mCodec))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((1L, 4L)), s"banding must pair the re-encodes: $pairs")
    assert(!pairs.contains((1L, 5L)), s"banding must not pair diverging motion: $pairs")
    // determinism
    val f2 = Multimodal.videoFingerprint(media, () => Multimodal.Y4mCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(f2 == f)
  }

  test("compressed video for real: MJPEG-in-AVI decodes through the seam; the " +
      "temporal fingerprint is container-independent and catches the lossy re-encode") {
    import spark.implicits._
    def clip(pos: Int => Int): Seq[Array[Int]] =
      (0 until 8).map { k =>
        Array.tabulate(32 * 32) { i =>
          val y = i / 32
          if (y / 4 == pos(k)) 180 else 60
        }
      }
    def y4mOf(frames: Seq[Array[Int]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("YUV4MPEG2 W32 H32 F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
      frames.foreach { f =>
        bos.write("FRAME\n".getBytes("US-ASCII"))
        f.foreach(bos.write)
      }
      bos.toByteArray
    }
    def jpegFrame(px: Array[Int], quality: Float): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      px.indices.foreach(i => img.getRaster.setSample(i % 32, i / 32, 0, px(i)))
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); w.dispose()
      bos.toByteArray
    }
    // minimal RIFF/AVI: movi LIST of 00dc chunks, word-aligned (the
    // header LISTs real muxers emit are skippable chunks to the walk)
    def aviOf(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit =
        (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
      val movi = {
        val m = new java.io.ByteArrayOutputStream()
        m.write("movi".getBytes("US-ASCII"))
        frames.foreach { f =>
          m.write("00dc".getBytes("US-ASCII"))
          (0 until 4).foreach(i => m.write((f.length >> (8 * i)) & 0xff))
          m.write(f)
          if (f.length % 2 == 1) m.write(0)
        }
        m.toByteArray
      }
      bos.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + movi.length)
      bos.write("AVI ".getBytes("US-ASCII"))
      bos.write("LIST".getBytes("US-ASCII")); le32(movi.length)
      bos.write(movi)
      bos.toByteArray
    }
    val a = clip(k => k)
    val b = clip(k => if (k == 0) 0 else 8 - k)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", "video/avi", aviOf(a.map(jpegFrame(_, 0.9f))), 0L),
      Multimodal.MediaRow(2L, "video", "video/avi", aviOf(a.map(jpegFrame(_, 0.5f))), 0L),
      Multimodal.MediaRow(3L, "video", "video/avi", aviOf(b.map(jpegFrame(_, 0.9f))), 0L)))
    val f = Multimodal.videoFingerprint(media, () => Multimodal.AviMjpegCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(f(1L), f(2L)) <= 6,
      s"quality-0.5 MJPEG re-encode must be caught (${ham(f(1L), f(2L))})")
    assert(ham(f(1L), f(3L)) > 6,
      s"diverging motion must stay far (${ham(f(1L), f(3L))})")
    // container independence: the SAME clip as raw Y4M fingerprints to
    // (near-)identical bits — the temporal hash reads content, not
    // container (the whole point of the codec seam)
    val y4m = spark.createDataset(Seq(
      Multimodal.MediaRow(9L, "video", "video/y4m", y4mOf(a), 0L)))
    val fy = Multimodal.videoFingerprint(y4m, () => Multimodal.Y4mCodec)
      .collect().head.phash
    assert(ham(f(1L), fy) <= 6,
      s"Y4M and MJPEG of the same clip must collide (${ham(f(1L), fy)})")
    // and through the banded near-dup operator on the compressed rows
    val pairs = Multimodal.phashNearDup(
      Multimodal.videoFingerprint(media, () => Multimodal.AviMjpegCodec))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)), s"pairs: $pairs")
    // guard rails: truncated chunk lengths and non-JPEG video chunks
    // fail loudly instead of walking out of bounds / feeding ImageIO
    val avi = aviOf(a.map(jpegFrame(_, 0.9f)))
    val truncated = java.util.Arrays.copyOfRange(avi, 0, avi.length - 10)
    assert(intercept[IllegalArgumentException](
      Multimodal.AviMjpegCodec.frameRasters(truncated, 8)).getMessage
      .contains("invalid length"))
    val notJpeg = aviOf(Seq(Array.fill[Byte](64)(7)))
    assert(intercept[IllegalArgumentException](
      Multimodal.AviMjpegCodec.frameRasters(notJpeg, 8)).getMessage
      .contains("not a JPEG frame"))
  }

  test("phash banding: hamming <= 3 is lossless by pigeonhole; all-bands-differ pairs are the documented miss") {
    import spark.implicits._
    val base = 0x0123456789abcdefL
    val hashes = spark.createDataset(Seq(
      Multimodal.MediaHash(1L, base),
      // 3 flipped bits, all inside band 0: bands 1-3 still agree
      Multimodal.MediaHash(2L, base ^ 0x0000000000000015L),
      // 4 flipped bits, ONE PER 16-bit BAND: hamming 4 <= 6 but no
      // band agrees — the documented recall trade of banded blocking
      Multimodal.MediaHash(4L, base ^ 0x0001000100010001L)))
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 6).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)))      // pigeonhole: <= 3 bits can't touch all 4 bands
    assert(!pairs.contains((1L, 4L)))     // one flip in EVERY band: candidate generation blind
    // and the exact-verify stage never lies: every reported pair is within the bound
    Multimodal.phashNearDup(hashes, maxHamming = 6).collect().foreach { r =>
      assert(r.getAs[Long]("hamming") <= 6L)
    }
  }

  test("compressed audio for real: IMA ADPCM WAV (4 bits/sample) decodes " +
      "through the same seam; the spectral fingerprint catches the lossy " +
      "re-encode the byte hash misses") {
    import spark.implicits._
    // test-side IMA ADPCM ENCODER, written from the published algorithm
    // (independent tables/logic — the round trip is decoder-vs-spec, not
    // decoder-vs-its-own-inverse)
    val stepTab = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23,
      25, 28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107,
      118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371,
      408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
      1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660,
      4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
      11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
      27086, 29794, 32767)
    val idxAdv = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    val blockAlign = 256 // 4-byte header + 252 nibble bytes = 505 samples
    def encodeAdpcm(samples: Array[Int]): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var i = 0
      var index = 0
      while (i < samples.length) {
        var pred = samples(i)
        out += (pred & 0xff).toByte += ((pred >> 8) & 0xff).toByte +=
          index.toByte += 0.toByte
        i += 1
        var nibbles = List.empty[Int]
        var inBlock = 0
        while (inBlock < (blockAlign - 4) * 2 && i < samples.length) {
          var diff = samples(i) - pred
          var nib = 0
          if (diff < 0) { nib = 8; diff = -diff }
          var st = stepTab(index)
          if (diff >= st) { nib |= 4; diff -= st }
          st >>= 1
          if (diff >= st) { nib |= 2; diff -= st }
          st >>= 1
          if (diff >= st) nib |= 1
          // reconstruct exactly as a decoder will, to stay in sync
          val s0 = stepTab(index)
          var d = s0 >> 3
          if ((nib & 1) != 0) d += s0 >> 2
          if ((nib & 2) != 0) d += s0 >> 1
          if ((nib & 4) != 0) d += s0
          pred = math.max(-32768,
            math.min(32767, if ((nib & 8) != 0) pred - d else pred + d))
          index = math.max(0, math.min(88, index + idxAdv(nib & 7)))
          nibbles ::= nib
          inBlock += 1
          i += 1
        }
        nibbles.reverse.grouped(2).foreach { g =>
          out += ((g.head & 0xf) | ((if (g.size > 1) g(1) else 0) << 4)).toByte
        }
        // pad the final partial block so every block is blockAlign bytes
        if (i >= samples.length)
          while (out.length % blockAlign != 0) out += 0.toByte
      }
      out.toArray
    }
    def wavAdpcmOf(samples: Array[Int]): Array[Byte] = {
      val data = encodeAdpcm(samples)
      val bb = java.nio.ByteBuffer.allocate(48 + 8 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(40 + 8 + data.length)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(20)
      bb.putShort(0x11); bb.putShort(1); bb.putInt(8000); bb.putInt(4055)
      bb.putShort(blockAlign.toShort); bb.putShort(4)
      bb.putShort(2); bb.putShort(505) // cbSize, samplesPerBlock
      bb.put("data".getBytes("US-ASCII")); bb.putInt(data.length)
      bb.put(data)
      bb.array()
    }
    def wavPcmOf(samples: Array[Int]): Array[Byte] = {
      val dataLen = 2 * samples.length
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(s => bb.putShort(s.toShort))
      bb.array()
    }
    // 4040 samples = exactly 8 ADPCM blocks (1 header sample + 504
    // nibbles each), so the decoded stream is sample-for-sample the
    // PCM stream's length and the 8 fingerprint windows align across
    // the two containers (505 samples/window both sides)
    def signal(active: (Int, Int) => Boolean): Array[Int] =
      Array.tabulate(4040) { i =>
        val w = i / 505
        (0 until 8).filter(b => active(w, b))
          .map(b => 3000.0 * math.sin(2 * math.Pi * (b + 1) / 32.0 * i))
          .sum.round.toInt
      }
    val base = signal((w, b) => (w + b) % 2 == 0)
    val other = signal((w, b) => (w + b) % 2 == 1)

    // decode fidelity: the decoder reconstructs the encoder's samples
    // within ADPCM's adaptive-quantizer noise (far below the signal)
    val decoded = Multimodal.WavPcmCodec.pcmSamples(wavAdpcmOf(base))
    assert(decoded.length >= base.length)
    val err = base.indices.map(i => math.abs(decoded(i) - base(i)))
    val peak = base.map(math.abs).max.toDouble
    assert(err.sum / base.length < 0.05 * peak,
      s"mean ADPCM reconstruction error ${err.sum.toDouble / base.length} " +
        s"vs 5% of peak $peak — the adaptive quantizer should track a " +
        "band-limited signal far closer than this")

    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio", "audio/wav", wavPcmOf(base), 0L),
      Multimodal.MediaRow(2L, "audio", "audio/adpcm", wavAdpcmOf(base), 0L),
      Multimodal.MediaRow(3L, "audio", "audio/adpcm", wavAdpcmOf(other), 0L)))
    val f = Multimodal.audioFingerprint(media, () => Multimodal.WavPcmCodec)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    def ham(m: Map[Long, Long], a: Long, b: Long) =
      java.lang.Long.bitCount(m(a) ^ m(b))
    assert(ham(f, 1L, 2L) <= 6,
      s"spectral fingerprint must CATCH the ADPCM re-encode (hamming ${ham(f, 1L, 2L)})")
    assert(ham(f, 1L, 3L) > 6,
      s"distinct ADPCM content must stay far (hamming ${ham(f, 1L, 3L)})")
    // byte-level hash over the raw payloads misses: PCM-16 and 4-bit
    // ADPCM containers share almost no byte structure
    val a = Multimodal.perceptualHash(media)
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(ham(a, 1L, 2L) > 6,
      s"byte aHash was expected to MISS the format change (hamming ${ham(a, 1L, 2L)})")
    // and through the same banded near-dup operator
    val pairs = Multimodal.phashNearDup(
      Multimodal.audioFingerprint(media, () => Multimodal.WavPcmCodec))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)), s"pairs: $pairs")

    // guard rails: stereo ADPCM and unknown format tags fail loudly
    val stereo = wavAdpcmOf(base)
    stereo(22) = 2 // channels field inside fmt
    assert(intercept[IllegalArgumentException](
      Multimodal.WavPcmCodec.pcmSamples(stereo)).getMessage.contains("mono"))
    val alien = wavAdpcmOf(base)
    alien(20) = 0x42 // format tag
    assert(intercept[RuntimeException](
      Multimodal.WavPcmCodec.pcmSamples(alien)).getMessage
      .contains("unsupported WAV format tag"))
  }

  test("resize truncates payloads") {
    val m = Multimodal.mediaTable(spark, TestSpark.sf)
    val r = Multimodal.resize(m, 16)
    assert(r.filter("not resized").count() == 0)
  }

  test("corrupt containers fail the parse loudly: negative/overlong WAV " +
      "chunk lengths and truncated y4m frames never walk out of bounds") {
    // RIFF walk: a negative chunk length used to move the offset
    // BACKWARDS (infinite executor loop); an overlong one read past the
    // payload; a negative data length sized a negative array
    def wavWithChunkLen(len: Int, id: String = "junk"): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44) // ≥ the 44-byte RIFF floor
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put(id.getBytes("US-ASCII")); bb.putInt(len)
      bb.put(Array.fill[Byte](24)(0))
      bb.array()
    }
    for (bad <- Seq(wavWithChunkLen(-12), wavWithChunkLen(1 << 20),
                    wavWithChunkLen(-4, id = "data"))) {
      val e = intercept[IllegalArgumentException](
        Multimodal.WavPcmCodec.pcmSamples(bad))
      assert(e.getMessage.contains("invalid length"))
    }
    // y4m: a FRAME marker not followed by its full w×h plane used to
    // throw ArrayIndexOutOfBounds inside the tile walk
    val truncated = ("YUV4MPEG2 W32 H32 Cmono\nFRAME\n".getBytes("US-ASCII")
      ++ Array.fill[Byte](100)(7))
    val e = intercept[IllegalArgumentException](
      Multimodal.Y4mCodec.frameRasters(truncated, 8))
    assert(e.getMessage.contains("truncated y4m frame"))
  }
}
