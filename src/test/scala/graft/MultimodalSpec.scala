package graft

import graft.multimodal.{MediaRecord, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** Real JDK image codec path: ImageIO decode recovers true dimensions,
  * Graphics2D resize emits a decodable PNG at the scaled dimensions, and
  * non-image payloads fall back to the deterministic stub. */
class MultimodalSpec extends AnyFunSuite with SparkSpec {

  /** Fixture datasets live under a fresh directory per run. */
  private lazy val fixtures = tempDir("multimodal")

  test("decodeImage recovers the generated dimensions") {
    val png = Multimodal.Codecs.syntheticPng(37, 21, seed = 7L)
    assert(Multimodal.Codecs.decodeImage(png) == Some((37, 21, 1)))
  }

  test("decodeImage rejects non-image bytes") {
    assert(Multimodal.Codecs.decodeImage("not a png".getBytes) == None)
    assert(Multimodal.Codecs.decodeImage(Array.empty[Byte]) == None)
  }

  test("resizeImage scales to fit and re-encodes a decodable PNG") {
    val png = Multimodal.Codecs.syntheticPng(64, 24, seed = 3L)
    val Some((ow, oh, out)) = Multimodal.Codecs.resizeImage(png, maxDim = 16)
    assert((ow, oh) == (16, 6)) // 64x24 -> maxDim 16: w=16, h=24*16/64=6
    assert(Multimodal.Codecs.decodeImage(out) == Some((16, 6, 1)))
  }

  test("resizeImage never upscales") {
    val png = Multimodal.Codecs.syntheticPng(10, 8, seed = 1L)
    val Some((ow, oh, _)) = Multimodal.Codecs.resizeImage(png, maxDim = 100)
    assert((ow, oh) == (10, 8))
  }

  test("decodeWav round-trips the generator and agrees with the JDK's own parser") {
    val wav = Multimodal.Codecs.syntheticWav(16000, 2, 37, seed = 9L)
    assert(Multimodal.Codecs.decodeWav(wav) == Some((16000, 2, 37L)))
    // independent validation: javax.sound parses the same header
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ais.getFormat.getSampleRate == 16000f)
    assert(ais.getFormat.getChannels == 2)
    assert(ais.getFrameLength == 37L)
  }

  test("decodeWav rejects non-WAV and truncated payloads") {
    assert(Multimodal.Codecs.decodeWav("RIFFxxxx".getBytes) == None)
    assert(Multimodal.Codecs.decodeWav("not audio at all".getBytes) == None)
    val wav = Multimodal.Codecs.syntheticWav(8000, 1, 10, 1L)
    // chopped mid-data: declared chunk size exceeds payload -> reject
    assert(Multimodal.Codecs.decodeWav(wav.take(50)) == None)
  }

  test("AVI demux round-trips the generator; every frame decodes as a JPEG") {
    val avi = Multimodal.Codecs.syntheticAvi(20, 14, nFrames = 4, seed = 2L)
    val Some(frames) = Multimodal.Codecs.demuxAviFrames(avi)
    assert(frames.length == 4)
    frames.foreach { jpeg =>
      assert(Multimodal.Codecs.decodeImage(jpeg) == Some((20, 14, 1)))
    }
  }

  test("AVI demux rejects non-AVI and truncated containers") {
    assert(Multimodal.Codecs.demuxAviFrames("RIFFxxxxWAVE".getBytes) == None)
    assert(Multimodal.Codecs.demuxAviFrames("garbage".getBytes) == None)
    val avi = Multimodal.Codecs.syntheticAvi(16, 12, 3, 1L)
    assert(Multimodal.Codecs.demuxAviFrames(avi.take(avi.length / 2)) == None)
  }

  test("sampleVideoFrames strides through real decoded frames") {
    import spark.implicits._
    val media = Seq(
      MediaRecord(1L, "video", Multimodal.Codecs.syntheticAvi(16, 12, 5, 4L), Map.empty),
      MediaRecord(2L, "video", "not a container".getBytes, Map.empty)).toDS()
    val got = Multimodal.sampleVideoFrames(media, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // frames 0, 2, 4 of the 5-frame video; non-AVI row contributes nothing
    assert(got == Set((1L, 0, 16, 12), (1L, 2, 16, 12), (1L, 4, 16, 12)))
  }

  test("extractFeatures uses real dims for images, stub for other kinds") {
    import spark.implicits._
    val png = Multimodal.Codecs.syntheticPng(12, 9, seed = 5L)
    val media = Seq(
      MediaRecord(1L, "image", png, Map.empty),
      MediaRecord(2L, "audio", png, Map.empty), // image bytes but audio kind -> stub
      MediaRecord(3L, "image", "garbage".getBytes, Map.empty) // fallback -> stub
    ).toDS()
    val got = Multimodal.extractFeatures(media)
      .collect().map(f => f.media_id -> ((f.width, f.height, f.n_frames))).toMap
    assert(got(1L) == ((12, 9, 1)))
    val stubPng = Multimodal.DecodeStub.decode(png)
    assert(got(2L) == stubPng)
    assert(got(3L) == Multimodal.DecodeStub.decode("garbage".getBytes))
  }

  test("aHash: identical images collide; a resized copy stays within a few bits") {
    val png = Multimodal.Codecs.syntheticPng(64, 48, seed = 11L)
    val h1 = Multimodal.aHashImage(png).get
    assert(Multimodal.aHashImage(png).get == h1, "hashing is deterministic")
    // resize-robustness: the half-size re-encode must land nearby (the
    // property aHash exists for); an unrelated image must not
    val resized = Multimodal.Codecs.resizeImage(png, maxDim = 32).get._3
    val hr = Multimodal.aHashImage(resized).get
    val dNear = java.lang.Long.bitCount(h1 ^ hr)
    assert(dNear <= 12, s"resized copy drifted $dNear bits")
    val other = Multimodal.Codecs.syntheticPng(64, 48, seed = 12L)
    val dFar = java.lang.Long.bitCount(h1 ^ Multimodal.aHashImage(other).get)
    assert(dFar > dNear, s"unrelated image ($dFar bits) must be farther than a resize ($dNear)")
  }

  test("aHash stub: exact integer above-the-mean rule on a planted payload") {
    // 64 bytes: first half 0, second half 200 -> mean 100, strict > sets
    // exactly bits 32..63
    val payload = Array.fill(32)(0.toByte) ++ Array.fill(32)(200.toByte)
    assert(Multimodal.aHashStub(payload) == 0xFFFFFFFF00000000L)
    // constant payload: no byte strictly exceeds the mean -> 0
    assert(Multimodal.aHashStub(Array.fill(40)(7.toByte)) == 0L)
    assert(Multimodal.aHashStub(Array.empty[Byte]) == 0L)
  }

  test("phash bucket profile groups identical payloads") {
    import spark.implicits._
    Seq((1L, "same words here", "s"), (2L, "same words here", "s"),
        (3L, "a different doc", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_phash_docs/documents.parquet")
    val got = SparkEntry.queries("q129_phash_buckets")(spark, s"$fixtures/test_phash_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 1L, 1L -> 1L),
      s"one bucket of two identical payloads, one singleton: $got")
  }
}
