package graft.operators

import graft.{Scratch, SparkSpec}

class MultimodalSpec extends SparkSpec {

  test("media table has the binary+metadata schema") {
    val m = Multimodal.syntheticMedia(spark, sf)
    val fields = m.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(fields("media") == "binary")
    assert(fields("meta").startsWith("struct<kind:string,width:int"))
    assert(m.count() > 0)
  }

  test("decodeFrames samples every k-th frame with w*h pixels") {
    val m = Multimodal.syntheticMedia(spark, sf)
    val frames = Multimodal.decodeFrames(m, stride = 2)
    val f = frames.head()
    val meta = m.filter(_.media_id == f.media_id).head().meta
    assert(f.pixels.length == meta.width * meta.height)
    assert(frames.filter(_.frame_idx % 2 != 0).isEmpty)
  }

  test("resize produces the target grid deterministically") {
    val m = Multimodal.syntheticMedia(spark, sf).limit(4)
    val first = m.head()
    val meta = first.meta
    val firstId = first.media_id
    val frames = Multimodal.decodeFrames(m.filter(_.media_id == firstId), 1)
    val small = Multimodal.resize(frames, meta.width, meta.height, 8, 6)
    assert(small.collect().forall(_.pixels.length == 48))
  }

  test("media table round-trips through parquet byte-identically") {
    val spark2 = spark; import spark2.implicits._
    val dir = Scratch.dir("media").toString
    val m = Multimodal.syntheticMedia(spark, sf).limit(50)
    m.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[Multimodal.MediaRow]
    val a = m.collect().sortBy(_.media_id)
    val b = back.collect().sortBy(_.media_id)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.media_id == y.media_id && x.meta == y.meta)
      assert(java.util.Arrays.equals(x.media, y.media),
        s"binary column corrupted for media ${x.media_id}")
    }
  }

  test("a custom MediaCodec can replace the stub") {
    val spark2 = spark; import spark2.implicits._
    object ConstCodec extends Multimodal.MediaCodec {
      override def decode(bytes: Array[Byte],
                          meta: Multimodal.MediaMeta): Array[Float] =
        Array.fill(meta.width * meta.height)(0.5f)
    }
    val m = Multimodal.syntheticMedia(spark, sf).limit(3)
    val frames = Multimodal.decodeFrames(m, stride = 1, codec = ConstCodec)
    assert(frames.collect().forall(_.pixels.forall(_ == 0.5f)))
  }

  test("extractFeatures yields fixed-width vectors ready for ANN") {
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, sf), dim = 64)
    val rows = feats.collect()
    assert(rows.nonEmpty && rows.forall(_.feature.length == 64))
    // deterministic: same input → same feature
    val again = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, sf), dim = 64).collect()
    assert(rows.sortBy(_.media_id).map(_.feature.toSeq).toSeq ==
           again.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
  }

  test("PGM encode/decode round-trips pixel-identically") {
    val (w, h) = (13, 7)
    val px = Array.tabulate(w * h)(i => (i * 37 + 5) % 256)
    val blob = Multimodal.Pgm.encode(px, w, h)
    // container starts with the P5 magic — it IS a real PGM file
    assert(new String(blob.take(2), "US-ASCII") == "P5")
    val (dw, dh, back) = Multimodal.Pgm.decodeRaw(blob)
    assert((dw, dh) == (w, h) && back.toSeq == px.toSeq)
  }

  test("PGM parser handles comments/whitespace grammar; rejects corrupt blobs") {
    val bytes = ("P5 # inline comment\n# full-line comment\n 3\n# mid\n2 255\n"
      .getBytes("US-ASCII")) ++ Array[Byte](0, 64, -128, -1, 1, 2)
    val (w, h, px) = Multimodal.Pgm.decodeRaw(bytes)
    assert((w, h) == (3, 2))
    assert(px.toSeq == Seq(0, 64, 128, 255, 1, 2)) // unsigned payload
    intercept[IllegalArgumentException](
      Multimodal.Pgm.decodeRaw("P6 1 1 255 x".getBytes("US-ASCII")))
    intercept[IllegalArgumentException]( // truncated payload
      Multimodal.Pgm.decodeRaw("P5\n2 2\n255\nab".getBytes("US-ASCII")))
  }

  test("PGM round-trip holds for randomized dimensions and pixels") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCase = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 30)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 255))
    } yield (w, h, px.toArray)
    val prop = Prop.forAll(genCase) { case (w, h, px) =>
      val (dw, dh, back) = Multimodal.Pgm.decodeRaw(Multimodal.Pgm.encode(px, w, h))
      dw == w && dh == h && back.toSeq == px.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("PPM (P6) encode/decode round-trips RGB-interleaved, magic enforced") {
    val (w, h) = (9, 5)
    val rgb = Array.tabulate(3 * w * h)(i => (i * 29 + 11) % 256)
    val blob = Multimodal.Ppm.encode(rgb, w, h)
    assert(new String(blob.take(2), "US-ASCII") == "P6")
    val (dw, dh, back) = Multimodal.Ppm.decodeRaw(blob)
    assert((dw, dh) == (w, h) && back.toSeq == rgb.toSeq)
    // magic cross-rejection both ways: a P5 blob is not a P6 and
    // vice versa
    intercept[IllegalArgumentException](
      Multimodal.Ppm.decodeRaw(Multimodal.Pgm.encode(Array.fill(w * h)(7), w, h)))
    intercept[IllegalArgumentException](
      Multimodal.Pgm.decodeRaw(blob))
    // truncated color payload (w*h bytes instead of 3*w*h) fails loudly
    intercept[IllegalArgumentException](
      Multimodal.Ppm.decodeRaw("P6\n2 2\n255\nabcd".getBytes("US-ASCII")))
  }

  test("PPM round-trip holds for randomized dimensions and channels") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCase = for {
      w <- Gen.chooseNum(1, 30)
      h <- Gen.chooseNum(1, 20)
      px <- Gen.listOfN(3 * w * h, Gen.chooseNum(0, 255))
    } yield (w, h, px.toArray)
    val prop = Prop.forAll(genCase) { case (w, h, px) =>
      val (dw, dh, back) = Multimodal.Ppm.decodeRaw(Multimodal.Ppm.encode(px, w, h))
      dw == w && dh == h && back.toSeq == px.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("PpmCodec plugs into the decode pipeline (3 floats per pixel)") {
    val spark2 = spark; import spark2.implicits._
    val rgb = Array.tabulate(3 * 8 * 8)(i => (i * 7) % 256)
    val blob = Multimodal.Ppm.encode(rgb, 8, 8)
    val meta = Multimodal.MediaMeta("image", 8, 8, 0, 1)
    val m = Seq(Multimodal.MediaRow(1L, blob, meta)).toDS()
    val frames = Multimodal.decodeFrames(m, stride = 1,
      codec = Multimodal.PpmCodec).collect()
    assert(frames.length == 1)
    assert(frames.head.pixels.length == 3 * 8 * 8)
    assert(frames.head.pixels.toSeq == rgb.map(_ / 255.0f).toSeq)
  }

  test("Wav codec round-trips signed 16-bit PCM through the RIFF grammar") {
    val samples = Array(-32768, -1, 0, 1, 32767, 12345, -12345, 255, -256)
    val blob = Multimodal.Wav.encode(samples, 16000)
    val (rate, back) = Multimodal.Wav.decodeRaw(blob)
    assert(rate == 16000)
    assert(back.toSeq == samples.toSeq,
      "signed LE round-trip must be exact at both extremes")
    // the encoder plants an ODD-sized unknown chunk between fmt and
    // data: a reader that ignores RIFF word alignment lands mid-chunk
    // and must NOT have parsed this correctly by accident
    val listAt = blob.indexOfSlice("LIST".getBytes)
    assert(listAt > 0 && listAt < blob.indexOfSlice("data".getBytes),
      "unknown chunk must precede data")
  }

  test("Wav decode guards: wrong magic / stereo / missing chunks fail loudly") {
    val ok = Multimodal.Wav.encode(Array(1, 2, 3), 8000)
    val bad = ok.clone(); bad(0) = 'X'
    intercept[IllegalArgumentException](Multimodal.Wav.decodeRaw(bad))
    val stereo = ok.clone()
    // fmt chunk starts at offset 12+8; channel count is its 3rd/4th byte
    stereo(12 + 8 + 2) = 2
    intercept[IllegalArgumentException](Multimodal.Wav.decodeRaw(stereo))
  }

  test("PgmCodec plugs into the decode pipeline with real parsing") {
    val spark2 = spark; import spark2.implicits._
    val px = Array.tabulate(16 * 16)(i => i % 256)
    val blob = Multimodal.Pgm.encode(px, 16, 16)
    val meta = Multimodal.MediaMeta("image", 16, 16, 0, 1)
    val m = Seq(Multimodal.MediaRow(1L, blob, meta)).toDS()
    val frames = Multimodal.decodeFrames(m, stride = 1,
      codec = Multimodal.PgmCodec).collect()
    assert(frames.length == 1)
    assert(frames.head.pixels.toSeq == px.map(_ / 255.0f).toSeq)
  }
}
