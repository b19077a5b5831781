package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.textops.Multimodal

/** Real-codec round-trips with HAND-COMPUTED expectations — independent of
  * the generated-VALUES oracle (which replays the same Scala; these pin the
  * byte layout itself against the published BMP/RIFF specs).
  */
class MultimodalSpec extends AnyFunSuite {

  test("BMP round-trip: known 2x2 pixels, exact channel sums and luminance") {
    // (0,0)=red (0,1)=green (1,0)=blue (1,1)=white
    val px = Map((0, 0) -> 0xff0000, (1, 0) -> 0x0000ff,
      (0, 1) -> 0x00ff00, (1, 1) -> 0xffffff)
    val bytes = Multimodal.encodeBmp(2, 2, (x, y) => px((x, y)))
    // width 2 → row = 6 bytes padded to 8; file = 54 + 16
    assert(bytes.length == 54 + 16)
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    val st = Multimodal.decodeBmp(bytes)
    assert(st.width == 2 && st.height == 2)
    assert(st.sumR == 255L * 2 && st.sumG == 255L * 2 && st.sumB == 255L * 2)
    // lum = 2R+4G+B: red 510, green 1020, blue 255, white 1785
    assert(st.minLum == 255 && st.maxLum == 1785)
    assert(st.sampleRate == 0 && st.nSamples == 0)
  }

  test("BMP: bottom-up storage — top row lands at the END of pixel data") {
    // 1x2: top=white, bottom=black; bottom-up means row0-in-file = bottom
    val bytes = Multimodal.encodeBmp(1, 2,
      (_, y) => if (y == 0) 0xffffff else 0x000000)
    val rowBytes = 4 // 3 padded to 4
    val bottomFirstByte = bytes(54) & 0xff
    val topFirstByte = bytes(54 + rowBytes) & 0xff
    assert(bottomFirstByte == 0 && topFirstByte == 255)
  }

  test("BMP: odd widths pad rows to 4 bytes and still decode exactly") {
    for (w <- 1 to 9; h <- Seq(1, 3)) {
      val bytes = Multimodal.encodeBmp(w, h, (x, y) => (x * 31 + y * 7) % 256)
      val st = Multimodal.decodeBmp(bytes)
      assert(st.width == w && st.height == h, s"dims $w x $h")
      val expB = (for (x <- 0 until w; y <- 0 until h)
        yield (x * 31 + y * 7) % 256).map(_.toLong).sum
      assert(st.sumB == expB && st.sumR == 0L && st.sumG == 0L, s"$w x $h")
    }
  }

  test("BMP decoder refuses what it can't parse instead of guessing") {
    intercept[IllegalArgumentException](Multimodal.decodeBmp(Array[Byte](1, 2)))
    val good = Multimodal.encodeBmp(2, 2, (_, _) => 0)
    val badMagic = good.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException](Multimodal.decodeBmp(badMagic))
    val truncated = good.take(good.length - 4)
    intercept[IllegalArgumentException](Multimodal.decodeBmp(truncated))
    // crafted dims whose Int byte-count product overflows negative must be
    // a clean refusal, not an out-of-bounds read (review finding)
    val overflow = good.clone()
    overflow(18) = 0; overflow(19) = 0; overflow(20) = 0; overflow(21) = 0x20
    val e = intercept[IllegalArgumentException](Multimodal.decodeBmp(overflow))
    assert(e.getMessage.contains("truncated data"))
  }

  test("WAV decoder refuses an undersized fmt chunk instead of aliasing bytes") {
    val good = Multimodal.encodeWav(8000, 1, Array[Short](1, -1))
    val bad = good.clone()
    bad(16) = 4 // declared fmt size 4: sampleRate would read the next chunk
    val e = intercept[IllegalArgumentException](Multimodal.decodeWav(bad))
    assert(e.getMessage.contains("fmt chunk"))
  }

  test("WAV round-trip: known samples, exact amplitude stats and crossings") {
    val samples = Array[Short](100, -200, 300, 0, -1, 1)
    val bytes = Multimodal.encodeWav(16000, 1, samples)
    assert(bytes.length == 44 + 12)
    val st = Multimodal.decodeWav(bytes)
    assert(st.sampleRate == 16000 && st.nChannels == 1 && st.nSamples == 6)
    assert(st.ampMin == -200 && st.ampMax == 300)
    assert(st.sumAbs == 100L + 200 + 300 + 0 + 1 + 1)
    // sign sequence + - + (0 skipped) - +  → 4 crossings
    assert(st.zeroCross == 4)
    assert(st.width == 0 && st.height == 0)
  }

  test("WAV: stereo counts frames, crossings on channel 0 only") {
    // frames: ch0 = [1000, -1000, 1000], ch1 = [5, 5, 5]
    val inter = Array[Short](1000, 5, -1000, 5, 1000, 5)
    val st = Multimodal.decodeWav(Multimodal.encodeWav(8000, 2, inter))
    assert(st.nChannels == 2 && st.nSamples == 3)
    assert(st.zeroCross == 2) // ch0 flips twice; ch1's constant 5s ignored
    assert(st.sumAbs == 3000L + 15L)
  }

  test("WAV: decoder walks unknown chunks (LIST before data)") {
    val plain = Multimodal.encodeWav(8000, 1, Array[Short](7, -7))
    // splice a LIST chunk between fmt and data
    val listChunk = Array[Byte]('L', 'I', 'S', 'T', 4, 0, 0, 0, 'I', 'N', 'F', 'O')
    val spliced = plain.take(36) ++ listChunk ++ plain.drop(36)
    // fix RIFF size field (+12)
    val riffSize = 36 + 4 + 12
    spliced(4) = (riffSize & 0xff).toByte
    spliced(5) = ((riffSize >> 8) & 0xff).toByte
    val st = Multimodal.decodeWav(spliced)
    assert(st.nSamples == 2 && st.ampMax == 7 && st.ampMin == -7)
  }

  test("distributed decodeMedia matches driver-side reference decode for every row") {
    val spark = SparkTestBase.spark
    val out = Multimodal.decodeMedia(Multimodal.decodableTable(spark, 60))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 60)
    (0L until 60L).foreach { i =>
      val m = Multimodal.decodableRow(i)
      val st = if (m.kind == "image") Multimodal.decodeBmp(m.bytes)
               else Multimodal.decodeWav(m.bytes)
      val r = out(i)
      assert(r.getString(1) == m.kind)
      assert(r.getInt(2) == m.bytes.length)
      assert(r.getLong(5) == st.sumR && r.getLong(6) == st.sumG &&
        r.getLong(7) == st.sumB, s"media $i pixel sums")
      assert(r.getInt(10) == st.sampleRate && r.getInt(12) == st.nSamples)
      assert(r.getLong(15) == st.sumAbs && r.getInt(16) == st.zeroCross)
    }
  }
}
