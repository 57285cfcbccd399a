package graft.datapipe

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bytes the media encoders and near-duplicate fixtures
  * write. The roundtrip specs and the q_mm_* oracles only check what the
  * decoders read back, so a change made alike to a shared writer and
  * its reader passes them; it does not pass these digests.
  */
class MediaBytesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def pin(what: String, bytes: Array[Byte], expected: String): Unit =
    assert(sha256(bytes) == expected, s"$what: ${bytes.length} bytes, sha256 ${sha256(bytes)}")

  test("encodeWavPcm16 writes the pinned RIFF/WAVE bytes") {
    val samples = Array.tabulate(37)(i => ((i * 2731) % 65536 - 32768).toShort)
    pin("wav", Multimodal.encodeWavPcm16(samples, 11025),
      "3d6b84f90b592b8a7739467c69ce30eeb5cee195ea39440aa297af56ab5dc6cf")
  }

  test("encodeBmp24 writes the pinned bytes at an odd width (padded rows)") {
    val (w, h) = (7, 5)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    pin("bmp24", Multimodal.encodeBmp24(w, h, rgb),
      "7113f8d859b1bfacbb1cc735033865b6a835a5b73c6d84afa2818079e8be9fcb")
  }

  test("encodeBmpRle8 writes the pinned bytes: runs, literals and a 255-cap") {
    // Row 0: a 300-long run (split at the 255 cap), then 10 literals.
    // Row 1: 310 literals (absolute blocks of 255 and an odd 55).
    // Row 2: a run of 4, two unit runs, a run of 3, then 301 literals.
    val w = 310
    val px = Array.tabulate(3 * w) { i =>
      val (y, x) = (i / w, i % w)
      val v = y match {
        case 0 => if (x < 300) 9 else x % 7 + 20
        case 1 => (x * 13) % 251
        case _ => if (x < 4) 1 else if (x < 6) x else if (x < 9) 2 else (x * 29) % 256
      }
      v.toByte
    }
    pin("rle8", Multimodal.encodeBmpRle8(w, 3, px),
      "2db49aeefe65fbf88b3cb2c98f9437eb582102610d857cc1441a553d2576877d")
  }

  test("encodeAvi writes the pinned bytes: 2 frames at an odd width") {
    val (w, h) = (5, 3)
    val frames = Array.tabulate(2)(f => Array.tabulate(w * h * 3)(j => ((f * 53 + j * 7) % 256).toByte))
    pin("avi", Multimodal.encodeAvi(w, h, 15, frames),
      "8f08d409edbdd4b4a43b7aa83be2b88a13284424b23a1919908cdd59c3ec1c63")
  }

  test("the near-duplicate pair fixtures write the pinned rows") {
    // id 5: odd widths for both image fixtures (BMP 13 px, AVI 13 px).
    val ids = Seq(5L).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Byte]] =
      df.as[(Long, Array[Byte])].collect().toMap
    val wav = rows(Multimodal.synthWavPair(ids, "doc_id"))
    val bmp = rows(Multimodal.synthBmpPair(ids, "doc_id"))
    val avi = rows(Multimodal.synthAviPair(ids, "doc_id"))
    pin("synthWavPair 10", wav(10L), "f68252e153a0a73023a9ed35f6204daf54aa296235448d34711852fdec5e4170")
    pin("synthWavPair 11", wav(11L), "6d6e02ec906dcad4af4fb69a5ad9844cd517e1ba38d055808cae876b11348daf")
    pin("synthBmpPair 10", bmp(10L), "90a9b59fd502d621e17096a6f2588454826c3b2e63b98dca829c1a0e7b90e4e0")
    pin("synthBmpPair 11", bmp(11L), "ade999a2cd7bbcfd740209eb78264a6713d7ae409d461a08227cd50151a5433b")
    pin("synthAviPair 10", avi(10L), "def1a8c202fad93335392bb1cf333556fe851622d882fb25e663ed2024d82005")
    pin("synthAviPair 11", avi(11L), "95a8ee4400e4af10b22038b3708cc58f42a0e1a411f0929e088246d458489bb4")
  }
}
