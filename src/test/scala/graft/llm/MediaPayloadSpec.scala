package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-level pin of every media encoder's payloads. The decoders read
  * only the header fields they need: BMP file size, the AVI rate/scale
  * and stream fields, and the WAV byte rate are never read back, so
  * round-trip specs and oracle gates cannot see those bytes drift. One
  * md5 per encoder over the per-payload md5s of doc_ids 0–11 and 42
  * (doc_id order) catches any changed byte. */
class MediaPayloadSpec extends graft.SparkTestBase {

  private def pin(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.select(col("doc_id"), col("payload")).orderBy("doc_id").collect()
      .foreach(r => md.update(java.security.MessageDigest.getInstance("MD5")
        .digest(r.getAs[Array[Byte]]("payload"))))
    md.digest().map("%02x".format(_)).mkString
  }

  test("every encoder's payload bytes are pinned for doc_ids 0-11 and 42") {
    import spark.implicits._
    val ids = ((0L to 11L) :+ 42L).toDF("doc_id")
    val got = Seq(
      "encodePpm" -> pin(Multimodal.encodePpm(ids)),
      "encodeBmp2x2" -> pin(Multimodal.encodeBmp2x2(ids)),
      "encodeBmpGray8x8" -> pin(Multimodal.encodeBmpGray8x8(ids)),
      "encodeBmpGrayVar" -> pin(Multimodal.encodeBmpGrayVar(ids)),
      "encodeWavPcm" -> pin(Multimodal.encodeWavPcm(ids)),
      "encodeAvi" -> pin(Multimodal.encodeAvi(ids)),
      "encodePng8x8" -> pin(Multimodal.encodePng8x8(spark, ids)))
    val want = Seq(
      "encodePpm" -> "7625676fb087897e6919a8a705d35524",
      "encodeBmp2x2" -> "4efb8bb0a957605fb60a456e6abbb186",
      "encodeBmpGray8x8" -> "c5641ea10d7302e87369346c4967d1b4",
      "encodeBmpGrayVar" -> "bacd2d80818ad8594c8ca797d52e80f2",
      "encodeWavPcm" -> "ff6d66fd4d7eafcd697cfdfab2fe6a0e",
      "encodeAvi" -> "9c369d7d0ac14f4f827ae03f40a86d41",
      "encodePng8x8" -> "e7acc3d95a86d3d9b3f748b518cdce7c")
    assert(got === want)
  }
}
