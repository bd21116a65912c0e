package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Query.t

/** SURVEY §2c, multimodal: the content manifest and video metadata. */
object MultimodalQueries {

  lazy val all: Seq[Query] = Seq(
    // content-addressed manifest over an opaque binary payload column
    // (payload = the docs' UTF-8 bytes here; any media bytes in
    // production) — the upload-once/reference-everywhere dedup shape
    Query("mm_manifest", (s, dir) =>
      graft.operators.Multimodal.contentManifest(
        t(s, dir, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload"),
      """SELECT sha256(text) AS digest, count(*) AS n_refs,
                min(doc_id) AS rep_id, CAST(min(strlen(text)) AS BIGINT) AS n_bytes
         FROM documents GROUP BY 1"""),

    // REAL mp4 container metadata, gated end-to-end: skeleton
    // payloads (ftyp + moov/mvhd/trak/hdlr boxes) built per doc in
    // the plan, parsed back by the ISO-BMFF box walker; the oracle
    // derives the expected values arithmetically, so any framing or
    // header-offset bug in encode OR parse breaks the hash
    Query("mm_video_meta", (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val durMs = 1000L + (id % 50) * 200L
          val handlers = if (id % 2 == 0) Seq("vide") else Seq("vide", "soun")
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.encodeMp4Skeleton(durMs, 600L, handlers),
            graft.operators.Multimodal.MediaMeta("video/mp4", 0, 0, durMs, "h264"))
        }
      graft.operators.Multimodal.videoMetadata(rows)
        .toDF().select(col("media_id"), col("major_brand"),
          col("duration_ms"), col("timescale"), col("n_tracks"))
    },
      // the expected container metadata derived arithmetically from the
      // same per-doc build parameters (duration roundtrips exactly:
      // units = durMs·600/1000 is integral for multiples of 5 ms)
      """SELECT doc_id AS media_id, 'isom' AS major_brand,
                CAST(1000 + (doc_id % 50) * 200 AS BIGINT) AS duration_ms,
                CAST(600 AS BIGINT) AS timescale,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS n_tracks
         FROM documents""")
  )
}
