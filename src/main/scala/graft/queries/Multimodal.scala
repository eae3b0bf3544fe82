package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import graft.multimodal.MediaPipeline
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star ops): binary payloads with typed
  * metadata, partition-wise decode/feature-extract with a clearly-marked
  * stub decoder (no media libs in this container — see
  * [[graft.multimodal.MediaPipeline.decodeStub]]).
  */
object Multimodal extends QueryPack {

  def queries: Seq[GraftQuery] = Seq(
    // Pure-SQL metadata path: binary length + derived fake dimensions are
    // arithmetic on octet counts, so this one IS oracle-checkable.
    GraftQuery(
      "q45_multimodal_binary_metadata",
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("payload", col("text").cast("binary"))
          .select(
            col("doc_id"),
            length(col("payload")).cast("long").as("n_bytes"),
            (length(col("payload")).cast("long") % 512 + 16).as("width"),
            ((length(col("payload")).cast("long") / 512).cast("long") % 512 + 16).as("height"),
            (col("n_chars") % 4 + 1).cast("long").as("channels"),
            upper(col("source")).as("declared_format"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) % 512 + 16 AS BIGINT) AS width,
        |  CAST((octet_length(CAST(text AS BLOB)) // 512) % 512 + 16 AS BIGINT) AS height,
        |  CAST(n_chars % 4 + 1 AS BIGINT) AS channels,
        |  upper(source) AS declared_format
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Typed Dataset + mapPartitions feature extraction (stub decode).
    // Deterministic but not SQL-expressible → rows-only; pinned in ScalaTest.
    GraftQuery(
      "q46_multimodal_features",
      (s, dir) => {
        implicit val spark = s
        // the REAL decoders (ImageIO / WAV / MJPEG-AVI) reject the
        // synthesized text-byte payloads deterministically, so every row
        // takes the documented stub — a pure function of the payload
        // length — and the byte statistics are pure functions of the
        // text. Both replay in the oracle; the mean rides as an exact
        // integer milli-mean (sum·10⁴ div n — the double mean's exact sum
        // is recoverable because sum < 2⁵³), so no float rounding rule
        // can diverge across engines.
        MediaPipeline.extractFeatures(
          MediaPipeline.fromDocuments(Tables(s, dir, "documents")))
          .toDF()
          .select(col("media_id"), col("n_bytes"),
            when(col("n_bytes") === 0, 0L).otherwise(
              expr("CAST(round(mean_byte * n_bytes) AS BIGINT) * 10000 div n_bytes"))
              .as("mean_millibyte"),
            col("width"), col("height"), col("channels"))
          .orderBy("media_id")
      },
      Some("""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |    CAST(list_sum([ord(c) FOR c IN string_split_regex(text, '')])
        |      AS BIGINT) AS sum_bytes
        |  FROM documents)
        |SELECT media_id, n AS n_bytes,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(sum_bytes * 10000 // n AS BIGINT) END AS mean_millibyte,
        |  CAST(n % 512 + 16 AS BIGINT) AS width,
        |  CAST((n // 512) % 512 + 16 AS BIGINT) AS height,
        |  CAST(n % 4 + 1 AS BIGINT) AS channels
        |FROM m ORDER BY media_id""".stripMargin)),

    // File-based media ingestion: author real PNGs, read them back with
    // Spark's built-in `binaryFile` source (path/length/content rows — the
    // ingestion format every image-corpus pipeline starts from), and REALLY
    // decode dimensions via MediaPipeline.decodeImage. Deterministic
    // (authored fixtures) but file-based → rows-only; the decode truth is
    // pinned in MediaPipelineSpec and the PNG bytes are authored in-query.
    GraftQuery(
      "q145_binaryfile_ingest",
      (s, _) => {
        withScratchRoot(s, "bin") { root =>
          new java.io.File(root).mkdirs()
          // author deterministic PNG fixtures: sizes derived from index
          (1 to 6).foreach { i =>
            val w = 8 * i
            val h = 4 * i
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var x = 0
            while (x < w) {
              var y = 0
              while (y < h) { img.setRGB(x, y, (x * 37 + y * 11) & 0xffffff); y += 1 }
              x += 1
            }
            javax.imageio.ImageIO.write(img, "png", new java.io.File(root, f"img$i%02d.png"))
          }
          val bin = s.read.format("binaryFile").load(root)
          import s.implicits._
          // the on-disk byte count is a JDK-PNG-encoder artifact, not a
          // semantic — what the oracle pins is the decode truth (the
          // authored dimensions, analytically known) plus the source
          // contract that `length` matches the bytes actually delivered
          val decoded = bin
            .select(element_at(split(col("path"), "/"), -1).as("name"),
              col("length"), col("content"))
            .as[(String, Long, Array[Byte])]
            .map { case (name, len, bytes) =>
              val (w, h, c) = MediaPipeline.decodeImage(bytes)
                .getOrElse((-1L, -1L, -1L))
              (name, len > 0 && len == bytes.length, w, h, c)
            }
            .toDF("name", "length_matches_content", "width", "height", "channels")
          materializeSmall(decoded.orderBy("name"))
        }
      },
      // the fixture is authored by the query itself with analytically
      // known dimensions — the oracle is the literal decode truth
      Some("""SELECT 'img' || lpad(CAST(i AS VARCHAR), 2, '0') || '.png' AS name,
        |  TRUE AS length_matches_content,
        |  CAST(8 * i AS BIGINT) AS width,
        |  CAST(4 * i AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM (SELECT UNNEST(range(1, 7)) AS i)
        |ORDER BY name""".stripMargin))
  )
}
