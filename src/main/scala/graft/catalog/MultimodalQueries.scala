package graft.catalog

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Binary-column multimodal plumbing: feature extraction, frame sampling,
  * resize and perceptual near-dup. */
object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    // --- multimodal binary-column plumbing ---
    // The operator returns features as array<float>; the driver's pandas
    // harness can't sort/hash array cells (round-1 crash), so the query
    // projects each lane to its exact integer byte sum: the stub decode
    // divides an integer lane sum by 255 exactly once, so round(f*255)
    // recovers it bit-exactly and DuckDB can recompute it from the bytes.
    Query("multimodal_features", ((s, dir) => {
      val feats = graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.mediaFromDocuments(
          Tables.documents(s, dir)))
      val lanes = (0 until graft.multimodal.Multimodal.FeatureDim).map(j =>
        round(element_at(col("features"), j + 1).cast("double") * 255d, 0)
          .cast("long").as(s"f$j"))
      feats.select(Seq(col("doc_id"), col("modality"),
          col("n_bytes").cast("long").as("n_bytes")) ++ lanes: _*)
    }), Oracle(
      // Recompute the decode's integer lane sums from the UTF-8 bytes
      // (hex-pair extraction). Image rows (doc_id%3=0) are real 64×64 PGM:
      // raster pixel k = byte[k mod nb], lane = horizontal band k div 512,
      // n_bytes = 13-byte header + 4096 raster. Audio/video keep the
      // declared stub: lane = i mod 8 over the raw bytes.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |img AS (
        |  SELECT doc_id, 4109 AS n_bytes, i // 512 AS lane,
        |    (strpos('0123456789ABCDEF',
        |       substr(h, 2*(i % greatest(nb,1))+1, 1)) - 1) * 16 +
        |    (strpos('0123456789ABCDEF',
        |       substr(h, 2*(i % greatest(nb,1))+2, 1)) - 1) AS bv
        |  FROM b, LATERAL (SELECT unnest(generate_series(0, 4095)) AS i) g
        |  WHERE doc_id % 3 = 0),
        |aud AS (
        |  SELECT doc_id, 44 + 2*n AS n_bytes,
        |    least(i // greatest(n // 8, 1), 7) AS lane,
        |    abs(((doc_id*31 + i*17) % 20001) - 10000) AS bv
        |  FROM (SELECT doc_id, 160 + (doc_id % 41) * 4 AS n
        |        FROM documents WHERE doc_id % 3 = 1) d,
        |  LATERAL (SELECT unnest(generate_series(0, n-1)) AS i) g),
        |vid AS (
        |  SELECT doc_id, frames * 4109 AS n_bytes, k AS lane,
        |    (doc_id*7 + k*13 + i) % 256 AS bv
        |  FROM (SELECT doc_id, 4 + (doc_id % 5) AS frames
        |        FROM documents WHERE doc_id % 3 = 2) d,
        |  LATERAL (SELECT unnest(generate_series(0, frames-1)) AS k) f,
        |  LATERAL (SELECT unnest(generate_series(0, 4095)) AS i) g),
        |u AS (SELECT * FROM img UNION ALL SELECT * FROM aud
        |      UNION ALL SELECT * FROM vid)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 0), 0) AS BIGINT) AS f0,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 1), 0) AS BIGINT) AS f1,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 2), 0) AS BIGINT) AS f2,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 3), 0) AS BIGINT) AS f3,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 4), 0) AS BIGINT) AS f4,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 5), 0) AS BIGINT) AS f5,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 6), 0) AS BIGINT) AS f6,
        |  CAST(coalesce(sum(bv) FILTER (WHERE lane = 7), 0) AS BIGINT) AS f7
        |FROM u GROUP BY doc_id, n_bytes ORDER BY doc_id""".stripMargin)),
    // modality pushed INTO mediaFromDocuments: the video predicate runs
    // before asset fabrication, so no image raster is built just to be
    // dropped by sampleFrames' filter.
    Query("multimodal_frame_sample", ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.mediaFromDocuments(
          Tables.documents(s, dir), modality = Some("video")),
        durationMs = 1000, strideMs = 250)
        ), Oracle(
      // the sampled frame is regenerated by formula: 8 fps over 1 s, index
      // clamped to the last frame, raster pixel = (id*7 + k*13 + i) % 256
      """WITH v AS (SELECT doc_id, 4 + (doc_id % 5) AS frames
        |           FROM documents WHERE doc_id % 3 = 2),
        |s AS (
        |  SELECT doc_id, frames, ms,
        |    CAST(least(ms // 125, frames - 1) AS INTEGER) AS frame_idx
        |  FROM v, LATERAL (SELECT unnest(generate_series(0, 999, 250))
        |                   AS ms) g)
        |SELECT doc_id, CAST(ms AS INTEGER) AS frame_ms, frame_idx,
        |  CAST((SELECT sum((s.doc_id*7 + s.frame_idx*13 + i) % 256)
        |        FROM (SELECT unnest(generate_series(0, 4095)) AS i) px)
        |       AS BIGINT) AS frame_sum
        |FROM s ORDER BY doc_id, frame_ms""".stripMargin)),
    // byte_sum checks the actual resampled BYTES (header + NN raster for
    // images), not just shapes — the oracle recomputes both from text
    Query("multimodal_resize", ((s, dir) =>
      graft.multimodal.Multimodal.contentByteSums(
        graft.multimodal.Multimodal.resizeImages(
          graft.multimodal.Multimodal.mediaFromDocuments(
            Tables.documents(s, dir)), targetW = 16, targetH = 16))
        ), Oracle(
      // images: 13-byte resized header "P5\n16 16\n255\n" (ASCII sum 557)
      // + NN raster out(y,x) = plane[256y+4x], plane[k] = byte[k mod nb];
      // audio: WAV bytes by formula; video: motion-PGM bytes by formula
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |img AS (
        |  SELECT doc_id, 'image' AS modality, 269 AS n_bytes,
        |    557 + coalesce(sum(
        |      (strpos('0123456789ABCDEF', substr(h,
        |         2*((256*(i//16) + 4*(i%16)) % greatest(nb,1))+1, 1)) - 1)*16 +
        |      (strpos('0123456789ABCDEF', substr(h,
        |         2*((256*(i//16) + 4*(i%16)) % greatest(nb,1))+2, 1)) - 1)),
        |      0) AS byte_sum,
        |    16 AS width, 16 AS height
        |  FROM b, LATERAL (SELECT unnest(generate_series(0, 255)) AS i) g
        |  WHERE doc_id % 3 = 0 GROUP BY doc_id, nb),
        |aud AS (
        |  -- WAV bytes regenerated by formula: 1722 is the constant
        |  -- header byte sum (RIFF/WAVE/fmt/data tags + fixed fields);
        |  -- the two size fields and each LE sample contribute their
        |  -- base-256 digit sums
        |  SELECT d.doc_id, 'audio' AS modality, 44 + 2*n AS n_bytes,
        |    1722 + ((36 + 2*n) % 256) + ((36 + 2*n) // 256)
        |         + ((2*n) % 256) + ((2*n) // 256)
        |         + coalesce(sum((u % 256) + (u // 256)), 0) AS byte_sum,
        |    64 AS width, 64 AS height
        |  FROM (SELECT doc_id, 160 + (doc_id % 41) * 4 AS n
        |        FROM documents WHERE doc_id % 3 = 1) d,
        |  LATERAL (SELECT unnest(generate_series(0, n-1)) AS i) g,
        |  LATERAL (SELECT CASE WHEN sv < 0 THEN sv + 65536 ELSE sv END AS u
        |           FROM (SELECT ((d.doc_id*31 + i*17) % 20001) - 10000
        |                 AS sv) q) s
        |  GROUP BY d.doc_id, n),
        |vid AS (
        |  -- per-frame NN resize by formula: each 64x64 frame resamples
        |  -- to 16x16 (src index 256*(i//16) + 4*(i%16), like img), with
        |  -- the 557-byte resized header and 269 bytes per frame
        |  SELECT d.doc_id, 'video' AS modality, frames * 269 AS n_bytes,
        |    frames * 557 +
        |      coalesce(sum((d.doc_id*7 + k*13 +
        |        (256*(i//16) + 4*(i%16))) % 256), 0) AS byte_sum,
        |    16 AS width, 16 AS height
        |  FROM (SELECT doc_id, 4 + (doc_id % 5) AS frames
        |        FROM documents WHERE doc_id % 3 = 2) d,
        |  LATERAL (SELECT unnest(generate_series(0, frames-1)) AS k) f,
        |  LATERAL (SELECT unnest(generate_series(0, 255)) AS i) g
        |  GROUP BY d.doc_id, frames)
        |SELECT doc_id, modality, CAST(n_bytes AS INTEGER) AS n_bytes,
        |  CAST(byte_sum AS BIGINT) AS byte_sum, width, height
        |FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
        |      UNION ALL SELECT * FROM vid) u
        |ORDER BY doc_id""".stripMargin)),
    // --- multimodal perceptual near-dup (dHash-style tier) ---
    // rows-only: the banded Hamming bucket join isn't ANSI-expressible;
    // the companion gate below is the hash-checked invariant. Pairs are
    // between exact-signature REPRESENTATIVES (sigGroups collapses
    // Hamming-0 classes first), so output stays linear even on a corpus
    // with huge duplicate classes.
    Query("multimodal_neardup_pairs", ((s, dir) => {
      val m = graft.multimodal.Multimodal
      val media = m.mediaFromDocuments(Tables.documents(s, dir))
      m.nearDupPairs(media.unionByName(m.plantedPerceptualDups(media)),
        m.GateMaxDist)
    }), GateTwin("multimodal_neardup_gate")),
    // recall gate on planted perceptual twins — oracle is the planted
    // pair formula, so a codec/signature/banding bug flips the hash
    Query("multimodal_neardup_gate", ((s, dir) =>
      graft.multimodal.Multimodal.nearDupGate(Tables.documents(s, dir),
        graft.multimodal.Multimodal.GateMaxDist)), Oracle(
      // the perceptual-twin gate's correct answer IS the planted-pair
      // formula: every doc_id % 5 = 0 row gets a perturbed twin at
      // id + 10000000, and the recall semi-join must keep all of them
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY id_a, id_b""".stripMargin)),
  )
}
