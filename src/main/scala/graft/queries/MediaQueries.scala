package graft.queries

import graft.multimodal.Media
import graft.ops.Tables
import org.apache.spark.sql.functions._

/** q40 + s05 + the facet censuses (q69/q78/q86/q87/q88) — multimodal
  * binary-column surface: binary transport with metadata (oracle-checked)
  * and the batched decode/feature-extract pipeline. All three decode
  * paths are REAL (javax.imageio PNGs, javax.sound.sampled WAVs, RIFF/AVI
  * + per-frame imageio); s05's float features stay rows-only while each
  * decode path's integer-exact census is hash-checked (q86/q87/q88).
  */
object MediaQueries {

  val all: Seq[Q] = Seq(
    // Binary transport sanity: byte length + content hash of the binary
    // payload must round-trip identically through both engines' blob
    // handling.
    Q(
      "q40_binary_meta",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .select(
            col("doc_id"),
            octet_length(to_binary(col("text"), lit("utf-8"))).cast("long").as("n_bytes"),
            md5(to_binary(col("text"), lit("utf-8"))).as("content_md5")
          )
          .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5 FROM documents ORDER BY doc_id""")
    ),
    // Batched partition-level decode + feature extraction over the media
    // table. IMAGE rows carry real generated PNGs decoded by javax.imageio
    // (width/height/histogram from actual pixels); AUDIO rows carry real
    // PCM WAV containers decoded by javax.sound.sampled (frame count /
    // histogram from actual samples); VIDEO rows carry real RIFF/AVI
    // containers of PNG frames, chunk-walked and frame-decoded via
    // javax.imageio (only the sampled frames decode). The corrupt slice
    // quarantines. This demo stays rows-only for the float `feature`
    // column; the integer-exact facets are hash-checked by q86 (audio),
    // q87 (image) and q88 (video).
    Q(
      "s05_media_features",
      (s, dir) => {
        import s.implicits._
        val staged = Media.stageDecodable(
          Tables.documentsSpread(s, dir),
          dir
        )
        val media = Tables.parquet(s, staged).as[Media.MediaRow]
        // f0 = feature(0) re-derived from the integer facets: the float
        // vector IS hist_counts normalized (Media.normalize), so bin0 /
        // Σbins through the shared r6 convention surfaces the float facet
        // hash-checkably (both engines divide the SAME integers as IEEE
        // doubles — MediaSpec pins f0 ≡ feature(0) to float precision).
        // Quarantined rows (Σ = 0) surface 0.0, matching normalize's
        // zero-vector.
        val histTotal = aggregate(col("hist_counts"), lit(0L), (a, x) => a + x)
        Media
          .extractFeatures(media)
          .toDF()
          .withColumn("hist_total", histTotal)
          .select(
            col("doc_id"),
            col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("out_width").cast("long").as("out_width"),
            col("out_height").cast("long").as("out_height"),
            col("n_sampled_frames").cast("long").as("n_sampled_frames"),
            when(
              col("hist_total") > 0L,
              graft.ops.FeatureOps.r6(
                element_at(col("hist_counts"), 1).cast("double") / col("hist_total"))
            ).otherwise(lit(0.0)).as("f0")
          )
          .orderBy("doc_id")
      },
      // The three kind-branches reuse the q87 (image), q86 (audio) and
      // q88 (video) census recipes, reduced to bin 0 + the bin total;
      // f0 mirrors the engine's r6(b0 / total) exactly (OracleSql.r6 ↔
      // FeatureOps.r6 — same three IEEE ops). Quarantine rows (doc_id %
      // 67 = 13) surface all-zero facets and f0 = 0.0 in both engines.
      Some {
        import graft.oracle.OracleSql.r6
        s"""WITH img AS (
            SELECT doc_id, doc_id % 251 AS id,
              CASE WHEN doc_id % 10 = 0 THEN (16 + doc_id % 37) * 24
                   ELSE 16 + doc_id % 37 END AS w,
              12 + doc_id % 29 AS h,
              (doc_id % 67 = 13) AS corrupt
            FROM documents WHERE doc_id % 3 = 0),
          img_px AS (
            SELECT i.doc_id,
              count(*) FILTER (((x*31 + y*17 + id) % 256) // 16 = 0) +
              count(*) FILTER (((x*13 + y*43 + id*3) % 256) // 16 = 0) +
              count(*) FILTER (((x*59 + y*7 + id*5) % 256) // 16 = 0) AS b0,
              count(*) * 3 AS tot
            FROM img i,
              LATERAL unnest(generate_series(0, i.w - 1)) AS t1(x),
              LATERAL unnest(generate_series(0, i.h - 1)) AS t2(y)
            WHERE NOT i.corrupt GROUP BY i.doc_id),
          img_out AS (
            SELECT i.doc_id, 'image' AS kind,
              CAST(CASE WHEN corrupt THEN 0 ELSE w END AS BIGINT) AS width,
              CAST(CASE WHEN corrupt THEN 0 ELSE h END AS BIGINT) AS height,
              CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
              CAST(CASE WHEN corrupt THEN 0
                        WHEN w <= 640 THEN w ELSE 640 END AS BIGINT) AS out_width,
              CAST(CASE WHEN corrupt THEN 0
                        WHEN w <= 640 THEN h
                        ELSE greatest(1, (2 * h * 640 + w) // (2 * w)) END AS BIGINT)
                AS out_height,
              CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS n_sampled_frames,
              CASE WHEN corrupt THEN 0e0
                   ELSE ${r6("CAST(p.b0 AS DOUBLE) / p.tot")} END AS f0
            FROM img i LEFT JOIN img_px p USING (doc_id)),
          aud AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n,
              (doc_id % 67 = 13) AS corrupt
            FROM documents WHERE doc_id % 3 = 1),
          aud_b0 AS (
            SELECT doc_id,
              len(list_filter(
                list_transform(generate_series(1, length(text)),
                               i -> ord(substring(text, i, 1)) // 16),
                x -> x = 0)) AS b0
            FROM aud WHERE NOT corrupt),
          aud_out AS (
            SELECT a.doc_id, 'audio' AS kind,
              CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS width,
              CAST(CASE WHEN corrupt THEN 0 ELSE 8 END AS BIGINT) AS height,
              CAST(CASE WHEN corrupt THEN 0 ELSE n END AS BIGINT) AS n_frames,
              CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS out_width,
              CAST(CASE WHEN corrupt THEN 0 ELSE 8 END AS BIGINT) AS out_height,
              CAST(CASE WHEN corrupt THEN 0
                        ELSE least(32, (n + 3) // 4) END AS BIGINT) AS n_sampled_frames,
              CASE WHEN corrupt OR n = 0 THEN 0e0
                   ELSE ${r6("CAST(coalesce(b.b0, 0) AS DOUBLE) / a.n")} END AS f0
            FROM aud a LEFT JOIN aud_b0 b USING (doc_id)),
          vid AS (
            SELECT doc_id, doc_id % 251 AS id,
              24 + doc_id % 21 AS w, 18 + doc_id % 17 AS h,
              1 + doc_id % 11 AS nf,
              (doc_id % 67 = 13) AS corrupt
            FROM documents WHERE doc_id % 3 = 2),
          vid_px AS (
            SELECT v.doc_id,
              count(*) FILTER (((x*31 + y*17 + id + f*11) % 256) // 16 = 0) +
              count(*) FILTER (((x*13 + y*43 + id*3 + f*29) % 256) // 16 = 0) +
              count(*) FILTER (((x*59 + y*7 + id*5 + f*53) % 256) // 16 = 0) AS b0,
              count(*) * 3 AS tot
            FROM vid v,
              LATERAL unnest(generate_series(0, v.nf - 1, 4)) AS t0(f),
              LATERAL unnest(generate_series(0, v.w - 1)) AS t1(x),
              LATERAL unnest(generate_series(0, v.h - 1)) AS t2(y)
            WHERE NOT v.corrupt GROUP BY v.doc_id),
          vid_out AS (
            SELECT v.doc_id, 'video' AS kind,
              CAST(CASE WHEN corrupt THEN 0 ELSE w END AS BIGINT) AS width,
              CAST(CASE WHEN corrupt THEN 0 ELSE h END AS BIGINT) AS height,
              CAST(CASE WHEN corrupt THEN 0 ELSE nf END AS BIGINT) AS n_frames,
              CAST(CASE WHEN corrupt THEN 0 ELSE w END AS BIGINT) AS out_width,
              CAST(CASE WHEN corrupt THEN 0 ELSE h END AS BIGINT) AS out_height,
              CAST(CASE WHEN corrupt THEN 0 ELSE (nf + 3) // 4 END AS BIGINT)
                AS n_sampled_frames,
              CASE WHEN corrupt THEN 0e0
                   ELSE ${r6("CAST(p.b0 AS DOUBLE) / p.tot")} END AS f0
            FROM vid v LEFT JOIN vid_px p USING (doc_id))
          SELECT * FROM img_out
          UNION ALL SELECT * FROM aud_out
          UNION ALL SELECT * FROM vid_out
          ORDER BY doc_id"""
      }
    ),
    // Audio feature histogram (q86): the REAL `javax.sound.sampled` WAV
    // decode's EXACT integer bin counts (sample high-nibble histogram) +
    // decoded frame count, through the real extractFeatures mapPartitions
    // path. The staged WAV payloads carry the doc's UTF-8 bytes as their
    // 8-bit PCM sample frames, so the decoded-sample census is closed-form
    // in the text and the oracle stays integer-exact; the deterministic
    // corrupt slice (doc_id % 67 = 13, payload truncated mid-header) must
    // surface as quarantine zeros — mirrored in the oracle's CASE.
    // Oracle counts code points, which equal bytes on this corpus —
    // ASCII-only, asserted by MediaSpec's "fixture corpus is ASCII" test
    // (octet_length == length for every doc at every fixture SF).
    Q(
      "q86_audio_histogram",
      (s, dir) => {
        import s.implicits._
        val staged = Media.stageDecodable(Tables.documentsSpread(s, dir), dir)
        val media = Tables.parquet(s, staged).as[Media.MediaRow]
        Media
          .extractFeatures(media.filter(col("kind") === "audio"))
          .toDF()
          .select(
            col("doc_id") +:
              col("n_frames").cast("long").as("n_frames") +:
              (0 until 16).map(j => element_at(col("hist_counts"), j + 1).as(s"b$j")): _*
          )
          .orderBy("doc_id")
      },
      Some {
        val bins = (0 until 16)
          .map(j =>
            s"CAST(CASE WHEN corrupt THEN 0 ELSE len(list_filter(nib, x -> x = $j)) END AS BIGINT) AS b$j")
          .mkString(", ")
        s"""WITH a AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
                (doc_id % 67 = 13) AS corrupt
              FROM documents WHERE doc_id % 3 = 1),
          c AS (SELECT doc_id, n, corrupt,
                  list_transform(generate_series(1, length(text)),
                                 i -> ord(substring(text, i, 1)) // 16) AS nib
                FROM a)
          SELECT doc_id, CAST(CASE WHEN corrupt THEN 0 ELSE n END AS BIGINT) AS n_frames, $bins
          FROM c ORDER BY doc_id"""
      }
    ),
    // Image census (q87): the REAL `javax.imageio` PNG decode's dims,
    // resize plan, and EXACT pixel-channel high-nibble histogram. The
    // staged PNGs are generated deterministically from doc_id (dims and
    // per-pixel RGB are closed-form), so the decoded raster census is
    // SQL-expressible and the whole image path — decode, resize planning,
    // frame sampling, corrupt-blob quarantine — is hash-checked, not
    // rows-only. out_height mirrors Java's Math.round(h*640/w) via exact
    // integer arithmetic: floor((2a+b)/(2b)) = (2a+b)//(2b).
    Q(
      "q87_image_census",
      (s, dir) => {
        import s.implicits._
        val staged = Media.stageDecodable(Tables.documentsSpread(s, dir), dir)
        val media = Tables.parquet(s, staged).as[Media.MediaRow]
        Media
          .extractFeatures(media.filter(col("kind") === "image"))
          .toDF()
          .select(
            Seq(
              col("doc_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              col("n_frames").cast("long").as("n_frames"),
              col("out_width").cast("long").as("out_width"),
              col("out_height").cast("long").as("out_height"),
              col("n_sampled_frames").cast("long").as("n_sampled_frames")
            ) ++ (0 until 16).map(j => element_at(col("hist_counts"), j + 1).as(s"b$j")): _*
          )
          .orderBy("doc_id")
      },
      Some {
        val bins = (0 until 16)
          .map(j =>
            s"""CAST(coalesce(CASE WHEN i.corrupt THEN 0 ELSE
                  h.r$j + h.g$j + h.bb$j END, 0) AS BIGINT) AS b$j""")
          .mkString(", ")
        val chans = (0 until 16)
          .map(j =>
            s"count(*) FILTER (((x*31 + y*17 + id) % 256) // 16 = $j) AS r$j, " +
              s"count(*) FILTER (((x*13 + y*43 + id*3) % 256) // 16 = $j) AS g$j, " +
              s"count(*) FILTER (((x*59 + y*7 + id*5) % 256) // 16 = $j) AS bb$j")
          .mkString(", ")
        s"""WITH img AS (
            SELECT doc_id, doc_id % 251 AS id,
              CASE WHEN doc_id % 10 = 0 THEN (16 + doc_id % 37) * 24
                   ELSE 16 + doc_id % 37 END AS w,
              12 + doc_id % 29 AS h,
              (doc_id % 67 = 13) AS corrupt
            FROM documents WHERE doc_id % 3 = 0),
          px AS (
            SELECT i.doc_id, i.id, t1.x, t2.y
            FROM img i,
              LATERAL unnest(generate_series(0, i.w - 1)) AS t1(x),
              LATERAL unnest(generate_series(0, i.h - 1)) AS t2(y)
            WHERE NOT i.corrupt),
          hist AS (SELECT doc_id, $chans FROM px GROUP BY doc_id)
          SELECT i.doc_id,
            CAST(CASE WHEN i.corrupt THEN 0 ELSE i.w END AS BIGINT) AS width,
            CAST(CASE WHEN i.corrupt THEN 0 ELSE i.h END AS BIGINT) AS height,
            CAST(CASE WHEN i.corrupt THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
            CAST(CASE WHEN i.corrupt THEN 0
                      WHEN i.w <= 640 THEN i.w ELSE 640 END AS BIGINT) AS out_width,
            CAST(CASE WHEN i.corrupt THEN 0
                      WHEN i.w <= 640 THEN i.h
                      ELSE greatest(1, (2 * i.h * 640 + i.w) // (2 * i.w)) END AS BIGINT)
              AS out_height,
            CAST(CASE WHEN i.corrupt THEN 0 ELSE 1 END AS BIGINT) AS n_sampled_frames,
            $bins
          FROM img i LEFT JOIN hist h ON i.doc_id = h.doc_id
          ORDER BY i.doc_id"""
      }
    ),
    // Video census (q88): the REAL RIFF/AVI decode's frame-chunk count,
    // frame dims, sampling plan, and EXACT pixel-channel high-nibble
    // histogram over the SAMPLED frames only (every 4th, ≤32 — the frames
    // the plan decodes are the frames the census sees). The staged AVIs
    // hold PNG frames generated deterministically from (doc_id, frame), so
    // the whole video path — container parse, selective frame decode,
    // sampling plan, corrupt-blob quarantine — is hash-checked. The ≤32
    // sampling cap cannot bind here (nf ≤ 11 → ≤3 sampled frames), so the
    // oracle's generate_series stride needs no cap arm.
    Q(
      "q88_video_census",
      (s, dir) => {
        import s.implicits._
        val staged = Media.stageDecodable(Tables.documentsSpread(s, dir), dir)
        val media = Tables.parquet(s, staged).as[Media.MediaRow]
        Media
          .extractFeatures(media.filter(col("kind") === "video"))
          .toDF()
          .select(
            Seq(
              col("doc_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              col("n_frames").cast("long").as("n_frames"),
              col("out_width").cast("long").as("out_width"),
              col("out_height").cast("long").as("out_height"),
              col("n_sampled_frames").cast("long").as("n_sampled_frames")
            ) ++ (0 until 16).map(j => element_at(col("hist_counts"), j + 1).as(s"b$j")): _*
          )
          .orderBy("doc_id")
      },
      Some {
        val bins = (0 until 16)
          .map(j =>
            s"""CAST(coalesce(CASE WHEN v.corrupt THEN 0 ELSE
                  h.r$j + h.g$j + h.bb$j END, 0) AS BIGINT) AS b$j""")
          .mkString(", ")
        val chans = (0 until 16)
          .map(j =>
            s"count(*) FILTER (((x*31 + y*17 + id + f*11) % 256) // 16 = $j) AS r$j, " +
              s"count(*) FILTER (((x*13 + y*43 + id*3 + f*29) % 256) // 16 = $j) AS g$j, " +
              s"count(*) FILTER (((x*59 + y*7 + id*5 + f*53) % 256) // 16 = $j) AS bb$j")
          .mkString(", ")
        s"""WITH vid AS (
            SELECT doc_id, doc_id % 251 AS id,
              24 + doc_id % 21 AS w,
              18 + doc_id % 17 AS h,
              1 + doc_id % 11 AS nf,
              (doc_id % 67 = 13) AS corrupt
            FROM documents WHERE doc_id % 3 = 2),
          px AS (
            SELECT v.doc_id, v.id, t0.f, t1.x, t2.y
            FROM vid v,
              LATERAL unnest(generate_series(0, v.nf - 1, 4)) AS t0(f),
              LATERAL unnest(generate_series(0, v.w - 1)) AS t1(x),
              LATERAL unnest(generate_series(0, v.h - 1)) AS t2(y)
            WHERE NOT v.corrupt),
          hist AS (SELECT doc_id, $chans FROM px GROUP BY doc_id)
          SELECT v.doc_id,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE v.w END AS BIGINT) AS width,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE v.h END AS BIGINT) AS height,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE v.nf END AS BIGINT) AS n_frames,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE v.w END AS BIGINT) AS out_width,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE v.h END AS BIGINT) AS out_height,
            CAST(CASE WHEN v.corrupt THEN 0 ELSE (v.nf + 3) // 4 END AS BIGINT)
              AS n_sampled_frames,
            $bins
          FROM vid v LEFT JOIN hist h ON v.doc_id = h.doc_id
          ORDER BY v.doc_id"""
      }
    ),
    // Per-kind media storage stats: object count, total/max bytes, and
    // DEDUP-AWARE unique-content count per media kind — the storage
    // census a multimodal corpus audit starts with. One hash-agg over
    // the media table (kind domain ≤3, partial aggregation is map-side;
    // the distinct-digest count shuffles digests, never payloads).
    Q(
      "q78_media_stats",
      (s, dir) => {
        val m = Media.fromDocuments(Tables.documents(s, dir)).toDF()
        m.groupBy("kind")
          .agg(
            count(lit(1)).as("n_objects"),
            sum(col("size_bytes")).as("total_bytes"),
            max(col("size_bytes")).as("max_bytes"),
            countDistinct(md5(col("content"))).as("n_unique")
          )
          .orderBy("kind")
      },
      Some("""SELECT CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
        CAST(count(*) AS BIGINT) AS n_objects,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
        CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
        FROM documents GROUP BY 1 ORDER BY kind""")
    ),
    // Exact media dedup: the multimodal analog of q20 — blobs grouped by
    // (content hash, byte size), keeping the lowest doc_id as the
    // representative. One shuffle on the hash; at 100 TB the first pass
    // of any media-dedup pipeline (hash computed in the scan projection,
    // payload bytes never shuffled — only the 16-byte digest + size).
    Q(
      "q69_media_dedup",
      (s, dir) =>
        Tables
          .documents(s, dir)
          .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("content"))
          .groupBy(
            md5(col("content")).as("content_md5"),
            octet_length(col("content")).cast("long").as("n_bytes")
          )
          .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_copies"))
          .orderBy("rep_doc"),
      Some("""SELECT md5(text) AS content_md5,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        CAST(min(doc_id) AS BIGINT) AS rep_doc,
        CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY 1, 2 ORDER BY rep_doc""")
    ),
    // q111: PERCEPTUAL image near-dup bucketing — the multimodal analog
    // of q35's SimHash, and the step q69's exact-byte dedup cannot do:
    // re-encoded/resized copies of the same picture hash to different
    // bytes but the same perceptual signature. Signature = 16 bits from
    // the decoded pixel-nibble histogram (bit j set iff bin j holds more
    // than the uniform 1/16 share; the comparison is integer
    // cross-multiplication, hist*16 > 3wh, so no division ever happens).
    // Runs through the REAL decode path (PNG → javax.imageio pixels →
    // histogram), then ONE shuffle on the 16-bit signature; payload
    // bytes never shuffle — at 100 TB the signature+digest projection is
    // all that moves, and the per-signature family stats (bucket purity:
    // how many DISTINCT pixel histograms share the signature) are the
    // dedup-quality report. The oracle recomputes pixels closed-form
    // from the deterministic PNG recipe (q87's discipline), so the hash
    // proves decode ≡ recipe through the whole signature pipeline.
    Q(
      "q111_image_phash",
      (s, dir) => {
        import s.implicits._
        val staged = Media.stageDecodable(Tables.documentsSpread(s, dir), dir)
        val media = Tables.parquet(s, staged).as[Media.MediaRow]
        val feats = Media
          .extractFeatures(media.filter(col("kind") === "image"))
          .toDF()
          .filter(col("width") > 0) // corrupt rows quarantine to 0-dims
        val total = (col("width").cast("long") * col("height").cast("long") * lit(3L))
        val sig = (0 until 16)
          .map(j =>
            when(element_at(col("hist_counts"), j + 1) * lit(16L) > total, lit(1L << j))
              .otherwise(lit(0L)))
          .reduce(_ + _)
        val histKey =
          concat_ws(",", (0 until 16).map(j => element_at(col("hist_counts"), j + 1).cast("string")): _*)
        feats
          .select(col("doc_id"), sig.as("sig"), histKey.as("hk"))
          .groupBy("sig")
          .agg(
            count(lit(1)).as("n_images"),
            countDistinct(col("hk")).as("n_distinct_hist"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc")
          )
          .orderBy("sig")
      },
      Some {
        val chans = (0 until 16)
          .map(j =>
            s"count(*) FILTER (((x*31 + y*17 + id) % 256) // 16 = $j) AS r$j, " +
              s"count(*) FILTER (((x*13 + y*43 + id*3) % 256) // 16 = $j) AS g$j, " +
              s"count(*) FILTER (((x*59 + y*7 + id*5) % 256) // 16 = $j) AS bb$j")
          .mkString(", ")
        val sigSql = (0 until 16)
          .map(j => s"CASE WHEN (h.r$j + h.g$j + h.bb$j) * 16 > 3 * i.w * i.h THEN ${1L << j} ELSE 0 END")
          .mkString(" + ")
        val hkSql = (0 until 16)
          .map(j => s"CAST(h.r$j + h.g$j + h.bb$j AS VARCHAR)")
          .mkString(" || ',' || ")
        s"""WITH img AS (
            SELECT doc_id, doc_id % 251 AS id,
              CASE WHEN doc_id % 10 = 0 THEN (16 + doc_id % 37) * 24
                   ELSE 16 + doc_id % 37 END AS w,
              12 + doc_id % 29 AS h
            FROM documents WHERE doc_id % 3 = 0 AND doc_id % 67 <> 13),
          px AS (
            SELECT i.doc_id, i.id, t1.x, t2.y
            FROM img i,
              LATERAL unnest(generate_series(0, i.w - 1)) AS t1(x),
              LATERAL unnest(generate_series(0, i.h - 1)) AS t2(y)),
          hist AS (SELECT doc_id, $chans FROM px GROUP BY doc_id),
          sigs AS (
            SELECT i.doc_id, CAST($sigSql AS BIGINT) AS sig, $hkSql AS hk
            FROM img i JOIN hist h USING (doc_id))
          SELECT sig, CAST(count(*) AS BIGINT) AS n_images,
            CAST(count(DISTINCT hk) AS BIGINT) AS n_distinct_hist,
            CAST(min(doc_id) AS BIGINT) AS min_doc,
            CAST(max(doc_id) AS BIGINT) AS max_doc
          FROM sigs GROUP BY sig ORDER BY sig"""
      }
    ),
    // binaryFile source ingestion (q123): the multimodal ingestion FRONT
    // DOOR — a directory of raw blob files read distributedly via Spark's
    // built-in `binaryFile` format (path/length/content rows), the step
    // before any parquet packing exists. The staged fixture is written
    // executor-side (foreachPartition, one file per doc) and read back
    // with a `pathGlobFilter` that provably prunes a non-matching
    // sibling at LISTING time. Per-row (doc_id, byte length, md5) is
    // hash-compared against the source-of-truth table, so a lossy hop
    // (encoding, truncation, listing misses) fails the gate row-by-row,
    // not just in aggregate. Scale: blob files are unsplittable one-task
    // reads — the 100 TB pattern is glob-prune the listing, ingest ONCE,
    // compact to parquet blob tables (the media staging shape) for every
    // later pass; this query is that first hop, proven byte-exact.
    Q(
      "q123_binary_ingest",
      (s, dir) => {
        val staged = graft.sources.BinaryIngest.stageDocFiles(s, dir)
        graft.sources.BinaryIngest
          .readBlobDir(s, staged)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("content_md5")
          )
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5 FROM documents ORDER BY doc_id""")
    )
  )
}
