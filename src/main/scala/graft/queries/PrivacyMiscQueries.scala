package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.privacy.Privacy

/** Privacy (F11/F12) + multimodal metadata + native session-window
  * operators under the oracle gate.
  */
object PrivacyMiscQueries {

  val all: Seq[Q] = Seq(

    // F12: ordered multi-pattern PHI redaction. PHI is synthesized from
    // row keys so the fold has real matches; the oracle replays the same
    // pattern order with DuckDB's RE2.
    Q("f12_phi_redaction",
      (s, d) => {
        val synth = Tables.customer(s, d).select(col("c_custkey"),
          concat(lit("patient = P"), col("c_custkey"),
            lit(", ssn 123-45-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
            lit(" mail u"), col("c_custkey"), lit("@example.org visit 2024-01-01 ok"))
            .as("note"))
        synth.select(col("c_custkey"),
          Privacy.redactText(col("note")).as("redacted"),
          ((length(Privacy.redactText(col("note")))
            - length(regexp_replace(Privacy.redactText(col("note")),
              "\\[REDACTED\\]", ""))) / lit(10)).cast("long").as("n_redactions"))
          .orderBy("c_custkey")
      },
      Some {
        val patterns = Seq(
          "\\d{3}-\\d{2}-\\d{4}\\b" -> "\\b",
          "\\d{9}\\b" -> "\\b",
          "(?:\\+?1[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]\\d{3}[-.\\s]\\d{4}\\b" -> "\\b",
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b" -> "\\b",
          "\\d{4}-\\d{2}-\\d{2}\\b" -> "\\b",
          "\\d{1,2}/\\d{1,2}/\\d{2,4}\\b" -> "\\b",
          "(?i)(name|patient|first_name|last_name)\\s*=\\s*[^,;]+" -> "")
        val folded = patterns.foldLeft("note") { case (inner, (p, b)) =>
          s"regexp_replace($inner, '$b$p', '[REDACTED]', 'g')"
        }
        s"""SELECT c_custkey, $folded AS redacted,
                   CAST((length($folded)
                         - length(regexp_replace($folded, '\\[REDACTED\\]', '', 'g')))
                        / 10 AS BIGINT) AS n_redactions
            FROM (SELECT c_custkey,
                         'patient = P' || c_custkey || ', ssn 123-45-'
                         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                         || ' mail u' || c_custkey
                         || '@example.org visit 2024-01-01 ok' AS note
                  FROM customer)
            ORDER BY c_custkey"""
      }),

    // F12b: the MRN lookahead pattern (compliance/phi_redaction.py:17) —
    // redacts any 6-12-char alnum word later followed by the word "mrn".
    // DuckDB's RE2 has no lookahead, so the oracle emulates that fold step
    // exactly: split on the LAST \bmrn\b occurrence (greedy ^(.*)\bmrn\b),
    // redact 6-12-alnum words in the prefix, keep the suffix — validated
    // char-identical vs the Python reference fold on 42 synthesized notes.
    Q("f12b_mrn_redaction",
      (s, d) => {
        val k = col("c_custkey")
        val synth = Tables.customer(s, d).select(k,
          when(k % 3 === 0,
            concat(lit("ssn 123-45-"), lpad((k % 10000).cast("string"), 4, "0"),
              lit(" chart C"), k, lit(" record KEEPME12 mrn follow-up ok")))
            .when(k % 3 === 1, lit("mrn leading nothing redacts here"))
            .otherwise(concat(lit("no marker record KEEPME12 stays put u"),
              k, lit("@example.org")))
            .as("note"))
        synth.select(k, Privacy.redactText(col("note")).as("redacted"))
          .orderBy("c_custkey")
      },
      Some {
        val simple = Seq(
          "s1" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
          "s2" -> "\\b\\d{9}\\b")
        val tail = Seq(
          "s4" -> "\\b(?:\\+?1[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]\\d{3}[-.\\s]\\d{4}\\b",
          "s5" -> "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b",
          "s6" -> "\\b\\d{4}-\\d{2}-\\d{2}\\b",
          "s7" -> "\\b\\d{1,2}/\\d{1,2}/\\d{2,4}\\b",
          "s8" -> "(?i)(name|patient|first_name|last_name)\\s*=\\s*[^,;]+")
        def step(name: String, prev: String, p: String) =
          s"$name AS (SELECT c_custkey, regexp_replace(x, '$p', '[REDACTED]', 'g') AS x FROM $prev)"
        val stages =
          simple.zip("s0" +: simple.map(_._1)).map { case ((n, p), prev) => step(n, prev, p) } ++
          Seq("""s3 AS (SELECT c_custkey, CASE WHEN regexp_matches(x, '(?i)\bmrn\b')
                 THEN regexp_replace(regexp_extract(x, '(?i)^(.*)\bmrn\b', 1),
                        '(?i)\b[a-z0-9]{6,12}\b', '[REDACTED]', 'g')
                      || substr(x, length(regexp_extract(x, '(?i)^(.*)\bmrn\b', 1)) + 1)
                 ELSE x END AS x FROM s2)""") ++
          tail.zip("s3" +: tail.map(_._1)).map { case ((n, p), prev) => step(n, prev, p) }
        s"""WITH s0 AS (SELECT c_custkey,
                   CASE WHEN c_custkey % 3 = 0
                          THEN 'ssn 123-45-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                               || ' chart C' || c_custkey || ' record KEEPME12 mrn follow-up ok'
                        WHEN c_custkey % 3 = 1 THEN 'mrn leading nothing redacts here'
                        ELSE 'no marker record KEEPME12 stays put u' || c_custkey || '@example.org'
                   END AS x
                 FROM customer),
               ${stages.mkString(",\n")}
            SELECT c_custkey, x AS redacted FROM s8 ORDER BY c_custkey"""
      }),

    // Native session_window operator (batch twin of the streaming agg;
    // oracle derives the same sessions via gap-islands window SQL).
    Q("e8_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      Some("""WITH marked AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                       CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                             OR epoch(CAST(ts AS TIMESTAMP))
                                - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) >= 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              islands AS (
                SELECT user_id, t,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS session_id
                FROM marked)
              SELECT user_id,
                     strftime(MIN(t), '%Y-%m-%d %H:%M:%S') AS session_start,
                     COUNT(*) AS n_events
              FROM islands GROUP BY user_id, session_id
              ORDER BY user_id, session_start""")),

    // Multimodal: binary payload metadata via pure column expressions.
    Q("mm1_binary_meta",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("payload_bytes"),
          ascii(col("text")).cast("long").as("first_byte"),
          sha2(col("text").cast("binary"), 256).as("payload_sha"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     octet_length(CAST(text AS BLOB)) AS payload_bytes,
                     CAST(ascii(text) AS BIGINT) AS first_byte,
                     sha256(text) AS payload_sha
              FROM documents ORDER BY doc_id""")),

    // MM2: the REAL image-header parse under the hash gate. Each doc_id
    // deterministically picks a container format and dimensions; Spark
    // builds a REAL header payload (Multimodal.synthPayload — bytes laid
    // out per the PNG/GIF/BMP/JPEG specs) and parses it back through the
    // production imageHeaders mapPartitions path. The oracle replays only
    // the generation ARITHMETIC — so the row hash-fails unless
    // synth→parse round-trips every format, offset, and endianness
    // exactly (including the unknown-container (-1, -1) contract).
    Q("mm2_image_headers",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val fmt = (id % 5) match {
              case 0 => "png"; case 1 => "gif"; case 2 => "bmp"
              case 3 => "jpeg"; case _ => "unknown"
            }
            val w = (id % 1920L).toInt + 1
            val h = (id * 7L % 1080L).toInt + 1
            (id, graft.multimodal.Multimodal.synthPayload(fmt, w, h))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.imageHeaders(media).toDF()
          .select(col("media_id"), col("format"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
                     CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                          WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg'
                          ELSE 'unknown' END AS format,
                     CASE WHEN doc_id % 5 = 4 THEN CAST(-1 AS BIGINT)
                          ELSE doc_id % 1920 + 1 END AS width,
                     CASE WHEN doc_id % 5 = 4 THEN CAST(-1 AS BIGINT)
                          ELSE (doc_id * 7) % 1080 + 1 END AS height
              FROM documents ORDER BY media_id""")),

    // MM3: the audio twin of mm2 — REAL WAV (RIFF chunk walk, the synth
    // payload leads with a JUNK chunk so the walk is exercised) and FLAC
    // (bit-packed STREAMINFO) header parses under the hash gate, with
    // the unknown-container (-1,-1) contract on every third payload.
    Q("mm3_audio_headers",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val fmt = (id % 3) match {
              case 0 => "wav"; case 1 => "flac"; case _ => "unknown"
            }
            val ch = (id % 8L).toInt + 1
            val sr = 8000 + (id % 6L).toInt * 8000
            (id, graft.multimodal.Multimodal.synthAudioPayload(fmt, ch, sr))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.audioHeaders(media).toDF()
          .select(col("media_id"), col("format"),
            col("channels").cast("long").as("channels"),
            col("sample_rate").cast("long").as("sample_rate"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
                     CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'flac'
                          ELSE 'unknown' END AS format,
                     CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                          ELSE doc_id % 8 + 1 END AS channels,
                     CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                          ELSE 8000 + (doc_id % 6) * 8000 END AS sample_rate
              FROM documents ORDER BY media_id""")),

    // MM4: the video leg of the triad — ISO-BMFF/MP4 box walk (ftyp
    // verified, decoy free box skipped, moov>mvhd timescale/duration
    // read; every 4th mp4 payload uses the version-1 64-bit mvhd so both
    // layouts are under the gate).
    Q("mm4_video_headers",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val fmt = if (id % 3 != 2) "mp4" else "unknown"
            val ts = 600L + (id % 10L) * 100L
            val dur = ts * ((id % 30L) + 1L)
            (id, graft.multimodal.Multimodal.synthVideoPayload(fmt, ts, dur,
              version1 = id % 4 == 0))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.videoHeaders(media).toDF()
          .select(col("media_id"), col("format"), col("timescale"),
            col("duration"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
                     CASE WHEN doc_id % 3 != 2 THEN 'mp4'
                          ELSE 'unknown' END AS format,
                     CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                          ELSE 600 + (doc_id % 10) * 100 END AS timescale,
                     CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                          ELSE (600 + (doc_id % 10) * 100) * (doc_id % 30 + 1)
                          END AS duration
              FROM documents ORDER BY media_id""")),

    // MM5: metadata-DRIVEN curation — the reason the mm headers exist.
    // A mixed image/video corpus (real synthesized container bytes) is
    // routed through the PRODUCTION parsers (imageHeaders sniffs the
    // container — an mp4 payload comes back "unknown" to the image leg
    // and vice versa), eligibility is decided on the PARSED metadata
    // (images ≥ 10,000 px; videos ≤ 15 s via duration/timescale), and
    // the eligible pool is downsampled to a target format mix with the
    // t23 quota machinery (Sampling.mixToTarget — deterministic hash
    // membership). The oracle replays generation arithmetic + quota
    // math, so the row hash-fails unless bytes→parse→filter→quota all
    // agree end-to-end. 100 TB shape: one mapPartitions parse pass, one
    // group-count aggregate, broadcast thresholds, stateless row filter.
    Q("mm5_media_mix_curation",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            (id % 5) match {
              case 4 =>
                val ts = 600L + (id % 10L) * 100L
                (id, graft.multimodal.Multimodal.synthVideoPayload("mp4",
                  ts, ts * ((id % 30L) + 1L), version1 = id % 4 == 0))
              case k =>
                val fmt = Seq("png", "gif", "bmp", "jpeg")(k.toInt)
                (id, graft.multimodal.Multimodal.synthPayload(fmt,
                  (id % 1920L).toInt + 1, (id * 7L % 1080L).toInt + 1))
            }
          }.toDF("media_id", "payload")
        val img = graft.multimodal.Multimodal.imageHeaders(media).toDF()
          .select(col("media_id"), col("format").as("img_format"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
        val vid = graft.multimodal.Multimodal.videoHeaders(media).toDF()
          .select(col("media_id"), col("format").as("vid_format"),
            col("timescale"), col("duration"))
        // parsed metadata feeds four downstream plans (n_media, the
        // eligibility filter, mixToTarget's internal counts, the kept
        // filter) — materialized with an eager localCheckpoint so the
        // synth+parse mapPartitions pass runs once, not once per
        // consumer (the Dedup shingle-frame convention)
        val meta = img.join(vid, "media_id")
          .select(col("media_id"),
            when(col("img_format") =!= "unknown", col("img_format"))
              .when(col("vid_format") =!= "unknown", col("vid_format"))
              .otherwise(lit("unknown")).as("format"),
            col("width"), col("height"), col("timescale"), col("duration"))
          .localCheckpoint()
        val eligible = meta.filter(
          (col("format").isin("png", "gif", "bmp", "jpeg") &&
            col("width") * col("height") >= 10000L) ||
          (col("format") === "mp4" &&
            col("duration") <= col("timescale") * 15L))
        val kept = graft.ops.Sampling.mixToTarget(eligible, "format",
          "media_id",
          Seq("png" -> 0.3, "gif" -> 0.2, "bmp" -> 0.2, "jpeg" -> 0.2,
            "mp4" -> 0.1))
        meta.groupBy("format").agg(count(lit(1)).as("n_media"))
          .join(eligible.groupBy("format").agg(count(lit(1)).as("n_eligible")),
            "format")
          .join(kept.groupBy("format").agg(count(lit(1)).as("n_kept")),
            "format")
          .orderBy("format")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
                     CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                          WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg'
                          ELSE 'mp4' END AS format,
                     doc_id % 1920 + 1 AS w, (doc_id * 7) % 1080 + 1 AS h,
                     doc_id % 30 + 1 AS dur_sec
                   FROM documents),
                 el AS (SELECT media_id, format FROM m
                        WHERE (format IN ('png', 'gif', 'bmp', 'jpeg')
                               AND w * h >= 10000)
                           OR (format = 'mp4' AND dur_sec <= 15)),
                 targets(format, p) AS (VALUES ('png', 0.3), ('gif', 0.2),
                                               ('bmp', 0.2), ('jpeg', 0.2),
                                               ('mp4', 0.1)),
                 counts AS (SELECT format, COUNT(*) AS n FROM el
                            GROUP BY format),
                 cap AS (SELECT MIN(CAST(n AS DOUBLE) / CAST(p AS DOUBLE)) AS c
                         FROM counts JOIN targets USING (format)),
                 thr AS (SELECT format, n,
                                LEAST(n, CAST(FLOOR(c * CAST(p AS DOUBLE) + 1e-9)
                                              AS BIGINT)) AS k
                         FROM counts JOIN targets USING (format) CROSS JOIN cap),
                 kept AS (SELECT e.format FROM el e JOIN thr USING (format)
                          WHERE (CAST(('0x' || substr(md5('7|' ||
                                   CAST(media_id AS VARCHAR)), 1, 15)) AS BIGINT)
                                 % 10000) * n < 10000 * k),
                 tot AS (SELECT format, COUNT(*) AS n_media FROM m
                         GROUP BY format)
              SELECT t.format, t.n_media, thr.n AS n_eligible, kc.n_kept
              FROM (SELECT format, COUNT(*) AS n_kept FROM kept
                    GROUP BY format) kc
              JOIN thr USING (format) JOIN tot t USING (format)
              ORDER BY format""")),

    // MM6: REAL pixel decode under the hash gate. Each doc synthesizes a
    // deterministic test-pattern image (integer channel arithmetic),
    // encodes it through the REAL JDK codec (PNG / BMP / GIF — all
    // lossless here: PNG/BMP by design, GIF because the grayscale
    // pattern stays within one 256-color palette), then the production
    // decodeImageStats pass sniffs the container, runs the REAL decoder,
    // and folds per-channel BIGINT pixel sums. The oracle replays only
    // the pattern ARITHMETIC over unnest(range(w)) × unnest(range(h)) —
    // so the row hash-fails unless the codec round-trips every pixel of
    // every format bit-exactly (channel order, palette, scanline layout,
    // filter/compression all under the gate).
    Q("mm6_real_image_decode",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val fmt = (id % 3) match {
              case 0 => "png"; case 1 => "bmp"; case _ => "gif"
            }
            val w = (id % 24L).toInt + 9
            val h = (id * 7L % 16L).toInt + 9
            val img = graft.multimodal.Multimodal.patternImage(
              w, h, id, grayscale = fmt == "gif")
            (id, graft.multimodal.Multimodal.encodeImage(img, fmt))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.decodeImageStats(media).toDF()
          .orderBy("media_id")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
                     CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                          ELSE 'gif' END AS format,
                     CAST(doc_id % 24 + 9 AS BIGINT) AS w,
                     CAST((doc_id * 7) % 16 + 9 AS BIGINT) AS h
                   FROM documents),
                 xs AS (SELECT media_id, format, w, h,
                               unnest(range(w)) AS x FROM m),
                 px AS (SELECT media_id, format, w, h, x,
                               unnest(range(h)) AS y FROM xs)
              SELECT media_id, format, w AS width, h AS height,
                     w * h AS n_px,
                     CAST(SUM(CASE WHEN format = 'gif'
                              THEN (13*x + 7*y + media_id) % 256
                              ELSE (31*x + 17*y + media_id) % 256 END)
                          AS BIGINT) AS sum_r,
                     CAST(SUM(CASE WHEN format = 'gif'
                              THEN (13*x + 7*y + media_id) % 256
                              ELSE (7*x + 3*y + 5*media_id) % 256 END)
                          AS BIGINT) AS sum_g,
                     CAST(SUM(CASE WHEN format = 'gif'
                              THEN (13*x + 7*y + media_id) % 256
                              ELSE (x + y + 11*media_id) % 256 END)
                          AS BIGINT) AS sum_b
              FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""")),

    // MM7: REAL lossy JPEG decode, contract-gated like a5b/a6b — the DCT
    // round-trip is deterministic but not value-replayable cross-engine,
    // so the exact surface under the hash is (format, dims, n_px) and
    // the decode QUALITY is a boolean contract: each decoded channel's
    // pixel sum within ±3 gray levels per pixel of the encoded pattern
    // (measured worst mean error ≈ 0.5 on this JDK codec — a broken DCT,
    // chroma subsample, or color-convert path is off by far more). The
    // pattern is a smooth grayscale ramp, the shape JPEG is built for.
    Q("mm7_real_jpeg_decode",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 24L).toInt + 9
            val h = (id * 7L % 16L).toInt + 9
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var psum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = ((3L * x + 2L * y + id) % 160L).toInt + 40
                img.setRGB(x, y, (v << 16) | (v << 8) | v); psum += v
                x += 1
              }
              y += 1
            }
            (id, psum,
              graft.multimodal.Multimodal.encodeImage(img, "jpeg"))
          }.toDF("media_id", "pattern_sum", "payload")
        val stats = graft.multimodal.Multimodal
          .decodeImageStats(media.select("media_id", "payload")).toDF()
        stats.join(media.select("media_id", "pattern_sum"), "media_id")
          .select(col("media_id"), col("format"), col("width"),
            col("height"), col("n_px"),
            (abs(col("sum_r") - col("pattern_sum")) <= col("n_px") * 3L)
              .as("err_r_ok"),
            (abs(col("sum_g") - col("pattern_sum")) <= col("n_px") * 3L)
              .as("err_g_ok"),
            (abs(col("sum_b") - col("pattern_sum")) <= col("n_px") * 3L)
              .as("err_b_ok"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'jpeg' AS format,
                     CAST(doc_id % 24 + 9 AS BIGINT) AS width,
                     CAST((doc_id * 7) % 16 + 9 AS BIGINT) AS height,
                     CAST((doc_id % 24 + 9) * ((doc_id * 7) % 16 + 9)
                          AS BIGINT) AS n_px,
                     TRUE AS err_r_ok, TRUE AS err_g_ok, TRUE AS err_b_ok
              FROM documents ORDER BY media_id""")),

    // MM8: REAL audio sample decode under the hash gate — deterministic
    // PCM16 samples encoded through javax.sound's REAL RIFF/WAVE writer
    // and decoded back through its reader (bit-exact by PCM's nature);
    // the gated surface is BIGINT sample sum, absolute sum, and strict
    // sign-flip count, replayed by the oracle from the generation
    // arithmetic — any container, endianness, or sample-width error in
    // the codec path breaks the equality.
    Q("mm8_real_audio_decode",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val n = (id % 256L).toInt + 64
            val sr = 8000 + (id % 6L).toInt * 8000
            val samples = Array.tabulate(n)(i =>
              ((i.toLong * 7919L + id * 104729L) % 65536L - 32768L).toShort)
            (id, graft.multimodal.Multimodal.encodeWavPcm16(samples, sr))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.decodeAudioStats(media).toDF()
          .orderBy("media_id")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
                     CAST(doc_id % 256 + 64 AS BIGINT) AS n,
                     CAST(8000 + (doc_id % 6) * 8000 AS BIGINT) AS sr
                   FROM documents),
                 s AS (SELECT media_id, n, sr, unnest(range(n)) AS i FROM m),
                 v AS (SELECT media_id, n, sr, i,
                              (i * 7919 + media_id * 104729) % 65536 - 32768
                                AS v
                       FROM s),
                 l AS (SELECT media_id, n, sr, v,
                              lag(v) OVER (PARTITION BY media_id ORDER BY i)
                                AS pv
                       FROM v)
              SELECT media_id, sr AS sample_rate, n AS n_samples,
                     CAST(SUM(v) AS BIGINT) AS sum_s,
                     CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
                     CAST(SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_sign_flips
              FROM l GROUP BY 1, 2, 3 ORDER BY media_id""")),

    // MM9: the full decode→transform→encode→decode chain — REAL PNG
    // decode, deterministic nearest-neighbor half resize on the DECODED
    // pixels (out(x,y) = in(2x,2y), dims ⌈w/2⌉×⌈h/2⌉ — index arithmetic,
    // no resampling kernel), REAL PNG re-encode, REAL re-decode, pixel
    // sums gated. The oracle replays the even-coordinate subset of the
    // source pattern, so BOTH codec passes and the resize indexing sit
    // under one hash.
    Q("mm9_real_resize_pipeline",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 24L).toInt + 9
            val h = (id * 7L % 16L).toInt + 9
            val mm = graft.multimodal.Multimodal
            val orig = mm.encodeImage(
              mm.patternImage(w, h, id, grayscale = false), "png")
            val resized = mm.resizeHalfNearest(mm.decodeImage(orig).get)
            (id, mm.encodeImage(resized, "png"))
          }.toDF("media_id", "payload")
        graft.multimodal.Multimodal.decodeImageStats(media).toDF()
          .orderBy("media_id")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
                     (CAST(doc_id % 24 + 9 AS BIGINT) + 1) // 2 AS rw,
                     (CAST((doc_id * 7) % 16 + 9 AS BIGINT) + 1) // 2 AS rh
                   FROM documents),
                 xs AS (SELECT media_id, rw, rh,
                               unnest(range(rw)) AS x FROM m),
                 px AS (SELECT media_id, rw, rh, x,
                               unnest(range(rh)) AS y FROM xs)
              SELECT media_id, 'png' AS format, rw AS width, rh AS height,
                     rw * rh AS n_px,
                     CAST(SUM((62*x + 34*y + media_id) % 256) AS BIGINT)
                       AS sum_r,
                     CAST(SUM((14*x + 6*y + 5*media_id) % 256) AS BIGINT)
                       AS sum_g,
                     CAST(SUM((2*x + 2*y + 11*media_id) % 256) AS BIGINT)
                       AS sum_b
              FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""")),

    // A6 companion: the approximate sketch itself (reference uses
    // approx_quantile). Sketch VALUES differ across engines by design, so
    // the value is not oracle-able — but the sketch's ERROR CONTRACT is:
    // the GK sketch at accuracy a guarantees the returned median has rank
    // within n/a of the target rank 0.5·n. The query computes the sketch,
    // joins it back, and emits the rank-bound verdict per group (±1 extra
    // slack absorbs the engines' rank-definition ambiguity at even n); the
    // oracle asserts the verdict is TRUE — a sketch regression outside its
    // bound hash-fails this row instead of passing rows-only.
    Q("a6b_approx_quantile",
      (s, d) => {
        val acc = 10000
        val t = Tables.customer(s, d).select("c_mktsegment", "c_acctbal")
        val sketch = t.groupBy("c_mktsegment")
          .agg(percentile_approx(col("c_acctbal"), lit(0.5), lit(acc))
            .as("approx"))
        t.join(broadcast(sketch), "c_mktsegment")
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("c_acctbal") < col("approx"), 1L).otherwise(0L)).as("n_lt"),
            sum(when(col("c_acctbal") <= col("approx"), 1L).otherwise(0L)).as("n_le"))
          .select(col("c_mktsegment"), col("n"),
            (col("n_lt").cast("double") <=
              col("n").cast("double") * 0.5 + col("n").cast("double") / acc + 1.0
              && col("n_le").cast("double") >=
              col("n").cast("double") * 0.5 - col("n").cast("double") / acc - 1.0)
              .as("rank_within_bound"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n, TRUE AS rank_within_bound
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // A5 companion: HyperLogLog++ approximate distinct count, gated like
    // a6b — the sketch VALUE is engine-specific, its ERROR CONTRACT is
    // not. The query computes both the sketch and the exact distinct in
    // one aggregate and emits |approx − exact| ≤ 5·rsd·exact per group
    // (rsd = 0.05, Spark's default); the oracle asserts TRUE plus the
    // exact count — an HLL regression outside its advertised error
    // hash-fails this row. NOTE the bound is probabilistic, not a hard
    // HLL++ contract: rsd is one standard deviation, so 5σ makes a
    // legitimate sketch output failing the gate astronomically unlikely
    // while still catching real regressions (a broken sketch is off by
    // far more than 25%); for FIXED input the sketch is deterministic,
    // and the margin is tri-scale verified (observed error ≤ ~1·rsd on
    // the driver testdata).
    Q("a5b_approx_count_distinct",
      (s, d) => {
        val rsd = 0.05
        Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            countDistinct(col("o_custkey")).as("n_exact"),
            approx_count_distinct(col("o_custkey"), rsd).as("approx"))
          .select(col("o_orderstatus"), col("n_exact"),
            (abs(col("approx").cast("double") - col("n_exact").cast("double"))
              <= col("n_exact").cast("double") * (5.0 * rsd))
              .as("within_bound"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_exact,
                     TRUE AS within_bound
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // F19 (extension): k-anonymity report over quasi-identifiers — the
    // aggregate-privacy dual of the PHI redaction/tokenization surface:
    // a release is k-anonymous when every quasi-identifier combination
    // matches ≥ k rows. One hash aggregation on the quasi key;
    // KAnonymity.suppress (spec-tested) is the remediation path.
    Q("f19_k_anonymity",
      (s, d) => graft.privacy.KAnonymity.report(Tables.customer(s, d),
          Seq("c_mktsegment", "c_nationkey"), k = 10)
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT c_mktsegment, c_nationkey,
                     COUNT(*) AS group_size,
                     COUNT(*) < 10 AS at_risk
              FROM customer GROUP BY 1, 2
              ORDER BY c_mktsegment, c_nationkey"""))
  )
}
