package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Registered queries for image and audio decoding, features, near-
  * duplicates and voice activity over embedded media. */
private[graft] object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- energy-threshold VAD segments over longer synthesized
    // WAVs (16 samples → 8 frames at frameLen 2): voiced frames
    // merge into maximal runs — the speech-curation step between
    // decode and ASR. Exact integer energies and rank-arithmetic
    // islands replay arithmetically from the sample formula ----
    QuerySpec("q_vad", (s, dir) => {
      val mults = Seq(7, 31, 131, 8191, 3, 5, 11, 13, 17, 19, 23, 29, 37, 41, 43, 47)
      val header = "52494646" + "44000000" + "57415645" + "666d7420" +
        "10000000" + "0100" + "0100" + "401f0000" + "803e0000" + "0200" + "1000" +
        "64617461" + "20000000"
      def u(mult: Int) = pmod(col("doc_id") * mult, lit(65536L))
      def hx(c: Column) = lpad(lower(hex(c)), 2, "0")
      def le16(c: Column) = concat(hx(pmod(c, lit(256L))), hx(shiftright(c, 8)))
      val payload = unhex(concat((lit(header) +: mults.map(m => le16(u(m)))): _*))
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"), lit("audio").as("kind"), payload.as("payload"))
      val frames = graft.multimodal.Multimodal.audioFrames(media, frameLen = 2)
      graft.multimodal.Multimodal.vadSegments(frames, energyThreshold = 500000000L)
        .orderBy(col("media_id"), col("seg"))
    },
      // the q_audio_frames sample formula over 16 samples; voiced
      // islands via the lag/running-sum rank arithmetic
      """WITH sv AS (
        |  SELECT d.doc_id, m.k,
        |    CASE WHEN ((d.doc_id * m.p) % 65536) < 32768
        |         THEN ((d.doc_id * m.p) % 65536)
        |         ELSE ((d.doc_id * m.p) % 65536) - 65536 END AS s
        |  FROM documents d,
        |    (VALUES (0,7),(1,31),(2,131),(3,8191),(4,3),(5,5),(6,11),(7,13),
        |            (8,17),(9,19),(10,23),(11,29),(12,37),(13,41),(14,43),(15,47)) m(k, p)
        |), fr AS (
        |  SELECT doc_id, k // 2 AS frame_idx, CAST(SUM(s * s) AS BIGINT) AS energy
        |  FROM sv GROUP BY 1, 2
        |), voiced AS (
        |  SELECT doc_id, frame_idx, energy,
        |    CASE WHEN lag(frame_idx) OVER (PARTITION BY doc_id ORDER BY frame_idx) IS NULL
        |           OR frame_idx - lag(frame_idx) OVER (PARTITION BY doc_id ORDER BY frame_idx) > 1
        |         THEN 1 ELSE 0 END AS nw
        |  FROM fr WHERE energy >= 500000000
        |), segs AS (
        |  SELECT doc_id, frame_idx, energy,
        |    CAST(SUM(nw) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
        |  FROM voiced
        |)
        |SELECT doc_id AS media_id, seg,
        |  CAST(min(frame_idx) AS INT) AS start_frame,
        |  CAST(max(frame_idx) AS INT) AS end_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS sum_energy
        |FROM segs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- multimodal decode-stub features, flattened to scalars (the
    // md5-seeded stub is engine-reproducible, so this gets a full
    // DuckDB oracle; raw array<double> columns would also break the
    // pandas hash compare in tools/oracle_compare.py) ----
    QuerySpec("q_media_features", (s, dir) => {
      val feats = graft.multimodal.Multimodal.decodeFeatures(
        graft.multimodal.Multimodal.balanceBySize(
          graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, dir)), 8))
      feats.select(
        Seq(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("sample_rate")) ++
          (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
        .orderBy(col("media_id"))
    },
      // Mirrors Multimodal.decodeStub exactly: payload = utf8(text),
      // md5 digest bytes u0..u10 drive dims/rate/features.
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |         md5(coalesce(text, '')) AS d,
        |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes
        |  FROM documents
        |), u AS (
        |  SELECT media_id, kind, n_bytes,
        |         ('0x' || substr(d, 1, 2))::INT AS u0,
        |         ('0x' || substr(d, 3, 2))::INT AS u1,
        |         ('0x' || substr(d, 5, 2))::INT AS u2,
        |         ('0x' || substr(d, 7, 2))::INT AS u3,
        |         ('0x' || substr(d, 9, 2))::INT AS u4,
        |         ('0x' || substr(d, 11, 2))::INT AS u5,
        |         ('0x' || substr(d, 13, 2))::INT AS u6,
        |         ('0x' || substr(d, 15, 2))::INT AS u7,
        |         ('0x' || substr(d, 17, 2))::INT AS u8,
        |         ('0x' || substr(d, 19, 2))::INT AS u9,
        |         ('0x' || substr(d, 21, 2))::INT AS u10
        |  FROM m
        |)
        |SELECT media_id, kind, n_bytes,
        |       CASE WHEN kind = 'audio' THEN NULL ELSE 64 + u0 * 16 END AS width,
        |       CASE WHEN kind = 'audio' THEN NULL ELSE 64 + u1 * 16 END AS height,
        |       CASE WHEN kind = 'audio' THEN ([8000,16000,22050,44100])[CAST(u2 % 4 + 1 AS INT)] END AS sample_rate,
        |       u3 / 255.0 AS f0, u4 / 255.0 AS f1, u5 / 255.0 AS f2, u6 / 255.0 AS f3,
        |       u7 / 255.0 AS f4, u8 / 255.0 AS f5, u9 / 255.0 AS f6, u10 / 255.0 AS f7
        |FROM u""".stripMargin),
    QuerySpec("q_frame_sample", (s, dir) => {
      graft.multimodal.Multimodal.frameSampleStub(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, dir)), everyK = 4, maxFrames = 8)
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // Mirrors Multimodal.frameSampleStub (everyK=4, maxFrames=8):
      // video kind = doc_id%3==2; hash = md5(text || ':' || frame_idx).
      """WITH v AS (
        |  SELECT doc_id AS media_id, text AS t,
        |         octet_length(encode(text)) % 240 + 16 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
        |), e AS (
        |  SELECT media_id, t,
        |         unnest(generate_series(0, CAST(least((n_frames - 1) // 4, 7) AS BIGINT))) AS j
        |  FROM v
        |)
        |SELECT media_id,
        |       CAST(j * 4 AS INT) AS frame_idx,
        |       md5(t || ':' || CAST(j * 4 AS VARCHAR)) AS frame_hash
        |FROM e""".stripMargin),
    // ---- REAL image decode, exact-oracled: each doc_id is rendered
    // into a genuine 2x1 uncompressed 24-bpp BMP (header + padded
    // BGR row assembled as hex, pixels a pure function of doc_id),
    // ImageCodec parses the actual bytes back to pixels, and the
    // oracle recomputes the integer-derived features arithmetically
    // — proving the bytes->pixels->features path end to end, not
    // just the stub plumbing ----
    QuerySpec("q_media_decode", (s, dir) => {
      // 54-byte BMP header for w=2, h=1, 24 bpp (row padded to 8):
      // file size 62, pixel offset 54, BITMAPINFOHEADER(40)
      val header = "424d3e000000000000003600000028000000020000000100000001001800" +
        "000000000800000000000000000000000000000000000000"
      def px(mult: Int) = pmod(col("doc_id") * mult, lit(256)).cast("int")
      def hx(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 2, "0")
      val payload = unhex(concat(lit(header),
        hx(px(5)), hx(px(3)), hx(px(1)),    // pixel 1, BGR on disk
        hx(px(13)), hx(px(11)), hx(px(7)),  // pixel 2
        lit("0000")))                        // row pad to 8 bytes
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"), lit("image").as("kind"), payload.as("payload"))
      graft.multimodal.Multimodal.decodeFeatures(media)
        .select(
          Seq(col("media_id"), col("n_bytes"), col("width"), col("height")) ++
            (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
        .orderBy(col("media_id"))
    },
      // The REAL-decode oracle never parses the BMP: it recomputes
      // ImageCodec's integer-derived features (class doc formula)
      // straight from the same doc_id pixel arithmetic — integer
      // sums with a single IEEE double division each, bit-identical
      // in both engines. n_bytes = 54-byte header + 8-byte row.
      """WITH px AS (
        |  SELECT doc_id AS media_id,
        |    doc_id % 256 AS r1, (doc_id * 3) % 256 AS g1, (doc_id * 5) % 256 AS b1,
        |    (doc_id * 7) % 256 AS r2, (doc_id * 11) % 256 AS g2, (doc_id * 13) % 256 AS b2
        |  FROM documents
        |)
        |SELECT media_id, CAST(62 AS BIGINT) AS n_bytes,
        |  CAST(2 AS INT) AS width, CAST(1 AS INT) AS height,
        |  (r1 + r2) / 510.0 AS f0, (g1 + g2) / 510.0 AS f1, (b1 + b2) / 510.0 AS f2,
        |  (r1 + g1 + b1 + r2 + g2 + b2) / 1530.0 AS f3,
        |  least(r1 + g1 + b1, r2 + g2 + b2) / 765.0 AS f4,
        |  greatest(r1 + g1 + b1, r2 + g2 + b2) / 765.0 AS f5,
        |  (CASE WHEN r1 + g1 + b1 >= 383 THEN 1 ELSE 0 END
        |   + CASE WHEN r2 + g2 + b2 >= 383 THEN 1 ELSE 0 END) / 2.0 AS f6,
        |  CAST(2 AS DOUBLE) AS f7
        |FROM px
        |ORDER BY media_id""".stripMargin),
    // ---- perceptual image hashing over REAL decoded pixels: each
    // doc_id becomes a genuine 4×2 bottom-up BMP whose 24 channel
    // values are pure functions of doc_id; the dHash grid sampling
    // and luminance compares are exact integers, so the oracle
    // recomputes the hash arithmetically from the pixel formula ----
    QuerySpec("q_image_dhash", (s, dir) => {
      val header = "424d4e0000000000000036000000" +
        "28000000040000000200000001001800" +
        "00000000180000000000000000000000" +
        "0000000000000000"
      def px(i: Int, off: Int) = pmod(col("doc_id") * (6 * i + off), lit(256)).cast("int")
      def hx(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 2, "0")
      def pix(i: Int) = concat(hx(px(i, 7)), hx(px(i, 5)), hx(px(i, 3))) // BGR on disk
      val payload = unhex(concat(lit(header),
        pix(4), pix(5), pix(6), pix(7),   // file row 0 = bottom image row
        pix(0), pix(1), pix(2), pix(3)))  // file row 1 = top image row
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"), lit("image").as("kind"), payload.as("payload"))
      graft.multimodal.Multimodal.imageDHash(media).orderBy(col("media_id"))
    },
      // AudioCodec's integer-derived features (class doc formula)
      // from the same doc_id sample arithmetic: u = (doc_id·p) mod
      // 2^16 stored little-endian, decoded back to signed 16-bit,
      // integer sums + one IEEE division each. n_bytes = 44-byte
      // header + 8 bytes of samples.
      // dHash replica: pixel luminances from the channel formula,
      // the 10-sample/7-row floor-scaled grid, right>left bit sets
      // at position y*9+x (63 bits — the engine's signed-long-safe
      // default).
      """WITH px AS (
        |  SELECT d.doc_id, i.ix, i.iy,
        |    (d.doc_id*(6*(i.iy*4+i.ix)+3))%256
        |    + (d.doc_id*(6*(i.iy*4+i.ix)+5))%256
        |    + (d.doc_id*(6*(i.iy*4+i.ix)+7))%256 AS l
        |  FROM documents d,
        |    (SELECT a.ix, b.iy
        |     FROM (VALUES (0),(1),(2),(3)) a(ix), (VALUES (0),(1)) b(iy)) i
        |), g AS (
        |  SELECT x.x, y.y,
        |    (x.x*4)//10 AS lgx, ((x.x+1)*4)//10 AS rgx, (y.y*2)//7 AS gy
        |  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) x(x),
        |       (VALUES (0),(1),(2),(3),(4),(5),(6)) y(y)
        |), bits AS (
        |  SELECT p1.doc_id,
        |    CASE WHEN p2.l > p1.l
        |         THEN (CAST(1 AS BIGINT) << (g.y*9 + g.x)) ELSE 0 END AS bit
        |  FROM g
        |  JOIN px p1 ON p1.ix = g.lgx AND p1.iy = g.gy
        |  JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.ix = g.rgx AND p2.iy = g.gy
        |)
        |SELECT doc_id AS media_id, CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
        |  CAST(SUM(bit) AS BIGINT) AS dhash
        |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin),
    // ---- image NEAR-dup pairs: base BMPs (channels mod 200) plus
    // brightness-shifted copies (+10, no clipping) of every 5th doc
    // — the copies hash identically (gradients are shift-invariant),
    // band-collide, and verify at Hamming 0; the oracle exploits the
    // provable shift-cancellation to hash once per doc, then
    // replays the same 4-band join and xor-popcount verify ----
    QuerySpec("q_image_neardup", (s, dir) => {
      // 8x4 images (24-byte rows, no padding): 7 informative grid
      // columns x 4 distinct grid rows = 28 effective hash bits, so
      // natural collisions are rare and the pair count stays linear
      // in the planted copies (a 4x2 image has ~6 effective bits
      // and goes quadratic — measured, not guessed)
      val header = "424d9600000000000000360000002800" +
        "0000080000000400000001001800" +
        "00000000600000000000000000000000" +
        "0000000000000000"
      def hx(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 2, "0")
      def payloadFor(shift: Int) = {
        // distinct prime moduli per channel keep the pixel function
        // aperiodic over the corpus (lcm(199,211,223) >> doc count)
        def px(i: Int, off: Int, m: Int) =
          (pmod(col("doc_id") * (6 * i + off), lit(m)) + shift).cast("int")
        def pix(i: Int) = concat(hx(px(i, 7, 223)), hx(px(i, 5, 211)), hx(px(i, 3, 199)))
        // bottom-up file rows: imgY 3, 2, 1, 0
        val rows = (3 to 0 by -1).flatMap(imgY => (0 until 8).map(x => pix(imgY * 8 + x)))
        unhex(concat(lit(header) +: rows: _*))
      }
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id").as("media_id"),
        lit("image").as("kind"), payloadFor(0).as("payload"))
      val shifted = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 100000L).as("media_id"),
          lit("image").as("kind"), payloadFor(10).as("payload"))
      graft.multimodal.Multimodal.imageNearDupPairs(base.unionByName(shifted), 3)
        .orderBy(col("a_id"), col("b_id"))
    },
      // Near-dup images: the +10 brightness shift cancels in every
      // luminance compare, so a copy's hash EQUALS its base's —
      // hash once per doc, union the two id spaces, band-join, and
      // verify with xor-popcount (natural cross-doc collisions are
      // computed identically on both engines).
      """WITH px AS (
        |  SELECT d.doc_id, i.ix, i.iy,
        |    (d.doc_id*(6*(i.iy*8+i.ix)+3))%199
        |    + (d.doc_id*(6*(i.iy*8+i.ix)+5))%211
        |    + (d.doc_id*(6*(i.iy*8+i.ix)+7))%223 AS l
        |  FROM documents d,
        |    (SELECT a.ix, b.iy
        |     FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) a(ix),
        |          (VALUES (0),(1),(2),(3)) b(iy)) i
        |), g AS (
        |  SELECT x.x, y.y,
        |    (x.x*8)//10 AS lgx, ((x.x+1)*8)//10 AS rgx, (y.y*4)//7 AS gy
        |  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) x(x),
        |       (VALUES (0),(1),(2),(3),(4),(5),(6)) y(y)
        |), h AS (
        |  SELECT p1.doc_id,
        |    CAST(SUM(CASE WHEN p2.l > p1.l
        |         THEN (CAST(1 AS BIGINT) << (g.y*9 + g.x)) ELSE 0 END) AS BIGINT) AS dh
        |  FROM g
        |  JOIN px p1 ON p1.ix = g.lgx AND p1.iy = g.gy
        |  JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.ix = g.rgx AND p2.iy = g.gy
        |  GROUP BY p1.doc_id
        |), media AS (
        |  SELECT doc_id AS media_id, dh FROM h
        |  UNION ALL
        |  SELECT doc_id + 100000, dh FROM h WHERE doc_id % 5 = 0
        |), sig AS (
        |  SELECT media_id, dh, b.b,
        |    CASE b.b WHEN 0 THEN dh & 65535
        |             WHEN 1 THEN (dh >> 16) & 65535
        |             WHEN 2 THEN (dh >> 32) & 65535
        |             ELSE (dh >> 48) & 32767 END AS bval
        |  FROM media, (VALUES (0),(1),(2),(3)) b(b)
        |), cand AS (
        |  SELECT DISTINCT x.media_id AS a_id, x.dh AS ah, y.media_id AS b_id, y.dh AS bh
        |  FROM sig x JOIN sig y
        |    ON x.b = y.b AND x.bval = y.bval AND x.media_id < y.media_id
        |)
        |SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ah, bh)) <= 3
        |ORDER BY a_id, b_id""".stripMargin),
    // ---- REAL audio decode, exact-oracled (the WAV twin of
    // q_media_decode): each doc_id becomes a genuine 52-byte
    // RIFF/WAVE file — 44-byte canonical PCM header + four 16-bit
    // mono samples at 8 kHz, each sample a pure function of doc_id —
    // AudioCodec parses the actual bytes back to signed samples, and
    // the oracle recomputes the integer-derived features
    // arithmetically ----
    QuerySpec("q_audio_decode", (s, dir) => {
      // RIFF(44) WAVE fmt(16): PCM, mono, 8000 Hz, 16-bit; data(8)
      val header = "52494646" + "2c000000" + "57415645" + "666d7420" +
        "10000000" + "0100" + "0100" + "401f0000" + "803e0000" + "0200" + "1000" +
        "64617461" + "08000000"
      def u(mult: Int) = pmod(col("doc_id") * mult, lit(65536L))
      def hx(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 2, "0")
      def le16(c: org.apache.spark.sql.Column) =
        concat(hx(pmod(c, lit(256L))), hx(shiftright(c, 8)))
      val payload = unhex(concat(lit(header),
        le16(u(7)), le16(u(31)), le16(u(131)), le16(u(8191))))
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"), lit("audio").as("kind"), payload.as("payload"))
      graft.multimodal.Multimodal.decodeFeatures(media)
        .select(
          Seq(col("media_id"), col("n_bytes"), col("sample_rate")) ++
            (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
        .orderBy(col("media_id"))
    }, """WITH sv AS (
        |  SELECT d.doc_id, m.k,
        |    CASE WHEN ((d.doc_id * m.p) % 65536) < 32768
        |         THEN ((d.doc_id * m.p) % 65536)
        |         ELSE ((d.doc_id * m.p) % 65536) - 65536 END AS s
        |  FROM documents d, (VALUES (0, 7), (1, 31), (2, 131), (3, 8191)) m(k, p)
        |), agg AS (
        |  SELECT doc_id,
        |    SUM(ABS(s)) AS sabs, SUM(s * s) AS ssq,
        |    MIN(s) AS smin, MAX(s) AS smax,
        |    SUM(CASE WHEN ABS(s) >= 32256 THEN 1 ELSE 0 END) AS nclip
        |  FROM sv GROUP BY doc_id
        |), zc AS (
        |  SELECT a.doc_id,
        |    SUM(CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 ELSE 0 END) AS z
        |  FROM sv a JOIN sv b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  GROUP BY a.doc_id
        |)
        |SELECT g.doc_id AS media_id, CAST(52 AS BIGINT) AS n_bytes,
        |  CAST(8000 AS INT) AS sample_rate,
        |  g.sabs / (4 * 32768.0) AS f0,
        |  g.ssq / (4 * 32768.0 * 32768.0) AS f1,
        |  g.smin / 32768.0 AS f2,
        |  g.smax / 32768.0 AS f3,
        |  z.z / 3.0 AS f4,
        |  g.nclip / 4.0 AS f5,
        |  4 / 8000.0 AS f6,
        |  CAST(1 AS DOUBLE) AS f7
        |FROM agg g JOIN zc z ON z.doc_id = g.doc_id
        |ORDER BY media_id""".stripMargin),
    // ---- frame-level audio features over the same synthesized WAVs:
    // 4 samples at frameLen=2 -> two complete frames per doc, each
    // carrying exact-integer energy/|s|/peak/trough/crossings — the
    // windowed silence/VAD primitives, oracle-recomputed
    // arithmetically from the sample formula ----
    QuerySpec("q_audio_frames", (s, dir) => {
      val header = "52494646" + "2c000000" + "57415645" + "666d7420" +
        "10000000" + "0100" + "0100" + "401f0000" + "803e0000" + "0200" + "1000" +
        "64617461" + "08000000"
      def u(mult: Int) = pmod(col("doc_id") * mult, lit(65536L))
      def hx(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 2, "0")
      def le16(c: org.apache.spark.sql.Column) =
        concat(hx(pmod(c, lit(256L))), hx(shiftright(c, 8)))
      val payload = unhex(concat(lit(header),
        le16(u(7)), le16(u(31)), le16(u(131)), le16(u(8191))))
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"), lit("audio").as("kind"), payload.as("payload"))
      graft.multimodal.Multimodal.audioFrames(media, frameLen = 2)
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // Frame features: the same sample formula bucketed into
      // frames of 2; crossings join only pairs inside one frame.
      """WITH sv AS (
        |  SELECT d.doc_id, m.k,
        |    CASE WHEN ((d.doc_id * m.p) % 65536) < 32768
        |         THEN ((d.doc_id * m.p) % 65536)
        |         ELSE ((d.doc_id * m.p) % 65536) - 65536 END AS s
        |  FROM documents d, (VALUES (0, 7), (1, 31), (2, 131), (3, 8191)) m(k, p)
        |), agg AS (
        |  SELECT doc_id, k // 2 AS frame_idx,
        |    SUM(s * s) AS energy, SUM(ABS(s)) AS sum_abs,
        |    MAX(s) AS peak, MIN(s) AS trough
        |  FROM sv GROUP BY 1, 2
        |), zc AS (
        |  SELECT a.doc_id, a.k // 2 AS frame_idx,
        |    SUM(CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 ELSE 0 END) AS z
        |  FROM sv a JOIN sv b
        |    ON b.doc_id = a.doc_id AND b.k = a.k + 1 AND (b.k // 2) = (a.k // 2)
        |  GROUP BY 1, 2
        |)
        |SELECT g.doc_id AS media_id, CAST(g.frame_idx AS INT) AS frame_idx,
        |  CAST(2 AS INT) AS n,
        |  CAST(g.energy AS BIGINT) AS energy,
        |  CAST(g.sum_abs AS BIGINT) AS sum_abs,
        |  CAST(g.peak AS INT) AS peak, CAST(g.trough AS INT) AS trough,
        |  CAST(z.z AS BIGINT) AS crossings
        |FROM agg g JOIN zc z ON z.doc_id = g.doc_id AND z.frame_idx = g.frame_idx
        |ORDER BY media_id, frame_idx""".stripMargin),
    // ---- resize planning over decoded media (audio rows keep null
    // dims/scale; the uniform-scale doubles are exact IEEE divisions) ----
    QuerySpec("q_media_resize", (s, dir) => {
      val feats = graft.multimodal.Multimodal.decodeFeatures(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, dir)))
      graft.multimodal.Multimodal.resizeStub(feats, 224, 224)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("target_width"), col("target_height"), col("scale"))
        .orderBy(col("media_id"))
    },
      // Mirrors Multimodal.resizeStub(224, 224) over the decode stub's
      // md5-derived dimensions.
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |         md5(coalesce(text, '')) AS d
        |  FROM documents
        |), u AS (
        |  SELECT media_id, kind,
        |         ('0x' || substr(d, 1, 2))::INT AS u0,
        |         ('0x' || substr(d, 3, 2))::INT AS u1
        |  FROM m
        |)
        |SELECT media_id, kind,
        |       CASE WHEN kind = 'audio' THEN NULL ELSE 64 + u0 * 16 END AS width,
        |       CASE WHEN kind = 'audio' THEN NULL ELSE 64 + u1 * 16 END AS height,
        |       224 AS target_width, 224 AS target_height,
        |       CASE WHEN kind = 'audio' THEN NULL
        |            ELSE least(224.0 / (64 + u0 * 16), 224.0 / (64 + u1 * 16)) END AS scale
        |FROM u""".stripMargin))
}
