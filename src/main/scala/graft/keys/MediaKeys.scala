package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Media keys: images, audio, video, PDF and container metadata. */
object MediaKeys {

  val all: Seq[QueryKey] = Seq(
    // P12+++ / P76 — audio near-duplicate detection via envelope hash
    // (the WAV twin of p74's image dHash): real javax.sound decode →
    // 65 exact integer frame-energy sums → 64 delta-sign bits,
    // invariant to amplitude scaling and energy-preserving dither;
    // pairing reuses the SAME banded hamming join as images. Docs
    // %4/%6 carry byte-different hash-identical re-encodings; the
    // oracle enumerates the planted variant pairs (same contract as
    // p74: codec/hash/banding break = missing rows, over-eager hash =
    // extra rows). Ids are doc_id*10+variant.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p76_audio_neardup", Rebuild, (s, dir) => {
      import s.implicits._
      val clips = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 4 == 0) Seq(1) else Nil) ++
            (if (d % 6 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.envelopeWav(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.audioEnvelopeHashes(s, clips))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 4 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 6 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b""")),

    // P12+++/P74++, key p77_video_neardup — the video member of the
    // near-dup triad: per-frame dHash of the DECODED frames, strict-
    // majority-folded into a 64-bit fingerprint, paired by the SAME
    // banded hamming join as images/audio. Fixture plants re-muxed
    // (same frame bytes, different container) and losslessly-transcoded
    // (same pixels, different codec) twins — byte-different,
    // fingerprint-identical by construction; videos only on doc_id%5
    // (video corpora are sparser than image ones, and each payload
    // costs NeardupVideoFrames codec passes). Ids are doc_id*10+variant.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p77_video_neardup", Rebuild, (s, dir) => {
      import s.implicits._
      val videos = docs(s, dir).select(col("doc_id")).as[Long]
        .filter(_ % 5 == 0)
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 10 == 0) Seq(1) else Nil) ++
            (if (d % 15 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.neardupAvi(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.videoFingerprints(s, videos))
        .orderBy("id_a", "id_b")
    }, oracle = Some(VideoNeardupPairsOracle)),

    // P142 — MP4 keyframe-byte near-dup (extends the near-dup triad to
    // INTER-FRAME codecs without a decoder — the r16 verdict's #5 ask):
    // sync-sample byte extents resolved purely from the container's
    // sample tables (stss/stsc/stco/stsz), each keyframe's BYTES
    // md5-hashed, strict-majority-folded, then the SAME banded hamming
    // join as p74/p76/p77. The three variants of one doc are
    // byte-different re-muxes (offset-shifting free box, leading audio
    // trak, split chunks, reverse-stored chunk-per-sample, shuffled
    // stbl box order) of identical sample bytes — fingerprints match
    // ONLY if extent resolution is exact.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p142_mp4_keyframe_neardup", Rebuild, (s, dir) => {
      import s.implicits._
      val videos = docs(s, dir).select(col("doc_id")).as[Long]
        .filter(_ % 5 == 0)
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 10 == 0) Seq(1) else Nil) ++
            (if (d % 15 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Mp4.neardupMp4(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Mp4.keyframeFingerprints(videos))
        .orderBy("id_a", "id_b")
    }, oracle = Some(VideoNeardupPairsOracle)),

    // P12 — multimodal binary-column plumbing (expression feature path).
    QueryKey("p12_multimodal", Prepared, (s, dir) =>
      Multimodal.features(Multimodal.fromDocuments(docs(s, dir)))
        .orderBy("doc_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
  octet_length(encode(text))::BIGINT AS byte_len,
  (n_chars % 640 + 1)::INTEGER AS width,
  (doc_id % 480 + 1)::INTEGER AS height,
  (n_chars % 640 + 1)::BIGINT * (doc_id % 480 + 1)::BIGINT AS n_pixels,
  md5(text) AS payload_hash
FROM documents ORDER BY doc_id""")),

    // P12+, key p47_video_mjpeg — REAL video decode: deterministic
    // MJPEG-in-AVI payloads (dims/frames are formulas of doc_id) are
    // written by the container generator and decoded back by the RIFF
    // walk + per-frame javax.imageio path. The oracle recomputes the
    // formulas — a broken writer/parser/JPEG step would fall back to
    // the stub's declared 0-dims and hash-mismatch. Brightness is
    // codec-implementation-dependent (lossy JPEG), so it stays out of
    // the key; the spec bounds it with a tolerance instead.
    QueryKey("p47_video_mjpeg", Prepared, (s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val nf = (id % 3 + 1).toInt
        (id, "video", Multimodal.generateAvi(w, h, nf, seed = id.toInt),
          0, 0, "avi")
      }).toDF("doc_id", "modality", "payload", "width", "height", "format")
        .select(col("doc_id"), col("modality"), col("payload"),
          struct(col("width"), col("height"), col("format")).as("meta"))
      Multimodal.decodeBatched(s, media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_pixels").as("n_frames"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  (doc_id % 16 + 8)::INTEGER AS width,
  (doc_id % 12 + 8)::INTEGER AS height,
  (doc_id % 3 + 1)::BIGINT AS n_frames
FROM documents WHERE doc_id < 60 ORDER BY doc_id""")),

    // P12++ / P74 — image near-duplicate detection via perceptual dHash
    // (the LAION-style multimodal dedup step): deterministic grayscale
    // PNG fixtures where docs with doc_id%5==0 / %7==0 carry extra
    // BYTE-different re-encodings (mean-preserving pixel noise, +10
    // brightness) that are dHash-identical by construction; the decode →
    // 9x8 block-mean → gradient-bit hash runs in batched mapPartitions
    // (no payload ever crosses a shuffle), and pairing is the banded
    // hamming join — 16-bit bucket join + exact verification, never
    // all-pairs. The oracle enumerates the planted variant pairs from
    // the doc table alone, so a codec/hash/banding break surfaces as
    // missing rows and an over-eager hash (cross-doc collisions) as
    // extra rows. Ids are doc_id*10+variant.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p74_image_neardup", Rebuild, (s, dir) => {
      import s.implicits._
      val images = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 5 == 0) Seq(1) else Nil) ++
            (if (d % 7 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.dhashImagePng(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, images))
        .orderBy("id_a", "id_b")
    }, oracle = Some(ImageNearDupOracle)),

    // P74+ / P85+, key p111_warc_binary — the crawl-to-multimodal
    // composition the text-only WARC path couldn't express: the SAME
    // planted PNG fixture as p74 rides as BINARY response payloads
    // (Content-Type image/png) through a real .warc.gz segment
    // round-trip, and the image near-dup family runs on the RECOVERED
    // body_bytes. A UTF-8 decode anywhere in the ingest would corrupt
    // the PNGs (dHash gives None, pairs vanish), so hash-matching
    // p74's oracle proves byte-exact binary transit — and the parser's
    // text column stays null for the binary type (decode is lazy, not
    // destructive). Scale shape inherits both parents': one task per
    // segment file, payloads never cross a shuffle.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p111_warc_binary", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-binary-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val images = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 5 == 0) Seq(1) else Nil) ++
            (if (d % 7 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.dhashImagePng(d, v)))
        }.toDF("id", "payload")
      WarcSource.export(images, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "image/png")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, recovered))
        .orderBy("id_a", "id_b")
    }, oracle = Some(ImageNearDupOracle)),

    // P118 — pure-JDK PDF text extraction over the binary front door
    // (p111's convention, application/pdf instead of image/png): every
    // doc's text is typeset into a deterministic single-page PDF 1.4
    // (real xref table, FlateDecode content stream, Tj + kerned-TJ
    // show operators, escape-bearing header line), rides as a BINARY
    // response payload through a .warc.gz round-trip, and the
    // extractor recovers (xref_ok, n_streams, n_chars, text) from the
    // RECOVERED body_bytes. The oracle re-typesets the text from the
    // fixture formula alone — a deflate slip, an operator-machine
    // slip, an escape slip, or a byte-corrupting ingest all change
    // text bytes. Scale shape: generate and extract are both batched
    // mapPartitions where the bytes land; one task per segment file in
    // between; nothing crosses a shuffle.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p118_pdf_extract", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-pdf-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          // a third of the crawl is ENCRYPTED (empty-user-password
          // standard handler, the dominant encrypted class): %3==1
          // RC4-128, %3==2 AES-128-CBC — the oracle is unchanged, so
          // decryption must be byte-exact or these docs' text diverges
          (id,
            if (id % 3 == 1) Pdf.fixturePdfEncrypted(id, t, aes = false)
            else if (id % 3 == 2) Pdf.fixturePdfEncrypted(id, t, aes = true)
            else Pdf.fixturePdf(id, t))
        })
        .toDF("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Pdf.extractTexts(recovered).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P124 — end-to-end PDF pipeline (p109's sibling through the
    // OTHER binary door): fixture PDFs ride a .warc.gz crawl segment,
    // extraction recovers their text, and the STANDARD text-analysis
    // family (p09 quality) runs on it without special-casing —
    // the oracle composes p118's closed-form re-typeset with p09's
    // quality formula, so every stage (deflate → warc → inflate →
    // operator machine → tokenizer → ratios) is checked end to end.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p124_pdf_pipeline", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-pdfq-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          // a third of the crawl is ENCRYPTED (empty-user-password
          // standard handler, the dominant encrypted class): %3==1
          // RC4-128, %3==2 AES-128-CBC — the oracle is unchanged, so
          // decryption must be byte-exact or these docs' text diverges
          (id,
            if (id % 3 == 1) Pdf.fixturePdfEncrypted(id, t, aes = false)
            else if (id % 3 == 2) Pdf.fixturePdfEncrypted(id, t, aes = true)
            else Pdf.fixturePdf(id, t))
        })
        .toDF("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      TextAnalysis.quality(
        Pdf.extractTexts(recovered).select(col("id").as("doc_id"),
          col("text")))
        .orderBy("id")
    }, oracle = Some {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM e),
m AS (
  SELECT id, n_chars, len(t)::BIGINT AS n_tokens,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base)
SELECT id, n_chars, n_tokens,
  round(mean_len, 6) AS mean_token_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_ratio, 6) AS stopword_ratio,
  round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0 - punct_ratio * 2.0
    + stop_ratio * 0.5), 6) AS quality_score
FROM m ORDER BY id"""
    }),

    // P139 — Type0/CID composite-font PDF text via ToUnicode CMaps (the
    // dominant post-2010 real-PDF class; p118 covers simple fonts):
    // every doc's text is typeset as 2-byte-CID HEX shows under an
    // Identity-H Type0 font whose FlateDecode /ToUnicode CMap (bfrange
    // runs + bfchar singletons, CID = codepoint + 7) is the ONLY route
    // back to text — a pass-through extractor yields shifted mojibake,
    // an unparsed CMap yields nothing, so the oracle comparison proves
    // the map is applied. A third of the corpus is RC4-encrypted and a
    // third AES-128 (the CMap stream decrypts under its OWN per-object
    // key, so font resolution rides the crypt path too). The oracle
    // re-typesets the text closed-form, never touching a PDF byte.
    // Scale shape: generate and extract are batched mapPartitions in
    // one task; nothing shuffles.
    QueryKey("p139_pdf_cid", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfCid(id, t,
            if (id % 3 == 1) Some(false)
            else if (id % 3 == 2) Some(true)
            else None))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 2::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P146 — PDF transport-filter cascades (the real tool-generated
    // shape: ASCIIHex / ASCII85 wrapping Flate; previously any
    // non-bare-Flate /Filter dropped the stream): thirds of the corpus
    // ride [/ASCIIHexDecode /FlateDecode] and [/ASCII85Decode
    // /FlateDecode] cascades, and every %5==0 doc is ADDITIONALLY
    // RC4-encrypted — decrypt-then-decode order (ISO 32000-1 §7.6.2)
    // is end-to-end load-bearing. The oracle is p118's closed-form
    // re-typeset: a codec slip anywhere changes text bytes.
    QueryKey("p146_pdf_filters", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfFiltered(id, t, (id % 3).toInt,
            if (id % 5 == 0) Some(false) else None))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P147 — PDF 1.5 object streams (/ObjStm): the page dict, the
    // Type0 font, and its descendant all live INSIDE a Flate object
    // stream — nothing about the fonts is visible in the raw bytes —
    // so extraction works only if ObjStm expansion feeds both the
    // /Font discovery and the dict lookups (most post-2005 writers
    // emit exactly this shape; p139 covers the classic file-level
    // layout). Oracle: the same closed-form CID re-typeset, n_streams
    // now 3 (content + CMap + ObjStm).
    QueryKey("p147_pdf_objstm", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfCidObjStm(id, t))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 3::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P149 — AES-256 encrypted PDFs (V5 — the PDF 2.0 / Acrobat X+
    // class, the last documented-out handler): halves of the corpus
    // ride R6 (full ISO 32000-2 Algorithm 2.B hash) and the deprecated
    // R5 single-hash form; /U validates the empty user password, /UE
    // unwraps the 32-byte FILE key, and AESV3 streams decrypt under it
    // directly (no per-object keys). Oracle: the closed-form
    // re-typeset — a hash-round slip, a salt slip, or an unwrap slip
    // yields no text and kills the match.
    QueryKey("p149_pdf_aes256", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfEncryptedV5(id, t, r6 = id % 2 == 0))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P151 — PDF stream predictors (the r17 verdict's #2: real
    // tool-generated PDFs almost universally write their ObjStm and
    // XRef streams with PNG Predictor 12): quarters of the corpus
    // ride (0) a PNG-predicted content stream whose per-row tags
    // cycle all five PNG filters, (1) TIFF /Predictor 2 horizontal
    // differencing, (2) a PNG predictor UNDER an ASCIIHex cascade
    // with array-aligned /DecodeParms [null <<...>>], and (3) the
    // real-world twin — a PNG-Predictor-12 /ObjStm holding the page
    // and font dicts, so un-prediction must run inside the ObjStm
    // expansion for ANY text to come out. Oracle: the closed-form
    // re-typeset per lane ((pdf) classic / (cid) ObjStm).
    QueryKey("p151_pdf_predictor", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, if (id % 4 == 3) Pdf.fixturePdfCidObjStm(id, t, predictor = true)
               else Pdf.fixturePdfPredictor(id, t, (id % 4).toInt))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id ||
          CASE WHEN doc_id % 4 = 3 THEN ' (cid) A' ELSE ' (pdf) A' END ||
          chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok,
  (CASE WHEN doc_id % 4 = 3 THEN 3 ELSE 1 END)::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P160 — PDF LZWDecode + RunLengthDecode (the r18 verdict's #3:
    // LZW is ubiquitous in pre-2005 tool output and both are fully
    // public, ISO 32000-1 §7.4.2/§7.4.5): fifths of the corpus ride
    // (0) a bare LZW content stream, (1) LZW over PNG Predictor 12
    // (the Table-8 pairing — un-prediction must run on LZW OUTPUT),
    // (2) RunLength, (3) LZW with an explicit /EarlyChange 0 width
    // schedule, and (4) the real-world twin — an LZW+Predictor-12
    // /ObjStm holding the page and font dicts, so the LZW decode must
    // run inside ObjStm expansion for ANY text to come out. Oracle:
    // the closed-form re-typeset per lane.
    QueryKey("p160_pdf_lzw", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, if (id % 5 == 4)
                 Pdf.fixturePdfCidObjStm(id, t, predictor = true, lzw = true)
               else Pdf.fixturePdfLzw(id, t, (id % 5).toInt))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id ||
          CASE WHEN doc_id % 5 = 4 THEN ' (cid) A' ELSE ' (pdf) A' END ||
          chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok,
  (CASE WHEN doc_id % 5 = 4 THEN 3 ELSE 1 END)::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P161 — PDF image XObjects into the multimodal family (the r18
    // verdict's #4: DCT/JPEG image XObjects are prime crawl payload,
    // and javax.imageio already decodes JPEG — this closes the edge
    // between the PDF door and the image near-dup family): every
    // %3==0 doc plants ONE deterministic JPEG through BOTH doors — a
    // standalone media row and a PDF /Subtype /Image XObject (even
    // ids bare /DCTDecode, odd ids an AHx→DCT cascade) — the other
    // docs ride image-free PDFs; extractImages recovers the embedded
    // bytes and the SHARED dHash + banded-hamming join must pair the
    // two doors exactly (identical bytes ⇒ hamming 0). Oracle: the
    // pair list closed-form from the planting rule.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p161_pdf_images", Rebuild, (s, dir) => {
      import s.implicits._
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      // ONE JPEG encode per doc, BOTH doors emitted from the same
      // closure evaluation, and the tagged frame eagerly
      // localCheckpoint'ed so the two consumers read one
      // materialization: the hamming-0 oracle must pin extraction
      // being byte-exact, NOT the ImageIO encoder producing identical
      // bytes across executor JVMs (advice-caught — on a
      // heterogeneous cluster two independent encodes could differ).
      val lanes = base.mapPartitions(_.flatMap { case (id, t) =>
        if (id % 3 == 0) {
          val jpeg = Multimodal.dhashImageJpeg(id)
          Iterator(
            (0, id * 10, jpeg),
            (1, id, Pdf.fixturePdfImage(id, t, jpeg, (id % 2).toInt)))
        } else Iterator((1, id, Pdf.fixturePdf(id, t)))
      }).toDF("tag", "id", "payload").localCheckpoint()
      val standalone = lanes.where(col("tag") === 0)
        .select("id", "payload")
      val pdfs = lanes.where(col("tag") === 1).select("id", "payload")
      val embedded = Pdf.extractImages(pdfs)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 0 ORDER BY id_a, id_b""")),

    // P162 — RAW-SAMPLE PDF image XObjects (p161's sibling for the
    // PNG-converted class real writers embed: Flate or LZW over
    // /DeviceRGB samples, usually with PNG Predictor 15 at /Colors 3
    // image geometry — decodable pure-JDK through the EXISTING filter
    // + predictor pipeline, no codec needed): every %3==1 doc plants
    // the dHash fixture image through BOTH doors — a standalone PNG
    // and a PDF raw-sample XObject (lanes cycle Flate+Predictor-15
    // RGB / LZW RGB / Flate+Predictor-15 /DeviceGray by (id/3) % 3
    // over the %3==1 ids) — and both doors decode LOSSLESSLY to the same
    // pixels (the fixture is grayscale, so the gray lane reproduces
    // them too),
    // so the pair lands at hamming 0 with the hash equal to the
    // closed-form expectedDHash. Oracle: the pair list from the
    // planting rule.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p162_pdf_image_raw", Rebuild, (s, dir) => {
      import s.implicits._
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val standalone = base.flatMap { case (id, _) =>
        if (id % 3 == 1) Some((id * 10, Multimodal.dhashImagePng(id, 0)))
        else None
      }.toDF("id", "payload")
      val pdfs = base.flatMap { case (id, t) =>
        if (id % 3 == 1)
          Some((id, Pdf.fixturePdfImageRaw(id, t,
            Multimodal.dhashImageRgbBytes(id), 72, 64,
            ((id / 3) % 3).toInt)))
        else None
      }.toDF("id", "payload")
      val embedded = Pdf.extractImages(pdfs)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 1 ORDER BY id_a, id_b""")),

    // P164 — MP3 frame metadata (MP3 is the dominant crawl AUDIO
    // format; the WAV/MJPEG/MP4/WebP walks covered the other
    // containers): a pure-JDK frame walk — optional ID3v2 skip
    // (syncsafe size), then MPEG-1 Layer III headers back-to-back,
    // frame length from the published bitrate/sample-rate tables —
    // yields (first-frame bitrate, VBR flag, sample rate, channels,
    // frame count, exact-integer duration). Lanes vary every header
    // field: bitrate index 1..9 by id%9, all three sample rates by
    // id%3, an ID3v2 tag on id%3==0 (the skip is load-bearing), VBR
    // alternation on id%5==0, and a padding bit cycling by frame. The
    // oracle re-derives every field closed-form from the published
    // tables — a frame-length slip desyncs the walk and kills rows.
    QueryKey("p164_mp3_metadata", Prepared, (s, dir) => {
      import s.implicits._
      val audio = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.generateMp3(
            nFrames = 2 + (id % 7).toInt,
            brIdx = 1 + (id % 9).toInt,
            srIdx = (id % 3).toInt,
            id3Size = if (id % 3 == 0) (50 + id % 40).toInt else 0,
            vbr = id % 5 == 0))
        }).toDF("id", "payload")
      Multimodal.mp3MetadataFrame(s, audio).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[
    (1 + doc_id % 9)::INT]::BIGINT AS bitrate_kbps,
  (doc_id % 5 = 0) AS is_vbr,
  ([44100,48000,32000])[(doc_id % 3 + 1)::INT]::BIGINT AS sample_rate,
  1::BIGINT AS channels,
  (2 + doc_id % 7)::BIGINT AS n_frames,
  ((2 + doc_id % 7) * 1152000
    // ([44100,48000,32000])[(doc_id % 3 + 1)::INT])::BIGINT AS duration_ms
FROM documents ORDER BY id""")),

    // P168 — subtitle/caption parsing (the text half of video-text
    // corpus curation: WebVTT and SRT carry the aligned transcripts
    // caption datasets train on): one row per cue with exact-integer
    // millisecond bounds, the whole parse codegen'd Column work (cue
    // split, positional timing-line find, regexp timestamp decompose)
    // — one scan, one generator, no UDF, no shuffle. Halves ride VTT
    // (header block, cue-id lines, dot milliseconds, a settings
    // suffix on the timing line) and SRT (index lines, comma
    // milliseconds); the id/index lines must NOT leak into the text.
    // Oracle re-derives every cue closed-form.
    QueryKey("p168_subtitles", Prepared, (s, dir) => {
      val id = col("doc_id")
      val j = col("j")
      val startMs = (id * 7 + j * 3) * 1000 + pmod(id, lit(1000))
      val endMs = startMs + 2000 + j * 500
      def ts(ms: org.apache.spark.sql.Column, comma: Boolean) = {
        def fld(d: Long, m: Long) =
          pmod((ms / d).cast("long"), lit(m)) // floor-div then wrap
        format_string(if (comma) "%02d:%02d:%02d,%03d"
          else "%02d:%02d:%02d.%03d",
          (ms / 3600000).cast("long"), fld(60000, 60), fld(1000, 60),
          pmod(ms, lit(1000)))
      }
      val vtt = concat(lit("cue-"), j, lit("\n"),
        ts(startMs, comma = false), lit(" --> "),
        ts(endMs, comma = false), lit(" align:start\n"),
        lit("line one of cue "), j, lit("\n"),
        lit("and doc "), id, lit(" line two"))
      val srt = concat((j + 1).cast("string"), lit("\n"),
        ts(startMs, comma = true), lit(" --> "), ts(endMs, comma = true),
        lit("\nline one of cue "), j, lit("\nand doc "), id,
        lit(" line two"))
      val body = docs(s, dir).select(id,
        explode(sequence(lit(0L), pmod(id, lit(4)))).as("j"))
        .groupBy("doc_id")
        .agg(concat_ws("\n\n",
          array_sort(collect_list(struct(col("j"),
            when(pmod(id, lit(2)) === 0, vtt).otherwise(srt).as("c"))))
            .getField("c")).as("cues"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("WEBVTT\n\n"), col("cues")))
            .otherwise(col("cues")).as("body"))
      Subtitles.cues(body).orderBy("id", "cue_idx")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
c AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 4)) AS t(j)),
e AS (SELECT doc_id AS id, j, (doc_id % 2 = 0) AS isvtt,
        (doc_id*7 + j*3)*1000 + doc_id % 1000 AS sms FROM c)
SELECT id, (j + CASE WHEN isvtt THEN 1 ELSE 0 END)::BIGINT AS cue_idx,
  sms::BIGINT AS start_ms, (sms + 2000 + j*500)::BIGINT AS end_ms,
  'line one of cue ' || j || ' and doc ' || id || ' line two' AS text
FROM e ORDER BY id, cue_idx""")),

    // P167 — EXIF-orientation-normalized dedup (what p165's
    // orientation column is FOR: a phone photo stored rotated with
    // orientation=6 and its upright twin are the same image, but
    // their raw dHashes differ in ~half the bits — orientation-blind
    // dedup misses every rotated duplicate): normalizeOrientation
    // decodes, reads the EXIF tag, applies the display transform
    // (all 8 JEITA values — rotations, flips, transposes), re-encodes
    // PNG losslessly; the SHARED dHash + hamming join then pairs the
    // stored-rotated capture with its upright twin at distance 0.
    // The fixture's cell design makes every dHash comparison decisive
    // by >= 80 gray levels, so single-JPEG DC error cannot flip a
    // bit — the pairing is exact by construction, not by tolerance.
    // Lanes cycle orientations 2/3/5/6/7/8 over the %3==2 docs.
    // Rebuild: materializes the hash self-join side (SelfJoinMaterialize).
    QueryKey("p167_exif_orientation", Rebuild, (s, dir) => {
      import s.implicits._
      val lanes = Seq(2, 3, 5, 6, 7, 8)
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          if (id % 3 == 2) {
            val o = lanes(((id / 3) % 6).toInt)
            Seq((id * 10, Multimodal.orientJpeg(id, 1)),
              (id * 10 + 1, Multimodal.orientJpeg(id, o)))
          } else Nil
        }.toDF("id", "payload")
      val normalized = imgs.select(col("id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, p) =>
          Multimodal.normalizeOrientation(p).map((id, _))
        }).toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, normalized))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 2 ORDER BY id_a, id_b""")),

    // P166 — ID3v2 text frames (the audio twin of the EXIF walk:
    // title/artist/album are what audio-corpus curation joins on):
    // pure-JDK tag walk over BOTH tag versions (halves ride v2.4
    // syncsafe frame sizes and v2.3 plain 32-bit — a real-world
    // divergence) and all FOUR text encodings (ISO-8859-1 / UTF-16
    // BOM / UTF-16BE / UTF-8 by id%4); the tag rides in front of real
    // MPEG frames, so the p164 walk and this one read ONE payload.
    // Oracle: every field from the fixture formulas closed-form.
    QueryKey("p166_id3_tags", Prepared, (s, dir) => {
      import s.implicits._
      val audio = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val tag = Multimodal.id3v2(
            ver = if (id % 2 == 0) 4 else 3,
            title = s"Track $id", artist = s"Artist ${id % 50}",
            album = s"Album ${id % 20}", enc = (id % 4).toInt)
          (id, tag ++ Multimodal.generateMp3(nFrames = 2, brIdx = 9,
            srIdx = 0))
        }).toDF("id", "payload")
      Multimodal.id3TagsFrame(s, audio).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id, 'Track ' || doc_id AS title,
  'Artist ' || (doc_id % 50) AS artist,
  'Album ' || (doc_id % 20) AS album
FROM documents ORDER BY id""")),

    // P165 — JPEG EXIF metadata (the columns image-corpus curation
    // filters and joins on — orientation for decode-free rotation
    // normalization, capture time, camera make/model; LAION-class
    // datasets ship them): pure-JDK marker-segment walk to the APP1
    // Exif payload, then the TIFF IFD0 inside — BOTH byte orders
    // (halves ride II and MM), ASCII values in BOTH storage shapes
    // (make > 4 bytes at a TIFF offset, model <= 4 inline), the
    // orientation SHORT endian-sensitive. The same payload still
    // decodes through imageio (APP1 is skippable), so metadata and
    // the dHash family read one artifact. Oracle: every field from
    // the fixture formulas closed-form.
    QueryKey("p165_jpeg_exif", Prepared, (s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val dt = f"2026:08:${1 + id % 28}%02d ${id % 24}%02d:00:00"
          (id, Multimodal.jpegWithExif(id, (1 + id % 8).toInt, dt,
            s"Cam${id % 5}", s"M${id % 7}", id % 2 == 0))
        }).toDF("id", "payload")
      Multimodal.jpegExifFrame(s, imgs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id, (1 + doc_id % 8)::BIGINT AS orientation,
  '2026:08:' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') || ' '
    || lpad((doc_id % 24)::VARCHAR, 2, '0') || ':00:00' AS datetime,
  'Cam' || (doc_id % 5) AS make,
  'M' || (doc_id % 7) AS model
FROM documents ORDER BY id""")),

    // P163 — crawl-to-PDF-image composition (closes the loop the two
    // doors opened separately: p111 proved byte-exact binary transit
    // for PNG payloads, p124 the crawl→PDF TEXT pipeline, p161 the
    // PDF→image edge — this rides the p161 fixture PDFs as
    // application/pdf BINARY response payloads through a real
    // .warc.gz round-trip and runs extractImages on the RECOVERED
    // body_bytes): a UTF-8 decode anywhere in transit corrupts the
    // JPEG inside the PDF inside the WARC, dHash gives None, and the
    // pairs vanish — so hash-matching p161's oracle proves the whole
    // chain. Scale shape inherits all three parents': one task per
    // segment, payloads never cross a shuffle.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p163_warc_pdf_images", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-pdfimg-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      // Same single-encode discipline as p161: one JPEG per doc rides
      // both doors from one closure evaluation, localCheckpoint'ed so
      // neither consumer re-runs the encoder (advice-caught).
      val lanes = base.mapPartitions(_.flatMap { case (id, t) =>
        if (id % 3 == 0) {
          val jpeg = Multimodal.dhashImageJpeg(id)
          Iterator(
            (0, id * 10, jpeg),
            (1, id, Pdf.fixturePdfImage(id, t, jpeg, (id % 2).toInt)))
        } else Iterator.empty
      }).toDF("tag", "id", "payload").localCheckpoint()
      val standalone = lanes.where(col("tag") === 0)
        .select("id", "payload")
      val pdfs = lanes.where(col("tag") === 1).select("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      val embedded = Pdf.extractImages(recovered)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 0 ORDER BY id_a, id_b""")),

    // P153 — PDF 1.5 cross-reference-stream trailers (the r17
    // verdict's missing-list #3: the normal Acrobat 7+ output has NO
    // classical `trailer` keyword — /Root, /ID, and /Encrypt live in
    // the /Type /XRef stream's dict, reached via startxref; an
    // encrypted xref-stream file previously never found its /Encrypt
    // and silently yielded no text). Thirds of the corpus ride plain
    // / RC4-128 / AES-128 lanes; every file also routes page+font
    // dicts through an ObjStm AND writes its XRef entries with PNG
    // Predictor 12 (real entry values, /W [1 4 2]) — so trailer
    // resolution, predictor decode, ObjStm expansion, and per-object
    // decryption all compose. Oracle: the closed-form CID re-typeset,
    // n_streams 4 (content + CMap + ObjStm + XRef).
    QueryKey("p153_pdf_xrefstream", Prepared, (s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfXrefStream(id, t, (id % 3) match {
            case 1 => Some(false)
            case 2 => Some(true)
            case _ => None
          }))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 4::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""")),

    // P152 — WebP container metadata (the r17 verdict's #5:
    // javax.imageio is blind to WebP, so the web's now-dominant image
    // format skipped the image family SILENTLY): the RIFF walk reads
    // dims/alpha/animation from all three container shapes — simple
    // lossy VP8 (keyframe header), simple lossless VP8L (packed
    // 14+14-bit dims + alpha bit), extended VP8X (24-bit canvas,
    // flag bits, ALPH chunk, ANMF frame count; the walk must NOT
    // descend into ANMF payloads whose embedded frames carry wrong
    // dims). Pixel decode stays documented out (no pure-JDK VP8
    // path); exact-byte near-dup rides the content-hash family.
    // Oracle re-derives every field from the fixture's closed form.
    QueryKey("p152_webp_metadata", Prepared, (s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.generateWebp(id, (id % 4).toInt))))
        .toDF("id", "payload")
      Multimodal.webpMetadataFrame(s, imgs).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  CASE doc_id % 4 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
       ELSE 'vp8x' END AS format,
  (16 + (doc_id * 7) % 240)::BIGINT AS width,
  (16 + (doc_id * 13) % 180)::BIGINT AS height,
  CASE WHEN doc_id % 4 = 0 THEN FALSE
       WHEN doc_id % 4 = 2 THEN TRUE
       ELSE doc_id % 3 = 0 END AS has_alpha,
  doc_id % 4 = 3 AS is_animated,
  (CASE WHEN doc_id % 4 = 3 THEN 2 + doc_id % 3 ELSE 0 END)::BIGINT
    AS n_frames
FROM documents ORDER BY id""")),

    // P129 — MP4/ISO-BMFF container metadata (the front half of video
    // curation: clip length, track layout, codec allowlist — filtered
    // BEFORE any decode; frame decode for inter-frame codecs stays
    // documented out): version-0 box-tree walk over deterministic
    // fixture MP4s, one row per track. The oracle re-derives brand,
    // exact-div durations, track layout, and sample counts from the
    // fixture arithmetic — a box-offset slip anywhere changes rows.
    QueryKey("p129_mp4_metadata", Prepared, (s, dir) => {
      import s.implicits._
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4(d))))
        .toDF("id", "payload")
      Mp4.containerMeta(vids).orderBy("id", "track_id")
    }, oracle = Some(Mp4MetaOracle)),

    // P148 — 64-bit MP4 (the >4 GB capture shape): the SAME metadata
    // formula carried in version-1 mvhd/tkhd/mdhd (64-bit times), co64
    // offset boxes, and a size==1 LARGESIZE mdat — p129's oracle is
    // shared verbatim, so the v1 parse must agree with the v0 parse
    // row-for-row or the hash diverges.
    QueryKey("p148_mp4_64bit", Prepared, (s, dir) => {
      import s.implicits._
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4V1(d))))
        .toDF("id", "payload")
      Mp4.containerMeta(vids).orderBy("id", "track_id")
    }, oracle = Some(Mp4MetaOracle)),

    // P130 — crawl-to-video composition (p111's convention for the
    // mp4 door): the SAME fixture MP4s ride as BINARY response
    // payloads (Content-Type video/mp4) through a .warc.gz round-trip
    // and the container walk runs on the RECOVERED body_bytes —
    // hash-matching p129's oracle proves byte-exact binary transit
    // into the video-curation front half.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p130_warc_video", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-mp4-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4(d))))
        .toDF("id", "payload")
      WarcSource.export(vids, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "video/mp4")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Mp4.containerMeta(recovered).orderBy("id", "track_id")
    }, oracle = Some(Mp4MetaOracle))
  )
}
