package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Crawl keys: WARC/WET/WAT ingest, CDX, HTTP decoding and redirects. */
object CrawlKeys {

  val all: Seq[QueryKey] = Seq(
    // P85 — WARC ingest round-trip (ISO 28500 — the Common Crawl
    // format, the first read of every web-scale pipeline): shard the
    // docs into record-gzipped .warc.gz segments on the executors,
    // re-ingest through the parser (one task per file — WARC is not
    // splittable, exactly how production CC jobs parallelize), emit
    // (doc_id from the target URI, status, md5 of the recovered body).
    // The md5 proves byte-exact body round-trip through HTTP framing,
    // Content-Length slicing, and member-gzip.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p85_warc_ingest", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-ingest-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      WarcSource.export(docs(s, dir), out, docsPerFile = 100)
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("status").cast("long").as("status"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, 200::BIGINT AS status, md5(text) AS body_md5
FROM documents ORDER BY doc_id""")),

    // P86 — the crawl-to-corpus composition: WARC segments in, deduped
    // corpus out. The messy-URL fixture rides as each record's
    // WARC-Target-URI; ingest recovers (doc_id from the record id, url,
    // body), canonicalization + keep-best run on the RECOVERED fields
    // (n_chars = length(body) — byte-exact round-trip proven by p85),
    // and the result hash-matches p78's oracle: three operators
    // composed end-to-end, one ground truth.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p86_crawl_dedup", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-crawl-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val withText = messyUrls(docs(s, dir))
        .join(docs(s, dir).select("doc_id", "text"), "doc_id")
      WarcSource.export(withText, out, docsPerFile = 100,
        urlCol = Some("url"))
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          length(col("body")).cast("long").as("n_chars"),
          col("target_uri").as("url"))
      UrlOps.urlDedup(recovered).orderBy("canonical_url")
    }, oracle = Some(UrlDedupOracle)),

    // P91 — WET-to-analysis composition: Common Crawl's extracted-text
    // form (conversion records, payload IS the text) ingested and fed
    // straight into language ID — the realistic front door for the
    // whole text-analysis family. Shares p08's oracle: byte-exact
    // recovery means identical predictions and hit counts.
    // Rebuild: exports the WET fixture it reads.
    QueryKey("p91_wet_langid", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/wet-langid-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      WarcSource.export(docs(s, dir), out, docsPerFile = 100, wet = true)
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("body").as("text"))
      TextAnalysis.languageId(recovered).orderBy("id")
    }, oracle = Some(LangIdOracle)),

    // P93 — CDX index generation (Common Crawl's cc-index): WARC
    // segments in, urlkey-sorted capture index out — SURT urlkey,
    // canonical URL, status, content digest, payload size. Composes
    // the p85 WARC round-trip with the URL layer; the oracle derives
    // every field from the doc table + URL formula independently.
    // Rebuild: exports the WARC fixture it indexes.
    QueryKey("p93_cdx_index", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/cdx-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      WarcSource.export(pageUrls(docs(s, dir)), out, docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxIndex(WarcSource.records(s, out)).orderBy("urlkey")
    }, oracle = Some(CdxOracle)),

    // P131 — incremental re-crawl planning: two .warc.gz crawls of the
    // same sites (B drops %13 pages, rewrites %6, discovers %17 under
    // new ids) indexed with p93's CDX and full-outer diffed on urlkey
    // into added/removed/changed/same. Crawl A additionally captures
    // every %19 page TWICE (a re-crawl within the snapshot, body
    // suffixed " v2") — real CDXes carry multi-capture urlkeys, and
    // the diff must collapse each side to one representative
    // (max digest) before classifying. Both crawls run the REAL
    // export → parse → index chain; the oracle re-derives every
    // urlkey, sha256 digest, max-collapse, and verdict from the doc
    // table alone, so a canonicalization, framing, dedupe, or join
    // slip changes rows.
    // Rebuild: exports the two crawls it diffs.
    QueryKey("p131_crawl_diff", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val tag = dir.replaceAll("[^0-9.]", "")
      val outA = s"/root/repo/target/cdx-diff-a-$tag"
      val outB = s"/root/repo/target/cdx-diff-b-$tag"
      Seq(outA, outB).foreach(o =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(o)))
      val d = docs(s, dir)
      val aDocs = d.unionByName(d.where(pmod(col("doc_id"), lit(19)) === 0)
        .withColumn("text", concat(col("text"), lit(" v2"))))
      WarcSource.export(pageUrls(aDocs), outA, docsPerFile = 100,
        urlCol = Some("url"))
      val bDocs = d.where(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(6)) === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
        .unionByName(d.where(pmod(col("doc_id"), lit(17)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      WarcSource.export(pageUrls(bDocs), outB, docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxDiff(
        WarcSource.cdxIndex(WarcSource.records(s, outA)),
        WarcSource.cdxIndex(WarcSource.records(s, outB)))
        .orderBy("urlkey")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
a0 AS (SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id, text || ' v2' FROM documents WHERE doc_id % 19 = 0),
a AS (SELECT urlkey, max(digest) AS digest FROM (
        SELECT 'com,example-' || (doc_id % 50) || ')/pg/' || doc_id
          || '?a=1&b=2' AS urlkey, sha256(text) AS digest FROM a0)
      GROUP BY urlkey),
b0 AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text || ' updated'
          ELSE text END AS text
       FROM documents WHERE doc_id % 13 <> 0
       UNION ALL
       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0),
b AS (SELECT 'com,example-' || (doc_id % 50) || ')/pg/' || doc_id
        || '?a=1&b=2' AS urlkey, sha256(text) AS digest FROM b0)
SELECT coalesce(a.urlkey, b.urlkey) AS urlkey,
  CASE WHEN a.urlkey IS NULL THEN 'added'
       WHEN b.urlkey IS NULL THEN 'removed'
       WHEN a.digest <> b.digest THEN 'changed' ELSE 'same' END AS status,
  a.digest AS digest_prev, b.digest AS digest_next
FROM a FULL OUTER JOIN b ON a.urlkey = b.urlkey
ORDER BY urlkey""")),

    // P133 — WARC revisit records (ISO 28500 crawl-time dedup): every
    // %9 page is captured TWICE, the second time as a `revisit` record
    // whose payload is headers-only and whose WARC-Payload-Digest
    // carries the referent's sha256 inline. The capture table resolves
    // revisit digests from the header (no join back to the original),
    // and the per-urlkey collapse must land on exactly ONE distinct
    // digest — the dedup signal a re-crawl pipeline reads before any
    // content hash. Oracle re-derives captures, revisit counts, and
    // the collapse from the doc table alone: a header-parse slip, a
    // digest-prefix slip, or a phantom/lost revisit all change rows.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p133_warc_revisit", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val tag = dir.replaceAll("[^0-9.]", "")
      val out = s"/root/repo/target/warc-revisit-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      WarcSource.export(docs(s, dir), out, docsPerFile = 100,
        revisitEvery = 9)
      WarcSource.cdxCaptures(WarcSource.records(s, out))
        .groupBy("urlkey")
        .agg(count(lit(1)).as("n_captures"),
          sum((col("kind") === "revisit").cast("long")).as("n_revisits"),
          countDistinct(col("digest")).as("n_digests"),
          max(col("digest")).as("digest"),
          sum(col("n_bytes")).as("stored_bytes"))
        .orderBy("urlkey")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT 'org,example)/doc/' || doc_id AS urlkey,
  (CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_captures,
  (CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_revisits,
  1::BIGINT AS n_digests,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS stored_bytes
FROM documents ORDER BY urlkey""")),

    // P109 — the end-to-end web pipeline composition: WARC segments of
    // raw HTML pages in → parse → extract text → keep-best URL dedup
    // out. Every stage's fixture behavior is closed-form, so the
    // oracle derives the composed result (per page-group: canonical
    // URL, the doc with the longest EXTRACTED text, capture count)
    // without running any of the stages — framing, extraction, and
    // dedup all have to be right at once.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p109_web_pipeline", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val tag = dir.replaceAll("[^0-9]", "_")
      val out = s"/root/repo/target/webpipe-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val d = docs(s, dir)
      val pages = htmlPages(d).select(col("doc_id"), col("html"))
        .join(messyUrls(d).select("doc_id", "url"), "doc_id")
      WarcSource.export(pages, out, docsPerFile = 100,
        textCol = "html", urlCol = Some("url"))
      val extracted = WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("target_uri").as("url"),
          Html.htmlToText(col("body")).as("text"))
      UrlOps.urlDedup(
        extracted.withColumn("n_chars", length(col("text"))))
        .orderBy("canonical_url")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
n AS (SELECT doc_id,
  len(array_to_string(list_filter(list_transform(
    string_split(regexp_replace(text, '[ \\t\\r\\x{00a0}]+', ' ', 'g'), chr(10)),
    x -> trim(x)), x -> x <> ''), chr(10))) AS norm_len FROM documents),
x AS (SELECT doc_id, doc_id // 3 AS grp,
  2 * (4 + len(doc_id::VARCHAR)) + norm_len + 26 + 12 + 4 AS elen FROM n),
r AS (SELECT *, row_number() OVER (PARTITION BY grp
        ORDER BY elen DESC, doc_id ASC) AS rn,
      count(*) OVER (PARTITION BY grp) AS cnt FROM x)
SELECT 'example-' || (grp % 50) || '.com/Pg/' || grp || '?a=1&b=2'
  AS canonical_url, doc_id AS kept_doc_id, cnt::BIGINT AS n_dups
FROM r WHERE rn = 1 ORDER BY canonical_url""")),

    // P150 — HTTP transport decoding through the WARC front door:
    // real captured HTTP/1.1 responses routinely carry
    // Transfer-Encoding: chunked framing and Content-Encoding:
    // gzip/deflate bodies; without the decode, extracted "text" is
    // hex chunk-size lines or gzip bytes, inherited by every
    // downstream HTML consumer (p92/p127/p137/p143). The fixture
    // cycles doc_id % 5 through identity / chunked / gzip / deflate /
    // chunked+gzip (gzip inside, chunked outside — the order a server
    // applies them), round-trips through export, and md5(body) must
    // equal md5(text) on EVERY lane: the writer's 7-byte chunks force
    // boundaries inside multi-byte UTF-8 sequences, so any framing
    // slip diverges the hash. Scale shape inherits p85's: one task
    // per segment file, decode happens where the bytes land, nothing
    // shuffles.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p150_http_decode", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-transport-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit(""), lit("chunked"), lit("gzip"),
            lit("deflate"), lit("chunked+gzip")),
          (col("doc_id") % 5 + 1).cast("int")).as("enc"))
      WarcSource.export(in, out, docsPerFile = 100,
        transportCol = Some("enc"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 5).as("lane"),
          col("status").cast("long").as("status"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, doc_id % 5 AS lane, 200::BIGINT AS status,
       md5(text) AS body_md5
FROM documents ORDER BY doc_id""")),

    // P159 — zstd Content-Encoding at the WARC front door (the r18
    // verdict's #1 remaining real-capture gap): lanes by doc_id % 3
    // ride identity / zstd / chunked+zstd through a real .warc.gz
    // round-trip and must hash-match the undecorated doc table —
    // zstd-jni is already on every Spark classpath (Spark's own
    // shuffle compression), zero new dependencies. Brotli (`br`)
    // remains DOCUMENTED OUT (no pure-JDK decoder and no
    // org.brotli:dec on this classpath) and is spec-pinned to the
    // unknown-coding degrade: raw bytes kept, text suppressed.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p159_content_codings", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-zstd-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit(""), lit("zstd"), lit("chunked+zstd")),
          (col("doc_id") % 3 + 1).cast("int")).as("enc"))
      WarcSource.export(in, out, docsPerFile = 100,
        transportCol = Some("enc"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 3).as("lane"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, doc_id % 3 AS lane, md5(text) AS body_md5
FROM documents ORDER BY doc_id""")),

    // P140 — WAT sidecar generation (completes the WARC/WAT/WET
    // artifact triple a crawl publishes; WARC p85, WET p91, CDX p93):
    // html pages ride a .warc.gz crawl, watRecords emits the
    // per-response JSON envelope (WARC header metadata + HTTP response
    // metadata + title and RAW outlinks for HTML payloads) as pure
    // codegen'd to_json Column work, watExport writes .warc.wat.gz
    // metadata records (WARC-Refers-To the response), and the SAME
    // records() front door parses them back. The oracle re-derives the
    // complete JSON byte-for-byte from the fixture formula — envelope
    // shape, field order, link order, and the href-walk's raw
    // extraction semantics (quoted/unquoted, fragment stop) all pinned.
    // Rebuild: exports the WARC fixture and its WAT sidecars.
    QueryKey("p140_wat", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val tag = dir.replaceAll("[^0-9.]", "")
      val warcOut = s"/root/repo/target/warc-wat-src-$tag"
      val watOut = s"/root/repo/target/warc-wat-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warcOut))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(watOut))
      WarcSource.export(htmlPages(docs(s, dir)), warcOut,
        idCol = "doc_id", textCol = "html", urlCol = Some("url"),
        mime = "text/html; charset=utf-8")
      WarcSource.watExport(
        WarcSource.watRecords(WarcSource.records(s, warcOut)), watOut)
      WarcSource.records(s, watOut)
        .where(col("warc_type") === "metadata")
        .select(
          regexp_extract(col("refers_to"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("target_uri"), col("body").as("wat"))
        .orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id,
  'https://www.Example-' || (doc_id % 50) || '.com/Pg/' || doc_id
    || '/?b=2&a=1' AS uri,
  'https://Example-' || ((doc_id + 1) % 50) || '.com/Pg/' || (doc_id + 1)
    || '?b=2&a=1&utm_source=x' AS l1,
  '/Pg/' || (doc_id * 7 + 3) || '/?b=2&a=1&gclid=g' AS l2,
  '/Pg/' || (doc_id * 3 + 1) || '?b=2&a=1' AS l3,
  'Sub/' || doc_id || '?b=2&a=1' AS l4
 FROM documents)
SELECT doc_id AS id, uri AS target_uri,
  '{"Envelope":{"Format":"WARC","WARC-Header-Metadata":{"WARC-Type":"response","WARC-Target-URI":"'
  || uri || '","WARC-Record-ID":"<urn:graft:doc:' || doc_id
  || '>"},"Payload-Metadata":{"Actual-Content-Type":"application/http; msgtype=response","HTTP-Response-Metadata":{"Response-Message":{"Status":"200"},"Headers":{"Content-Type":"text/html; charset=utf-8"},"HTML-Metadata":{"Head":{"Title":"Doc '
  || doc_id || '"},"Links":[{"path":"A@/href","url":"' || l1
  || '"},{"path":"A@/href","url":"' || l2
  || '"},{"path":"A@/href","url":"' || l3
  || '"},{"path":"A@/href","url":"' || l4 || '"}]}}}}}' AS wat
FROM d ORDER BY id""")),

    // P155 — redirect edges (every real crawl is full of 3xx
    // captures; URL dedup collapses chains against them and frontiers
    // follow them): response records with a redirect status and a
    // Location header become (src, dst, status) edges, the target
    // resolved per RFC 9110 (relative Locations are legal and common)
    // through the link graph's own resolution + canonicalization.
    // Quarters of the corpus ride 200-no-edge / 301 absolute /
    // 302 root-relative / 308 path-relative (../ folding
    // load-bearing); the oracle re-derives each edge closed-form.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p155_redirect_edges", Rebuild, (s, dir) => {
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-redirect-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit("200 OK"), lit("301 Moved Permanently"),
            lit("302 Found"), lit("308 Permanent Redirect")),
          (col("doc_id") % 4 + 1).cast("int")).as("st"),
        element_at(array(lit(""),
            concat(lit("Location: https://example.org/doc/"),
              col("doc_id"), lit("-new")),
            concat(lit("Location: /moved/"), col("doc_id")),
            concat(lit("Location: ../r/"), col("doc_id"))),
          (col("doc_id") % 4 + 1).cast("int")).as("loc"))
      WarcSource.export(in, out, docsPerFile = 100,
        statusCol = Some("st"), httpHeaderCol = Some("loc"))
      WarcSource.redirectEdges(WarcSource.records(s, out))
        .select(
          regexp_extract(col("src_url"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("src_url"), col("dst_url"), col("status"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  'example.org/doc/' || doc_id AS src_url,
  CASE doc_id % 4
    WHEN 1 THEN 'example.org/doc/' || doc_id || '-new'
    WHEN 2 THEN 'example.org/moved/' || doc_id
    ELSE 'example.org/r/' || doc_id
  END AS dst_url,
  (CASE doc_id % 4 WHEN 1 THEN 301 WHEN 2 THEN 302
    ELSE 308 END)::BIGINT AS status
FROM documents WHERE doc_id % 4 <> 0 ORDER BY doc_id""")),

    // P156 — redirect-chain collapse (p155's companion: a crawl
    // captures EVERY hop of a moved page, and URL dedup must key on
    // the chain's END): pointer doubling over the edge list —
    // ⌈log₂ maxHops⌉ self-joins, not one shuffle per hop. The fixture
    // builds 1/2/3-hop chains from the doc table (u_{id} → u_{id-1} →
    // … → f_{root}); the oracle computes each chain's root in closed
    // form, so a doubling slip (off-by-one hop, lost terminal) breaks
    // most rows.
    // Rebuild: iterates redirect hops to a fixed point.
    QueryKey("p156_redirect_collapse", Rebuild, (s, dir) => {
      val base = docs(s, dir).where(col("doc_id") % 4 =!= 0)
      val edges = base.select(
        concat(lit("u"), col("doc_id")).as("src_url"),
        when(col("doc_id") % 4 === 1, concat(lit("f"), col("doc_id")))
          .otherwise(concat(lit("u"), col("doc_id") - 1)).as("dst_url"))
      UrlOps.collapseRedirects(edges)
        .select(
          regexp_extract(col("src_url"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("src_url"), col("final_url"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, 'u' || doc_id AS src_url,
  'f' || (doc_id - (doc_id % 4) + 1) AS final_url
FROM documents WHERE doc_id % 4 <> 0 ORDER BY doc_id""")),

    // P154 — HTTP charset decoding (the web is not all UTF-8: legacy
    // pages declare ISO-8859-1 / windows-1252 in the Content-Type
    // header or ONLY in a <meta> tag, and UTF-16 pages lead with a
    // BOM; a blind UTF-8 decode turns every accented char into
    // U+FFFD). Fifths of the corpus ride utf-8 / header-declared
    // latin-1 (+" café", 0xE9 is invalid alone in UTF-8) /
    // header-declared cp1252 (+" €uro", 0x80) / BOM'd UTF-16LE with
    // NO charset param (+" 𝄞", supplementary plane) / html with the
    // charset ONLY in <meta> (HTML5 prescan). The oracle builds each
    // decoded body closed-form — any precedence or decode slip
    // diverges md5 on a fifth of the rows.
    // Rebuild: exports the WARC fixture it reads.
    QueryKey("p154_charset_decode", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = s"/root/repo/target/warc-charset-${dir.replaceAll("[^0-9.]", "")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val in = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val (payload, mime) = (id % 5) match {
            case 0 => (t.getBytes("UTF-8"), "text/plain; charset=utf-8")
            case 1 => ((t + " café").getBytes("ISO-8859-1"),
              "text/plain; charset=iso-8859-1")
            case 2 => ((t + " €uro").getBytes("windows-1252"),
              "text/plain; charset=windows-1252")
            case 3 => (Array(0xFF.toByte, 0xFE.toByte) ++
              (t + " 𝄞").getBytes("UTF-16LE"), "text/plain")
            case _ =>
              val html = "<html><head><meta charset=\"windows-1252\">" +
                "<title>t</title></head><body>" + t + " €</body></html>"
              (html.getBytes("windows-1252"), "text/html")
          }
          (id, payload, mime)
        }).toDF("id", "payload", "mime")
      WarcSource.export(in, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mimeCol = Some("mime"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 5).as("lane"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
e AS (SELECT doc_id, doc_id % 5 AS lane,
  CASE doc_id % 5
    WHEN 0 THEN text
    WHEN 1 THEN text || ' café'
    WHEN 2 THEN text || ' €uro'
    WHEN 3 THEN text || ' 𝄞'
    ELSE '<html><head><meta charset="windows-1252"><title>t</title></head><body>'
      || text || ' €</body></html>'
  END AS body FROM documents)
SELECT doc_id, lane, md5(body) AS body_md5 FROM e ORDER BY doc_id""")),

    // P135 — CDX point lookup (the serving read of the p93 index):
    // the crawl publishes its urlkey-SORTED index once; a driver-sized
    // request batch of URLs — every %11 page in a FRESH spelling
    // (scheme case, www, :443, unsorted params, fragment: must
    // canonicalize to the captured key) plus guaranteed misses — probes
    // it through the zone-map literal discipline (range conjunct pushed
    // into the parquet scan + native set probe). The oracle re-derives
    // exactly the %11 hit rows; a canonicalization slip at EITHER end,
    // a probe leak, or a phantom miss-row all change rows.
    // Rebuild: exports and indexes the WARC fixture and collects the index.
    QueryKey("p135_cdx_lookup", Rebuild, (s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val tag = dir.replaceAll("[^0-9.]", "")
      val out = s"/root/repo/target/cdx-lookup-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val d = docs(s, dir)
      WarcSource.export(pageUrls(d), s"$out/warc", docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxIndex(WarcSource.records(s, s"$out/warc"))
        .orderBy("urlkey").write.parquet(s"$out/index")
      val index = s.read.parquet(s"$out/index")
      // the request batch is BOUNDED (first 64 hit ids) — a point-
      // lookup API's batch is constant-sized by contract, never
      // corpus-proportional, so the driver collect and the literal
      // probe stay O(1) at every SF (at sf0.01 all ~46 %11 ids fit,
      // so the oracle rows are unchanged)
      val hitIds = d.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id")).orderBy("doc_id").limit(64)
        .as[Long].collect().toSeq
      val urls = hitIds.map(i =>
        s"HTTPS://WWW.Example-${i % 50}.com:443/Pg/$i?b=2&a=1#frag") ++
        hitIds.map(i => s"https://example-${i % 50}.com/Pg/${i + 1000000}")
      WarcSource.cdxLookup(index, urls).orderBy("urlkey")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
hits AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
         ORDER BY doc_id LIMIT 64)
SELECT
  'com,example-' || (doc_id % 50) || ')/pg/' || doc_id || '?a=1&b=2' AS urlkey,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS url,
  200::BIGINT AS status,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS n_bytes
FROM hits ORDER BY urlkey"""))
  )
}
