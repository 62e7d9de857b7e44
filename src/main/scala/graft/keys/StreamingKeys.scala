package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Structured Streaming keys: drains, windows and streaming twins. */
object StreamingKeys {

  val all: Seq[QueryKey] = Seq(
    // P15c/P22+, key p42_streaming_curation — the curation pre-pass as a
    // STREAM: clean → redact are stateless projections, so the exact
    // operator code runs under Structured Streaming unchanged. The key
    // drains the documents table (p23's dirt + p24's PII planted)
    // through a file readStream into a memory sink with AvailableNow,
    // and must hash-match a BATCH-derived oracle — the strongest
    // statement that batch and streaming curation agree.
    // Rebuild: drains a file stream into a memory sink.
    QueryKey("p42_streaming_curation", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
      val dirty = stream.withColumn("text",
        concat(lit("  "), col("text"),
          when(col("doc_id") % 10 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567 now"))).otherwise(lit("")),
          lit("\t mid  gap \u0007\u0007 end  ")))
      val out = TextAnalysis.redacted(
        TextAnalysis.cleaned(dirty), textCol = "clean_text", idCol = "id")
      val name = "p42_curation_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
    '  ' || text
    || CASE WHEN doc_id % 10 = 0
         THEN ' contact u' || doc_id || '@example.com or 555-123-4567 now'
         ELSE '' END
    || chr(9) || ' mid  gap ' || chr(7) || chr(7) || ' end  ' AS text
  FROM documents),
cl AS (SELECT doc_id, trim(regexp_replace(regexp_replace(text,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
    '\\s+', ' ', 'g')) AS ct
  FROM dirty)
SELECT doc_id AS id,
  regexp_replace(regexp_replace(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted_text,
  len(regexp_extract_all(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(ct,
    '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
FROM cl ORDER BY id""")),

    // P29+P30 under Structured Streaming, key p45_streaming_gopher —
    // p42 proved clean→redact runs unchanged as a stream; this does the
    // same for the OTHER curation chain: the fused line-filter→Gopher
    // scan (p43's exact operator composition and planting) drains the
    // documents table through a file readStream and must hash-match the
    // batch-derived oracle. Both stages are stateless projections, so
    // the micro-batch plan is the same single fused scan as batch.
    // Rebuild: drains a file stream into a memory sink.
    QueryKey("p45_streaming_gopher", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
      val planted = stream.withColumn("text",
        concat(col("text"), lit("."),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit(""))))
      val out = TextAnalysis.gopherRules(
        TextAnalysis.lineFilter(planted),
        textCol = "filtered_text", idCol = "id", stopwords = Seq("the", "a"))
      val name = "p45_gopher_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(CurationChainOracle)),

    // P15+/P1+++, key p53_streaming_incremental — the continual-refresh
    // frontier AS A STREAM: new documents arrive continuously and are
    // checked against the static curated corpus by a stream-static
    // hash-equi join (the production continuous-ingestion filter; the
    // corpus side again contributes only distinct hashes). Within-batch
    // dedup is omitted by design — it is arrival-order-dependent under
    // streaming, while corpus membership is order-free, so THIS is the
    // exactly-reproducible projection of p49 (same fixture, same
    // in_corpus values, hash-matched to a batch-derived oracle).
    // Rebuild: drains a file stream into a memory sink.
    QueryKey("p53_streaming_incremental", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
        .select("doc_id", "text")
      val staticD = docs(s, dir)
        .select(col("doc_id").as("nid"), col("text").as("ntext"))
      val corpusHashes = docs(s, dir).where(col("doc_id") % 3 =!= 0)
        .select(md5(col("text")).as("h")).distinct()
        .withColumn("hit", lit(true))
      val planted = stream.where(col("doc_id") % 3 === 0).as("b")
        .join(staticD, col("nid") === col("b.doc_id") + 1, "left")
        .select(col("b.doc_id").as("doc_id"),
          when(col("b.doc_id") % 6 === 0,
            coalesce(col("ntext"), col("b.text")))
            .otherwise(col("b.text")).as("text"))
      val batch = planted.unionAll(planted.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val out = batch.select(col("doc_id").as("id"), md5(col("text")).as("h"))
        .join(corpusHashes, Seq("h"), "left")
        .select(col("id"), coalesce(col("hit"), lit(false)).as("in_corpus"))
      val name = "p53_incr_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(s"""WITH $IncrementalFixtureSql,
ch AS (SELECT DISTINCT md5(text) AS h FROM corpus)
SELECT doc_id AS id, md5(text) IN (SELECT h FROM ch) AS in_corpus
FROM batch ORDER BY id""")),

    // P15++/P22+++, key p58_streaming_pipeline — the WHOLE p50 curation
    // pipeline as a STREAM, closing the one stage p42/p45 couldn't
    // cover: stages 1-4 are the same stateless fused scan, and the
    // final exact dedup becomes a hash-keyed streaming AGGREGATION
    // (running min-id/count per content hash — the production
    // continuous-curation shape, update-mode state O(distinct hashes)).
    // Same planting, same batch oracle as p50: batch ≡ streaming for
    // the full five-stage pipeline, dedup included.
    // Rebuild: drains a file stream into a memory sink.
    QueryKey("p58_streaming_pipeline", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema).parquet(streamDir))
      val out = Corpus.curationDedupAgg(
        Corpus.curationStages(pipelinePlanted(stream),
          stopwords = Seq("the", "a")))
      val name = "p58_pipe_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).orderBy("id")
    }, oracle = Some(CurationPipelineOracle)),

    // P78+, key p81_streaming_url_dedup — the crawl-frontier twin of
    // p78 (the p58/p67/p73/p75 batch≡streaming convention): captures
    // arrive in micro-batches, the canonical-URL keep-best state is a
    // STREAMING aggregation in update mode (each batch emits only the
    // canonical URLs it changed — O(delta), the upsert-sink contract;
    // the struct-argmax min and the count both fold associatively, so
    // the state store holds one row per canonical URL). Final state =
    // each group's last update, identifiable because an update always
    // reflects at least one more capture (n_dups strictly grows).
    // Hash-matches p78's batch oracle on the same corpus.
    // Rebuild: drains a file stream into an update-mode memory sink.
    QueryKey("p81_streaming_url_dedup", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsSplitDir(s, dir, parts = 2)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir))
      val agg = UrlOps.urlDedup(messyUrls(stream))
      val name = "p81_url_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      foldUpdates(s, name, "canonical_url").orderBy("canonical_url")
    }, oracle = Some(UrlDedupOracle)),

    // P106 — streaming sketch maintenance: the HLL registers are a
    // stateful streaming aggregation whose state is BOUNDED at m rows
    // (unlike corpus-sized dedup state) — complete-mode drain is the
    // honest shape here. Final registers must estimate BIT-IDENTICALLY
    // to the batch sketch: SHARES p103's oracle, completing the sketch
    // story (batch p103, shard-merge p105, streaming p106).
    // Rebuild: drains a file stream into a memory sink.
    QueryKey("p106_streaming_sketch", Rebuild, (s, dir) => withStreamShuffle(s) {
      import org.apache.spark.sql.streaming.Trigger
      import graft.functions.{TextFunctions => TF}
      val (streamDir, tag) = streamingDocsDir(dir)
      val d = docs(s, dir)
      val stream = spreadStream(
        s.readStream.schema(d.schema).parquet(streamDir))
      val shingles = stream.select(
        explode(TF.shingles(TF.tokens(col("text")), 3)).as("v"))
      val name = "p106_hll_" + tag
      val q = Sketches.hllRegisters(shingles, "v", m = 64)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Sketches.hllEstimateFromRegisters(s.table(name), m = 64)
        .crossJoin(d.select(
          explode(TF.shingles(TF.tokens(col("text")), 3)).as("v"))
          .agg(countDistinct(col("v")).as("n_exact")))
    }, oracle = Some(HllShingleOracle)),

    // P110 — streaming CDX maintenance: a live crawl keeps its capture
    // index current as segments land — cdxIndex is a STATELESS
    // projection over the record stream (append mode, no state store);
    // the urlkey sort that makes the batch index binary-searchable
    // happens at publication (here: the table read). SHARES p93's
    // oracle — the streamed index must equal the batch index row for
    // row.
    // Rebuild: drains the WARC stream into a memory sink.
    QueryKey("p110_streaming_cdx", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.sources.WarcSource
      // WARC segment spool is a pure function of the corpus — written
      // once per sf dir (spooledOnce), so each call measures the DRAIN,
      // not a repeated batch export (r21, r20-verdict #5)
      val (out, tag) = spooledOnce(dir, "cdx-stream") { o =>
        WarcSource.export(pageUrls(docs(s, dir)), o, docsPerFile = 100,
          urlCol = Some("url"))
      }
      val name = "p110_cdx_" + tag
      val q = WarcSource.cdxIndex(WarcSource.recordsStream(s, out))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("urlkey")
    }, oracle = Some(CdxOracle)),

    // P99 — streaming crawl ingest: WET segments arrive as a file
    // stream (the live-crawl shape), parse + language ID run
    // stateless per micro-batch. SHARES p08's oracle — the
    // batch ≡ streaming hash-match convention (p58/p67/p73).
    // Rebuild: drains the WET stream into a memory sink.
    QueryKey("p99_streaming_wet", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.sources.WarcSource
      // once-per-corpus WET spool (r21, r20-verdict #5) — see p110
      val (out, tag) = spooledOnce(dir, "wet-stream") { o =>
        WarcSource.export(docs(s, dir), o, docsPerFile = 100, wet = true)
      }
      val recovered = WarcSource.recordsStream(s, out)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("body").as("text"))
      val name = "p99_wet_" + tag
      val q = TextAnalysis.languageId(recovered)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(LangIdOracle)),

    // P15+++/P22++++, key p75_streaming_update_dedup — p58's UPDATE-mode
    // drain twin: the continuous-pipeline shape. Complete mode re-emits
    // the WHOLE state every micro-batch (O(state) per batch — fine at
    // fixture scale, wrong at 100 TB); update mode emits only the hash
    // groups each batch CHANGED (O(delta) — the upsert-sink contract).
    // The memory sink therefore accumulates one row per (group, update);
    // the final state is each group's LAST update, recoverable because
    // an emitted update always reflects at least one more member — its
    // n_dups is strictly the group's largest so far. The source is the
    // corpus split into 2 parquet files drained one per micro-batch
    // (maxFilesPerTrigger=1) — the minimum that makes cross-batch group
    // updates genuinely occur, because each micro-batch pays a fixed
    // planning + state-store round (~1.5 s at fixture scale, amortized
    // over batch volume in production); the folded state hash-matches
    // p50's batch oracle (StreamingSpec additionally pins multi-update
    // emission across 4 batches — the mode is exercised, not vacuous).
    // Rebuild: drains a file stream into an update-mode memory sink.
    QueryKey("p75_streaming_update_dedup", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsSplitDir(s, dir, parts = 2)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir))
      val out = Corpus.curationDedupAgg(
        Corpus.curationStages(pipelinePlanted(stream),
          stopwords = Seq("the", "a")))
      val name = "p75_upd_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      foldUpdates(s, name, "content_hash").orderBy("id")
    }, oracle = Some(CurationPipelineOracle)),

    // P15+P19++ composition, key p67_streaming_dsir — DSIR under
    // Structured Streaming: the bucket models train BATCH-side (the
    // train-once half of continual curation), then the scoring/selection
    // projection — stateless, literal artifacts — filters the document
    // STREAM unchanged. Hash-matches p63's batch oracle, like p42/p45
    // proved for the curation chains.
    // Rebuild: trains the DSIR weights and drains a file stream.
    QueryKey("p67_streaming_dsir", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      // train on the SPREAD batch read (docs) — the raw single-file read
      // would serialize the md5-per-bigram count on one task (r12: the
      // whole key was ~5 s of 1-task training + 4 s of 1-task drain)
      val batch = docs(s, dir)
      val model = Corpus.dsirTrain(batch, isTarget = col("lang") === "en",
        buckets = DsirBuckets)
      val stream = spreadStream(s.readStream.schema(batch.schema).parquet(streamDir))
      val out = Corpus.dsirApply(stream, model, hashMod = 1000003L,
        acceptScale = 0.25)
      val name = "p67_dsir_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(DsirOracle)),

    // P134 — STREAMING ANN serving (the one batch≡streaming family
    // member that was missing): the IVF index is trained and PUBLISHED
    // once (centroids + assigned lists to parquet — the build-side
    // artifact), then a probe STREAM is served batch-by-batch against
    // the static index via foreachBatch (each probe's top-k needs only
    // its own row plus the index — stateless stream-static shape; the
    // per-batch window ranks only that batch's probes). AvailableNow
    // drain hash-matches p17's oracle: train-once, serve-forever.
    // Rebuild: trains the coarse quantizer and drains a file stream.
    QueryKey("p134_streaming_ann", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^0-9]", "_")
      val root = s"/root/repo/target/ann-serve-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val e = embs(s, dir)
      val cents = Ann.trainCentroids(e, nCenters = 16, sampleN = 256,
        iters = 2)
      Ann.ivfIndex(e, cents).write.parquet(s"$root/index")
      val index = s.read.parquet(s"$root/index")
      val p = probes(s, dir)
      p.write.parquet(s"$root/probes")
      val stream = s.readStream.schema(p.schema).parquet(s"$root/probes")
      val q = stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Ann.ivfProbe(index, cents, batch, k = 10, nProbe = 4)
            .write.mode("append").parquet(s"$root/served")
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/served").orderBy("probe_id", "rank")
    }, oracle = Some(IvfTopKOracle)),

    // P126 — STREAMING sitemap ingest (sitemaps arrive with the crawl,
    // not before it): the same parse over a file stream of sitemap
    // documents, stateless append mode, Trigger.AvailableNow — shares
    // p122's oracle verbatim, so batch ≡ streaming is hash-proven (the
    // p99/p110 convention).
    // Rebuild: drains the sitemap stream into a memory sink.
    QueryKey("p126_streaming_sitemaps", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val sm = sitemapDocs(docs(s, dir))
      // once-per-corpus sitemap-doc spool (r21, r20-verdict #5) — see p110
      val (out, tag) = spooledOnce(dir, "sitemaps-stream") { o =>
        sm.repartition(8).write.mode("overwrite").parquet(o)
      }
      val name = "p126_sitemaps_" + tag
      val q = UrlOps.parseSitemaps(
          s.readStream.schema(sm.schema).parquet(out), siteCol = "site_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("site", "entry_idx")
    }, oracle = Some(SitemapsOracle)),

    // P15 — streaming ingest, driver-visible: the file-based streaming
    // source drained through the stateful gap-sessionizer into a memory
    // sink (Trigger.AvailableNow). With NoTimeout, exactly the sessions
    // closed by an IN-BATCH gap emit — i.e. every session except each
    // user's last — which is what the oracle mirrors (the timeout paths
    // are exercised e2e in StreamingSpec, where file arrival order is
    // controlled).
    // Rebuild: drains the event stream into a memory sink.
    QueryKey("p15_streaming", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}
      // file streaming sources need a DIRECTORY; symlink the single file
      val (streamDir, tag) = streamingSourceDir(dir, "events.parquet")
      val stream = graft.streaming.EventStream.read(s, streamDir)
      val name = "p15_sessions_" + tag
      // per-USER session state grows with the user population —
      // corpus-scale, the same class as p58/p75/p81's dedup state, so
      // it runs under the RocksDB + changelog-commit posture too (r20;
      // previously HDFS-backed, whose per-batch full-map copy + commit
      // was the drain's largest slice in the StreamProbe breakdown)
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = graft.streaming.EventStream
          .sessionize(s, stream, gapMinutes = 30, timeout = GroupStateTimeout.NoTimeout())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).select(col("user_id"), col("session_idx"), col("n_events"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_idx")
    }, oracle = Some(s"""WITH $eventsCte,
e AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
f AS (SELECT *, CASE WHEN prev_ts IS NULL
        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        THEN 1 ELSE 0 END AS is_new FROM e),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx FROM f),
sess AS (
  SELECT user_id, session_idx, count(*) AS n_events,
    epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
    round(sum(value), 4) AS total_value
  FROM g GROUP BY user_id, session_idx)
SELECT user_id, session_idx, n_events, start_us, end_us, total_value
FROM (SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS last_idx FROM sess)
WHERE session_idx < last_idx
ORDER BY user_id, session_idx""")),

    // P15b — the full streaming pipeline (watermarked event-id dedup →
    // tumbling windowed agg) in APPEND mode: only windows finalized by the
    // watermark emit (window_end <= max_event_time - delay), which the
    // oracle mirrors. n_users is HLL-approximate in streaming state and is
    // deliberately excluded from the compared columns.
    // Rebuild: drains the event stream into a memory sink.
    QueryKey("p18_streaming_windows", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingSourceDir(dir, "events.parquet")
      val stream = graft.streaming.EventStream.read(s, streamDir)
      val name = "p18_windows_" + tag
      // per-EVENT-ID dedup state is corpus-scale (it grows with the
      // stream, exactly p58/p75/p81's class) — RocksDB + changelog
      // commit, not the heap-bounded HDFS store (r20; the HDFS store's
      // summed state commit was 3-22 s/batch in the StreamProbe runs)
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = graft.streaming.EventStream
          .windowedCounts(graft.streaming.EventStream.deduped(stream),
            widthMinutes = 60, watermark = "")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).select(
        unix_micros(col("window_start")).as("window_us"),
        col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_us", "event_type")
    }, oracle = Some(s"""WITH $eventsCte
SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
  count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
HAVING (window_us // 1000 + 3600000)
  <= (SELECT epoch_us(max(ts)) // 1000 - 600000 FROM events)
ORDER BY window_us, event_type""")),

    // P13 — gap-based sessionization (30 min).
    QueryKey("p13_sessionize", Prepared, (s, dir) =>
      Sessionize.sessions(events(s, dir), gapMinutes = 30)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("total_value"))
        .orderBy("user_id", "session_idx"),
      oracle = Some(s"""WITH $eventsCte,
e AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
f AS (SELECT *, CASE WHEN prev_ts IS NULL
        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        THEN 1 ELSE 0 END AS is_new FROM e),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx FROM f)
SELECT user_id, session_idx, count(*) AS n_events,
  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
  round(sum(value), 4) AS total_value
FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")),

    // P14 — tumbling 1h window aggregation.
    QueryKey("p14_window_agg", Prepared, (s, dir) =>
      Sessionize.tumblingAgg(events(s, dir), widthMinutes = 60)
        .select(unix_micros(col("window_start")).as("window_us"),
          col("event_type"), col("n_events"), col("n_users"), col("total_value"))
        .orderBy("window_us", "event_type"),
      oracle = Some(s"""WITH $eventsCte
SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
  round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_us, event_type""")),

    // P31++++++, key p73_streaming_perplexity — the CCNet filter's
    // continuous-ingestion shape: models + quantile cutoffs trained
    // ONCE in batch (perplexityTrain), then the stream is scored and
    // bucketed by a stateless projection (perplexityApply) under
    // AvailableNow. Shares p72's oracle — matching hashes prove the
    // frozen-model streaming path equals the batch self-quantile run
    // on the same corpus.
    // Rebuild: trains the perplexity model and drains a file stream.
    QueryKey("p73_streaming_perplexity", Rebuild, (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = streamingDocsDir(dir)
      val batch = docs(s, dir)
      val model = TextAnalysis.perplexityTrain(batch,
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6)
      val stream = spreadStream(s.readStream.schema(batch.schema).parquet(streamDir))
      val out = TextAnalysis.perplexityApply(stream, model)
      val name = "p73_ppl_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }, oracle = Some(PerplexityOracle))
  )
}
