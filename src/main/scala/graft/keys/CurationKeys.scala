package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Curation keys: sampling, mixing, packing, splits and SFT rendering. */
object CurationKeys {

  val all: Seq[QueryKey] = Seq(
    // P19, key p20_stratified_sample — deterministic stratified
    // downsampling: ≤40 docs per language, chosen by md5-hash order;
    // hash-threshold prefilter scaled per stratum (broadcast counts)
    // ahead of the exact rank window.
    QueryKey("p20_stratified_sample", Prepared, (s, dir) =>
      Corpus.stratifiedSample(docs(s, dir).select(col("doc_id"), col("lang")),
        strataCol = "lang", perStratum = SamplePerStratum,
        overSample = SampleOverSample, hashMod = SampleHashMod)
        .select(col("doc_id"), col("lang"), col("n_stratum"), col("sample_rank"))
        .orderBy("lang", "sample_rank"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
cnt AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
h AS (SELECT d.doc_id, d.lang, c.n_stratum,
        ('0x' || substring(md5(d.doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents d JOIN cnt c USING (lang)),
pf AS (SELECT * FROM h
       WHERE hm * n_stratum < $SampleHashMod::BIGINT * ${SamplePerStratum * SampleOverSample}),
r AS (SELECT doc_id, lang, n_stratum,
        row_number() OVER (PARTITION BY lang ORDER BY hm, doc_id)::BIGINT
          AS sample_rank
      FROM pf)
SELECT doc_id, lang, n_stratum, sample_rank FROM r
WHERE sample_rank <= $SamplePerStratum ORDER BY lang, sample_rank""")),

    // P20, key p21_pack — token-budget sequence packing: 512-token packs,
    // 8 shards, contiguous id-order binning within each shard.
    QueryKey("p21_pack", Prepared, (s, dir) =>
      Corpus.packSequences(docs(s, dir), maxTokens = 512, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("cum_tokens"), col("pack_id"))
        .orderBy("doc_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, doc_id % 8 AS shard,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
          AS n_tokens
      FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM t)
SELECT doc_id, shard, n_tokens, cum_tokens,
       (cum_tokens - n_tokens) // 512 AS pack_id
FROM c ORDER BY doc_id""")),

    // P20+, key p52_pack_stats — the packing-efficiency report over
    // p21's packed corpus: docs per pack, fill vs the token budget.
    QueryKey("p52_pack_stats", Prepared, (s, dir) =>
      Corpus.packStats(
        Corpus.packSequences(docs(s, dir), maxTokens = 512, nShards = 8))
        .orderBy("shard", "pack_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, doc_id % 8 AS shard,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
          AS n_tokens
      FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM t),
p AS (SELECT shard, (cum_tokens - n_tokens) // 512 AS pack_id,
        doc_id, n_tokens FROM c)
SELECT shard, pack_id, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS pack_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id""")),

    // Flagship end-to-end key p50_curation_pipeline — the WHOLE curation
    // chain as one composed operator in production order: line filter
    // (+C4 doc drops) → clean → redact → Gopher keep → exact dedup.
    // Plants exercise every stage: dup paragraph (%25, collapses in the
    // final dedup), lorem/braces drops (%10/%7), a PII line that
    // SURVIVES the line filter (%4), and the p43 line-filter fodder.
    QueryKey("p50_curation_pipeline", Prepared, (s, dir) =>
      Corpus.curationPipeline(pipelinePlanted(docs(s, dir)),
        stopwords = Seq("the", "a")).orderBy("id"),
      oracle = Some(CurationPipelineOracle)),

    // P94 — SFT chat rendering + loss-mask spans: conversations
    // flatten to one training string under a fixed template; the char
    // ranges holding ASSISTANT content come out as spans (the loss
    // mask). One narrow scan + explode, zero shuffles; the oracle
    // recomputes every offset from closed-form length arithmetic.
    QueryKey("p94_sft_render", Prepared, (s, dir) =>
      Corpus.sftRender(sftConvs(docs(s, dir)), idCol = "doc_id")
        .orderBy("doc_id", "turn_idx"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
c AS (SELECT doc_id,
  'You are a helpful assistant.' AS c0,
  -- array_to_string([]) is NULL in DuckDB; Spark's array_join is ''
  coalesce(array_to_string(list_slice(tk, 1, 8), ' '), '') AS c1,
  coalesce(array_to_string(list_slice(tk, 9, 20), ' '), '') AS c2,
  coalesce(array_to_string(list_slice(tk, 21, 26), ' '), '') AS c3,
  coalesce(array_to_string(list_slice(tk, 27, 36), ' '), '') AS c4
 FROM t),
l AS (SELECT doc_id, c2, c4,
  len(c0) + 19 AS l0, len(c1) + 17 AS l1, len(c2) + 22 AS l2,
  len(c3) + 17 AS l3, len(c4) + 22 AS l4
 FROM c)
SELECT doc_id, 2::BIGINT AS turn_idx,
  (l0 + l1 + 14)::BIGINT AS span_start,
  (l0 + l1 + 14 + len(c2))::BIGINT AS span_end,
  (l0 + l1 + l2 + l3 + l4)::BIGINT AS n_chars_total
FROM l
UNION ALL
SELECT doc_id, 4, l0 + l1 + l2 + l3 + 14,
  l0 + l1 + l2 + l3 + 14 + len(c4), l0 + l1 + l2 + l3 + l4
FROM l
ORDER BY doc_id, turn_idx""")),

    // P128 — SFT packing with remapped loss masks (p94 x p21, the
    // actual trainer input): conversations pack into 2048-char budget
    // bins per shard (packSequences topology) and every assistant span
    // shifts by its conversation's offset within the pack. The oracle
    // re-derives render lengths, the running-sum pack assignment, the
    // per-pack offsets, and both span arms from scratch — an
    // off-by-one anywhere trains the loss on the wrong bytes and
    // changes rows.
    QueryKey("p128_sft_packing", Prepared, (s, dir) =>
      Corpus.sftPack(sftConvs(docs(s, dir)), budget = 2048,
        idCol = "doc_id")
        .orderBy("doc_id", "turn_idx"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
c AS (SELECT doc_id,
  'You are a helpful assistant.' AS c0,
  coalesce(array_to_string(list_slice(tk, 1, 8), ' '), '') AS c1,
  coalesce(array_to_string(list_slice(tk, 9, 20), ' '), '') AS c2,
  coalesce(array_to_string(list_slice(tk, 21, 26), ' '), '') AS c3,
  coalesce(array_to_string(list_slice(tk, 27, 36), ' '), '') AS c4
 FROM t),
l AS (SELECT doc_id, c2, c4,
  len(c0) + 19 AS l0, len(c1) + 17 AS l1, len(c2) + 22 AS l2,
  len(c3) + 17 AS l3, len(c4) + 22 AS l4
 FROM c),
conv AS (SELECT doc_id, doc_id % 8 AS shard,
  (l0 + l1 + l2 + l3 + l4)::BIGINT AS n, l0, l1, l2, l3, c2, c4 FROM l),
pk AS (SELECT *, (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM conv),
p2 AS (SELECT *, (cum - n) // 2048 AS pack_id FROM pk),
p3 AS (SELECT *, (cum - n) - min(cum - n)
        OVER (PARTITION BY shard, pack_id) AS off FROM p2)
SELECT doc_id, shard::BIGINT AS shard, pack_id::BIGINT AS pack_id,
  2::BIGINT AS turn_idx,
  (off + l0 + l1 + 14)::BIGINT AS mask_start,
  (off + l0 + l1 + 14 + len(c2))::BIGINT AS mask_end
FROM p3
UNION ALL
SELECT doc_id, shard, pack_id, 4, off + l0 + l1 + l2 + l3 + 14,
  off + l0 + l1 + l2 + l3 + 14 + len(c4)
FROM p3
ORDER BY doc_id, turn_idx""")),

    // P102 — JSONL corpus round-trip: the interchange format LLM
    // corpora actually ship as (Dolma/RedPajama = gzipped JSON lines).
    // Write executor-side as .json.gz, read back schema-pinned, feed
    // language ID — SHARES p08's oracle, so matching hashes prove the
    // JSON escaping round-trips byte-exactly into the analysis ops.
    // Rebuild: writes the JSONL export it reads back.
    QueryKey("p102_jsonl_roundtrip", Rebuild, (s, dir) => {
      val tag = dir.replaceAll("[^0-9]", "_")
      val out = s"/root/repo/target/jsonl-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val d = docs(s, dir)
      d.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").option("compression", "gzip").json(out)
      val back = s.read.schema(
        d.select("doc_id", "text", "lang", "source", "n_chars").schema)
        .json(out)
      TextAnalysis.languageId(back).orderBy("id")
    }, oracle = Some(LangIdOracle)),

    // P107 — filter-evaluation threshold sweep: deterministic score
    // (doc_id%100/100) and label ((doc_id*7)%10 < 6) formulas make the
    // confusion counts closed-form; one scan, |T| groups.
    QueryKey("p107_eval_sweep", Prepared, (s, dir) =>
      Corpus.thresholdSweep(
        docs(s, dir).select(col("doc_id"),
          (pmod(col("doc_id"), lit(100)).cast("double") / 100.0).as("score"),
          (pmod(col("doc_id") * 7, lit(10)) < 6).as("label")),
        "score", "label", Seq(0.2, 0.5, 0.8))
        .orderBy("threshold"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT (doc_id % 100) / 100.0 AS score,
             (doc_id * 7) % 10 < 6 AS label FROM documents),
t AS (SELECT unnest([0.2, 0.5, 0.8]) AS threshold)
SELECT threshold,
  sum(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
  sum(CASE WHEN score >= threshold AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
  sum(CASE WHEN score < threshold AND label THEN 1 ELSE 0 END)::BIGINT AS fn,
  sum(CASE WHEN score < threshold AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn
FROM d, t GROUP BY threshold ORDER BY threshold""")),

    // P108 — shard manifest: the dataset-card artifact; the oracle
    // recomputes every field incl. the order-insensitive checksum from
    // scratch, so a changed/added/dropped doc or a drifting shard
    // assignment all move a row.
    QueryKey("p108_shard_manifest", Prepared, (s, dir) =>
      Corpus.shardManifest(docs(s, dir), nShards = 8)
        .orderBy("shard"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT
  ('0x' || substring(md5('shard:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
  doc_id,
  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_toks,
  ('0x' || substring(md5(text), 1, 8))::BIGINT AS code
 FROM documents)
SELECT shard, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
  sum(code)::BIGINT AS checksum
FROM d GROUP BY shard ORDER BY shard""")),

    // P83 — corpus statistics report: per-(lang, source) doc/char/token
    // counts + per-lang subtotals + grand total in ONE rollup pass;
    // grouping_id disambiguates subtotal rows. Exact-integer only.
    QueryKey("p83_corpus_stats", Prepared, (s, dir) =>
      Corpus.corpusStats(docs(s, dir))
        .orderBy("grouping_id", "lang", "source"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT lang, source, GROUPING(lang, source)::BIGINT AS grouping_id,
  count(*) AS n_docs,
  sum(n_chars)::BIGINT AS n_chars_total,
  sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT
    AS n_tokens_total
FROM documents GROUP BY ROLLUP(lang, source)
ORDER BY grouping_id, lang NULLS FIRST, source NULLS FIRST""")),

    // P84 — deterministic hash split (train/val/test as a pure function
    // of (id, salt) — a doc keeps its split when the corpus grows or is
    // re-filtered, the leakage guarantee randomSplit can't give). One
    // narrow scan, zero shuffles.
    QueryKey("p84_hash_split", Prepared, (s, dir) =>
      Corpus.hashSplit(docs(s, dir))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1'), 1, 8))::BIGINT
          % 100 AS bucket FROM documents)
SELECT doc_id,
  CASE WHEN bucket < 98 THEN 'train'
       WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split
FROM b ORDER BY doc_id""")),

    // P19+, key p54_weighted_sample — deterministic importance sampling:
    // acceptance probability = the doc's own p09 quality score, decided
    // by the portable id-hash (no RNG; every decision reproducible and
    // stable under corpus growth).
    QueryKey("p54_weighted_sample", Prepared, (s, dir) =>
      Corpus.qualityWeightedSample(TextAnalysis.quality(docs(s, dir)),
        weightCol = "quality_score", idCol = "id").orderBy("id"),
      oracle = Some {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
w AS (SELECT id,
    round(least(1.0, greatest(0.0,
      round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
        - punct_ratio * 2.0 + stop_ratio * 0.5), 6))), 6) AS weight,
    ('0x' || substring(md5(id::VARCHAR), 1, 8))::BIGINT % 1000003 AS hm
  FROM m)
SELECT id, weight FROM w
WHERE hm::DOUBLE < weight * 1000003 ORDER BY id"""
    }),

    // P28, key p29_token_mixture — token-budget corpus mixing: sample
    // each language to its weighted share of a 50k-token budget.
    QueryKey("p29_token_mixture", Prepared, (s, dir) =>
      Corpus.tokenMixture(docs(s, dir), MixWeights, MixTotalTokens,
        strataCol = "lang", overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id"),
      oracle = Some {
      val wValues = MixWeights.toSeq.sorted
        .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
      // pfConst = hashMod.toDouble * overSample, precomputed like the
      // Spark literal; budget = w * total as ONE multiplication both sides
      val pfConst = SampleHashMod.toDouble * MixOverSample
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
wt AS (SELECT * FROM (VALUES $wValues) AS t(stratum, w)),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm,
         wt.w * $MixTotalTokens.0 AS budget
       FROM b JOIN st USING (stratum) JOIN wt USING (stratum)
       WHERE (b.hm::DOUBLE * st.tot_tokens::DOUBLE) < $pfConst * (wt.w * $MixTotalTokens.0)),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM pf)
SELECT id, stratum, n_tokens, cum_tokens FROM c
WHERE (cum_tokens - n_tokens) < budget
ORDER BY id"""
    }),

    // P30+, key p62_source_filter — source-level quality filtering (the
    // C4/RefinedWeb domain-blocklist step from the corpus's own
    // signals): sources whose Gopher pass-fraction falls below minFrac
    // drop wholesale. At sf0.01 the natural per-source pass rates span
    // 0.28-0.60, so minFrac=0.48 keeps some sources and drops others
    // with no planting.
    QueryKey("p62_source_filter", Prepared, (s, dir) =>
      TextAnalysis.sourceQualityFilter(docs(s, dir), minFrac = 0.48,
        minDocs = 10L, stopwords = Seq("the", "a")).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id, source, text,
        string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM documents),
m AS (SELECT doc_id, source, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b),
v AS (SELECT doc_id, source,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2)
    AS doc_passes
  FROM m),
per AS (SELECT source, count(*)::BIGINT AS n_docs_source,
    sum(CASE WHEN doc_passes THEN 1 ELSE 0 END)::BIGINT AS n_passing
  FROM v GROUP BY source),
pv AS (SELECT source, n_docs_source,
    n_passing::DOUBLE / n_docs_source::DOUBLE AS frac,
    (n_passing::DOUBLE / n_docs_source::DOUBLE >= 0.48
     AND n_docs_source >= 10) AS source_kept
  FROM per)
SELECT v.doc_id AS id, v.source, v.doc_passes, pv.n_docs_source,
  round(pv.frac, 6) AS frac_passing, pv.source_kept
FROM v JOIN pv USING (source) ORDER BY id""")),

    // P19++, key p63_dsir — DSIR importance resampling (Xie et al.
    // 2023): hashed-bigram bucket models for target (lang='en') vs the
    // raw corpus; acceptance ∝ the mean probability ratio, decided by
    // the portable id-hash. English-looking docs weigh ~Tr/Tt and are
    // kept; off-target docs weigh near 0 and drop — with mixed docs
    // graded in between, which is the operator's whole point.
    // Rebuild: trains the DSIR bucket weights by a collect.
    QueryKey("p63_dsir", Rebuild, (s, dir) =>
      Corpus.dsirSample(docs(s, dir), isTarget = col("lang") === "en",
        buckets = DsirBuckets, hashMod = 1000003L, acceptScale = 0.25)
        .orderBy("id"),
      oracle = Some(DsirOracle)),

    // P19+++, key p64_cluster_mix — cluster-balanced sampling: k-means
    // domain discovery over embeddings (the ANN stack's deterministic
    // trained quantizer, zero-shuffle argmax assignment) + per-cluster
    // deterministic downsampling — stratifiedSample with a LEARNED
    // stratum.
    // Rebuild: trains the k-means centers on the driver.
    QueryKey("p64_cluster_mix", Rebuild, (s, dir) =>
      Corpus.clusterBalancedSample(embs(s, dir), perCluster = 25,
        nClusters = 16, overSample = SampleOverSample,
        hashMod = SampleHashMod, trainIters = 2, trainSample = 256)
        .orderBy("centroid_id", "sample_rank"),
      oracle = Some(s"""WITH $embCte,
$ivfCoarseCtes,
cnt AS (SELECT centroid_id, count(*)::BIGINT AS n_stratum
        FROM assigned GROUP BY centroid_id),
h AS (SELECT a.neighbor_id AS id, a.centroid_id, c.n_stratum,
        ('0x' || substring(md5(a.neighbor_id::VARCHAR),1,8))::BIGINT
          % $SampleHashMod AS hm
      FROM assigned a JOIN cnt c USING (centroid_id)),
pf AS (SELECT * FROM h
       WHERE hm * n_stratum < $SampleHashMod::BIGINT * ${25 * SampleOverSample}),
r AS (SELECT id, centroid_id, n_stratum,
        row_number() OVER (PARTITION BY centroid_id ORDER BY hm, id)::BIGINT
          AS sample_rank
      FROM pf)
SELECT id, centroid_id, n_stratum, sample_rank FROM r
WHERE sample_rank <= 25 ORDER BY centroid_id, sample_rank""")),

    // P19++++, key p66_quality_cut — percentile thresholding over the
    // p09 quality score: keep the top half of the corpus by score,
    // threshold from a 1000-cell histogram (no global sort).
    // Rebuild: collects the quality percentile cut.
    QueryKey("p66_quality_cut", Rebuild, (s, dir) =>
      Corpus.qualityPercentileFilter(TextAnalysis.quality(docs(s, dir)),
        keepFrac = 0.5, buckets = 1000).orderBy("id"),
      oracle = Some {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
q AS (SELECT id, round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
    - punct_ratio * 2.0 + stop_ratio * 0.5), 6) AS score FROM m),
b AS (SELECT id, score,
    least(greatest(floor(score * 1000)::BIGINT, 0), 1000) AS qbucket FROM q),
hist AS (SELECT qbucket, count(*)::BIGINT AS c FROM b GROUP BY qbucket),
tot AS (SELECT ceil(sum(c) * 0.5)::BIGINT AS target FROM hist),
cum AS (SELECT qbucket,
    sum(c) OVER (ORDER BY qbucket DESC)::BIGINT AS suffix FROM hist),
cut AS (SELECT coalesce(max(qbucket), 0) AS cutoff
        FROM cum, tot WHERE suffix >= target)
SELECT b.id, b.score, b.qbucket FROM b, cut
WHERE b.qbucket >= cut.cutoff ORDER BY id"""
    }),

    // P20+, key p61_shuffle_shards — deterministic shuffle-shard: the
    // training-order decorrelation between curation and packing, as a
    // pure function of the id set (md5 hash order; per-shard rank
    // windows, no global sort).
    QueryKey("p61_shuffle_shards", Prepared, (s, dir) =>
      Corpus.shuffleShards(docs(s, dir), nShards = 8).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT AS h
      FROM documents),
s AS (SELECT id, h % 8 AS shard, floor(h / 8.0)::BIGINT AS hq FROM b)
SELECT id, shard,
  row_number() OVER (PARTITION BY shard ORDER BY hq, id)::BIGINT AS pos
FROM s ORDER BY id""")),

    // P20++, key p68_curriculum — quality-banded curriculum ordering:
    // p61's shuffled order with a quality-band prefix (high-quality
    // bands first, hash-decorrelated within a band).
    QueryKey("p68_curriculum", Prepared, (s, dir) =>
      Corpus.curriculumOrder(TextAnalysis.quality(docs(s, dir)),
        bands = 10, nShards = 8).orderBy("band", "shard", "pos"),
      oracle = Some {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
q AS (SELECT id, round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
    - punct_ratio * 2.0 + stop_ratio * 0.5), 6) AS score FROM m),
b AS (SELECT id,
    least(greatest(floor(score * 10)::BIGINT, 0), 10) AS band,
    ('0x' || substring(md5(id::VARCHAR),1,8))::BIGINT AS h
  FROM q),
s AS (SELECT id, band, h % 8 AS shard, floor(h / 8.0)::BIGINT AS hq FROM b)
SELECT id, band, shard,
  row_number() OVER (PARTITION BY band, shard ORDER BY hq, id)::BIGINT AS pos
FROM s ORDER BY band, shard, pos"""
    }),

    // P28++, key p60_mixture_capped — the data-constrained mixing regime
    // (Muennighoff et al. 2023): strata whose budget exceeds their mass
    // REPEAT, epoch-stamped, capped at maxEpochs; the last partial epoch
    // is the usual hash-order prefix cut against the remaining budget.
    // Rebuild: collects the per-stratum token masses.
    QueryKey("p60_mixture_capped", Rebuild, (s, dir) =>
      Corpus.tokenMixtureCapped(docs(s, dir), CapWeights, MixTotalTokens,
        maxEpochs = CapMaxEpochs, strataCol = "lang",
        overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id", "epoch"),
      oracle = Some {
      val wValues = CapWeights.toSeq.sorted
        .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
      val pfConst = SampleHashMod.toDouble * MixOverSample
      // every arithmetic step mirrors the Spark expressions one-for-one:
      // budget = w * total (one multiply), full_epochs = LEAST(maxEpochs,
      // floor(budget / T)) (floor of one double division), remainder =
      // budget - f * T (one multiply-subtract) — all single IEEE ops
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st0 AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
wt AS (SELECT * FROM (VALUES $wValues) AS t(stratum, w)),
st AS (SELECT stratum, tot_tokens, wt.w * $MixTotalTokens.0 AS budget,
         LEAST($CapMaxEpochs.0,
           floor((wt.w * $MixTotalTokens.0) / tot_tokens::DOUBLE))::BIGINT AS full_epochs
       FROM st0 JOIN wt USING (stratum) WHERE tot_tokens > 0),
st2 AS (SELECT *, CASE WHEN full_epochs < $CapMaxEpochs
          THEN budget - full_epochs::DOUBLE * tot_tokens::DOUBLE
          ELSE 0.0 END AS partial_budget FROM st),
fe AS (SELECT b.id, unnest(range(0, st2.full_epochs))::BIGINT AS epoch,
         b.stratum, b.n_tokens
       FROM b JOIN st2 USING (stratum) WHERE st2.full_epochs > 0),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm, st2.full_epochs,
         st2.partial_budget
       FROM b JOIN st2 USING (stratum)
       WHERE st2.partial_budget > 0.0
         AND (b.hm::DOUBLE * st2.tot_tokens::DOUBLE) < $pfConst * st2.partial_budget),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM pf)
SELECT id, epoch, stratum, n_tokens FROM fe
UNION ALL
SELECT id, full_epochs AS epoch, stratum, n_tokens FROM c
WHERE (cum - n_tokens) < partial_budget
ORDER BY id, epoch"""
    }),

    // P29+P30 composed, key p43_curation_chain — the line-level C4
    // filter feeding the Gopher document verdict as ONE chained
    // operator: quality rules run on the prose-only content that
    // survives line filtering (the real pipeline ordering). Both
    // stages are narrow projections, so the whole chain fuses into a
    // single scan — PlanAuditSpec pins zero exchanges.
    QueryKey("p43_curation_chain", Prepared, (s, dir) => {
      // the base line gets terminal punctuation so the document's real
      // content survives the line filter (word salads end mid-air)
      val lf = TextAnalysis.lineFilter(docs(s, dir).withColumn("text",
        concat(col("text"), lit("."),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")))))
      TextAnalysis.gopherRules(lf, textCol = "filtered_text", idCol = "id",
        stopwords = Seq("the", "a")).orderBy("id")
    }, oracle = Some(CurationChainOracle)),

    // P28+, key p40_mixture_temp — α=0.5 temperature-rebalanced token
    // mixture over the language strata (sqrt is the one IEEE-exact
    // exponent, so shares derive in-plan and the oracle reproduces
    // them bit-for-bit).
    QueryKey("p40_mixture_temp", Prepared, (s, dir) =>
      Corpus.tokenMixtureTemperature(docs(s, dir), MixTempTotalTokens,
        strataCol = "lang", overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id"),
      oracle = Some {
      val pfConst = SampleHashMod.toDouble * MixOverSample
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
sq AS (SELECT stratum, tot_tokens, sqrt(tot_tokens::DOUBLE) AS sq FROM st),
dn AS (SELECT list_reduce([0.0]::DOUBLE[] || list(sq ORDER BY stratum),
         (a,b) -> a+b) AS denom FROM sq),
bu AS (SELECT stratum, tot_tokens, $MixTempTotalTokens.0 * sq / dn.denom AS budget
       FROM sq, dn),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm, bu.budget
       FROM b JOIN bu USING (stratum)
       WHERE (b.hm::DOUBLE * bu.tot_tokens::DOUBLE) < $pfConst * bu.budget),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM pf)
SELECT id, stratum, n_tokens, cum_tokens FROM c
WHERE (cum_tokens - n_tokens) < budget
ORDER BY id"""
    }),

    // P112 — DPO/RLHF preference-pair construction: per prompt group
    // of scored candidates, (chosen, rejected) = (best, worst) with
    // deterministic tie-breaks, in ONE hash aggregation (max_by/min_by
    // declarative aggregates — no window, no second shuffle). The
    // fixture's (doc_id div 2) scoring makes every group carry BOTH a
    // tied top pair and a tied bottom pair, so both tie-break arms are
    // load-bearing in the oracle comparison.
    QueryKey("p112_dpo_pairs", Prepared, (s, dir) =>
      Corpus.dpoPairs(
        docs(s, dir).select(expr("doc_id div 4").as("group_id"),
          col("doc_id").as("id"),
          expr("((doc_id div 2) * 37) % 50").as("score")))
        .orderBy("group_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
c AS (SELECT doc_id // 4 AS group_id, doc_id AS id,
        ((doc_id // 2) * 37) % 50 AS s FROM documents),
r AS (SELECT *,
        row_number() OVER (PARTITION BY group_id ORDER BY s DESC, id ASC) AS rc,
        row_number() OVER (PARTITION BY group_id ORDER BY s ASC, id DESC) AS rr,
        count(*) OVER (PARTITION BY group_id) AS n FROM c)
SELECT group_id,
  max(CASE WHEN rc = 1 THEN id END)::BIGINT AS chosen_id,
  max(CASE WHEN rr = 1 THEN id END)::BIGINT AS rejected_id,
  max(s)::BIGINT AS chosen_score, min(s)::BIGINT AS rejected_score,
  (max(s) - min(s))::BIGINT AS margin, max(n)::BIGINT AS n_candidates
FROM r WHERE n >= 2 GROUP BY group_id ORDER BY group_id""")),

    // P121 — fill-in-the-middle transformation (the FIM-paper
    // pretraining rewrite): a hash-gated half of docs is split at two
    // deterministic char cuts and re-serialized PSM/SPM with sentinel
    // tokens, the rest pass through verbatim. Pure (id, salt) functions
    // end to end, so the oracle recomputes every gate, cut, and
    // rendered byte from scratch; degenerate empty-middle splits are
    // load-bearing (lo==hi happens in-fixture). One narrow scan.
    QueryKey("p121_fim", Prepared, (s, dir) =>
      Corpus.fimTransform(docs(s, dir)).orderBy("doc_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
h AS (SELECT doc_id, text, length(text)::BIGINT AS n,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:gate'), 1, 8))::BIGINT % 100 AS gate,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:mode'), 1, 8))::BIGINT % 100 AS md,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:c1'), 1, 8))::BIGINT % (length(text) + 1) AS c1,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:c2'), 1, 8))::BIGINT % (length(text) + 1) AS c2
      FROM documents),
s AS (SELECT doc_id, text, n, gate < 50 AS fim, md < 50 AS spm,
        least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM h)
SELECT doc_id, fim,
  CASE WHEN NOT fim THEN 'plain' WHEN spm THEN 'spm' ELSE 'psm' END AS mode,
  CASE WHEN fim THEN lo END AS n_prefix,
  CASE WHEN fim THEN hi - lo END AS n_middle,
  CASE WHEN fim THEN n - hi END AS n_suffix,
  CASE WHEN NOT fim THEN text
       WHEN spm THEN '<|fim_suffix|>' || substring(text, (hi + 1)::INT, (n - hi)::INT)
         || '<|fim_prefix|>' || substring(text, 1, lo::INT)
         || '<|fim_middle|>' || substring(text, (lo + 1)::INT, (hi - lo)::INT)
       ELSE '<|fim_prefix|>' || substring(text, 1, lo::INT)
         || '<|fim_suffix|>' || substring(text, (hi + 1)::INT, (n - hi)::INT)
         || '<|fim_middle|>' || substring(text, (lo + 1)::INT, (hi - lo)::INT)
       END AS text
FROM s ORDER BY doc_id""")),

    // P20+++, key p71_token_chunks — fixed-size token-window chunking
    // with stride (the HF return_overflowing_tokens semantics): 64-token
    // windows every 48 tokens, 16-token overlap carrying context across
    // boundaries; one narrow scan + explode, no shuffle.
    QueryKey("p71_token_chunks", Prepared, (s, dir) =>
      Corpus.tokenChunks(docs(s, dir), chunkSize = 64, stride = 48)
        .orderBy("id", "chunk_id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
ks AS (SELECT doc_id, t,
  CASE WHEN len(t) > 64 THEN ceil((len(t) - 64)::DOUBLE / 48)::INT
       ELSE 0 END AS kmax FROM tok),
ch AS (SELECT doc_id, t, unnest(generate_series(0, kmax)) AS k FROM ks)
SELECT doc_id AS id, k::BIGINT AS chunk_id, (k*48)::BIGINT AS start_token,
  len(list_slice(t, k*48+1, k*48+64))::BIGINT AS n_tokens,
  array_to_string(list_slice(t, k*48+1, k*48+64), ' ') AS chunk_text
FROM ch ORDER BY id, chunk_id"""))
  )
}
