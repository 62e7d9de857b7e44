package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Exact, near-duplicate, sketch, decontamination and ANN keys. */
object DedupKeys {

  val all: Seq[QueryKey] = Seq(
    // P1 — exact dedup. The corpus has no exact duplicates, so the query
    // unions a shifted copy: every text occurs exactly twice and dedup
    // must keep the original id with n_dups = 2.
    QueryKey("p01_dedup_exact", Prepared, (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copy = d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exact(d.unionAll(copy)).orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents)
SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS n_dups
FROM all_docs GROUP BY md5(text) ORDER BY doc_id""")),

    // P2 — n-gram Jaccard near-dup pairs (the generator plants ~5% of
    // docs as near-duplicates; nothing else scores above 0.3). Registered
    // WITH the document-frequency skew guard (the 100 TB form): a shingle
    // shared by k docs emits k^2 join rows, so ubiquitous shingles are
    // dropped before pairing. The guard is conservative (can only lower a
    // pair's jaccard — see Dedup.jaccardPairs doc) and the oracle mirrors
    // the cutoff bit-for-bit.
    // Rebuild: materializes the shingle self-join side (SelfJoinMaterialize).
    QueryKey("p02_ngram_jaccard", Rebuild, (s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
        maxShingleFreq = MaxShingleFreq).orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(c::DOUBLE / (na + nb - c)::DOUBLE, 6) AS jaccard
FROM co WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8
ORDER BY id_a, id_b""")),

    // P3 — MinHash + banded LSH candidates scored by signature agreement.
    // Rebuild: materializes the band self-join side (SelfJoinMaterialize).
    QueryKey("p03_minhash_lsh", Rebuild, (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), k = 16, bands = 4, shingleN = 3,
        minAgree = 8).orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH $docCtes,
codes AS (
  SELECT doc_id,
         list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh WHERE len(s) > 0),
sigs AS (SELECT doc_id, $sigSql AS sig FROM codes),
banded AS (
  SELECT doc_id, sig, bd,
         md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM sigs, range(0,4) r(bd)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands,
         any_value(a.sig) AS sa, any_value(b.sig) AS sb
  FROM banded a JOIN banded b ON a.bd = b.bd AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_bands,
       len(list_filter(range(1,17), i -> sa[i] = sb[i]))::BIGINT AS n_agree
FROM cand
WHERE len(list_filter(range(1,17), i -> sa[i] = sb[i])) >= 8
ORDER BY id_a, id_b""")),

    // P21, key p22_lsh_verified — the production dedup ordering: LSH
    // candidates + exact jaccard verification on candidates only (the
    // scale path that replaces the raw inverted-index join of p02).
    // Rebuild: materializes the LSH candidate side (SelfJoinMaterialize).
    QueryKey("p22_lsh_verified", Rebuild, (s, dir) =>
      Dedup.lshVerifiedPairs(docs(s, dir), k = 16, bands = 4, shingleN = 3,
        threshold = 0.8).orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH $docCtes,
codes AS (
  SELECT doc_id,
         list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh WHERE len(s) > 0),
sigs AS (SELECT doc_id, $sigSql AS sig FROM codes),
banded AS (
  SELECT doc_id, bd,
         md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM sigs, range(0,4) r(bd)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bd = b.bd AND a.bh = b.bh AND a.doc_id < b.doc_id),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.s, y.s))::BIGINT AS inter,
         len(x.s)::BIGINT AS na, len(y.s)::BIGINT AS nb
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b)
SELECT id_a, id_b,
       round(inter::DOUBLE / (na + nb - inter)::DOUBLE, 6) AS jaccard
FROM ver WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.8
ORDER BY id_a, id_b""")),

    // P4 — SimHash near-dup pairs within Hamming distance 3.
    // Rebuild: materializes the band self-join side (SelfJoinMaterialize).
    QueryKey("p04_simhash", Rebuild, (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH $docCtes,
codes AS (SELECT doc_id,
  list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh),
shs AS (SELECT doc_id,
  list_sum(list_transform(range(0,32), j -> CASE WHEN
    list_reduce([0]::BIGINT[] || list_transform(d, c ->
      CASE WHEN (c >> j) % 2 = 1 THEN 1 ELSE -1 END), (a,b) -> a+b) >= 0
    THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
  FROM codes),
banded AS (SELECT doc_id, simhash, bd, (simhash >> (bd*8)) % 256 AS band_byte
           FROM shs, range(0,4) r(bd)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM banded a JOIN banded b
    ON a.bd = b.bd AND a.band_byte = b.band_byte AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
ORDER BY id_a, id_b""")),

    // P5 — embedding-cosine near-dup, sign-LSH bucketed mode over the FULL
    // corpus (the 100 TB form: only same-bucket pairs are scored, so the
    // join is an equi-join on the bucket key, never all-pairs). The exact
    // quadratic mode remains as the ground-truth baseline in DedupSpec,
    // which asserts bucketed ⊆ exact on the fixture.
    // Rebuild: materializes the bucket self-join side (SelfJoinMaterialize).
    QueryKey("p05_embed_dup", Rebuild, (s, dir) =>
      Dedup.embeddingPairs(embs(s, dir), threshold = 0.4, bucketed = true,
        nTables = 4).orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
cb AS (SELECT vec_id, v, nrm, t, ${bucketSql("v", "t")} AS bucket
       FROM n, range(0,4) r(t)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b, ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS cs
  FROM cand c JOIN n x ON x.vec_id = c.id_a JOIN n y ON y.vec_id = c.id_b)
SELECT id_a, id_b, round(cs, 6) AS cosine FROM pairs WHERE cs >= 0.4
ORDER BY id_a, id_b""")),

    // P16 — near-dup clusters: connected components over the Jaccard
    // pair graph, keep-min representative per duplicate group. Pair
    // derivation uses the same guarded form as p02, so the materialized
    // shingle stage is shared in-session and the plan stays skew-safe.
    // Rebuild: iterates connected components to a fixed point.
    QueryKey("p16_dedup_clusters", Rebuild, (s, dir) =>
      Dedup.clusters(Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
        maxShingleFreq = MaxShingleFreq)).orderBy("id"),
      oracle = Some(s"""WITH RECURSIVE $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (SELECT id_a, id_b FROM co
        WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8),
verts AS (SELECT DISTINCT id FROM
          (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
adj AS (SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL SELECT id_b, id_a FROM prs),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.r FROM reach r JOIN adj e ON e.dst = r.id)
SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id ORDER BY id""")),

    // P18, key p19_dedup_apply — dedup APPLY: the corpus that survives
    // near-dup removal (one representative per jaccard cluster + every
    // never-paired doc). Same guarded pair derivation as p02/p16, then a
    // stats-adaptive left join (broadcast while the cluster table is
    // small) — the corpus itself is never shuffled.
    // Rebuild: iterates connected components to a fixed point.
    QueryKey("p19_dedup_apply", Rebuild, (s, dir) =>
      Corpus.dedupApply(
        docs(s, dir).select("doc_id", "lang", "source", "n_chars"),
        Dedup.clusters(Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
          maxShingleFreq = MaxShingleFreq)))
        .orderBy("doc_id"),
      oracle = Some(s"""WITH RECURSIVE $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (SELECT id_a, id_b FROM co
        WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8),
verts AS (SELECT DISTINCT id FROM
          (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
adj AS (SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL SELECT id_b, id_a FROM prs),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.r FROM reach r JOIN adj e ON e.dst = r.id),
cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       (cl.id IS NOT NULL) AS is_cluster_rep
FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
WHERE cl.id IS NULL OR cl.cluster_rep = d.doc_id
ORDER BY d.doc_id""")),

    // P17 — IVF-flat ANN with a TRAINED coarse quantizer: deterministic
    // k-means (2 fixed iterations over the first 256 vectors, ordered
    // folds) — better list balance than raw sampled centroids, still
    // bit-reproducible by the SQL oracle.
    // Rebuild: trains the IVF coarse quantizer on the driver.
    QueryKey("p17_ann_ivf", Rebuild, (s, dir) =>
      Ann.ivfTopK(embs(s, dir), probes(s, dir), k = 10, nCenters = 16,
        nProbe = 4, trainIters = 2, trainSample = 256)
        .orderBy("probe_id", "rank"),
      oracle = Some(IvfTopKOracle)),

    // P26, key p27_ann_pq — product-quantization ANN: per-subspace
    // trained codebooks (driver-side deterministic k-means, like p17),
    // m-byte codes per vector, ADC table-lookup scan.
    // Rebuild: trains the PQ codebooks on the driver.
    QueryKey("p27_ann_pq", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.pqTopK(e, probes(s, dir), cb, k = 10).orderBy("probe_id", "rank")
    }, oracle = Some {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e CROSS JOIN pdt pd WHERE pd.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    }),

    // P27, key p28_ann_ivfpq — IVF lists restrict the scan, PQ codes
    // compress it: a probe reads ~nProbe/nCenters of the 32x-compressed
    // code table. Non-residual variant; coarse quantizer = p17's trained
    // k-means, codebooks = p27's.
    // Rebuild: trains the PQ codebooks on the driver.
    QueryKey("p28_ann_ivfpq", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.ivfPqTopK(e, probes(s, dir), cb, k = 10, nCenters = 16, nProbe = 4,
        trainIters = 2, trainSample = 256).orderBy("probe_id", "rank")
    }, oracle = Some {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$ivfCoarseCtes,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pl.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e
  JOIN assigned a ON a.neighbor_id = e.vec_id
  JOIN plists pl ON a.centroid_id = pl.centroid_id
  JOIN pdt pd ON pd.probe_id = pl.probe_id
  WHERE pl.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    }),

    // P26, key p30_ann_pq_rerank — the production PQ serving shape
    // (SURVEY §5): ADC over the 32x-compressed codes retrieves 100
    // candidates per probe, then ONLY those candidates' full vectors are
    // fetched and exactly re-ranked by L2. Quality = ADC recall@100
    // (≈0.84 in ScaleSmoke vs 0.26 raw ADC@10) at the cost of re-reading
    // 100 full vectors per probe instead of the corpus.
    // Rebuild: trains the PQ codebooks on the driver.
    QueryKey("p30_ann_pq_rerank", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.pqTopKReranked(e, probes(s, dir), cb, k = 10, rerank = 100)
        .orderBy("probe_id", "rank")
    }, oracle = Some {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e CROSS JOIN pdt pd WHERE pd.probe_id <> e.vec_id),
cand AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY adc ASC, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= 100),
ex AS (
  SELECT c.probe_id, c.neighbor_id, ${l2Sql("p.v", "e.v", 64)} AS d
  FROM cand c
  JOIN emb e ON e.vec_id = c.neighbor_id
  JOIN emb p ON p.vec_id = c.probe_id),
rr AS (
  SELECT probe_id, neighbor_id, d,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM ex)
SELECT probe_id, rank, neighbor_id, round(d, 6) AS l2_dist
FROM rr WHERE rank <= 10 ORDER BY probe_id, rank"""
    }),

    // P27, key p31_ann_ivfpq_residual — classical FAISS IVFPQ (Jégou et
    // al. 2011): codes quantize the RESIDUAL v − centroid(v) with
    // residual-trained codebooks, and each (probe, probed list) gets its
    // own ADC tables from the probe's residual against that list's
    // centroid — bits go to within-list geometry, the standard quality
    // win over p28's non-residual variant at the same m.
    // Rebuild: trains the coarse centroids and residual PQ codebooks on the driver.
    QueryKey("p31_ann_ivfpq_residual", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val cents = Ann.trainCentroids(e, nCenters = 16, sampleN = 256, iters = 2)
      val cb = Ann.trainPqCodebooksResidual(e, cents, m = 8, nCodes = 16,
        sampleN = 256, iters = 2, dim = 64)
      Ann.ivfPqResidualTopK(e, probes(s, dir), cents, cb, k = 10, nProbe = 4)
        .orderBy("probe_id", "rank")
    }, oracle = Some {
      val subspaces = (0 until 8).map(s => pqSubCtes(s, "rsamp")).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("r.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$ivfCoarseCtes,
rsamp AS (
  SELECT s.vec_id, list_transform(range(1,65), i -> s.v[i] - c.centv[i]) AS v
  FROM samp s
  JOIN assigned a ON a.neighbor_id = s.vec_id
  JOIN cents c ON c.centroid_id = a.centroid_id),
$subspaces,
rcorp AS (
  SELECT a.neighbor_id AS vec_id, a.centroid_id,
         list_transform(range(1,65), i -> a.cv[i] - c.centv[i]) AS v
  FROM assigned a JOIN cents c ON c.centroid_id = a.centroid_id),
enc AS (SELECT r.vec_id, r.centroid_id, $codes AS codes FROM rcorp r, $cbls),
pres AS (
  SELECT pl.probe_id, pl.centroid_id,
         list_transform(range(1,65), i -> pl.pv[i] - c.centv[i]) AS v
  FROM plists pl JOIN cents c ON c.centroid_id = pl.centroid_id),
pdt AS (SELECT p.probe_id, p.centroid_id, $dtables AS dt FROM pres p, $cbls),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e JOIN pdt pd ON pd.centroid_id = e.centroid_id
  WHERE pd.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    }),

    // P5+, key p34_semdedup — SemDeDup (Abbas et al. 2023): a bounded-
    // sample k-means quantizer buckets the embedding space and near-dup
    // search runs ONLY within clusters (the quadratic is per-cluster,
    // never global — k is the scale lever). Same quantizer parameters as
    // p17 so the oracle reuses the coarse k-means CTEs bit-for-bit.
    // Rebuild: trains the k-means centers and materializes the in-cluster self-join.
    QueryKey("p34_semdedup", Rebuild, (s, dir) =>
      Dedup.semDedup(embs(s, dir), threshold = 0.4, nCenters = 16,
        trainIters = 2, trainSample = 256).orderBy("id"),
      oracle = Some(s"""WITH $embCte,
$ivfCoarseCtes,
prs AS (
  SELECT a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM assigned a JOIN assigned b ON a.centroid_id = b.centroid_id
  WHERE a.neighbor_id < b.neighbor_id
    AND ${dotSql("a.cv", "b.cv")} / (a.cn * b.cn) >= 0.4),
dr AS (SELECT ib AS id, min(ia) AS dup_of FROM prs GROUP BY ib)
SELECT a.neighbor_id AS id, a.centroid_id, dr.id IS NULL AS kept, dr.dup_of
FROM assigned a LEFT JOIN dr ON a.neighbor_id = dr.id
ORDER BY id""")),

    // P5+, key p46_semdedup_capped — SemDeDup with the per-cluster
    // pair-cap skew guard: members ranked by centroid cosine, only
    // pairs within `w` ranks compared (near-dups sort adjacently, so
    // the cap costs only the far-in-rank tail; join work O(m·w), never
    // O(m^2) — one giant cluster can't own the job). Same quantizer as
    // p34 so the oracle shares its coarse CTEs; w chosen small enough
    // that banding is actually exercised at fixture scale.
    // Rebuild: trains the k-means centers and materializes the in-cluster self-join.
    QueryKey("p46_semdedup_capped", Rebuild, (s, dir) =>
      Dedup.semDedup(embs(s, dir), threshold = 0.4, nCenters = 16,
        trainIters = 2, trainSample = 256,
        pairRankWindow = Some(16)).orderBy("id"),
      oracle = Some(s"""WITH $embCte,
$ivfCoarseCtes,
rnk AS (SELECT *, row_number() OVER (PARTITION BY centroid_id
    ORDER BY ccos DESC, neighbor_id ASC)::BIGINT AS rk FROM assigned),
ba AS (SELECT centroid_id, neighbor_id, cv, cn, rk, band
       FROM rnk, unnest([(rk // 16), (rk // 16) + 1]) AS u(band)),
bb AS (SELECT centroid_id, neighbor_id, cv, cn, rk, band
       FROM rnk, unnest([(rk // 16), (rk // 16) + 1]) AS u(band)),
prs AS (
  SELECT a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM ba a JOIN bb b ON a.centroid_id = b.centroid_id AND a.band = b.band
  WHERE abs(a.rk - b.rk) <= 16 AND a.neighbor_id < b.neighbor_id
    AND ${dotSql("a.cv", "b.cv")} / (a.cn * b.cn) >= 0.4),
dr AS (SELECT ib AS id, min(ia) AS dup_of FROM prs GROUP BY ib)
SELECT a.neighbor_id AS id, a.centroid_id, dr.id IS NULL AS kept, dr.dup_of
FROM assigned a LEFT JOIN dr ON a.neighbor_id = dr.id
ORDER BY id""")),

    // P26+, key p38_ann_sq8 — scalar quantization (FAISS QT_8bit
    // semantics): per-dim trained [min,max] ranges, byte codes = 4x
    // compression, asymmetric L2 against full-precision probes.
    // Rebuild: trains the SQ8 ranges on the driver.
    QueryKey("p38_ann_sq8", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val rng = Ann.trainSqRanges(e, sampleN = 256, dim = 64)
      Ann.sqTopK(e, probes(s, dir), rng, k = 10).orderBy("probe_id", "rank")
    }, oracle = Some(s"""WITH $embCte,
$sqCtes,
scored AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
    ${l2Sql("p.v", "e.dv", 64)} AS sq
  FROM sqdeq e, emb p WHERE p.vec_id < 5 AND p.vec_id <> e.vec_id),
ranked AS (SELECT probe_id, neighbor_id, sq,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY sq ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(sq, 6) AS sq_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""")),

    // P26++, key p44_ann_ivfsq — IVF x SQ8 composition: coarse lists
    // restrict WHICH vectors a probe scans, SQ8 codes compress WHAT is
    // scanned (4x at byte per-dim fidelity — the middle point between
    // IVF-flat and IVF+PQ). List id and codes in ONE encode projection.
    // Rebuild: trains the coarse quantizer and SQ8 ranges on the driver.
    QueryKey("p44_ann_ivfsq", Rebuild, (s, dir) => {
      val e = embs(s, dir)
      val rng = Ann.trainSqRanges(e, sampleN = 256, dim = 64)
      Ann.ivfSqTopK(e, probes(s, dir), rng, k = 10, nCenters = 16,
        nProbe = 4, trainIters = 2, trainSample = 256)
        .orderBy("probe_id", "rank")
    }, oracle = Some(s"""WITH $embCte,
$ivfCoarseCtes,
$sqCtes,
scored AS (SELECT pl.probe_id, e.vec_id AS neighbor_id,
    ${l2Sql("pl.pv", "e.dv", 64)} AS sq
  FROM sqdeq e
  JOIN assigned a ON a.neighbor_id = e.vec_id
  JOIN plists pl ON a.centroid_id = pl.centroid_id
  WHERE pl.probe_id <> e.vec_id),
ranked AS (SELECT probe_id, neighbor_id, sq,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY sq ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(sq, 6) AS sq_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""")),

    // P6 — brute-force cosine top-k for 5 probe vectors.
    // Rebuild: reads the embeddings schema twice (corpus and probes), two jobs.
    QueryKey("p06_ann_topk", Rebuild, (s, dir) =>
      Ann.bruteForceTopK(embs(s, dir), probes(s, dir), k = 10)
        .orderBy("probe_id", "rank"),
      oracle = Some(s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 5),
scored AS (
  SELECT p.probe_id, n.vec_id AS neighbor_id,
         ${dotSql("p.pv", "n.v")} / (p.pn * n.nrm) AS cs
  FROM n CROSS JOIN p WHERE p.probe_id <> n.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""")),

    // P7 — LSH-bucketed ANN (2 tables x 8 hyperplanes).
    // Rebuild: reads the embeddings schema twice (corpus and probes), two jobs.
    QueryKey("p07_ann_lsh", Rebuild, (s, dir) =>
      Ann.lshTopK(embs(s, dir), probes(s, dir), k = 10, nPlanes = 8,
        nTables = 2).orderBy("probe_id", "rank"),
      oracle = Some(s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
cb AS (SELECT vec_id, v, nrm, t, ${bucketSql("v", "t")} AS bucket
       FROM n, range(0,2) r(t)),
pb AS (SELECT * FROM cb WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS neighbor_id
  FROM cb JOIN pb ON cb.t = pb.t AND cb.bucket = pb.bucket
  WHERE pb.vec_id <> cb.vec_id),
scored AS (
  SELECT c.probe_id, c.neighbor_id,
         ${dotSql("p.v", "q.v")} / (p.nrm * q.nrm) AS cs
  FROM cand c JOIN n p ON p.vec_id = c.probe_id
              JOIN n q ON q.vec_id = c.neighbor_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""")),

    // P1+, key p33_paragraph_dedup — cross-document paragraph dedup over
    // input with a planted shared boilerplate paragraph on every doc and
    // a second one on every 5th doc (mirrored in the oracle): only the
    // first occurrence of each survives, everything else is stripped.
    QueryKey("p33_paragraph_dedup", Prepared, (s, dir) =>
      Dedup.paragraphDedup(docs(s, dir).withColumn("text",
        concat(col("text"),
          lit("\nSubscribe to our newsletter for updates."),
          when(col("doc_id") % 5 === 0,
            lit("\nAll rights reserved worldwide.")).otherwise(lit("")))))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || chr(10) || 'Subscribe to our newsletter for updates.'
    || CASE WHEN doc_id % 5 = 0
         THEN chr(10) || 'All rights reserved worldwide.' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
px AS (SELECT doc_id, z[2]::BIGINT - 1 AS idx, z[1] AS p
       FROM (SELECT doc_id, unnest(list_zip(ls, range(1, len(ls) + 1))) AS z
             FROM lx)),
rx AS (SELECT doc_id, idx, p,
         row_number() OVER (PARTITION BY md5(p)
           ORDER BY doc_id, idx) AS rn
       FROM px)
SELECT doc_id AS id, count(*)::BIGINT AS n_paragraphs,
  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  coalesce(array_to_string(list(p ORDER BY idx) FILTER (WHERE rn = 1), chr(10)), '')
    AS text_deduped
FROM rx GROUP BY doc_id ORDER BY id""")),

    // P1++, key p36_dup_spans — alignment-free duplicated-substring
    // detection: every 3rd doc carries the same planted 25-token run
    // (mirrored in the oracle), so its 6 interior windows are duplicated
    // corpus-wide; the generator's own ~5% near-dup docs contribute too.
    // Rebuild: materializes the window self-join side (SelfJoinMaterialize).
    QueryKey("p36_dup_spans", Rebuild, (s, dir) =>
      Dedup.dupSpans(docs(s, dir).withColumn("text",
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" " + DupSpanPlant)).otherwise(lit("")))), w = DupSpanW)
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
    THEN ' $DupSpanPlant' ELSE '' END AS text FROM documents),
cod AS (SELECT doc_id,
    list_transform(string_split_regex(lower(trim(text)), '\\s+'),
      x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM planted),
wx AS (SELECT doc_id, unnest(list_transform(range(1, len(c) - $DupSpanW + 2),
    i -> list_reduce([0]::BIGINT[] || list_slice(c, i, i + ${DupSpanW - 1}),
      (a,b) -> (a*131 + b % $HashMod) % $HashMod))) AS h
  FROM cod WHERE len(c) >= $DupSpanW),
nw AS (SELECT doc_id, greatest(len(c) - ${DupSpanW - 1}, 0)::BIGINT AS n_windows
       FROM cod),
df AS (SELECT h FROM wx GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
per AS (SELECT wx.doc_id, count(*)::BIGINT AS n_dup
        FROM wx JOIN df USING (h) GROUP BY wx.doc_id)
SELECT nw.doc_id AS id, nw.n_windows,
  coalesce(per.n_dup, 0)::BIGINT AS n_dup_windows,
  round(CASE WHEN nw.n_windows > 0
    THEN coalesce(per.n_dup, 0)::DOUBLE / nw.n_windows ELSE 0.0 END, 6)
    AS dup_window_frac
FROM nw LEFT JOIN per USING (doc_id) ORDER BY id""")),

    // P1++, key p48_span_dedup_apply — the excision half of Lee et
    // al.'s substring dedup: same plant as p36, but the output is the
    // CLEANED corpus (covered tokens removed, survivors re-joined).
    // Rebuild: materializes the window self-join side (SelfJoinMaterialize).
    QueryKey("p48_span_dedup_apply", Rebuild, (s, dir) =>
      Dedup.spanDedupApply(docs(s, dir).withColumn("text",
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" " + DupSpanPlant)).otherwise(lit("")))), w = DupSpanW)
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
    THEN ' $DupSpanPlant' ELSE '' END AS text FROM documents),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM planted),
cod AS (SELECT doc_id, tk,
    list_transform(tk, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wx AS (SELECT doc_id, unnest(list_transform(range(1, len(c) - $DupSpanW + 2),
    i -> list_reduce([0]::BIGINT[] || list_slice(c, i, i + ${DupSpanW - 1}),
      (a,b) -> (a*131 + b % $HashMod) % $HashMod))) AS h,
    unnest(range(1, len(c) - $DupSpanW + 2)) AS s
  FROM cod WHERE len(c) >= $DupSpanW),
df AS (SELECT h FROM wx GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
st AS (SELECT doc_id, list_distinct(flatten(list_transform(list(s),
      st2 -> range(st2, st2 + $DupSpanW)))) AS cov
  FROM wx JOIN df USING (h) GROUP BY doc_id),
fx AS (SELECT tok.doc_id, tk,
    list_filter(tk, (x, i) -> NOT list_contains(coalesce(cov, []), i)) AS kept
  FROM tok LEFT JOIN st ON tok.doc_id = st.doc_id)
SELECT doc_id AS id, len(tk)::BIGINT AS n_tokens,
  (len(tk) - len(kept))::BIGINT AS n_removed,
  coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM fx ORDER BY id""")),

    // P1++++, key p59_incremental_bloom — the continual-refresh frontier
    // at cross-datacenter scale: the corpus-membership side is a Bloom
    // filter built with ZERO corpus shuffle (partial-aggregated
    // reduction), the batch tests membership in its own projection.
    // Rows-only like p39 (bit layout is engine-specific); the spec pins
    // no-false-negatives against p49's exact frontier.
    // Rebuild: builds the Bloom filter by a collect.
    QueryKey("p59_incremental_bloom", Rebuild, (s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalExactBloom(corpus, batch).orderBy("id")
    }, oracle = None),

    // P1+++, key p49_incremental_dedup — continual-refresh exact dedup:
    // corpus = doc_id % 3 != 0; batch = the rest, with every 6th doc's
    // text replaced by its corpus neighbor (planted cross-corpus dup)
    // and every 30th re-appended under a shifted id (within-batch dup).
    QueryKey("p49_incremental_dedup", Prepared, (s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalExact(corpus, batch).orderBy("id")
    }, oracle = Some(s"""WITH $IncrementalFixtureSql,
ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
bh AS (SELECT doc_id AS id, md5(text) AS h FROM batch),
fx AS (SELECT id, h IN (SELECT h FROM ch) AS in_corpus,
    row_number() OVER (PARTITION BY h ORDER BY id) > 1 AS batch_dup
  FROM bh)
SELECT id, in_corpus, batch_dup,
  (NOT in_corpus AND NOT batch_dup) AS kept
FROM fx ORDER BY id""")),

    // P3+, key p51_incremental_neardup — the same continual-refresh
    // split under MinHash+LSH similarity: exact copies hit all 4 bands;
    // the generator's ~5% near-dup docs exercise partial-band matches
    // across the corpus/batch frontier.
    // Rebuild: materializes the cross-corpus self-join side.
    QueryKey("p51_incremental_neardup", Rebuild, (s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalNearDup(corpus, batch).orderBy("id")
    }, oracle = Some {
      def side(src: String, p: String): String =
        s"""${p}t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM $src),
${p}sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS s
  FROM ${p}t WHERE len(t) >= 3),
${p}codes AS (SELECT doc_id,
    list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM ${p}sh WHERE len(s) > 0),
${p}sigs AS (SELECT doc_id, $sigSql AS sig FROM ${p}codes),
${p}band AS (SELECT doc_id, sig, bd,
    md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM ${p}sigs, range(0,4) r(bd))"""
      s"""WITH $IncrementalFixtureSql,
${side("corpus", "c")},
${side("batch", "b")},
chit AS (SELECT DISTINCT b.doc_id AS id
  FROM bband b JOIN cband c ON b.bd = c.bd AND b.bh = c.bh
  WHERE len(list_filter(range(1,17), i -> b.sig[i] = c.sig[i])) >= 8),
bhit AS (SELECT DISTINCT b.doc_id AS id
  FROM bband b JOIN bband a ON b.bd = a.bd AND b.bh = a.bh
    AND a.doc_id < b.doc_id
  WHERE len(list_filter(range(1,17), i -> a.sig[i] = b.sig[i])) >= 8)
SELECT batch.doc_id AS id,
  batch.doc_id IN (SELECT id FROM chit) AS corpus_dup,
  batch.doc_id IN (SELECT id FROM bhit) AS batch_dup,
  (batch.doc_id NOT IN (SELECT id FROM chit)
    AND batch.doc_id NOT IN (SELECT id FROM bhit)) AS kept
FROM batch ORDER BY id"""
    }),

    // P82 — sign random projection (Achlioptas/JL): 64-dim float
    // embeddings -> 8 doubles through a deterministic md5-derived ±1
    // matrix (a driver literal artifact, like the LM vocabularies).
    // One narrow codegen scan, fixed-order left fold so every output
    // bit is oracle-reproducible; long-format output stays pivot-free.
    // Rebuild: draws the projection on the driver (a head over the input).
    QueryKey("p82_random_projection", Rebuild, (s, dir) =>
      Ann.signProject(embs(s, dir), outDim = 8).orderBy("vec_id", "dim"),
      oracle = Some(s"""WITH e AS (SELECT vec_id, embedding
        FROM read_parquet('$Sf/embeddings.parquet')),
g AS (SELECT j.range AS j, i.range AS i
      -- 64 = the fixture embedding dim at every SF (range() cannot
      -- take a subquery); the Spark side reads the dim from the data
      FROM range(0, 8) j, range(0, 64) i),
s AS (SELECT j, list(CASE WHEN ('0x' ||
          substring(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
          % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY i) AS signs
      FROM g GROUP BY j)
SELECT e.vec_id, s.j AS dim,
  round(list_reduce(list_prepend(0.0::DOUBLE,
    list_transform(list_zip(e.embedding, s.signs),
      z -> z[1]::DOUBLE * z[2])),
    (a, b) -> a + b), 6) AS proj
FROM e, s ORDER BY vec_id, dim""")),

    // P87 — corpus snapshot diff (incremental-refresh planning):
    // v2 modifies %7 texts, drops %13 docs, and adds re-keyed copies
    // of %11 — every status class is populated; only added+modified
    // would re-enter the pipeline downstream.
    QueryKey("p87_snapshot_diff", Prepared, (s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.where(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .unionByName(v1.where(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(v1, v2).orderBy("doc_id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v2 AS (SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
       FROM documents WHERE doc_id % 13 != 0
       UNION ALL
       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
  CASE WHEN a.doc_id IS NULL THEN 'added'
       WHEN b.doc_id IS NULL THEN 'removed'
       WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
       ELSE 'modified' END AS status
FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
ORDER BY doc_id""")),

    // P88 — content-defined chunking (Rabin/CDC boundaries over token
    // streams): cut after every 8-token window whose rolling hash ≡ 0
    // (mod 16), so an insertion shifts only the chunks it touches —
    // boundaries re-synchronize and later chunk hashes survive (the
    // property fixed-stride p71 lacks).
    QueryKey("p88_cdc_chunks", Prepared, (s, dir) =>
      Corpus.cdcChunks(docs(s, dir), w = 8, divisor = 16)
        .orderBy("id", "chunk_idx"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
cod AS (SELECT doc_id, t,
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wh AS (SELECT doc_id, t, CASE WHEN len(c) >= 8 THEN
    list_transform(range(1, len(c) - 8 + 2), i ->
      list_reduce([0]::BIGINT[] || list_slice(c, i, i + 7),
        (a,b) -> (a*131 + b % $HashMod) % $HashMod))
    ELSE []::BIGINT[] END AS h FROM cod),
cuts AS (SELECT doc_id, t,
    list_transform(list_filter(range(1, len(h) + 1), i -> h[i] % 16 = 0),
      i -> i - 1 + 8) AS cl FROM wh),
bounds AS (SELECT doc_id, t,
    CASE WHEN len(cl) > 0 AND cl[-1] = len(t) THEN [0] || cl
         ELSE [0] || cl || [len(t)] END AS bs FROM cuts),
ch AS (SELECT doc_id, t, bs, unnest(range(1, len(bs))) AS k FROM bounds)
SELECT doc_id AS id, (k - 1)::BIGINT AS chunk_idx,
  bs[k]::BIGINT AS start_token,
  (bs[k + 1] - bs[k])::BIGINT AS n_tokens,
  md5(array_to_string(list_slice(t, bs[k] + 1, bs[k + 1]), ' ')) AS chunk_hash
FROM ch ORDER BY id, chunk_idx""")),

    // P89 — CDC shared-content pairs (what p88's chunking is FOR):
    // docs embedding the same passage at DIFFERENT offsets share its
    // interior content-defined chunks — fixed-stride chunking misses
    // exactly that. Plant: every doc_id%9 doc appends the same
    // 80-token passage after its own (different-length) text.
    // Rebuild: materializes the chunk self-join side (SelfJoinMaterialize).
    QueryKey("p89_cdc_shared", Rebuild, (s, dir) =>
      Corpus.cdcSharedDocs(
        docs(s, dir).withColumn("text",
          when(pmod(col("doc_id"), lit(9)) === 0,
            concat(col("text"), lit(" " + CdcPlant)))
            .otherwise(col("text"))),
        w = 8, divisor = 16, minShared = 2)
        .orderBy("id_a", "id_b"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 9 = 0
    THEN ' $CdcPlant' ELSE '' END AS text FROM documents),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM planted),
cod AS (SELECT doc_id, t,
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wh AS (SELECT doc_id, t, CASE WHEN len(c) >= 8 THEN
    list_transform(range(1, len(c) - 8 + 2), i ->
      list_reduce([0]::BIGINT[] || list_slice(c, i, i + 7),
        (a,b) -> (a*131 + b % $HashMod) % $HashMod))
    ELSE []::BIGINT[] END AS h FROM cod),
cuts AS (SELECT doc_id, t,
    list_transform(list_filter(range(1, len(h) + 1), i -> h[i] % 16 = 0),
      i -> i - 1 + 8) AS cl FROM wh),
bounds AS (SELECT doc_id, t,
    CASE WHEN len(cl) > 0 AND cl[-1] = len(t) THEN [0] || cl
         ELSE [0] || cl || [len(t)] END AS bs FROM cuts),
ch AS (SELECT doc_id, t, bs, unnest(range(1, len(bs))) AS k FROM bounds),
chunks AS (SELECT DISTINCT doc_id,
    md5(array_to_string(list_slice(t, bs[k] + 1, bs[k + 1]), ' ')) AS h
  FROM ch),
el AS (SELECT h FROM chunks GROUP BY h
       HAVING count(*) >= 2 AND count(*) <= 256),
hits AS (SELECT doc_id, chunks.h FROM chunks JOIN el USING (h))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
FROM hits a JOIN hits b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
ORDER BY id_a, id_b""")),

    // P103 — HLL-shaped distinct-count sketch over the corpus's 3-gram
    // shingles: the bounded-memory cardinality primitive, in exact
    // int64 arithmetic so the ESTIMATE ITSELF hash-matches the oracle
    // (library HLLs never do). n_exact rides along for the honesty
    // read; at scale it's the path the sketch replaces.
    QueryKey("p103_hll_distinct", Prepared, (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val shingles = docs(s, dir).select(
        explode(TF.shingles(TF.tokens(col("text")), 3)).as("v"))
      Sketches.hllDistinct(shingles, "v", m = 64)
    }, oracle = Some(HllShingleOracle)),

    // P104 — count-min heavy hitters: the sketch is a 4x256 bounded
    // artifact; estimates for every vocab token plus two planted
    // ABSENT tokens (their "count" is pure collision mass — the
    // documented overestimate direction, spec-pinned as est >= exact).
    // Rebuild: builds the count-min sketch by an aggregate collect.
    QueryKey("p104_cms_heavyhitters", Rebuild, (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      import s.implicits._
      val toks = docs(s, dir).select(explode(TF.tokens(col("text"))).as("v"))
      val cands = toks.distinct()
        .unionAll(Seq("zz_absent_a", "zz_absent_b").toDF("v"))
      val exact = toks.groupBy("v").agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(Sketches.cmsBuild(toks, "v"), cands, "v")
        .join(exact, col("value") === col("v"), "left")
        .select(col("value"), col("cms_estimate"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy("value")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS v
        FROM documents),
d AS (SELECT unnest([0, 1, 2, 3]) AS i),
cell AS (SELECT i,
    ('0x' || substring(md5('cms' || i || ':' || v), 1, 8))::BIGINT % 256
      AS col
  FROM tok, d),
cms AS (SELECT i, col, count(*) AS cnt FROM cell GROUP BY i, col),
cand AS (SELECT DISTINCT v FROM tok
         UNION ALL SELECT 'zz_absent_a' UNION ALL SELECT 'zz_absent_b'),
ce AS (SELECT cand.v, d.i,
    ('0x' || substring(md5('cms' || d.i || ':' || cand.v), 1, 8))::BIGINT % 256
      AS col
  FROM cand, d),
lk AS (SELECT ce.v, coalesce(cms.cnt, 0) AS c
       FROM ce LEFT JOIN cms ON cms.i = ce.i AND cms.col = ce.col),
est AS (SELECT v, min(c)::BIGINT AS cms_estimate FROM lk GROUP BY v),
ex AS (SELECT v, count(*)::BIGINT AS n_exact FROM tok GROUP BY v)
SELECT est.v AS value, cms_estimate,
  coalesce(n_exact, 0)::BIGINT AS n_exact
FROM est LEFT JOIN ex ON est.v = ex.v
ORDER BY value""")),

    // P105 — shard-sketch-merge: the property that makes sketches THE
    // 100 TB cardinality tool — every shard sketches independently,
    // a reducer max-merges O(m) register rows, and the result is
    // BIT-IDENTICAL to sketching the whole corpus in one pass. Proven
    // by sharing p103's oracle: the merged parity-split halves must
    // hash-match the single-pass estimate exactly.
    QueryKey("p105_sketch_merge", Prepared, (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val d = docs(s, dir)
      def shingles(part: DataFrame) = part.select(
        explode(TF.shingles(TF.tokens(col("text")), 3)).as("v"))
      val even = Sketches.hllRegisters(
        shingles(d.where(pmod(col("doc_id"), lit(2)) === 0)), "v", m = 64)
      val odd = Sketches.hllRegisters(
        shingles(d.where(pmod(col("doc_id"), lit(2)) === 1)), "v", m = 64)
      Sketches.hllEstimateFromRegisters(Sketches.hllMerge(even, odd), m = 64)
        .crossJoin(shingles(d).agg(countDistinct(col("v")).as("n_exact")))
    }, oracle = Some(HllShingleOracle)),

    // P25, key p26_contamination — benchmark decontamination: docs with
    // doc_id < 20 act as the held-out benchmark corpus.
    // Rebuild: materializes the n-gram self-join side (SelfJoinMaterialize).
    QueryKey("p26_contamination", Rebuild, (s, dir) => {
      val d = docs(s, dir)
      Corpus.contamination(d, d.where(col("doc_id") < 20), n = 3).orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tokc AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
shc AS (SELECT doc_id,
          CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(range(1, len(t)-1),
                   i -> array_to_string(list_slice(t, i, i+2), ' ')))
            ELSE []::VARCHAR[] END AS s
        FROM tokc),
bsh AS (SELECT DISTINCT unnest(s) AS shingle FROM shc WHERE doc_id < 20),
tot AS (SELECT doc_id, len(s)::BIGINT AS n_shingles FROM shc),
hits AS (SELECT e.doc_id, count(*) AS n_cont
         FROM (SELECT doc_id, unnest(s) AS shingle FROM shc) e
         JOIN bsh USING (shingle) GROUP BY e.doc_id)
SELECT t.doc_id AS id, t.n_shingles,
       coalesce(h.n_cont, 0)::BIGINT AS n_contaminated,
       round(CASE WHEN t.n_shingles > 0
         THEN coalesce(h.n_cont, 0)::DOUBLE / t.n_shingles::DOUBLE
         ELSE 0.0 END, 6) AS contamination
FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id ORDER BY id""")),

    // P25+, key p39_contamination_bloom — the extreme-scale variant of
    // p26: the benchmark shingle set rides as an O(numBits/8) Bloom
    // filter instead of an exact broadcast set. NO SQL oracle (bloom bit
    // layout is engine-specific) — the driver records a rows-only check;
    // semantics are pinned by CorpusSpec's equivalence to the exact
    // operator (no false negatives; fp-bounded overcount).
    // Rebuild: builds the Bloom filter by a collect.
    QueryKey("p39_contamination_bloom", Rebuild, (s, dir) => {
      val d = docs(s, dir)
      Corpus.contaminationBloom(d, d.where(col("doc_id") < 20), n = 3)
        .orderBy("id")
    }, oracle = None),

    // P113 — 13-gram eval-set decontamination (the GPT-3-report
    // recipe): train docs sharing any 13-gram of normalized tokens
    // with the eval corpus are flagged. Eval docs (%97) and planted
    // train docs (%10==3) carry a shared 13-word slogan varying in
    // its first token by id%3, so planted contamination crosses the
    // train/eval split deterministically; natural collisions in the
    // corpus text count too — the oracle recomputes ground truth from
    // scratch, not the plant list.
    QueryKey("p113_ngram_decontam", Prepared, (s, dir) => {
      val planted = decontamPlanted(docs(s, dir))
      Corpus.ngramDecontaminate(
        planted.where(pmod(col("doc_id"), lit(97)) =!= 0),
        planted.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
p AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0 OR doc_id % 10 = 3
        THEN text || ' zq' || (doc_id % 3) ||
          ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        ELSE text END AS text FROM documents),
w AS (SELECT doc_id, list_filter(
        string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM p),
g AS (SELECT DISTINCT w.doc_id, array_to_string(w.ws[t.i:t.i + 12], ' ') AS gram
      FROM w, unnest(generate_series(1, len(w.ws) - 12)) AS t(i)),
eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT g.doc_id, count(*) AS n_hits FROM g JOIN eg USING (gram)
      WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
SELECT p.doc_id AS id,
  coalesce(h.n_hits, 0)::BIGINT AS n_contaminated_grams,
  coalesce(h.n_hits, 0) > 0 AS contaminated
FROM p LEFT JOIN h ON p.doc_id = h.doc_id
WHERE p.doc_id % 97 <> 0 ORDER BY id""")),

    // P119 — SPAN-level 13-gram decontamination, the excision half of
    // the GPT-3 recipe p113 flags doc-level: a pad-token window
    // around each colliding gram is cut and merged into disjoint
    // intervals, keeping the rest of the doc. Same planted fixture as
    // p113 (slogan appended at the tail), so the excised span is the
    // doc's tail window and every clean_text byte is oracle-checked;
    // natural cross-split collisions (incl. grams STRADDLING the
    // text/slogan boundary, which exist iff a train doc's tail equals
    // an eval doc's tail) are recomputed from scratch on both sides.
    // Rebuild: materializes the n-gram self-join side (SelfJoinMaterialize).
    QueryKey("p119_span_decontam", Rebuild, (s, dir) => {
      val planted = decontamPlanted(docs(s, dir))
      Corpus.spanDecontaminate(
        planted.where(pmod(col("doc_id"), lit(97)) =!= 0),
        planted.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
p AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0 OR doc_id % 10 = 3
        THEN text || ' zq' || (doc_id % 3) ||
          ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        ELSE text END AS text FROM documents),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM p),
g AS (SELECT w.doc_id, t.i - 1 AS s, array_to_string(
        list_transform(w.ws[t.i:t.i + 12], x -> lower(x)), ' ') AS gram
      FROM w, unnest(generate_series(1, len(w.ws) - 12)) AS t(i)),
eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT DISTINCT g.doc_id, g.s FROM g JOIN eg USING (gram)
      WHERE g.doc_id % 97 <> 0),
o AS (SELECT doc_id, s, CASE WHEN s - lag(s) OVER
        (PARTITION BY doc_id ORDER BY s) <= 53 THEN 0 ELSE 1 END AS brk
      FROM h),
i0 AS (SELECT doc_id, s, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        ROWS UNBOUNDED PRECEDING) AS isl FROM o),
isl AS (SELECT doc_id, isl, greatest(min(s) - 20, 0) AS lo, max(s) + 33 AS hi
        FROM i0 GROUP BY doc_id, isl),
tok AS (SELECT w.doc_id, t.i - 1 AS idx, w.ws[t.i] AS tok
        FROM w, unnest(generate_series(1, len(w.ws))) AS t(i)
        WHERE w.doc_id % 97 <> 0),
kept AS (SELECT tok.doc_id, tok.idx, tok.tok FROM tok
         LEFT JOIN isl ON isl.doc_id = tok.doc_id
           AND tok.idx >= isl.lo AND tok.idx < isl.hi
         WHERE isl.doc_id IS NULL),
k AS (SELECT doc_id, count(*) AS n_kept,
        array_to_string(list(tok ORDER BY idx), ' ') AS clean_text
      FROM kept GROUP BY doc_id),
ns AS (SELECT doc_id, count(*) AS n_spans FROM isl GROUP BY doc_id)
SELECT w.doc_id AS id, len(w.ws)::BIGINT AS n_tokens,
  coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
  (len(w.ws) - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
  coalesce(k.clean_text, '') AS clean_text
FROM w LEFT JOIN k ON k.doc_id = w.doc_id
LEFT JOIN ns ON ns.doc_id = w.doc_id
WHERE w.doc_id % 97 <> 0 ORDER BY id"""))
  )
}
