package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import PipelineFixtures._

/** Shared DuckDB oracle SQL of the pipeline query keys: corpus CTEs,
 * unrolled training chains and the oracles that batch and streaming twins
 * share. Each mirrors its Spark operator bit for bit. */
object OracleCtes {

  /** Shared corpus CTEs (tokens / distinct 3-gram shingles / shingle codes),
   * mirroring TextFunctions bit-for-bit. */
  /** Oracle twin of the DSIR selection (shared by p63 batch and p67
   * streaming — matching hashes prove batch and streaming agree). */
  /** Oracle twin of the language ID (shared by p08 direct and p91
   * WET-recovered — matching hashes prove the extracted-text ingest
   * round-trips byte-exactly into the analysis operators). */
  /** Oracle twin of the CDX index (shared by p93 batch and p110
   * streaming maintenance — matching hashes prove the stateless
   * append-mode index equals the batch build row for row). */
  private[keys] val CdxOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT
  'com,example-' || (doc_id % 50) || ')/pg/' || doc_id || '?a=1&b=2' AS urlkey,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS url,
  200::BIGINT AS status,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS n_bytes
FROM documents ORDER BY urlkey"""

  /** Oracle twin of the HLL shingle sketch (shared by p103 single-pass
   * and p105 shard-merge — matching hashes prove register max-merge is
   * exact): same salted md5 codes, the generated 33-way trailing-zero
   * CASE, the same integer harmonic fold. */
  private[keys] val HllShingleOracle: String = {
    val whens = (1 to 32).map(k =>
      s"WHEN hr % ${1L << k} = ${1L << (k - 1)} THEN $k").mkString("\n      ")
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
sh AS (SELECT CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i + 2), ' '))
       ELSE [] END AS ss FROM tok),
v AS (SELECT unnest(ss) AS v FROM sh),
h AS (SELECT ('0x' || substring(md5('hb:' || v), 1, 8))::BIGINT % 64 AS bucket,
             ('0x' || substring(md5('hr:' || v), 1, 8))::BIGINT AS hr FROM v),
r AS (SELECT bucket, max(CASE WHEN hr = 0 THEN 33
      $whens END) AS r FROM h GROUP BY bucket),
s AS (SELECT (sum((1::BIGINT << (34 - r)))::BIGINT
        + (64 - count(*)) * (1::BIGINT << 34)) AS s FROM r)
SELECT 64::BIGINT AS m,
  (709::BIGINT * 64 * 64 * (1::BIGINT << 34)) // (1000 * s) AS hll_estimate,
  (SELECT count(DISTINCT v) FROM v)::BIGINT AS n_exact
FROM s"""
  }

  private[keys] val LangIdOracle = {
    val langs = Seq("de", "en", "es", "fr")
    val hitExprs = langs.map { l =>
      val words = graft.functions.TextFunctions.DefaultStopwords(l)
        .map("'" + _ + "'").mkString(", ")
      s"len(list_filter(t, x -> list_contains([$words], x)))::BIGINT AS ${l}_hits"
    }.mkString(",\n  ")
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
hits AS (SELECT doc_id AS id,
  $hitExprs
  FROM toks)
SELECT id,
  CASE WHEN de_hits >= GREATEST(en_hits, es_hits, fr_hits) THEN 'de'
       WHEN en_hits >= GREATEST(es_hits, fr_hits) THEN 'en'
       WHEN es_hits >= fr_hits THEN 'es'
       ELSE 'fr' END AS predicted_lang,
  de_hits, en_hits, es_hits, fr_hits
FROM hits ORDER BY id"""
  }

  /** Oracle twin of the URL dedup (shared by p78 batch and p81
   * streaming): ground truth from the messyUrls fixture formula —
   * three spellings per page group all canonicalize to
   * example-{grp%50}.com/Pg/{grp}?a=1&b=2; keep = longest capture,
   * ties -> smallest doc_id. Any canonicalizer slip diverges rows. */
  private[keys] val UrlDedupOracle =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, n_chars, doc_id // 3 AS grp FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY grp
        ORDER BY n_chars DESC, doc_id ASC) AS rn FROM d),
a AS (SELECT grp, count(*) AS n_dups FROM d GROUP BY grp)
SELECT 'example-' || (a.grp % 50) || '.com/Pg/' || a.grp || '?a=1&b=2'
    AS canonical_url,
  r.doc_id AS kept_doc_id, a.n_dups
FROM r JOIN a ON r.grp = a.grp WHERE r.rn = 1
ORDER BY canonical_url"""

  /** Oracle twin of the perplexity bucketing (shared by p72 batch and
   * p73 streaming — matching hashes prove the frozen-model streaming
   * path equals the batch self-quantile run on the same corpus). */
  /** The p72 CCNet chain (LM train -> score -> per-language quantile
   * cuts -> buckets) over whatever `tok(doc_id, lang, source, t)` CTE
   * the caller prefixes — the label-routed original (p72/p73) and the
   * PREDICTED-lang composition (p120) share every line after tok. */
  private[keys] def perplexityOracleSql(prefixCtes: String): String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
$prefixCtes,
refcnt AS (SELECT lang AS l, tok, count(*)::BIGINT AS c
           FROM (SELECT lang, unnest(t) AS tok FROM tok
                 WHERE source IN ('src0','src1','src2','src3','src4'))
           GROUP BY l, tok),
topv AS (SELECT l, tok, c FROM (SELECT l, tok, c,
           row_number() OVER (PARTITION BY l ORDER BY c DESC, tok) AS rn
           FROM refcnt) WHERE rn <= 24),
denom AS (SELECT s.l, (s.t + v.v + 1)::DOUBLE AS d
          FROM (SELECT l, sum(c)::BIGINT AS t FROM refcnt GROUP BY l) s
          JOIN (SELECT l, count(*)::BIGINT AS v FROM topv GROUP BY l) v
            USING (l)),
vm AS (SELECT topv.l, map(list(tok ORDER BY c DESC, tok),
         list((c + 1)::DOUBLE / d ORDER BY c DESC, tok)) AS m
       FROM topv JOIN denom ON denom.l = topv.l GROUP BY topv.l),
scored AS (SELECT doc_id AS id, tok.lang,
    round((list_reduce([0.0]::DOUBLE[] ||
        list_transform(t, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
      + len(list_filter(t, x -> m[x][1] IS NULL))::DOUBLE
        * coalesce(1.0 / d, 1.0))
      / len(t)::DOUBLE, 6) AS score
  FROM tok LEFT JOIN vm ON vm.l = tok.lang
           LEFT JOIN denom ON denom.l = tok.lang
  WHERE len(t) >= 1),
cum AS (SELECT lang, score, sum(c) OVER (PARTITION BY lang ORDER BY score DESC)
          AS cum, sum(c) OVER (PARTITION BY lang) AS n
        FROM (SELECT lang, score, count(*)::BIGINT AS c FROM scored
              GROUP BY lang, score)),
cuts AS (SELECT lang,
           max(CASE WHEN cum >= ceil(n * 0.3) THEN score END) AS hc,
           max(CASE WHEN cum >= ceil(n * 0.6) THEN score END) AS mc
         FROM cum GROUP BY lang)
SELECT id, lang, score,
  CASE WHEN score >= hc THEN 'head'
       WHEN score >= mc THEN 'middle' ELSE 'tail' END AS bucket,
  score >= mc AS keep
FROM scored JOIN cuts USING (lang) ORDER BY id"""

  private[keys] val PerplexityOracle = perplexityOracleSql(
    s"""tok AS (SELECT doc_id, lang, source,
        string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)""")

  /** Oracle twin of the p117 train/apply chain, generated from the
   * same LangMarkers/LangIdBuckets/LangMarkerReps constants the Spark
   * fixture uses: marked text -> lowered char 2-4 grams -> md5
   * buckets -> per-(lang, bucket) counts over the %5!=0 slice ->
   * per-gram argmax by exact HUGEINT cross-products ((c_l+1) x the
   * OTHER languages' denominators compares the smoothed
   * probabilities without a single division) -> doc-level plurality;
   * every tie alphabetical on both sides. Ends at
   * `pred(doc_id, gold, vote, nv, n_grams)`. */
  private[keys] lazy val LangIdOracleCtes: String = {
    val langs = LangMarkers.map(_._1)
    val markerCase = "CASE lang " + LangMarkers.map { case (l, m) =>
      s"WHEN '$l' THEN '$m'" }.mkString(" ") + " ELSE '' END"
    val cpCols = langs.map(l =>
      s"coalesce(max(c) FILTER (lang = '$l'), 0)::HUGEINT AS c_$l")
      .mkString(",\n        ")
    val dnCols = langs.map(l =>
      s"(coalesce(max(t) FILTER (lang = '$l'), 0) + $LangIdBuckets)::HUGEINT AS d_$l")
      .mkString(",\n        ")
    val scoreCols = langs.map { l =>
      val others = langs.filter(_ != l).map(o => s"dn.d_$o").mkString(" * ")
      s"(coalesce(cp.c_$l, 0) + 1) * $others AS s_$l"
    }.mkString(",\n              ")
    val caseVote = "CASE greatest(" + langs.map(l => s"s_$l").mkString(", ") +
      ") " + langs.dropRight(1).map(l => s"WHEN s_$l THEN '$l'")
      .mkString(" ") + s" ELSE '${langs.last}' END"
    s"""m AS (SELECT doc_id, lang, source,
        text || repeat($markerCase, $LangMarkerReps) AS text FROM documents),
lt AS (SELECT doc_id, lang, lower(text) AS t FROM m),
gg AS (SELECT doc_id, lang,
        ('0x' || substring(md5(substring(lt.t, u.i, ns.n)), 1, 8))::BIGINT
          % $LangIdBuckets AS b
      FROM lt, (VALUES (2), (3), (4)) AS ns(n),
           unnest(generate_series(1, len(lt.t) - ns.n + 1)) AS u(i)
      WHERE len(lt.t) >= ns.n),
cnt AS (SELECT lang, b, count(*)::BIGINT AS c FROM gg
        WHERE doc_id % 5 <> 0 GROUP BY lang, b),
tot AS (SELECT lang, sum(c)::BIGINT AS t FROM cnt GROUP BY lang),
cp AS (SELECT b,
        $cpCols
       FROM cnt GROUP BY b),
dn AS (SELECT
        $dnCols
       FROM tot),
vt AS (SELECT doc_id, lang AS gold, $caseVote AS vote
      FROM (SELECT gg.doc_id, gg.lang,
              $scoreCols
            FROM gg LEFT JOIN cp USING (b) CROSS JOIN dn)),
dv AS (SELECT doc_id, gold, vote, count(*)::BIGINT AS nv FROM vt
       GROUP BY doc_id, gold, vote),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         ORDER BY nv DESC, vote ASC) AS rn FROM dv),
ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM gg GROUP BY doc_id),
pred AS (SELECT rk.doc_id, rk.gold, rk.vote, rk.nv, ng.n_grams
         FROM rk JOIN ng USING (doc_id) WHERE rn = 1)"""
  }

  private[keys] val DsirOracle =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
bg AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
feat AS (SELECT (lang = 'en') AS tgt,
    ('0x' || substring(md5(g),1,8))::BIGINT % $DsirBuckets AS b
  FROM bg, unnest(gs) AS u(g)),
cnt AS (SELECT b, count(*)::BIGINT AS cr,
    count(*) FILTER (WHERE tgt)::BIGINT AS ct FROM feat GROUP BY b),
tot AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM cnt),
exp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs)+1),
    i -> {'ord': i,
          'b': ('0x' || substring(md5(gs[i]),1,8))::BIGINT % $DsirBuckets})) AS r
  FROM bg),
ex AS (SELECT doc_id, r.ord AS ord, r.b AS b FROM exp),
jr AS (SELECT e.doc_id, e.ord,
    ((coalesce(c.ct, 0)+1)::DOUBLE * (t.tr+$DsirBuckets)::DOUBLE)
    / ((coalesce(c.cr, 0)+1)::DOUBLE * (t.tt+$DsirBuckets)::DOUBLE) AS ratio
  FROM ex e LEFT JOIN cnt c ON e.b = c.b CROSS JOIN tot t),
sums AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
    list_reduce([0.0]::DOUBLE[] || list(ratio ORDER BY ord), (a,b) -> a+b) AS s
  FROM jr GROUP BY doc_id),
sel AS (SELECT doc_id, n_grams, s / n_grams::DOUBLE AS w,
    ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % 1000003 AS hm
  FROM sums)
SELECT doc_id AS id, n_grams, round(w, 6) AS dsir_weight
FROM sel WHERE hm::DOUBLE < least(1.0, w * 0.25) * 1000003
ORDER BY id"""

  private[keys] val docCtes =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
         i -> array_to_string(list_slice(t, i, i+2), ' '))) AS s
       FROM toks WHERE len(t) >= 3)"""

  /** Oracle twin of `incrementalFixture` (corpus/batch CTEs for p49 and
   * p51). */
  private[keys] val IncrementalFixtureSql =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
planted AS (SELECT b.doc_id,
    CASE WHEN b.doc_id % 6 = 0 THEN coalesce(n.text, b.text)
         ELSE b.text END AS text
  FROM documents b LEFT JOIN documents n ON n.doc_id = b.doc_id + 1
  WHERE b.doc_id % 3 = 0),
batch AS (SELECT * FROM planted
  UNION ALL SELECT doc_id + 1000000, text FROM planted WHERE doc_id % 30 = 0)"""

  private[keys] val embCte =
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM read_parquet('$Sf/embeddings.parquet'))"""

  private[keys] val eventsCte =
    s"""events AS (SELECT * FROM read_parquet('$Sf/events.parquet'))"""

  /** Ordered left-fold dot product of 1-indexed `dim`-length double lists —
   * bit-identical to VectorFunctions.dot (aggregate starts at 0.0, and
   * 0.0 + x == x for IEEE doubles). */
  private[keys] def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_transform(range(1,${dim + 1}), i -> $a[i] * $b[i]), (x,y) -> x+y)"

  /** Ordered-fold squared L2 between two 1-indexed `d`-length double
   * lists — bit-identical to Ann.l2Col (zip_with + seeded fold). */
  private[keys] def l2Sql(a: String, b: String, d: Int = 8): String =
    s"list_reduce([0.0]::DOUBLE[] || list_transform(range(1,${d + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), (x,y) -> x+y)"

  /** SQ8 range-training + encode + dequantize CTEs over `emb`, shared
   * by the p38 flat-scan and p44 IVF-composed oracles (CTE names are
   * sq-prefixed so they compose with the coarse-quantizer CTEs). */
  private[keys] lazy val sqCtes: String =
    s"""sqsamp AS (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 256),
sqrng AS (SELECT d, min(v[d]) AS lo, max(v[d]) AS hi
        FROM sqsamp, range(1,65) r(d) GROUP BY d),
sqrl AS (SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his FROM sqrng),
sqenc AS (SELECT e.vec_id, list_transform(range(1,65), d ->
          CASE WHEN sqrl.his[d] > sqrl.los[d]
            THEN least(greatest(floor((e.v[d] - sqrl.los[d]) * 255.0
                   / (sqrl.his[d] - sqrl.los[d])), 0.0), 255.0)::BIGINT
            ELSE 0 END) AS codes
        FROM emb e, sqrl),
sqdeq AS (SELECT vec_id, list_transform(range(1,65), d ->
          CASE WHEN sqrl.his[d] > sqrl.los[d]
            THEN sqrl.los[d] + (codes[d]::DOUBLE + 0.5)
                   * (sqrl.his[d] - sqrl.los[d]) / 255.0
            ELSE sqrl.los[d] END) AS dv
        FROM sqenc, sqrl)"""

  /** Unrolled cosine k-means coarse-quantizer CTEs shared by the IVF and
   * IVF+PQ oracles — mirrors Ann.trainCentroids bit-for-bit (assign by
   * cosine with lowest-cid ties, id-ordered per-dimension mean folds,
   * emptied clusters keep their previous centroid), then full-corpus
   * assignment and each probe's nProbe=4 nearest lists. */
  private[keys] lazy val ivfCoarseCtes: String = {
    def kmIter(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""n${i - 1} AS (SELECT cid, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM $prev),
a$i AS (SELECT cid, vec_id, v FROM (
  SELECT c.cid, s.vec_id, s.v,
    row_number() OVER (PARTITION BY s.vec_id
      ORDER BY ${dotSql("s.v", "c.cv")} / (s.nrm * c.cn) DESC, c.cid) AS rk
  FROM samp s CROSS JOIN n${i - 1} c) WHERE rk = 1),
m$i AS (SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
      list_reduce([0.0]::DOUBLE[] || list(v[dim] ORDER BY vec_id), (x,y) -> x+y)
        / count(*) AS m
    FROM a$i, range(1,65) r(dim) GROUP BY cid, dim)
  GROUP BY cid),
c$i AS (SELECT $prev.cid, coalesce(m$i.cv, $prev.cv) AS cv
        FROM $prev LEFT JOIN m$i ON $prev.cid = m$i.cid)"""
    }
    s"""n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
samp AS (SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 256),
c0 AS (SELECT vec_id AS cid, v AS cv FROM samp ORDER BY vec_id LIMIT 16),
${kmIter(1)},
${kmIter(2)},
cents AS (SELECT cid AS centroid_id, cv AS centv, sqrt(${dotSql("cv", "cv")}) AS centn
          FROM c2),
assigned AS (
  SELECT centroid_id, neighbor_id, cv, cn, ccos FROM (
    SELECT c.centroid_id, n.vec_id AS neighbor_id, n.v AS cv, n.nrm AS cn,
      ${dotSql("n.v", "c.centv")} / (n.nrm * c.centn) AS ccos,
      row_number() OVER (PARTITION BY n.vec_id
        ORDER BY ${dotSql("n.v", "c.centv")} / (n.nrm * c.centn) DESC,
                 c.centroid_id) AS arank
    FROM n CROSS JOIN cents c)
  WHERE arank = 1),
plists AS (
  SELECT probe_id, pv, pn, centroid_id FROM (
    SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pn, c.centroid_id,
      row_number() OVER (PARTITION BY p.vec_id
        ORDER BY ${dotSql("p.v", "c.centv")} / (p.nrm * c.centn) DESC,
                 c.centroid_id) AS prank
    FROM n p CROSS JOIN cents c WHERE p.vec_id < 5)
  WHERE prank <= 4)"""
  }

  /** One PQ subspace's unrolled deterministic k-means (2 iterations) +
   * its positional codebook list — mirrors Ann.trainPqCodebooks for
   * subspace `s` (8 dims, 16 codes, sample = first 256 vectors in id
   * order, init = first
   * 16 sample subvectors, L2 assignment with lowest-cid ties, id-ordered
   * mean folds, emptied clusters keep their centroid). `src` is the
   * (vec_id, v) relation the sample is drawn from — `emb` for raw-vector
   * codebooks, a residual CTE for the IVFPQ residual variant. */
  private[keys] def pqSubCtes(s: Int, src: String = "emb"): String = {
    val lo = s * 8 + 1
    val hi = s * 8 + 8
    def iter(i: Int): String =
      s"""a${s}_$i AS (SELECT cid, vec_id, sv FROM (
  SELECT c.cid, x.vec_id, x.sv,
    row_number() OVER (PARTITION BY x.vec_id
      ORDER BY ${l2Sql("x.sv", "c.cv")} ASC, c.cid) AS rk
  FROM samp$s x CROSS JOIN c${s}_${i - 1} c) WHERE rk = 1),
m${s}_$i AS (SELECT cid, list(mn ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
      list_reduce([0.0]::DOUBLE[] || list(sv[dim] ORDER BY vec_id), (x,y) -> x+y)
        / count(*) AS mn
    FROM a${s}_$i, range(1,9) r(dim) GROUP BY cid, dim)
  GROUP BY cid),
c${s}_$i AS (SELECT p.cid, coalesce(m.cv, p.cv) AS cv
             FROM c${s}_${i - 1} p LEFT JOIN m${s}_$i m ON p.cid = m.cid)"""
    s"""samp$s AS (SELECT vec_id, list_slice(v, $lo, $hi) AS sv FROM $src ORDER BY vec_id LIMIT 256),
c${s}_0 AS (SELECT vec_id AS cid, sv AS cv FROM samp$s ORDER BY vec_id LIMIT 16),
${iter(1)},
${iter(2)},
cbl$s AS (SELECT list(cv ORDER BY cid) AS l FROM c${s}_2)"""
  }

  /** Sign-LSH bucket over 8 hyperplanes from table `t` (plane index
   * t*8+j), mirroring VectorFunctions.lshBucket/hyperplane. */
  private[keys] def bucketSql(v: String, t: String): String =
    s"""list_sum(list_transform(range(0,8), j -> CASE WHEN
       list_reduce(list_transform(range(0,64), i ->
         $v[i+1] * ((((1103515245*((($t)*8+j)*64+i)+12345) % 2147483648) / 2147483648.0) - 0.5)),
         (x,y) -> x+y) >= 0
       THEN (1::BIGINT << j) ELSE 0 END))::BIGINT"""

  /** The 16-entry MinHash signature list over distinct shingle codes
   * (a_i = 1000003 + 2i, b_i = 12345 + 97i mod 2^31-1). */
  private[keys] def sigSql: String = {
    val entries = (0 until 16).map { i =>
      val a = 1000003L + 2L * i
      val b = 12345L + 97L * i
      s"list_min(list_transform(d, x -> ($a*x + $b) % $HashMod))"
    }
    s"[${entries.mkString(",\n  ")}]"
  }

  /** Shared p114/p116 oracle CTEs: the fixture tables regenerated
   * cell-by-cell from the formula (never by parsing HTML), ending at
   * `u` = (id, table_idx, row_idx, n_cells, cells). */
  private[keys] lazy val HtmlTablesOracleCtes: String =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t1 AS (SELECT doc_id AS id, 0::BIGINT AS table_idx, r.r::BIGINT AS row_idx,
        (2 + doc_id % 2)::BIGINT AS n_cells,
        (SELECT string_agg(
           'c' || r.r || '_' || c.c || '_' || ((doc_id + r.r*7 + c.c*3) % 50)
             || CASE WHEN r.r = 1 AND c.c = 1 THEN '&x caféé' ELSE '' END,
           '|' ORDER BY c.c)
         FROM unnest(generate_series(0, 1 + doc_id % 2)) AS c(c)) AS cells
      FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS r(r)),
t2 AS (SELECT doc_id AS id, 1::BIGINT, r.r::BIGINT, 2::BIGINT,
        (SELECT string_agg(
           'd' || r.r || '_' || c.c || '_' || ((doc_id + r.r*5 + c.c*11) % 50),
           '|' ORDER BY c.c)
         FROM unnest(generate_series(0, 1)) AS c(c))
      FROM documents, unnest(generate_series(0, 1)) AS r(r)
      WHERE doc_id % 7 = 0),
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)"""

  /** Shared BPE oracle machinery (p41, p115): the stagewise
   * merge-training + corpus re-encode CTE chain, ending at `per`
   * (per-doc n_words/n_subwords) with `tok` (per-doc filtered word
   * list) still in scope. One stage per merge: count adjacent symbol
   * pairs over the current sample encoding, pick (count desc, a, b) —
   * then re-encode the sample with a left-greedy replace over the
   * chr(31)-joined representation (replace's resume-after-replacement
   * scan IS the BPE fold; see operators.Bpe). */
  /** The BPE merge-replay CTE chain, parametrized on the token-list
   * expression (over a `text` column): char-level (p41/p115) passes
   * the whitespace tokenizer, byte-level (p141) passes the
   * pretokenizer + byte-alphabet mapping — the training stages, the
   * replay fold, and the per-doc aggregation are shared verbatim, so
   * both rungs pin against ONE oracle semantics. */
  private[keys] def bpeCtesFor(tokList: String): String = {
    def stage(k: Int): String = {
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT (z).a AS a, (z).b AS b FROM (
    SELECT unnest(list_transform(range(1, len(l)), i ->
      struct_pack(a := l[i], b := l[i+1]))) AS z, f FROM $prev)
  GROUP BY 1, 2 ORDER BY sum(f) DESC, a, b LIMIT 1),
s$k AS MATERIALIZED (SELECT j, f,
    string_split(trim(j, chr(31)), chr(31) || chr(31)) AS l FROM (
    SELECT replace($prev.j,
        chr(31) || p$k.a || chr(31) || chr(31) || p$k.b || chr(31),
        chr(31) || p$k.a || p$k.b || chr(31)) AS j, f
    FROM $prev, p$k))"""
    }
    val stages = (1 to BpeMerges).map(stage).mkString(",\n")
    val baseJ = "chr(31) || array_to_string(list_transform(" +
      "range(1, length(w)+1), i -> w[i]), chr(31) || chr(31)) || chr(31)"
    val encJ = (1 to BpeMerges).foldLeft(baseJ)((acc, k) =>
      s"replace($acc, chr(31) || p$k.a || chr(31) || chr(31) || p$k.b || chr(31), " +
        s"chr(31) || p$k.a || p$k.b || chr(31))")
    val pList = (1 to BpeMerges).map(k => s"p$k").mkString(", ")
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w0 AS (SELECT w, count(*)::BIGINT AS f FROM (
    SELECT unnest($tokList) AS w
    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT $BpeSampleN))
  WHERE w <> '' GROUP BY w),
s0 AS MATERIALIZED (SELECT chr(31) || array_to_string(
         list_transform(range(1, length(w)+1), i -> w[i]),
         chr(31) || chr(31)) || chr(31) AS j, f,
       list_transform(range(1, length(w)+1), i -> w[i]) AS l FROM w0),
$stages,
tok AS (SELECT doc_id, list_filter($tokList, x -> x <> '') AS ws
        FROM documents),
encw AS (SELECT doc_id, unnest(ws) AS w FROM tok),
encj AS (SELECT doc_id, $encJ AS j FROM encw, $pList),
per AS (SELECT doc_id, count(*)::BIGINT AS n_words,
          sum(len(string_split(trim(j, chr(31)), chr(31) || chr(31))))::BIGINT
            AS n_subwords
        FROM encj GROUP BY doc_id)"""
  }

  private[keys] lazy val BpeOracleCtes: String =
    bpeCtesFor("string_split_regex(lower(trim(text)), '\\s+')")

  /** Byte-level twin: the RE2-safe pretokenizer (case-sensitive,
   * whitespace-significant), each pretoken mapped through the byte
   * alphabet. The fixture corpus is printable ASCII (verified
   * [32,121]), so the only byte needing mapping is space → chr(288)
   * ('Ġ' — the GPT-2 table's image of 0x20); the engine side applies
   * the FULL 256-entry table and BpeSpec pins the non-ASCII rows. */
  private[keys] lazy val BpeBytesOracleCtes: String = bpeCtesFor(
    "list_transform(regexp_extract_all(text, " +
      "'''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^\\s\\p{L}\\p{N}]+|\\s+'), x -> replace(x, ' ', chr(288)))")

  /** Shared oracle for the planted-PNG near-dup keys: p74 (parquet
   * fixture) and p111 (the same fixture round-tripped through a
   * binary-payload WARC segment). The pairs are enumerable from the
   * doc table alone — every variant of one doc is dHash-identical by
   * construction, distinct docs never pair. */
  /** Pair oracle shared by p77 (decoded-frame AVI fingerprints) and
   * p142 (container-resolved MP4 keyframe-byte fingerprints): every
   * variant of one doc fingerprints identically by construction,
   * distinct docs never pair. */
  private[keys] lazy val VideoNeardupPairsOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 10 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 15 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b"""

  /** Oracle shared by p129 (MP4 container walk) and p130 (the same
   * fixture through a .warc.gz binary round-trip). */
  private[keys] lazy val Mp4MetaOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id, doc_id % 50 + 10 AS nv, doc_id % 30 + 5 AS na,
        doc_id % 2 = 1 AS aud FROM documents),
m AS (SELECT doc_id,
        (CASE WHEN aud THEN greatest(nv, na) ELSE nv END * 40)::BIGINT AS mms,
        (CASE WHEN aud THEN 2 ELSE 1 END)::BIGINT AS nt, nv, na, aud
      FROM b)
SELECT doc_id AS id, 'isom' AS major_brand, mms AS movie_duration_ms,
  nt AS n_tracks, 1::BIGINT AS track_id, 'vide' AS handler,
  'avc1' AS codec, nv::BIGINT AS n_samples, (nv * 40)::BIGINT AS duration_ms
FROM m
UNION ALL
SELECT doc_id, 'isom', mms, nt, 2, 'soun', 'mp4a', na, na * 40
FROM m WHERE aud
ORDER BY id, track_id"""

  /** Oracle shared by p122 (batch sitemap parse) and p126 (its
   * streaming drain): both entry populations regenerated closed-form
   * from the sitemapDocs fixture formula with the loc's &amp; DECODED. */
  private[keys] lazy val SitemapsOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
u AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 5)) AS t(j)
      WHERE doc_id % 7 <> 0),
i AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 3)) AS t(j)
      WHERE doc_id % 7 = 0)
SELECT doc_id AS site, 'urlset' AS kind, j AS entry_idx,
  'https://site' || (doc_id % 40) || '.example.com/page/' || doc_id ||
    '/' || j || '?a=1&b=2' AS loc,
  CASE WHEN j % 2 = 0
    THEN '2024-01-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0')
    END AS lastmod,
  CASE WHEN j % 3 = 0 THEN (['always', 'hourly', 'daily', 'weekly',
    'monthly', 'yearly', 'never'])[(doc_id + j) % 7 + 1]
    END AS changefreq,
  CASE WHEN j % 2 = 1 THEN '0.' || ((doc_id + j) % 10) END AS priority
FROM u
UNION ALL
SELECT doc_id, 'sitemapindex', j,
  'https://site' || (doc_id % 40) || '.example.com/sitemap-' || j || '.xml',
  CASE WHEN j % 2 = 0
    THEN '2023-12-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0') END,
  NULL, NULL
FROM i
ORDER BY site, entry_idx"""

  private[keys] lazy val ImageNearDupOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 7 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b"""

  /** Shared batch oracle for the curation-pipeline keys: p50 (batch
   * window dedup) and p58 (streaming aggregation dedup) both
   * hash-match this CTE chain (p32 line filter, p23 clean, p24
   * redact, p35 gopher, p01 dedup in production order). */
  private[keys] lazy val CurationPipelineOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    CASE WHEN doc_id % 25 = 0 THEN '$PipeDupPlant' ELSE text || '.' END
    || chr(10) || 'short line' || chr(10)
    || 'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN chr(10) || 'Reach me at u' || doc_id
           || '@example.com or 555-123-4567 today please.' ELSE '' END AS text
  FROM documents),
kx AS (SELECT doc_id, text,
    list_filter(string_split(text, chr(10)),
      l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
        AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')) AS ks
  FROM planted),
fx AS (SELECT doc_id, array_to_string(ks, chr(10)) AS ft FROM kx
  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
    AND len(ks) > 0),
cl AS (SELECT doc_id, trim(regexp_replace(regexp_replace(ft,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
    '\\s+', ' ', 'g')) AS ct FROM fx),
rd AS (SELECT doc_id, regexp_replace(regexp_replace(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS rt FROM cl),
b AS (SELECT doc_id, rt, string_split_regex(lower(trim(rt)), '\\s+') AS t,
    string_split(rt, chr(10)) AS ls FROM rd),
m AS (SELECT doc_id, rt, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(rt, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b),
p AS (SELECT doc_id, rt, n_words FROM m
  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2),
d AS (SELECT doc_id, md5(rt) AS h, rt, n_words,
    row_number() OVER (PARTITION BY md5(rt) ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY md5(rt)) AS nd
  FROM p)
SELECT doc_id AS id, h AS content_hash, n_words AS n_tokens,
  nd::BIGINT AS n_dups, rt AS final_text
FROM d WHERE rn = 1 ORDER BY id"""

  /** Shared by p43 (batch) and p45 (streaming drain of the same
   * fused line-filter->Gopher chain). */
  private[keys] lazy val CurationChainOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || '.' || chr(10) || 'short line' || chr(10) ||
    'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
ft AS (SELECT doc_id, array_to_string(
    list_filter(ls, l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
      AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')),
    chr(10)) AS text
  FROM lx),
b AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM ft),
m AS (SELECT doc_id, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b)
SELECT doc_id AS id, n_words, round(mwl, 6) AS mean_word_len,
  round(sym, 6) AS symbol_ratio, round(bf, 6) AS bullet_frac,
  round(ef, 6) AS ellipsis_frac, round(af, 6) AS alpha_frac,
  sh AS stop_hits,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2)
    AS passes
FROM m ORDER BY id"""

  /** IVF top-k closed form, shared by p17 (batch) and p134 (streaming
   * serving drain): same trained coarse quantizer, same list
   * restriction, same exact ranking. */
  private[keys] lazy val IvfTopKOracle: String =
    s"""WITH $embCte,
$ivfCoarseCtes,
scored AS (
  SELECT pl.probe_id, a.neighbor_id,
         ${dotSql("pl.pv", "a.cv")} / (pl.pn * a.cn) AS cs
  FROM assigned a JOIN plists pl ON a.centroid_id = pl.centroid_id
  WHERE pl.probe_id <> a.neighbor_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
}
