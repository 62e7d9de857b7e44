package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKey.{Prepared, Rebuild}
import PipelineFixtures._
import OracleCtes._

/** Text analysis keys: language ID, quality, tokenization, LM ladders. */
object TextKeys {

  val all: Seq[QueryKey] = Seq(
    // P22, key p23_clean — text cleaning over deterministically dirtied
    // input (planted control chars + whitespace runs, mirrored in the
    // oracle) so the strip/collapse/trim path is actually exercised.
    QueryKey("p23_clean", Prepared, (s, dir) =>
      TextAnalysis.cleaned(docs(s, dir).withColumn("text",
        concat(lit("  "), col("text"), lit("\t mid  gap \u0007\u0007 end  "))))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
            '  ' || text || chr(9) || ' mid  gap ' || chr(7) || chr(7) || ' end  ' AS text
          FROM documents),
cl AS (SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text,
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '\\s+', ' ', 'g')) AS clean_text
       FROM dirty)
SELECT doc_id AS id, clean_text,
       (length(text) - length(clean_text))::BIGINT AS n_chars_removed
FROM cl ORDER BY id""")),

    // P23, key p24_redact — PII redaction over input with planted
    // emails/phones on every 10th doc (mirrored in the oracle).
    QueryKey("p24_redact", Prepared, (s, dir) =>
      TextAnalysis.redacted(docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 now")))
          .otherwise(col("text"))))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
            CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || doc_id || '@example.com or 555-123-4567 now'
              ELSE text END AS text
          FROM documents)
SELECT doc_id AS id,
  regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted_text,
  len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
FROM dirty ORDER BY id""")),

    // P24, key p25_repetition — Gopher-style top-n-gram repetition ratio.
    QueryKey("p25_repetition", Prepared, (s, dir) =>
      TextAnalysis.repetition(docs(s, dir), n = 3).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tokr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
shr AS (SELECT doc_id, list_transform(range(1, len(t)-1),
          i -> array_to_string(list_slice(t, i, i+2), ' ')) AS s
        FROM tokr WHERE len(t) >= 3),
cnt AS (SELECT doc_id, shingle, count(*) AS c
        FROM (SELECT doc_id, unnest(s) AS shingle FROM shr)
        GROUP BY doc_id, shingle)
SELECT doc_id AS id, sum(c)::BIGINT AS n_shingles, max(c)::BIGINT AS top_count,
       round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_shingle_ratio
FROM cnt GROUP BY doc_id ORDER BY id""")),

    // P29, key p32_c4_filter — C4-style line filtering over input with
    // planted line structure (a too-short line + a passing prose line on
    // every doc, placeholder text every 10th, a code line every 7th —
    // mirrored in the oracle) so every rule actually fires.
    QueryKey("p32_c4_filter", Prepared, (s, dir) =>
      TextAnalysis.lineFilter(docs(s, dir).withColumn("text",
        concat(col("text"),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")))))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || chr(10) || 'short line' || chr(10) ||
    'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM planted),
kx AS (SELECT doc_id, text, ls,
  list_filter(ls, l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
    AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')) AS ks
  FROM lx)
SELECT doc_id AS id, len(ls)::BIGINT AS n_lines, len(ks)::BIGINT AS n_kept,
  contains(lower(text), 'lorem ipsum') AS has_lorem,
  contains(text, '{') AS has_braces,
  array_to_string(ks, chr(10)) AS filtered_text
FROM kx ORDER BY id""")),

    // P96 — Unicode confusable folding (ftfy-lite): the fixture wraps
    // each doc in curly quotes and plants NBSP + em-dash + ZWSP +
    // curly apostrophe + ellipsis; the oracle states the expected
    // folded string in closed form, so a missed fold, a wrong fold
    // order, or an over-eager class all diverge.
    QueryKey("p96_unicode_fold", Prepared, (s, dir) =>
      TextAnalysis.unicodeFold(
        docs(s, dir).withColumn("text", concat(lit("\u201C"), col("text"),
          // \u201D NBSP em-dash ZWSP it's-with-curly-quote fine ellipsis
          lit("\u201D\u00A0\u2014\u200Bit\u2019s fine\u2026"))))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  '"' || text || '" -it''s fine...' AS text_clean,
  len('"' || text || '" -it''s fine...')::BIGINT AS n_chars_clean
FROM documents ORDER BY id""")),

    // P97 — sentence segmentation: the planted paragraph exercises
    // every rule branch — ". Then" splits, "3.14" (no whitespace)
    // doesn't, "! Was" and "? Yes" split, ". the" (lowercase) doesn't,
    // ". Tail" splits. The oracle enumerates the 5 expected sentences
    // per doc in closed form.
    QueryKey("p97_sentences", Prepared, (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val intro = array_join(slice(TF.tokens(col("text")), 1, 2), " ")
      TextAnalysis.sentences(
        docs(s, dir).withColumn("text",
          concat(lit("Intro about "), intro,
            lit(". Then came 3.14 pies! Was it real? Yes. the trap " +
              "stays. Tail"))))
        .orderBy("id", "sent_idx")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, coalesce(array_to_string(list_slice(
        string_split_regex(lower(trim(text)), '\\s+'), 1, 2), ' '), '') AS seg
      FROM documents),
s AS (
  SELECT doc_id, 0 AS sent_idx,
         'Intro about ' || seg || '.' AS sentence FROM t
  UNION ALL SELECT doc_id, 1, 'Then came 3.14 pies!' FROM t
  UNION ALL SELECT doc_id, 2, 'Was it real?' FROM t
  UNION ALL SELECT doc_id, 3, 'Yes. the trap stays.' FROM t
  UNION ALL SELECT doc_id, 4, 'Tail' FROM t)
SELECT doc_id AS id, sent_idx::BIGINT AS sent_idx, sentence
FROM s ORDER BY id, sent_idx""")),

    // P10+, key p41_bpe — real BPE subword tokenization: merges trained
    // on the first 32 docs, corpus segmented by the native bpe_encode
    // expression in one scan. The oracle re-derives the SAME merges as a
    // 12-stage CTE chain (pair counting + left-greedy replace per
    // stage), so both engines train AND encode identically.
    // Rebuild: trains the BPE merges on the driver.
    QueryKey("p41_bpe", Rebuild, (s, dir) => {
      val merges = Bpe.trainMerges(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.stats(docs(s, dir), merges).orderBy("id")
    }, oracle = Some(s"""WITH $BpeOracleCtes
SELECT t.doc_id AS id, coalesce(per.n_words, 0)::BIGINT AS n_words,
  coalesce(per.n_subwords, 0)::BIGINT AS n_subwords,
  round(CASE WHEN coalesce(per.n_words, 0) > 0
    THEN per.n_subwords::DOUBLE / per.n_words ELSE 0.0 END, 6)
    AS subwords_per_word
FROM tok t LEFT JOIN per USING (doc_id) ORDER BY id""")),

    // P141 — BYTE-level BPE (the GPT-2 lineage; p41 is the char-level
    // rung): pretokens from the RE2-safe GPT-2-style pattern
    // (case-sensitive, whitespace-significant, leading-space word
    // units), their UTF-8 bytes mapped through the printable byte
    // alphabet (space = 'Ġ'), merges trained on byte symbols with the
    // SAME greedy trainer, corpus encoded by the SAME rank-heap native
    // expression. Any UTF-8 input encodes with zero OOV; decode is
    // exact (BpeSpec pins emoji/supplementary round-trips where
    // char-level differs). The oracle replays training AND encoding in
    // SQL through the shared parametrized CTE chain.
    // Rebuild: trains the byte-level BPE merges on the driver.
    QueryKey("p141_bpe_bytes", Rebuild, (s, dir) => {
      val merges = Bpe.trainMergesBytes(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.statsBytes(docs(s, dir), merges).orderBy("id")
    }, oracle = Some(s"""WITH $BpeBytesOracleCtes,
nb AS (SELECT doc_id,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT
           AS n_bytes
       FROM tok)
SELECT t.doc_id AS id, coalesce(per.n_words, 0)::BIGINT AS n_pretokens,
  coalesce(per.n_subwords, 0)::BIGINT AS n_subwords, nb.n_bytes,
  round(CASE WHEN coalesce(per.n_words, 0) > 0
    THEN per.n_subwords::DOUBLE / per.n_words ELSE 0.0 END, 6)
    AS subwords_per_pretoken,
  round(CASE WHEN nb.n_bytes > 0
    THEN per.n_subwords::DOUBLE / nb.n_bytes ELSE 0.0 END, 6)
    AS subwords_per_byte
FROM tok t LEFT JOIN per USING (doc_id) JOIN nb USING (doc_id)
ORDER BY id""")),

    // P31, key p37_unigram — unigram-frequency quality scoring with a
    // 24-entry vocabulary (the fixture generator draws from only 31
    // distinct tokens; top-24 covers ~81% of token mass, so OOV is
    // genuinely exercised on the rest).
    // Rebuild: trains the unigram vocabulary by a collect.
    QueryKey("p37_unigram", Rebuild, (s, dir) =>
      TextAnalysis.unigramScore(docs(s, dir), vocabSize = 24).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
cnt AS (SELECT tok, count(*)::BIGINT AS c
        FROM (SELECT unnest(t) AS tok FROM tok) GROUP BY tok),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 24),
vm AS (SELECT map(list(tok ORDER BY c DESC, tok),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, tok)) AS m
       FROM topv)
SELECT doc_id AS id, len(t)::BIGINT AS n_tokens,
  len(list_filter(t, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(t, x -> m[x][1] IS NULL))::DOUBLE / len(t), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(t, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(t), 9) AS avg_freq
FROM tok, vm ORDER BY id""")),

    // P31+, key p55_bigram — the bigram rung of the LM-quality ladder;
    // small V (like p37) keeps the trained table tight and exercises OOV.
    // Rebuild: trains the bigram vocabulary by a collect.
    QueryKey("p55_bigram", Rebuild, (s, dir) =>
      TextAnalysis.bigramScore(docs(s, dir), vocabSize = 24).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
cnt AS (SELECT g, count(*)::BIGINT AS c
        FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT g, c FROM cnt ORDER BY c DESC, g LIMIT 24),
vm AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, g)) AS m
       FROM topv)
SELECT doc_id AS id, len(gs)::BIGINT AS n_bigrams,
  len(list_filter(gs, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(gs, x -> m[x][1] IS NULL))::DOUBLE / len(gs), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(gs, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(gs), 9) AS avg_freq
FROM bg, vm ORDER BY id""")),

    // P31++, key p56_trigram — the trigram rung (same ladder, same
    // trained-artifact shape; docs need >= 3 tokens so the domain
    // filter is exercised too).
    // Rebuild: trains the trigram vocabulary by a collect.
    QueryKey("p56_trigram", Rebuild, (s, dir) =>
      TextAnalysis.trigramScore(docs(s, dir), vocabSize = 24).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
cnt AS (SELECT g, count(*)::BIGINT AS c
        FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT g, c FROM cnt ORDER BY c DESC, g LIMIT 24),
vm AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, g)) AS m
       FROM topv)
SELECT doc_id AS id, len(gs)::BIGINT AS n_trigrams,
  len(list_filter(gs, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(gs, x -> m[x][1] IS NULL))::DOUBLE / len(gs), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(gs, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(gs), 9) AS avg_freq
FROM tg, vm ORDER BY id""")),

    // P31+++, key p57_backoff — KenLM-style stupid backoff (Brants et
    // al. 2007): each trigram window scored by the longest trained
    // context, alpha-discounted on fallback. The top LM-ladder rung.
    // Rebuild: trains the backoff model by collects.
    QueryKey("p57_backoff", Rebuild, (s, dir) =>
      TextAnalysis.backoffScore(docs(s, dir), vocabSize = 24).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
c1 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(t) AS g FROM tok) GROUP BY g),
t1t AS (SELECT sum(c)::BIGINT AS total FROM c1),
v1 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t1t) ORDER BY c DESC, g)) AS m1
       FROM (SELECT g, c FROM c1 ORDER BY c DESC, g LIMIT 24)),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
c2 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
t2t AS (SELECT sum(c)::BIGINT AS total FROM c2),
v2 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t2t) ORDER BY c DESC, g)) AS m2
       FROM (SELECT g, c FROM c2 ORDER BY c DESC, g LIMIT 24)),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
c3 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
t3t AS (SELECT sum(c)::BIGINT AS total FROM c3),
v3 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t3t) ORDER BY c DESC, g)) AS m3
       FROM (SELECT g, c FROM c3 ORDER BY c DESC, g LIMIT 24)),
sc AS (SELECT doc_id, t,
         list_transform(range(1, len(t) - 1), i ->
           CASE WHEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL
                  THEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1]
                WHEN m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL
                  THEN 0.5 * m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1]
                WHEN m1[t[i+2]][1] IS NOT NULL THEN 0.25 * m1[t[i+2]][1]
                ELSE 0.0 END) AS fs,
         list_transform(range(1, len(t) - 1), i ->
           CASE WHEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL THEN 3
                WHEN m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL THEN 2
                WHEN m1[t[i+2]][1] IS NOT NULL THEN 1
                ELSE 0 END) AS tier
       FROM tok, v1, v2, v3 WHERE len(t) >= 3)
SELECT doc_id AS id, (len(t) - 2)::BIGINT AS n_windows,
  len(list_filter(tier, x -> x = 3))::BIGINT AS n_tri,
  len(list_filter(tier, x -> x = 2))::BIGINT AS n_bi,
  len(list_filter(tier, x -> x = 1))::BIGINT AS n_uni,
  len(list_filter(tier, x -> x = 0))::BIGINT AS n_oov,
  round(list_reduce([0.0]::DOUBLE[] || fs, (a,b) -> a+b)
    / (len(t) - 2), 9) AS avg_score
FROM sc ORDER BY id""")),

    // P31++++, key p69_interp — Jelinek-Mercer interpolated trigram
    // scoring with deleted-interpolation LEARNED lambdas (the final
    // LM-ladder rung; lambdas ride in the output so the oracle's
    // re-derivation is hash-checked). On this fixture's templated text
    // every top trigram's prefix is trigram-unique, so the held-out
    // trigram estimate is 1.0 and the learning lands on the boundary
    // lam3=1.0 — correct, and exactly what the learning should do
    // here; the spec pins a mixed-lambda corpus (7/9, 2/9, 0).
    // Rebuild: trains the interpolated model and its lambdas by collects.
    QueryKey("p69_interp", Rebuild, (s, dir) =>
      TextAnalysis.interpolatedScore(docs(s, dir), vocabSize = 512)
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
c1 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(t) AS g FROM tok) GROUP BY g),
n1t AS (SELECT sum(c)::BIGINT AS n1 FROM c1),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
c2 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
c3 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
top3 AS (SELECT g, c FROM c3 ORDER BY c DESC, g LIMIT 512),
top2 AS (SELECT g, c FROM c2 ORDER BY c DESC, g LIMIT 512),
top1 AS (SELECT g, c FROM c1 ORDER BY c DESC, g LIMIT 512),
parts AS (SELECT g, c AS ct, string_split(g, ' ') AS w FROM top3),
lamraw AS (SELECT p.ct,
    CASE WHEN coalesce(pc.c,0)-1 > 0 THEN p.ct-1 ELSE 0 END AS n3,
    CASE WHEN coalesce(pc.c,0)-1 > 0 THEN coalesce(pc.c,0)-1 ELSE 1 END AS d3,
    CASE WHEN coalesce(u2.c,0)-1 > 0 THEN coalesce(sc.c,0)-1 ELSE 0 END AS n2,
    CASE WHEN coalesce(u2.c,0)-1 > 0 THEN coalesce(u2.c,0)-1 ELSE 1 END AS d2,
    CASE WHEN n1t.n1-1 > 0 THEN coalesce(u3.c,0)-1 ELSE 0 END AS nu,
    CASE WHEN n1t.n1-1 > 0 THEN n1t.n1-1 ELSE 1 END AS du
  FROM parts p CROSS JOIN n1t
  LEFT JOIN c2 pc ON pc.g = array_to_string(list_slice(p.w, 1, 2), ' ')
  LEFT JOIN c2 sc ON sc.g = array_to_string(list_slice(p.w, 2, 3), ' ')
  LEFT JOIN c1 u2 ON u2.g = p.w[2]
  LEFT JOIN c1 u3 ON u3.g = p.w[3]),
win AS (SELECT ct,
    CASE WHEN n3*d2 >= n2*d3 AND n3*du >= nu*d3 THEN 3
         WHEN n2*du >= nu*d2 THEN 2 ELSE 1 END AS w
  FROM lamraw),
lamb AS (SELECT
    coalesce(sum(CASE WHEN w=3 THEN ct END),0)::BIGINT AS b3,
    coalesce(sum(CASE WHEN w=2 THEN ct END),0)::BIGINT AS b2,
    coalesce(sum(CASE WHEN w=1 THEN ct END),0)::BIGINT AS b1 FROM win),
lam AS (SELECT
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b3::DOUBLE/(b3+b2+b1)::DOUBLE END AS l3,
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b2::DOUBLE/(b3+b2+b1)::DOUBLE END AS l2,
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b1::DOUBLE/(b3+b2+b1)::DOUBLE END AS l1
  FROM lamb),
m3 AS (SELECT map(list(g), list(c)) AS m FROM top3),
m2 AS (SELECT map(list(g), list(c)) AS m FROM top2),
m1 AS (SELECT map(list(g), list(c)) AS m FROM top1),
mc2 AS (SELECT map(list(g), list(c)) AS m FROM c2),
mc1 AS (SELECT map(list(g), list(c)) AS m FROM c1),
sc2 AS (SELECT doc_id, t,
    list_transform(range(1, len(t) - 1), i ->
      lam.l3 * (CASE WHEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1]
                       IS NOT NULL
                     AND coalesce(mc2.m[array_to_string(list_slice(t, i, i+1), ' ')][1], 0) > 0
          THEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1]::DOUBLE
               / mc2.m[array_to_string(list_slice(t, i, i+1), ' ')][1]::DOUBLE
          ELSE 0.0 END)
      + lam.l2 * (CASE WHEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1]
                         IS NOT NULL
                       AND coalesce(mc1.m[t[i+1]][1], 0) > 0
          THEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1]::DOUBLE
               / mc1.m[t[i+1]][1]::DOUBLE
          ELSE 0.0 END)
      + lam.l1 * (CASE WHEN m1.m[t[i+2]][1] IS NOT NULL AND n1t.n1 > 0
          THEN m1.m[t[i+2]][1]::DOUBLE / n1t.n1::DOUBLE
          ELSE 0.0 END)) AS fs,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL
           THEN 1 ELSE 0 END) AS h3,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL
           THEN 1 ELSE 0 END) AS h2,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m1.m[t[i+2]][1] IS NOT NULL THEN 1 ELSE 0 END) AS h1
  FROM tok, lam, m3, m2, m1, mc2, mc1, n1t WHERE len(t) >= 3)
SELECT doc_id AS id, (len(t) - 2)::BIGINT AS n_windows,
  list_reduce([0]::BIGINT[] || h3, (a,b) -> a+b)::BIGINT AS n_tri,
  list_reduce([0]::BIGINT[] || h2, (a,b) -> a+b)::BIGINT AS n_bi,
  list_reduce([0]::BIGINT[] || h1, (a,b) -> a+b)::BIGINT AS n_uni,
  len(list_filter(range(1, len(t) - 1),
    i -> h3[i] = 0 AND h2[i] = 0 AND h1[i] = 0))::BIGINT AS n_oov,
  round(list_reduce([0.0]::DOUBLE[] || fs, (a,b) -> a+b) / (len(t) - 2), 9)
    AS avg_score,
  round((SELECT l3 FROM lam), 6) AS lam3,
  round((SELECT l2 FROM lam), 6) AS lam2,
  round((SELECT l1 FROM lam), 6) AS lam1
FROM sc2 ORDER BY id""")),

    // P30, key p35_gopher — Gopher document-quality rules over input
    // with planted rule-triggers (bullet lists every 8th doc, ellipsis
    // lines every 9th, symbol spam every 10th — mirrored in the oracle);
    // the multilingual fixture exercises the stopword/alpha/word-length
    // rules naturally (zh docs tokenize as unsegmented runs). The
    // required-stopword list is fixture-adapted ("the"/"a" — the only
    // function words in the generator's vocabulary; the default
    // GopherStopwords list would fail every doc), which is exactly what
    // the parameter is for on a real non-English corpus.
    QueryKey("p35_gopher", Prepared, (s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 8 === 0,
            lit("\n- alpha\n- beta\n- gamma\n- delta")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit("\nto be continued...\nmore soon...")).otherwise(lit("")),
          when(col("doc_id") % 10 === 0,
            lit("\n# # # # # # # # # #")).otherwise(lit("")))),
        stopwords = Seq("the", "a"))
        .orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text
  || CASE WHEN doc_id % 8 = 0 THEN chr(10) || '- alpha' || chr(10) || '- beta'
       || chr(10) || '- gamma' || chr(10) || '- delta' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'to be continued...'
       || chr(10) || 'more soon...' ELSE '' END
  || CASE WHEN doc_id % 10 = 0 THEN chr(10) || '# # # # # # # # # #'
       ELSE '' END AS text
  FROM documents),
b AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM planted),
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
FROM m ORDER BY id""")),

    // P11+, key p65_tfidf — per-document tf-idf keyword extraction
    // (idf as the raw rarity ratio N/df — ranking-equivalent to the
    // log form and bit-portable; top-5 terms per doc, term-asc ties).
    // Rebuild: materializes the document frequencies (SelfJoinMaterialize).
    QueryKey("p65_tfidf", Rebuild, (s, dir) =>
      TextAnalysis.tfidfKeywords(docs(s, dir), k = 5).orderBy("id", "rank"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id AS id,
    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT id, term, count(*)::BIGINT AS tf FROM tok
       WHERE term <> '' GROUP BY id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
sc AS (SELECT tf.id, tf.term, tf.tf, df.df,
    tf.tf::DOUBLE * (nn.n::DOUBLE / df.df::DOUBLE) AS raw
  FROM tf JOIN df USING (term) CROSS JOIN nn),
r AS (SELECT id, term, tf, df, raw,
    row_number() OVER (PARTITION BY id ORDER BY raw DESC, term ASC)::BIGINT
      AS rank
  FROM sc)
SELECT id, rank, term, tf, df, round(raw, 6) AS tfidf
FROM r WHERE rank <= 5 ORDER BY id, rank""")),

    // P8 — stopword-vote language ID.
    QueryKey("p08_langid", Prepared, (s, dir) =>
      TextAnalysis.languageId(docs(s, dir)).orderBy("id"),
      oracle = Some(LangIdOracle)),

    // P9 — quality scoring.
    QueryKey("p09_quality", Prepared, (s, dir) =>
      TextAnalysis.quality(docs(s, dir)).orderBy("id"),
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

    // P10 — token counting (whitespace + BPE-ish regex).
    QueryKey("p10_tokens", Prepared, (s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens
FROM documents ORDER BY id""")),

    // P11 — rolling-hash fingerprint + content hash.
    QueryKey("p11_fingerprint", Prepared, (s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)
SELECT doc_id AS id,
  list_reduce([0]::BIGINT[] ||
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT),
    (a,b) -> (a*131 + b % $HashMod) % $HashMod) AS fingerprint,
  md5(text) AS content_hash
FROM toks ORDER BY id""")),

    // P115 — per-language tokenizer fertility under the p41-trained
    // BPE: subwords per word and per character by language — the
    // signal multilingual mixtures weigh languages by (a fixed token
    // budget buys less text in high-fertility languages). One native
    // encode scan + one lang-keyed aggregation; ratios after the sums.
    // Rebuild: trains the BPE merges on the driver.
    QueryKey("p115_token_fertility", Rebuild, (s, dir) => {
      val merges = Bpe.trainMerges(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.fertility(docs(s, dir), merges).orderBy("lang")
    }, oracle = Some(s"""WITH $BpeOracleCtes,
chars AS (SELECT doc_id,
            coalesce(list_sum(list_transform(ws, x -> len(x))), 0)::BIGINT AS nc
          FROM tok),
agg AS (SELECT d.lang, count(*) AS n_docs,
          sum(coalesce(per.n_words, 0)) AS n_words,
          sum(coalesce(per.n_subwords, 0)) AS n_subwords,
          sum(c.nc) AS n_chars
        FROM documents d
        LEFT JOIN per ON d.doc_id = per.doc_id
        JOIN chars c ON d.doc_id = c.doc_id
        GROUP BY d.lang)
SELECT lang, n_docs::BIGINT AS n_docs, n_words::BIGINT AS n_words,
  n_subwords::BIGINT AS n_subwords, n_chars::BIGINT AS n_chars,
  round(CASE WHEN n_words > 0 THEN n_subwords::DOUBLE / n_words
    ELSE 0.0 END, 6) AS fertility_word,
  round(CASE WHEN n_chars > 0 THEN n_subwords::DOUBLE / n_chars
    ELSE 0.0 END, 6) AS fertility_char
FROM agg ORDER BY lang""")),

    // P144 — p115's fertility measurement re-run under the BYTE-level
    // tokenizer (the verdict's re-measure ask): per-language sums of
    // pretokens/subwords/BYTES under the p141-trained merges, ratios
    // after the sums. Shares p141's oracle CTEs with one extra
    // language aggregation — the two engines divide identical exact
    // integers.
    // Rebuild: trains the byte-level BPE merges on the driver.
    QueryKey("p144_fertility_bytes", Rebuild, (s, dir) => {
      val merges = Bpe.trainMergesBytes(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.fertilityBytes(docs(s, dir), merges).orderBy("lang")
    }, oracle = Some(s"""WITH $BpeBytesOracleCtes,
nb AS (SELECT doc_id,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT
           AS n_bytes
       FROM tok),
agg AS (SELECT d.lang, count(*) AS n_docs,
          sum(coalesce(per.n_words, 0)) AS n_pretokens,
          sum(coalesce(per.n_subwords, 0)) AS n_subwords,
          sum(nb.n_bytes) AS n_bytes
        FROM documents d
        LEFT JOIN per ON d.doc_id = per.doc_id
        JOIN nb ON d.doc_id = nb.doc_id
        GROUP BY d.lang)
SELECT lang, n_docs::BIGINT AS n_docs, n_pretokens::BIGINT AS n_pretokens,
  n_subwords::BIGINT AS n_subwords, n_bytes::BIGINT AS n_bytes,
  round(CASE WHEN n_pretokens > 0 THEN n_subwords::DOUBLE / n_pretokens
    ELSE 0.0 END, 6) AS fertility_pretoken,
  round(CASE WHEN n_bytes > 0 THEN n_subwords::DOUBLE / n_bytes
    ELSE 0.0 END, 6) AS fertility_byte
FROM agg ORDER BY lang""")),

    // P117 — TRAINED char-n-gram language ID, p08's production
    // successor: a per-language hashed 2-4-gram model trained on the
    // labeled %5!=0 slice (ONE bounded (lang, bucket) aggregation →
    // O(langs x buckets) literal artifact), applied to EVERY doc as a
    // stateless narrow scan through the native langid_vote expression
    // — per-gram likelihood argmax by exact integer cross-
    // multiplication, doc-level plurality, both ties alphabetical, no
    // floats anywhere (the dsir_score dodge, multiclass). The oracle
    // re-derives counts, HUGEINT-product vote argmax, and the doc
    // plurality from scratch; held-out docs (%5==0) are scored by a
    // model that never saw them, so `correct` measures real
    // generalization, not memorization.
    // Rebuild: trains the language-ID model by a collect.
    QueryKey("p117_langid_trained", Rebuild, (s, dir) => {
      val d = langMarked(docs(s, dir))
      TextAnalysis.langIdApply(d, langIdModelOf(d), carry = Seq("lang"))
        .select(col("id"), col("predicted_lang"),
          col("lang").as("gold_lang"),
          (col("predicted_lang") === col("lang")).as("correct"),
          col("n_grams"), col("top_votes"))
        .orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
$LangIdOracleCtes
SELECT doc_id AS id, vote AS predicted_lang, gold AS gold_lang,
  vote = gold AS correct, n_grams, nv AS top_votes
FROM pred ORDER BY id""")),

    // P120 — the composition the trained classifier exists for:
    // CCNet-style per-language perplexity buckets (p72) where the
    // language routing comes from the PREDICTED lang, not the gold
    // label — the production shape (a real crawl has no labels). The
    // prediction rides the same projection that feeds the LM stage
    // (carry columns, no id re-join); p72's whole train-score-
    // quantile-bucket chain then runs per PREDICTED language, and the
    // oracle recomputes both stages end to end.
    // Rebuild: trains the language-ID and perplexity models by collects.
    QueryKey("p120_langid_perplexity", Rebuild, (s, dir) => {
      val d = langMarked(docs(s, dir))
      val routed = TextAnalysis.langIdApply(d, langIdModelOf(d),
        carry = Seq("text", "source"))
        .select(col("id").as("doc_id"),
          col("predicted_lang").as("lang"), col("text"), col("source"))
      TextAnalysis.perplexityBuckets(routed,
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6).orderBy("id")
    }, oracle = Some(perplexityOracleSql(
      s"""$LangIdOracleCtes,
tok AS (SELECT m.doc_id, p.vote AS lang, m.source,
        string_split_regex(lower(trim(m.text)), '\\s+') AS t
        FROM m JOIN pred p USING (doc_id))"""))),

    // P123 — code-quality filters (Codex/StarCoder line-geometry
    // screen): max/mean line length, alphanumeric density, and
    // generation-marker scan over line-structured docs, exact integers
    // only (div, basis points). The oracle REBUILDS the line-shaped
    // fixture and recomputes every metric with SQL built-ins — a line
    // split slip, a div slip, or a threshold slip changes rows.
    QueryKey("p123_code_quality", Prepared, (s, dir) =>
      TextAnalysis.codeQuality(codeDocs(docs(s, dir))).orderBy("id"),
      oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
b AS (SELECT doc_id,
        (CASE WHEN doc_id % 11 = 0
          THEN '// Auto-Generated by graftgen' || chr(10) ELSE '' END)
        || array_to_string(
             [array_to_string(toks[k*7+1 : k*7+7], ' ')
              for k in range(0, CAST(ceil(len(toks)/7.0) AS BIGINT))],
             chr(10))
        || (CASE WHEN doc_id % 9 = 0
          THEN chr(10) || repeat('x', 1200) ELSE '' END) AS text
      FROM w),
m AS (SELECT doc_id AS id,
        len(string_split(text, chr(10)))::BIGINT AS n_lines,
        list_max(list_transform(string_split(text, chr(10)),
          x -> length(x)))::BIGINT AS max_line_len,
        length(text)::BIGINT AS n_chars,
        length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::BIGINT
          AS n_alnum,
        (lower(text) LIKE '%auto-generated%'
          OR lower(text) LIKE '%autogenerated%'
          OR lower(text) LIKE '%generated by%') AS autogen
      FROM b),
f AS (SELECT id, n_lines, max_line_len,
        (n_chars - (n_lines - 1)) * 1000 // n_lines AS mean_line_milli,
        n_alnum * 10000 // n_chars AS alnum_bp, autogen
      FROM m)
SELECT *, (max_line_len <= 1000 AND mean_line_milli <= 100000
  AND alnum_bp >= 2500 AND NOT autogen) AS keep
FROM f ORDER BY id""")),

    // P19+++++, key p70_quality_classifier — the DCLM/FineWeb-Edu
    // supervised classifier step: a 20% seed slice (doc_id % 5 == 0) is
    // LABELED by the Gopher verdict (the expensive judgment being
    // distilled), a binary NB over hashed bigrams trains on it in one
    // pass, and the FULL corpus is threshold-filtered by the trained
    // model — train/apply generalization across different frames, which
    // is what separates this from p63's self-referential resampling.
    // Rebuild: trains the classifier by a collect.
    QueryKey("p70_quality_classifier", Rebuild, (s, dir) => {
      val seed = docs(s, dir).where(col("doc_id") % 5 === 0)
      val labeled = TextAnalysis.gopherRules(seed, stopwords = Seq("the", "a"),
        passthrough = Seq("text"))
      val model = Corpus.classifierTrain(labeled, isPositive = col("passes"),
        buckets = DsirBuckets)
      Corpus.classifierFilter(docs(s, dir), model, threshold = 1.0)
        .orderBy("id")
    }, oracle = Some(s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
seed AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
sb AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM seed),
sm AS (SELECT doc_id, t, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM sb),
lab AS (SELECT doc_id, t,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2) AS pos
  FROM sm),
bg AS (SELECT doc_id, pos, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM lab WHERE len(t) >= 2),
feat AS (SELECT pos, ('0x' || substring(md5(g),1,8))::BIGINT % $DsirBuckets AS b
  FROM bg, unnest(gs) AS u(g)),
cnt AS (SELECT b, count(*) FILTER (WHERE NOT pos)::BIGINT AS cn,
    count(*) FILTER (WHERE pos)::BIGINT AS cp FROM feat GROUP BY b),
tot AS (SELECT sum(cn)::BIGINT AS tn, sum(cp)::BIGINT AS tp FROM cnt),
tok2 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         FROM documents),
bg2 AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok2 WHERE len(t) >= 2),
exp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs)+1),
    i -> {'ord': i,
          'b': ('0x' || substring(md5(gs[i]),1,8))::BIGINT % $DsirBuckets})) AS r
  FROM bg2),
ex AS (SELECT doc_id, r.ord AS ord, r.b AS b FROM exp),
jr AS (SELECT e.doc_id, e.ord,
    ((coalesce(c.cp, 0)+1)::DOUBLE * (t.tn+$DsirBuckets)::DOUBLE)
    / ((coalesce(c.cn, 0)+1)::DOUBLE * (t.tp+$DsirBuckets)::DOUBLE) AS ratio
  FROM ex e LEFT JOIN cnt c ON e.b = c.b CROSS JOIN tot t),
sums AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
    list_reduce([0.0]::DOUBLE[] || list(ratio ORDER BY ord), (a,b) -> a+b) AS s
  FROM jr GROUP BY doc_id)
SELECT doc_id AS id, n_grams, round(s / n_grams::DOUBLE, 6) AS quality_score
FROM sums WHERE s / n_grams::DOUBLE >= 1.0
ORDER BY id""")),

    // P31+++++, key p72_perplexity_buckets — CCNet-style per-language
    // perplexity bucketing (Wenzek et al. 2020): per-language unigram
    // models trained on a trusted reference slice (sources src0-src4,
    // the "Wikipedia" proxy), every doc scored with its own language's
    // model, each language split head/middle/tail at the 30%/60%
    // quantiles of the rounded score, keep = not tail. Small per-lang
    // vocab (24) exercises OOV like the rest of the LM ladder.
    // Rebuild: trains the perplexity model by collects.
    QueryKey("p72_perplexity_buckets", Rebuild, (s, dir) =>
      TextAnalysis.perplexityBuckets(docs(s, dir),
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6).orderBy("id"),
      oracle = Some(PerplexityOracle))
  )
}
