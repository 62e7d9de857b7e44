package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Shared corpus fixtures and parameters of the pipeline query keys: the
 * readers, planted inputs and streaming spools their builders use, and
 * the constants their oracles mirror. */
object PipelineFixtures {

  private[keys] val Sf = "/root/testdata/sf0.01"
  private[keys] val HashMod = 2147483647L

  /** Document-frequency cutoff for the registered Jaccard query: a shingle
   * appearing in more than this many documents is dropped before the
   * inverted-index self-join (skew guard; mirrored in the oracle CTE). */
  private[keys] val MaxShingleFreq = 50L

  /** Duplicated-span window width (p36) and the planted shared run — a
   * 25-token sentence appended to every 3rd doc, long enough that its
   * interior holds 25−20+1 = 6 full windows per planted doc. Shared
   * between the Scala call and the oracle SQL. */
  private[keys] val DupSpanW = 20
  private[keys] val DupSpanPlant = "seventeen curious penguins watch from a " +
    "distant icy hill while ships sail slowly past the quiet harbor " +
    "under pale morning light carrying spices and silk"

  /** Shared passage for the CDC pairing fixture (p89): long enough to
   * contain several content-defined cut points, so docs embedding it at
   * DIFFERENT offsets still share its interior chunks. */
  private[keys] val CdcPlant = (1 to 80).map(i => s"cdocs$i").mkString(" ")

  /** p50's planted duplicate paragraph: one 56-word prose line ending in
   * terminal punctuation, so it passes the line filter AND the Gopher
   * thresholds (stop hits 'the'/'a', mean word len ~3.9, all-alpha) —
   * every 25th doc becomes this text and the final dedup stage collapses
   * the survivors to one keep-min-id row. */
  private[keys] val PipeDupPlantRep = "the quick brown fox jumps over a lazy " +
    "dog near the river bank today"
  private[keys] val PipeDupPlant =
    s"$PipeDupPlantRep $PipeDupPlantRep $PipeDupPlantRep $PipeDupPlantRep."

  /** BPE (p41) parameters, shared between the Scala call and the
   * oracle's generated merge-derivation CTE chain. */
  private[keys] val BpeMerges = 12
  private[keys] val BpeSampleN = 32

  /** Stratified-sample (p20) parameters, shared between the Scala call and
   * the interpolated oracle SQL so the two can never silently diverge. */
  private[keys] val SamplePerStratum = 40
  private[keys] val SampleOverSample = 4
  private[keys] val SampleHashMod = 1 << 20
  private[keys] val DsirBuckets = 4096

  /** Trained-langid (p117/p120) parameters: bucket count plus the
   * per-language marker phrases the fixture appends (repeated
   * `LangMarkerReps`x) — the synthetic corpus shares ONE vocabulary
   * across lang labels, so without an injected signal there is
   * nothing for any classifier to learn. Shared between the Scala
   * fixture and the oracle's generated CASE so the two can never
   * silently diverge. ASCII-only (no quotes): the strings embed in
   * SQL literals and hash char-by-byte identically in both engines. */
  private[keys] val LangIdBuckets = 4096
  private[keys] val LangMarkerReps = 3
  private[keys] val LangMarkers = Seq(
    "de" -> " der schnelle braune fuchs springt ueber den faulen hund und laeuft weg",
    "en" -> " the quick brown fox jumps over the lazy dog and runs away with them",
    "es" -> " el zorro marron salta sobre el perro perezoso y corre lejos de aqui",
    "fr" -> " le renard brun saute par dessus le chien paresseux et court loin",
    "zh" -> " kuai su de zong se hu li tiao guo lan duo de gou ran hou pao kai")

  /** Token-mixture (p29) parameters — shared between the Scala call and
   * the interpolated oracle SQL (weights render as a VALUES table).
   * The temperature variant (p40) uses a budget below the corpus's
   * total token mass so every stratum genuinely gets cut. */
  private[keys] val MixTempTotalTokens = 15000L
  private[keys] val MixWeights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1)
  private[keys] val MixTotalTokens = 50000L
  private[keys] val MixOverSample = 4

  /** Epoch-capped mixture (p60) fixture: at sf0.01 token masses (en
   * ~11.8k, de ~3.5k, fr ~3.8k) these weights exercise every branch —
   * en: budget 10k < mass → 0 full epochs + partial cut; de: budget 10k
   * ≈ 2.8 epochs → 2 full + partial; fr: budget 30k ≈ 8 epochs → capped
   * at maxEpochs=4, no partial; es/zh: no weight → excluded. */
  private[keys] val CapWeights = Map("en" -> 0.2, "de" -> 0.2, "fr" -> 0.6)
  private[keys] val CapMaxEpochs = 4

  /** Every stateful streaming operator instantiates one state store per
   * shuffle partition per micro-batch, so a small drain under the session
   * default (32 here; 200 upstream) is almost all state-store bookkeeping.
   * Run the streaming drain with shuffles sized to its input — the
   * streaming analog of `spread` sizing batch inputs — and restore the
   * session value afterward (queries run sequentially through the
   * registry, and AvailableNow terminates before the restore). A real
   * deployment sizes this once per stream in its SparkSession config. */
  private[keys] val StreamShufflePartitions = 8
  private[keys] def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions.toString)
    try body finally s.conf.set(key, prev)
  }

  /** The default HDFS-backed state store keeps ALL streaming state on
   * the executor heap — fine for bounded trained artifacts (p106's HLL
   * registers are ≤ m rows), wrong for corpus-sized dedup state: at
   * 100 TB the per-partition hash-group state outgrows any heap. The
   * three corpus-state drains (p58/p75/p81) therefore run under
   * RocksDB, where state lives off-heap/on-local-disk per partition and
   * is bounded by disk, not memory. Restored after the drain (same
   * discipline as withStreamShuffle; a real deployment sets this once
   * in session conf). */
  private[keys] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** Commit-cost tuning (r20, measured via StreamProbe durationMs): the
   * default RocksDB commit takes a FULL snapshot (checkpoint + zip +
   * upload) of every partition's store on EVERY micro-batch — the
   * state-operator commit was the single largest slice of each drain's
   * addBatch (p75: 2.0–3.8 s summed commit per batch against ~2.3 s
   * addBatch wall). Changelog checkpointing writes only the batch's
   * change set at commit and defers snapshots to the background
   * maintenance thread — the documented production posture for
   * large-state/low-latency streams (at 100 TB state a per-batch full
   * snapshot is untenable). trackTotalNumberOfRows=false drops the
   * get-per-put bookkeeping that exists only to report numRowsTotal —
   * metrics-only, results identical. Both restored after the drain. */
  private[keys] val RocksDbTuning = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
      -> "false")
  private[keys] def withRocksDbState[T](s: SparkSession)(body: => T): T = {
    val keys = "spark.sql.streaming.stateStore.providerClass" +:
      RocksDbTuning.keys.toSeq
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set(keys.head, RocksDbProvider)
    RocksDbTuning.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally keys.foreach { k =>
      prev(k) match {
        case Some(p) => s.conf.set(k, p)
        case None => s.conf.unset(k)
      }
    }
  }

  /** The corpus tables ship as ONE parquet file each, which Spark scans
   * as a single partition — per-doc hashing work would run on one core.
   * Spread small inputs across the cluster before the compute-heavy
   * stages; a real 100 TB corpus has thousands of files and needs no
   * repartition (cores > input splits is a small-input artifact). */
  private[keys] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is driver-side metadata — unlike df.rdd.getNumPartitions
    // it does not force an RDD conversion per query build.
    if (df.inputFiles.length >= target) df else df.repartition(target)
  }

  /** Per-corpus directory for file-source streaming keys: a stable dir
   * under target/ holding a symlink to the corpus's `file`. Keyed by an
   * md5 of the FULL dir path (two corpora whose paths share a digit/dot
   * pattern — .../a/sf0.1 vs .../b/sf0.1 — must not collide), and the
   * symlink is re-created if it does not resolve to the requested file
   * (a stale key would silently stream the wrong dataset). Returns
   * (stream dir, tag for memory-sink query names). */
  private[keys] def streamingSourceDir(dir: String, file: String): (String, String) = {
    import java.nio.file.{Files, Paths}
    val stem = file.takeWhile(_ != '.')
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val streamDir = Paths.get(s"target/stream-$stem-$tag")
    Files.createDirectories(streamDir)
    val target = Paths.get(dir, file).toAbsolutePath
    val link = streamDir.resolve(file)
    if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
      Files.delete(link)
    if (!Files.exists(link)) Files.createSymbolicLink(link, target)
    (streamDir.toString, tag)
  }
  private[keys] def streamingDocsDir(dir: String): (String, String) =
    streamingSourceDir(dir, "documents.parquet")

  /** Once-per-corpus streaming spool (r21, r20-verdict #5): the
   * `streamingDocsSplitDir` write-once discipline generalized to the
   * streaming keys whose SOURCE fixture must first be exported in a
   * non-parquet shape (WET/WARC segments, sitemap parquet). The export
   * is a pure function of the corpus dir, so deleting and re-writing it
   * on every call only re-measured the batch export, not the drain under
   * test — the same repeat-reuse posture the bench already applies to
   * batch keys via the prepared-plan cache. The STREAM itself (a fresh
   * query, fresh temp checkpoint, full re-drain) still runs per call.
   * Keyed by an md5 of the corpus dir (collision-safe across corpora);
   * the sentinel lives BESIDE the spool so no file source ever lists it.
   * Bump `stem` when the export shape changes — a stale spool must never
   * masquerade as the new shape. */
  private[keys] def spooledOnce(dir: String, stem: String)
                         (write: String => Unit): (String, String) = {
    import java.nio.file.{Files, Paths}
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val out = Paths.get(s"/root/repo/target/$stem-$tag")
    val sentinel = Paths.get(s"/root/repo/target/$stem-$tag.ok")
    if (!Files.exists(sentinel)) {
      org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
      write(out.toString)
      Files.write(sentinel, stem.getBytes("UTF-8"))
    }
    (out.toString, tag)
  }

  /** Multi-file streaming source: the corpus split into `parts` parquet
   * files (written once per sf dir, reused after), so maxFilesPerTrigger=1
   * yields genuinely separate micro-batches — the fixture for drain modes
   * whose semantics only show across batches (p75's update mode). */
  private[keys] def streamingDocsSplitDir(s: SparkSession, dir: String,
                                    parts: Int): (String, String) = {
    import java.nio.file.{Files, Paths}
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val out = Paths.get(s"target/stream-docs-split$parts-$tag")
    if (!Files.exists(out.resolve("_SUCCESS")))
      s.read.parquet(s"$dir/documents.parquet").repartition(parts)
        .write.mode("overwrite").parquet(out.toString)
    (out.toString, tag)
  }

  /** Batch-side `spread`'s STREAMING twin: the harness drops the corpus
   * as ONE parquet file, and FileStreamSource hands AvailableNow
   * micro-batches partitioned by file — so every per-row scoring
   * expression would run on a single task. A production stream arrives
   * pre-partitioned (many files / many Kafka partitions); this
   * repartition restores that shape for one answer-sized shuffle.
   * Stateless-projection semantics are untouched (row set identical,
   * order irrelevant behind the memory sink's orderBy). Applied to the
   * streaming keys whose per-row work is heavy (p67 md5-per-bigram DSIR:
   * drain 4.8 -> 0.9 s at sf0.1; p58 fused stages; p73 vocab probes). */
  private[keys] def spreadStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Fold an update-mode memory sink to its final state (p75/p81):
   * keep each group's LAST update, identifiable because every emitted
   * update reflects at least one more member — its `n_dups` strictly
   * grows across a group's updates. */
  private[keys] def foldUpdates(s: SparkSession, table: String,
                          keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("n_dups").desc)
    s.table(table).withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  private[keys] def docs(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/documents.parquet"))
  private[keys] def embs(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/embeddings.parquet"))

  /** Shared messy-URL fixture for the web keys (p78 batch, p81
   * streaming — SAME oracle): every 3 consecutive docs are the same
   * page crawled 3 ways (https + mixed-case host; http + www + :80 +
   * trailing slash + utm + shuffled params; scheme-less + :443 +
   * fragment) — all canonicalizing to
   * example-{grp%50}.com/Pg/{grp}?a=1&b=2. Pure projection, works on
   * batch and streaming frames. */
  private[keys] def messyUrls(d: DataFrame): DataFrame = {
    val g = d.select(col("doc_id"), col("n_chars"))
      .withColumn("grp", expr("doc_id DIV 3"))
      .withColumn("h", pmod(col("grp"), lit(50)))
    g.withColumn("url",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("https://Example-"), col("h"), lit(".com/Pg/"),
          col("grp"), lit("?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("http://www.example-"), col("h"), lit(".com:80/Pg/"),
          col("grp"), lit("/?b=2&a=1&utm_source=s"), col("doc_id")))
      .otherwise(
        concat(lit("example-"), col("h"), lit(".COM:443/Pg/"),
          col("grp"), lit("?b=2&utm_campaign=c&a=1#frag"), col("doc_id"))))
      .select(col("doc_id"), col("n_chars"), col("url"))
  }

  /** Shared raw-HTML fixture for the web-extraction keys (p92 text,
   * p95 links): each doc becomes a page at its own messy URL whose
   * HTML wraps the doc text in realistic chrome — head with title /
   * style / script (the script body embeds a `<p>` tag that must NOT
   * leak into the text), an HTML comment, an entity-bearing paragraph
   * (incl. `&nbsp;` and a double-escape-safe `&amp;`), and two links:
   * one ABSOLUTE messy href to the next doc's page (tracking param +
   * unsorted query) and one ROOT-RELATIVE href (+gclid +fragment)
   * that must resolve against the page host. Doc text is
   * HTML-escaped on the way in, so extraction is exactly inverse. */
  /** p113 fixture: eval docs (%97==0) and planted train docs (%10==3)
   * get a 13-word slogan appended whose first token varies by id%3 —
   * eval ids 0,97,194,291,388,485 cover all three variants at sf0.01,
   * so every planted train doc finds a cross-split 13-gram match. */
  private[keys] def decontamPlanted(d: DataFrame): DataFrame =
    d.withColumn("text",
      when(pmod(col("doc_id"), lit(97)) === 0 ||
           pmod(col("doc_id"), lit(10)) === 3,
        concat(col("text"), lit(" zq"), pmod(col("doc_id"), lit(3)),
          lit(" alpha beta gamma delta epsilon zeta eta theta iota" +
            " kappa lambda mu")))
      .otherwise(col("text")))

  /** p117/p120 fixture: the documents table with the per-language
   * marker phrase appended (see LangMarkers). */
  private[keys] def langMarked(d: DataFrame): DataFrame = {
    val marker = LangMarkers.foldLeft(lit(""): org.apache.spark.sql.Column) {
      case (acc, (l, m)) => when(col("lang") === l, lit(m)).otherwise(acc)
    }
    d.withColumn("text", concat(col("text"), repeat(marker, LangMarkerReps)))
  }

  /** The langid model trained on the %5!=0 slice of the marked corpus
   * (shared by p117 and the p120 composition). */
  private[keys] def langIdModelOf(d: DataFrame): TextAnalysis.LangIdModel =
    TextAnalysis.langIdTrain(
      d.where(pmod(col("doc_id"), lit(5)) =!= 0), buckets = LangIdBuckets)

  /** p114 fixture: every doc carries one table of (2 + id%3) rows x
   * (2 + id%2) cols — row 0 as TH cells, cell (0,0) bold-wrapped,
   * cell (1,1) carrying a trailing `&amp;x` entity — and docs %7==0 a
   * second 2x2 table; every cell's text is closed-form so the oracle
   * regenerates it without parsing HTML. */
  private[keys] def tablePages(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    def table(prefix: String, nr: org.apache.spark.sql.Column, nc: org.apache.spark.sql.Column,
              cellMod: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
              decorate: Boolean): org.apache.spark.sql.Column = {
      val rows = transform(sequence(lit(0), nr - 1), r => concat(
        lit("<tr>"),
        array_join(transform(sequence(lit(0), nc - 1), c => {
          val base = concat(lit(prefix), r, lit("_"), c, lit("_"), cellMod(r, c))
          val content =
            if (!decorate) base
            else when(r === 0 && c === 0, concat(lit("<b>"), base, lit("</b>")))
              // full-decode entities load-bearing in cells (r19): the
              // named Latin-1 + numeric + nbsp forms must decode in a
              // CELL exactly as in body text (shared cleanInline)
              .when(r === 1 && c === 1,
                concat(base, lit("&amp;x&nbsp;caf&eacute;&#233;")))
              .otherwise(base)
          when(r === 0, concat(lit("<th class=\"h\">"), content, lit("</th>")))
            .otherwise(concat(lit("<td>"), content, lit("</td>")))
        }), ""),
        lit("</tr>")))
      concat(lit("<table border=\"1\">"), array_join(rows, ""), lit("</table>"))
    }
    val t1 = table("c", lit(2) + pmod(id, lit(3)).cast("int"),
      lit(2) + pmod(id, lit(2)).cast("int"),
      (r, c) => pmod(id + r.cast("long") * 7 + c.cast("long") * 3, lit(50)),
      decorate = true)
    val t2 = table("d", lit(2), lit(2),
      (r, c) => pmod(id + r.cast("long") * 5 + c.cast("long") * 11, lit(50)),
      decorate = false)
    d.select(id, concat(
      lit("<html><body><p>pre "), id, lit("</p>"), t1,
      when(pmod(id, lit(7)) === 0, t2).otherwise(lit("")),
      lit("<p>post</p></body></html>")).as("html"))
  }

  /** HTML-escape a text column for fixture pages — ORDER-SENSITIVE
   * ('&' must escape first); one copy for every fixture that embeds
   * doc text in markup (review-caught duplication). */
  private[keys] def escHtml(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    replace(replace(replace(c,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  private[keys] def htmlPages(d: DataFrame): DataFrame = {
    val esc = escHtml _
    val h = pmod(col("doc_id"), lit(50))
    val own = concat(lit("https://www.Example-"), h, lit(".com/Pg/"),
      col("doc_id"), lit("/?b=2&a=1"))
    val nxt = col("doc_id") + 1
    val link1 = concat(lit("https://Example-"), pmod(nxt, lit(50)),
      lit(".com/Pg/"), nxt, lit("?b=2&a=1&utm_source=x"))
    val link2 = concat(lit("/Pg/"), col("doc_id") * 7 + 3,
      lit("/?b=2&a=1&gclid=g#frag"))
    // UNQUOTED root-relative href (legal HTML, common on old pages) and
    // a path-relative one; docs %10==7 additionally carry a <base href>
    // that re-roots BOTH relative forms onto another host — the four
    // resolution regimes (absolute / root-relative / path-relative /
    // base-overridden) all ride every p9x web key's fixture.
    val link3 = concat(lit("/Pg/"), col("doc_id") * 3 + 1, lit("?b=2&a=1"))
    val link4 = concat(lit("Sub/"), col("doc_id"), lit("?b=2&a=1"))
    val baseTag = when(pmod(col("doc_id"), lit(10)) === 7,
      concat(lit("<base href=\"https://Base-"), h,
        lit(".example.org/Dir/x\">"))).otherwise(lit(""))
    d.select(col("doc_id"), own.as("url"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
        baseTag,
        lit("<style>body{color:#222}</style>"),
        lit("<script>var t=\"<p>not text</p>\";</script></head>"),
        lit("<body><!-- crawl "), col("doc_id"), lit(" -->"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1><p>"),
        esc(col("text")),
        lit("</p><p>Visit &amp; enjoy &lt;deals&gt;&nbsp;now.</p>"),
        lit("<div><a href=\""), link1, lit("\">next</a> <a href='"),
        link2, lit("'>rel</a> <a href="), link3,
        lit(">u</a> <a href=\""), link4,
        lit("\">s</a></div></body></html>")).as("html"))
  }

  /** Fixture for the meta-robots governance key (p143): one page per
   * doc with a meta-robots variant by doc_id%9 — 0 noindex, 1 nofollow
   * (unquoted uppercase), 2 `none` with FLIPPED attribute order,
   * 3 both tokens, 4 a DECOY (`name=description` whose content says
   * noindex — must not count), else no meta — and three anchors:
   * a1 absolute (always followable), a2 rel=nofollow BEFORE href
   * (never followable), a3 rel AFTER href, nofollow only on %4==0. */
  private[keys] def robotsPages(d: DataFrame): DataFrame = {
    val meta = when(pmod(col("doc_id"), lit(9)) === 0,
      lit("<meta name=\"robots\" content=\"noindex\">"))
      .when(pmod(col("doc_id"), lit(9)) === 1,
        lit("<META NAME=ROBOTS CONTENT=nofollow>"))
      .when(pmod(col("doc_id"), lit(9)) === 2,
        lit("<meta content='none' name='robots'>"))
      .when(pmod(col("doc_id"), lit(9)) === 3,
        lit("<meta name=robots content=\"noindex, nofollow\">"))
      .when(pmod(col("doc_id"), lit(9)) === 4,
        lit("<meta name=\"description\" content=\"noindex nofollow\">"))
      .otherwise(lit(""))
    val a3rel = when(pmod(col("doc_id"), lit(4)) === 0, lit("nofollow"))
      .otherwise(lit("me"))
    d.select(col("doc_id"),
      concat(lit("https://Gov-"), pmod(col("doc_id"), lit(50)),
        lit(".example.com/p/"), col("doc_id")).as("url"),
      concat(
        lit("<html><head><title>G "), col("doc_id"), lit("</title>"), meta,
        lit("</head><body><a href=\"https://ext-"),
        pmod(col("doc_id"), lit(20)), lit(".example.org/t/"), col("doc_id"),
        lit("\">x</a> <a rel=\"nofollow\" href=\"/nf/"), col("doc_id"),
        lit("\">y</a> <a href=\"/ok/"), col("doc_id") * 2,
        lit("\" rel="), a3rel, lit(">z</a></body></html>")).as("html"))
  }

  /** Shared messy per-doc page URLs for the CDX key (p93): one page
   * per doc (unlike messyUrls' 3-docs-per-page), spelled messily by
   * doc_id%3 — all canonicalize to example-{id%50}.com/Pg/{id}?a=1&b=2
   * and SURT to com,example-{id%50})/pg/{id}?a=1&b=2. */
  private[keys] def pageUrls(d: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(50))
    d.withColumn("url",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("https://Example-"), h, lit(".com/Pg/"),
          col("doc_id"), lit("?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("http://www.example-"), h, lit(".com:80/Pg/"),
          col("doc_id"), lit("/?b=2&a=1&utm_source=s"), col("doc_id")))
      .otherwise(
        concat(lit("example-"), h, lit(".COM:443/Pg/"),
          col("doc_id"), lit("?b=2&utm_campaign=c&a=1#frag"), col("doc_id"))))
  }

  /** p122 fixture: one sitemap document per doc — doc_id%7==0 publishes
   * a SITEMAPINDEX of doc_id%3+1 child refs, the rest a URLSET of
   * doc_id%5+1 url entries with optional-field presence varied per
   * entry (lastmod on even j, changefreq on j%3==0, priority on odd j)
   * and a `&amp;`-escaped query in every loc, so entity decoding is
   * load-bearing in the oracle comparison. */
  private[keys] def sitemapDocs(d: DataFrame): DataFrame = {
    val site = concat(lit("site"), pmod(col("doc_id"), lit(40)),
      lit(".example.com"))
    val freqs = Seq("always", "hourly", "daily", "weekly", "monthly",
      "yearly", "never")
    def day(prefix: String, j: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = concat(lit(prefix),
      lpad((pmod(col("doc_id") + j, lit(28)) + 1).cast("string"), 2, "0"))
    val urlEntries = transform(sequence(lit(0L), pmod(col("doc_id"), lit(5))),
      j => concat(
        lit("  <url>\n    <loc>https://"), site, lit("/page/"),
        col("doc_id"), lit("/"), j, lit("?a=1&amp;b=2</loc>\n"),
        when(pmod(j, lit(2)) === 0, concat(lit("    <lastmod>"),
          day("2024-01-", j), lit("</lastmod>\n"))).otherwise(lit("")),
        when(pmod(j, lit(3)) === 0, concat(lit("    <changefreq>"),
          element_at(typedlit(freqs),
            (pmod(col("doc_id") + j, lit(7)) + 1).cast("int")),
          lit("</changefreq>\n"))).otherwise(lit("")),
        when(pmod(j, lit(2)) === 1, concat(lit("    <priority>0."),
          pmod(col("doc_id") + j, lit(10)), lit("</priority>\n")))
          .otherwise(lit("")),
        lit("  </url>")))
    val idxEntries = transform(sequence(lit(0L), pmod(col("doc_id"), lit(3))),
      j => concat(
        lit("  <sitemap>\n    <loc>https://"), site, lit("/sitemap-"), j,
        lit(".xml</loc>\n"),
        when(pmod(j, lit(2)) === 0, concat(lit("    <lastmod>"),
          day("2023-12-", j), lit("</lastmod>\n"))).otherwise(lit("")),
        lit("  </sitemap>")))
    val ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    d.select(col("doc_id").as("site_id"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex xmlns=\"" +
          ns + "\">\n"), array_join(idxEntries, "\n"),
          lit("\n</sitemapindex>")))
      .otherwise(
        concat(lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"" + ns +
          "\">\n"), array_join(urlEntries, "\n"), lit("\n</urlset>")))
      .as("body"))
  }

  /** p127's stopword list (jusText-style function words; the fixture
   * vocabulary carries 'a'/'the', the planted light-link paragraph the
   * rest). Shared verbatim by the oracle SQL. */
  private[keys] val MainContentStopwords = Seq(
    "the", "a", "and", "for", "more", "of", "to", "in", "is", "on")

  /** p132 fixture: one robots.txt row per HOST, each advertising the
   * sitemap URLs of the docs it owns (doc_id % 40 == host id) — but
   * only for docs with doc_id % 3 != 1, so a third of the sitemap
   * documents exist WITHOUT a robots pointer and must stay
   * undiscovered. Directive case varies (Sitemap:/sitemap: by parity)
   * to pin the case-insensitive match; a leading UA group makes the
   * file realistic (RFC 9309 §2.2.4: the directive is a non-group
   * record wherever it appears). Lines sort for determinism. */
  private[keys] def robotsWithSitemaps(d: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(40))
    val line = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("Sitemap: "))
        .otherwise(lit("sitemap: ")),
      lit("https://site"), h, lit(".example.com/sitemap-"),
      col("doc_id"), lit(".xml"))
    d.where(pmod(col("doc_id"), lit(3)) =!= 1)
      .groupBy(h.as("__h"))
      .agg(array_join(sort_array(collect_list(line)), "\n").as("__sm"))
      .select(
        concat(lit("site"), col("__h"), lit(".example.com")).as("host"),
        concat(lit("User-agent: *\nDisallow: /private\nCrawl-delay: "),
          pmod(col("__h"), lit(5)) + 1, lit("\n\n"),
          col("__sm"), lit("\n")).as("body"))
  }

  /** p138 fixture: the store of CHILD sitemap documents a crawler
   * could fetch — every (host, j ≤ 2) pair, deliberately a SUPERSET of
   * what any index points at (hosts without an index doc, and js above
   * a host's max site_id%3, exist here but must never be fetched), so
   * the pointer-driven semi-join is load-bearing. Each child carries
   * two url entries, priority on the second. */
  private[keys] def childSitemapDocs(d: DataFrame): DataFrame = {
    val ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    d.select(pmod(col("doc_id"), lit(40)).as("h")).distinct()
      .select(col("h"),
        explode(sequence(lit(0L), lit(2L))).as("j"))
      .select(
        concat(lit("https://site"), col("h"), lit(".example.com/sitemap-"),
          col("j"), lit(".xml")).as("url"),
        concat(
          lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"" + ns + "\">\n"),
          lit("  <url>\n    <loc>https://site"), col("h"),
          lit(".example.com/child/"), col("j"), lit("/0</loc>\n  </url>\n"),
          lit("  <url>\n    <loc>https://site"), col("h"),
          lit(".example.com/child/"), col("j"), lit("/1</loc>\n"),
          lit("    <priority>0."), pmod(col("h") + col("j"), lit(10)),
          lit("</priority>\n  </url>\n</urlset>")).as("body"))
  }

  /** The p132/p136 composition: robots-discovered sitemaps parsed into
   * the per-host frontier (returns the robots frame too — p136 reads
   * its Crawl-delay directives). */
  private[keys] def discoveredFrontier(d: DataFrame): (DataFrame, DataFrame) = {
    val robots = robotsWithSitemaps(d)
    val discovered = UrlOps.robotsSitemaps(robots)
      .select(col("sitemap_url").as("__url")).distinct()
    val sm = sitemapDocs(d).withColumn("__url",
      concat(lit("https://site"), pmod(col("site_id"), lit(40)),
        lit(".example.com/sitemap-"), col("site_id"), lit(".xml")))
    // In production the discovered set is robots-table-bounded (a
    // robots file is KB-sized) and Spark's stats broadcast it on their
    // own; this FIXTURE advertises one sitemap per doc, so the set is
    // corpus-proportional — deliberately NO broadcast() hint, which
    // would bypass autoBroadcastJoinThreshold and ship the whole set
    // to every executor at a large SF.
    val selected = sm.join(discovered, Seq("__url"), "left_semi")
    (robots, UrlOps.frontierSchedule(
      UrlOps.parseSitemaps(selected, siteCol = "site_id"), perRound = 2))
  }

  /** p127 fixture: a full page per doc — nav link farm (high link
   * density), the doc's tokens as 8-token <p> paragraphs (content), a
   * light-link paragraph with an entity on %5 (must SURVIVE the
   * density screen), a link-heavy promo on %4 (must fail it), a short
   * footer (fails the length screen). */
  private[keys] def contentPages(d: DataFrame): DataFrame = {
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val nChunks = ceil(size(toks).cast("double") / lit(8.0)).cast("int")
    val paras = transform(sequence(lit(0), nChunks - 1),
      k => concat(lit("<p>"), array_join(slice(toks, k * 8 + 1, lit(8)), " "),
        lit("</p>")))
    val nav = lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
      " <a href=\"/contact\">Contact</a></nav>")
    val light = when(pmod(col("doc_id"), lit(5)) === 0,
      lit("<p>See the <a href=\"/docs\">docs</a> for background " +
        "information and details &amp; more caf&eacute;&nbsp;&#8212;" +
        "</p>")).otherwise(lit(""))
    val promo = when(pmod(col("doc_id"), lit(4)) === 0,
      lit("<p><a href=\"/promo\">promo promo promo promo promo</a> x</p>"))
      .otherwise(lit(""))
    val footer = concat(lit("<footer>(c) site "),
      pmod(col("doc_id"), lit(40)), lit("</footer>"))
    d.select(col("doc_id"),
      concat(lit("<html><body>"), nav, array_join(paras, ""), light, promo,
        footer, lit("</body></html>")).as("html"))
  }

  /** p123 fixture: each doc's tokens reshaped into 7-token lines (code
   * has line structure the raw corpus text lacks); doc_id%9==0 gains a
   * 1200-char minified-style line (fails the max-line screen),
   * doc_id%11==0 a generation-marker header (fails the autogen
   * screen) — both arms load-bearing in the oracle comparison. */
  private[keys] def codeDocs(d: DataFrame): DataFrame = {
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val nChunks = ceil(size(toks).cast("double") / lit(7.0)).cast("int")
    val lines = transform(sequence(lit(0), nChunks - 1),
      k => array_join(slice(toks, k * 7 + 1, lit(7)), " "))
    val body = array_join(lines, "\n")
    val withLong = when(pmod(col("doc_id"), lit(9)) === 0,
      concat(body, lit("\n"), repeat(lit("x"), 1200))).otherwise(body)
    val withHdr = when(pmod(col("doc_id"), lit(11)) === 0,
      concat(lit("// Auto-Generated by graftgen\n"), withLong))
      .otherwise(withLong)
    d.select(col("doc_id"), withHdr.as("text"))
  }

  /** Shared conversation fixture for the SFT key (p94): a 5-turn
   * conversation per doc carved from its own token stream (system,
   * user, assistant, user, assistant), mirrored token-for-token in
   * the oracle's list_slice arithmetic. Short docs yield short or
   * empty turn contents — both engines clamp slices identically. */
  private[keys] def sftConvs(d: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val toks = TF.tokens(col("text"))
    def seg(start: Int, len: Int) =
      array_join(slice(toks, start, len), " ")
    d.select(col("doc_id"), array(
      struct(lit("system").as("role"),
        lit("You are a helpful assistant.").as("content")),
      struct(lit("user").as("role"), seg(1, 8).as("content")),
      struct(lit("assistant").as("role"), seg(9, 12).as("content")),
      struct(lit("user").as("role"), seg(21, 6).as("content")),
      struct(lit("assistant").as("role"), seg(27, 10).as("content")))
      .as("turns"))
  }

  /** Shared planting for the curation-pipeline keys (p50 batch, p58
   * streaming — SAME oracle): dup paragraph (%25, collapses in the
   * final dedup), lorem/braces drops (%10/%7), a PII line that survives
   * the line filter (%4), and the p43 line-filter fodder. Works on both
   * batch and streaming frames (pure projection). */
  private[keys] def pipelinePlanted(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(
        when(col("doc_id") % 25 === 0, lit(PipeDupPlant))
          .otherwise(concat(col("text"), lit("."))),
        lit("\nshort line\nThis line has exactly enough words to pass."),
        when(col("doc_id") % 10 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nfunction() { var x = 1; }")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit("\nReach me at u"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 today please.")))
          .otherwise(lit(""))).as("text"))

  /** Shared corpus/batch split for the incremental-dedup keys (p49,
   * p51): corpus = doc_id % 3 != 0; batch = the rest, with every 6th
   * doc's text replaced by its corpus neighbor (planted cross-corpus
   * dup) and every 30th re-appended under a shifted id (within-batch
   * dup). Mirrored verbatim in `IncrementalFixtureSql`. */
  private[keys] def incrementalFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    val corpus = d.where(col("doc_id") % 3 =!= 0)
    val planted = d.where(col("doc_id") % 3 === 0).as("b")
      .join(d.select(col("doc_id").as("nid"), col("text").as("ntext")),
        col("nid") === col("b.doc_id") + 1, "left")
      .select(col("b.doc_id").as("doc_id"),
        when(col("b.doc_id") % 6 === 0,
          coalesce(col("ntext"), col("b.text")))
          .otherwise(col("b.text")).as("text"))
    val batch = planted.unionAll(planted.where(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    (corpus, batch)
  }
  /** Events reader with ts-unit auto-detection (the generator has
   * shipped both TIMESTAMP(NANOS) and TIMESTAMP_NTZ-micros across
   * rounds — see EventStream.normalizeTs). */
  private[keys] def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.readBatch(s, s"$dir/events.parquet")

  private[keys] def probes(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
}
