package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Seeded document corpus for the curation workload, with the facts the
  * checks need stated up front.
  *
  * Every document is 8-12 sentence lines of 8-14 words from a fixed
  * 3000-word vocabulary plus stopwords, so it clears the line filter and
  * the 50-word document floor; its first two sentences open with two
  * distinct Gopher stopwords, so it clears the stopword rule too. A share `nearRate` of the
  * base documents gets a near-duplicate (one word replaced: word-3-gram
  * Jaccard ~0.94), and a share `exactRate` of all documents is repeated
  * verbatim under a fresh id. Ids are shuffled. */
final case class Corpus(path: String, docs: Int, distinctTexts: Int,
                        plantedPairs: Seq[(Long, Long)])

object Corpora {
  private val Stop = Seq("the", "be", "to", "of", "and", "that", "have", "with",
    "in", "a", "for", "on", "as", "it", "by")

  /** Fixed vocabulary (independent of the run seed). */
  private val Vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ren", "tu", "sa", "vor", "pe", "din", "qua",
      "zel", "mo", "ta", "rin", "bo", "chi", "len", "dar", "fi", "gus")
    val r = new java.util.Random(7L)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < 3000)
      out += (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
    out.toArray
  }

  private def sentence(r: java.util.Random): Array[String] =
    Array.fill(8 + r.nextInt(7)) {
      if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.size)) else Vocab(r.nextInt(Vocab.length))
    }

  private def render(doc: Array[Array[String]]): String =
    doc.map(s => s.mkString(" ") + ".").mkString("\n")

  /** Generate `n` documents for `seed` and write them as parquet
    * (doc_id, text) under `path`. */
  def write(spark: SparkSession, path: String, seed: Long, n: Int,
            exactRate: Double, nearRate: Double): Corpus = {
    val r = new java.util.Random(seed)
    val exact = (n * exactRate).toInt
    val near = ((n - exact) * nearRate / (1 + nearRate)).toInt
    val bases = n - exact - near
    val texts = mutable.ArrayBuffer.empty[String]
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)] // indices into texts
    val baseDocs = Array.fill(bases) {
      val d = Array.fill(8 + r.nextInt(5))(sentence(r))
      d(0)(0) = "the"
      d(1)(0) = "of"
      d
    }
    baseDocs.foreach(d => texts += render(d))
    for (i <- 0 until near) {
      val b = r.nextInt(bases)
      val d = baseDocs(b).map(_.clone())
      val s = d(r.nextInt(d.length))
      val w = 1 + r.nextInt(s.length - 1) // position 0 holds the stopwords
      var repl = Vocab(r.nextInt(Vocab.length))
      while (repl == s(w)) repl = Vocab(r.nextInt(Vocab.length))
      s(w) = repl
      texts += render(d)
      pairs += ((b, texts.size - 1))
    }
    val unique = texts.size
    for (_ <- 0 until exact) texts += texts(r.nextInt(unique))
    // shuffled ids: position i of the shuffled order gets doc_id i
    val order = (0 until texts.size).toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val ids = new Array[Long](texts.size)
    order.zipWithIndex.foreach { case (t, id) => ids(t) = id.toLong }
    // exact dedup keeps the smallest id per text
    val firstId = mutable.HashMap.empty[String, Long]
    texts.indices.foreach { t =>
      val cur = firstId.getOrElse(texts(t), Long.MaxValue)
      if (ids(t) < cur) firstId(texts(t)) = ids(t)
    }
    val planted = pairs.map { case (a, b) => (firstId(texts(a)), firstId(texts(b))) }
      .filter { case (a, b) => a != b }.toSeq
    import spark.implicits._
    texts.indices.map(t => (ids(t), texts(t))).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    Corpus(path, texts.size, firstId.size, planted)
  }
}
