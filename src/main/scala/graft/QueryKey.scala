package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key: everything graft declares about it, in one record.
 *
 * @param name     the key, e.g. `g03_onehop_fwd`
 * @param kind     how the router serves it (see [[QueryKey.Kind]])
 * @param build    constructs the key's DataFrame on a session for a corpus
 *                 directory
 * @param oracle   ANSI SQL that DuckDB runs on the same parquet tables to
 *                 reproduce the rows; None leaves the key a rows-only check
 * @param headline one of the keys compared against the reference in
 *                 BASELINE_REF.md; Bench gives these extra rounds
 */
final case class QueryKey(
    name: String,
    kind: QueryKey.Kind,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object QueryKey {
  sealed trait Kind

  /** Construction does no work beyond the one parquet-footer schema read
   * (PreparedPuritySpec pins that bound per key): the DataFrame is built
   * once per (key, session, corpus) and re-executed on every call, so a
   * repeat pays execution and not Catalyst. Every call still computes
   * its rows fresh over the store. */
  case object Prepared extends Kind

  /** Construction is the operation (training, a stream drain, an export
   * or another side effect), so the key is built on every call. Each such
   * key says why in a comment. */
  case object Rebuild extends Kind
}
