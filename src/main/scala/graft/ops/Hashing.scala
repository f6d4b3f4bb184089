package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine hash primitives.
  *
  * Every oracle-checked dedup/similarity query hashes through md5 parsed to
  * a 60-bit non-negative BIGINT: both Spark (`conv(substring(md5(x),1,15),
  * 16,10)`) and DuckDB (`CAST('0x' || substring(md5(x),1,15) AS BIGINT)`)
  * produce the identical value, so MinHash signatures, LSH band keys and
  * SimHash bits hash-match across engines exactly.
  *
  * This md5 family is the *verification* family. At production scale the
  * same operators accept Spark's codegen'd `xxhash64` as a drop-in (see
  * [[Dedup]] doc) — md5 is kept for the gate because DuckDB has no xxhash.
  */
object Hashing {

  /** 60-bit hash of a string column (non-negative, fits BIGINT exactly).
    * Backed by the codegen'd [[graft.functions.Md5Long]] expression —
    * callers must register it first ([[ensureRegistered]]).
    */
  def md5Long(c: Column): Column =
    call_function("graft_md5long", c)

  /** SQL-expression form usable inside higher-order function lambdas. */
  def md5LongSql(inner: String): String =
    s"graft_md5long($inner)"

  /** Register the engine's custom SQL functions in `df`'s session. */
  def ensureRegistered(df: org.apache.spark.sql.DataFrame): Unit =
    graft.functions.GraftFunctions.registerAll(df.sparkSession)

  /** DuckDB twin of [[md5LongSql]] (for generated oracle SQL). */
  def duckMd5Long(inner: String): String =
    s"CAST(('0x' || substring(md5($inner),1,15)) AS BIGINT)"

  /** Engine tokenizer over the string SQL expression `c`, as a SQL
    * expression — MUST stay in sync with graft.textfn.Text.tokenize and
    * its DuckDB twin [[duckTokens]].
    */
  def tokens(c: String = "text"): String =
    s"regexp_extract_all(lower($c), '[a-z0-9]+', 0)"
  val tokensSql: String = tokens()

  /** DuckDB twin of [[tokens]]: the one spelling of the tokenizer in
    * every gate oracle (DuckDB's `regexp_extract_all` defaults to the
    * whole match, Spark's to group 1 — hence no group argument here).
    */
  def duckTokens(c: String = "text"): String =
    s"regexp_extract_all(lower($c), '[a-z0-9]+')"
  val duckTokensSql: String = duckTokens()
}
