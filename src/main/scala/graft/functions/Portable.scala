package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable primitives used by the dedup / text
  * analysis operators. Everything here is reproducible bit-for-bit in any
  * SQL engine with md5 — which is what lets MinHash and SimHash signatures
  * be verified against the DuckDB oracle instead of being tested
  * rows-only. All built-ins, so the expressions stay codegen-friendly.
  */
object Portable {

  /** 60-bit hash from the first 15 hex chars of md5. Equivalent DuckDB:
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`. 60 bits keeps the
    * value positive and overflow-free in a signed 64-bit integer on both
    * engines.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant — independent hash families for MinHash. */
  def hash60(seed: Int, c: Column): Column =
    hash60(concat(lit(s"$seed:"), c))

  /** MinHash affine family: instead of one md5 per (seed, shingle) —
    * 16× the hashing cost — hash each shingle ONCE, truncate to 30 bits,
    * and derive the per-seed hashes as (a_s·h + b_s) mod P with md5-derived
    * constants. 30-bit operands keep a_s·h < 2^60, overflow-free in signed
    * 64-bit arithmetic on any engine (DuckDB raises on BIGINT overflow).
    */
  val MinhashPrime: Long = 1073741789L // largest prime < 2^30
  val Hash30Mask: Long = (1L << 30) - 1

  private def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    BigInt(1, d.take(8)).toLong >>> 4 // 60 bits, non-negative
  }

  /** Deterministic (a, b) pairs for the affine MinHash family. */
  def minhashConstants(n: Int): Seq[(Long, Long)] = (0 until n).map { s =>
    (md5Long(s"a:$s") % (MinhashPrime - 1) + 1, md5Long(s"b:$s") % MinhashPrime)
  }

  /** 30-bit base hash for the affine family. */
  def hash30(c: Column): Column = hash60(c).bitwiseAND(lit(Hash30Mask))

  /** Whitespace tokenization shared by the text operators; DuckDB:
    * [[graft.queries.OracleSql.tokSql]].
    */
  def wsTokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** Fixed-width zero-padded (timestamp, unique id) ordering key: both
    * engines compare it bytewise, so `min_by`/`max_by`/`arg_min`/`arg_max`
    * over it are a deterministic total order with O(1) aggregate state —
    * the combinable replacement for first_value/last_value windows. 20
    * chars per component covers every non-negative int64 (max 19 digits);
    * a 12-char pad would silently TRUNCATE ids >= 10^12 under both
    * engines' lpad semantics and collapse the order. Components must be
    * non-negative (a minus sign breaks the zero-pad trick) — enforced by
    * the callers' documented contracts.
    */
  def ordKey(tsUs: Column, uniqueId: Column): Column =
    concat(lpad(tsUs.cast("string"), 20, "0"),
      lpad(uniqueId.cast("string"), 20, "0"))

  /** DuckDB twin of [[ordKey]] over SQL fragments. */
  def ordKeySql(tsExpr: String, idExpr: String): String =
    s"lpad(CAST($tsExpr AS VARCHAR), 20, '0') || " +
      s"lpad(CAST($idExpr AS VARCHAR), 20, '0')"
}
