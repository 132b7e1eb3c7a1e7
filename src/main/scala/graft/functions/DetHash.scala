package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing (SURVEY.md §5.7).
  *
  * The only hash primitive Spark and DuckDB share bit-for-bit is `md5(text)`
  * (lowercase hex in both). Everything that must agree with the DuckDB oracle
  * — MinHash permutations, SimHash word bits, LSH hyperplanes, fingerprints —
  * derives integers from md5 hex prefixes:
  *
  *   Spark:  conv(substr(md5(x),1,15), 16, 10) :: long      (60 bits, >= 0)
  *   DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)
  *
  * 15 hex chars = 60 bits, always positive, so arithmetic/shift semantics
  * agree across engines (no signed-overflow edge cases).
  *
  * Spark's own `hash()`/`xxhash64` are NOT used on oracle-checked paths —
  * DuckDB cannot reproduce them.
  */
object DetHash {

  /** 60-bit non-negative hash of a string column. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** [[h60]] with a NON-NULLABLE schema: coalesce(h60, 0) (r17
    * optimization round, guide §4). The 0 branch is unreachable for
    * non-null input — md5, substring and conv(hex,16,10) of a 15-hex-char
    * prefix never return null, and the cast to bigint always parses a
    * 60-bit decimal string — so VALUES are identical to h60. What changes
    * is the static type: non-nullable, which lets the optimizer fold away
    * the IsNotNull constraint that an equi-join on the hash key infers
    * and pushes below the projection. That pushed filter re-evaluates the
    * ENTIRE md5 chain once more per row (Filter and Project are separate
    * codegen operators — no cross-operator subexpression elimination), so
    * on join-key hashes it doubles the hash pass. Use on join keys hashed
    * from provably non-null input (concat_ws never returns null); keep
    * h60 where null propagation is part of the contract. */
  def h60nn(c: Column): Column = coalesce(h60(c), lit(0L))

  /** Seeded variant: h60 of "<seed>:<value>" — distinct hash families per
    * seed (MinHash permutations, hyperplane coordinates). */
  def h60Seeded(seed: Column, c: Column): Column =
    h60(concat(seed.cast("string"), lit(":"), c.cast("string")))

  /** 56-bit variant (14 hex chars) for modular fingerprint arithmetic where
    * the accumulator needs headroom below 2^63. */
  def h56(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 14), 16, 10).cast("long")

  /** DuckDB SQL for h60 of an expression (string). */
  def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  def h56Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 14) AS BIGINT)"

  /** Same h60, computed driver-side in Scala (for plan-time constants like
    * LSH hyperplane coordinates — identical to the SQL/Column versions). */
  def h60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
