package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Oracle-parity 60-bit hash lanes derived from SHA-256.
 *
 * The LSH operators' *scale* kernels hash with `xxhash64` (native,
 * seeded, scan-side — see [[graft.functions.expressions.MinHashSig]] et
 * al.), but xxhash64 has no DuckDB equivalent, so queries built on it can
 * only be rows-checked by the correctness gate. These helpers provide a
 * hash family both engines compute bit-identically: a *lane* is 15 hex
 * chars (60 bits) of a SHA-256 digest parsed as a BIGINT — SHA-256 of
 * UTF-8 bytes is identical everywhere, and 60 bits stays clear of BIGINT
 * sign/overflow in ANSI mode on both engines.
 *
 * Three synchronized implementations (any drift breaks the oracle):
 *  - [[lane]]/[[hexLane]] — Spark `Column` form (`sha2`→`substring`→`conv`,
 *    all codegen'd built-ins);
 *  - [[duckLane]]/[[duckHexLane]] — DuckDB SQL text for oracle queries
 *    (`sha256` + a `list_reduce` hex parse; DuckDB 1.0 has no hex→int cast);
 *  - [[jvmLane]] — driver/executor-side Scala (`MessageDigest`) for
 *    deterministic constants (LSH hyperplanes, stub codecs).
 *
 * One digest yields four disjoint lanes (offsets 1, 16, 31, 46), so
 * operators needing k lanes per value compute ceil(k/4) digests.
 */
object ShaLanes {

  /** 2^60 — lanes are uniform in [0, 2^60). */
  val LaneSpace: Double = 1152921504606846976.0

  /** 2^59 — for mapping a lane to [-1, 1): lane/2^59 - 1. */
  val HalfLane: Double = 576460752303423488.0

  /** Hex-char offsets of the four disjoint lanes within one digest. */
  val LaneOffsets: Seq[Int] = Seq(1, 16, 31, 46)

  /** 60-bit lane from 15 hex chars of `hexCol` starting at `start` (1-based). */
  def hexLane(hexCol: Column, start: Int): Column =
    conv(substring(hexCol, start, 15), 16, 10).cast("long")

  /** 60-bit lane of `sha256(input)` (first 15 hex chars by default). */
  def lane(input: Column, start: Int = 1): Column = hexLane(sha2(input, 256), start)

  // ------------------------------------------------------- DuckDB SQL text

  /** DuckDB: parse 15 hex chars of `hexSql` starting at `start` as BIGINT. */
  def duckHexLane(hexSql: String, start: Int): String =
    s"list_reduce([CAST(strpos('0123456789abcdef', substring($hexSql, i, 1)) AS BIGINT) - 1 " +
      s"for i in generate_series($start, ${start + 14})], (a, b) -> a*16 + b)"

  /** DuckDB: 60-bit lane of `sha256(inputSql)`. */
  def duckLane(inputSql: String, start: Int = 1): String =
    duckHexLane(s"sha256($inputSql)", start)

  // ------------------------------------------------------------- JVM form

  private def hex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** JVM-side lane, bit-identical to [[lane]] / [[duckLane]] on the same bytes. */
  def jvmLane(bytes: Array[Byte], start: Int = 1): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = hex(md.digest(bytes))
    java.lang.Long.parseLong(h.substring(start - 1, start + 14), 16)
  }

  def jvmLane(s: String): Long = jvmLane(s.getBytes("UTF-8"))
}
