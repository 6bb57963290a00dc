package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Deterministic, engine-portable hash family.
  *
  * All near-dup / sketch operators (minhash, simhash, fingerprints) hash
  * through md5 so the DuckDB correctness oracle can reproduce values
  * bit-for-bit: Spark `conv(substring(md5(x),1,15),16,10)` ==
  * DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`.
  *
  * 15 hex chars = 60 bits, so results are non-negative int64 and xor/bit
  * arithmetic behaves identically in both engines.
  */
object Hashing {

  /** 60-bit non-negative hash of a string column. Computed by the fused
    * digest-bytes expression ([[graft.functions.expressions.Md5Long60]])
    * — bit-identical to the reference hex formulation
    * `conv(substring(md5(c),1,15),16,10)` (spec-asserted parity), minus
    * the per-row hex encode + substring copy + base-16 re-parse. */
  def md5Long(c: Column): Column =
    ColumnBridge.column(
      graft.functions.expressions.Md5Long60(ColumnBridge.expression(c)))

  /** The reference hex-string formulation of [[md5Long]] — kept for the
    * parity spec that pins the fused expression to it. */
  private[graft] def md5LongHex(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: h_i(x) = md5Long(i ~ ":" ~ x). Used as the minhash
    * permutation family. */
  def md5LongSeeded(seed: Int, c: Column): Column =
    md5Long(concat(lit(seed.toString), lit(":"), c))

  /** Second independent 40-bit hash from the *same* md5 digest (hex chars
    * 17–26). Sized so `a + 15·b < 2^61` — no int64 overflow in either
    * engine (DuckDB errors on overflow rather than wrapping). Used to
    * derive the minhash family `h_i = a + i·b` from one digest. */
  def md5Long2(c: Column): Column =
    ColumnBridge.column(
      graft.functions.expressions.Md5Long40(ColumnBridge.expression(c)))

  /** Reference hex formulation of [[md5Long2]] (parity spec only). */
  private[graft] def md5Long2Hex(c: Column): Column =
    conv(substring(md5(c), 17, 10), 16, 10).cast("long")

  /** The UPPER 60-bit half of the md5 digest (hex chars 17–31) — an
    * independent sibling of [[md5Long]] from the SAME digest, so a
    * 120-bit fingerprint (wide simhash) costs exactly one md5 per
    * token in both engines. Same non-negative-int64 convention. */
  def md5LongHi(c: Column): Column =
    ColumnBridge.column(
      graft.functions.expressions.Md5LongHi60(ColumnBridge.expression(c)))

  /** Reference hex formulation of [[md5LongHi]] (parity spec only). */
  private[graft] def md5LongHiHex(c: Column): Column =
    conv(substring(md5(c), 17, 15), 16, 10).cast("long")

  /** Both minhash base hashes ([[md5Long]], [[md5Long2]]) as
    * struct(a, b) off ONE digest — the per-shingle fast path of
    * [[graft.dedup.Dedup.hashedShinglePairs]]. */
  def md5MinhashPair(c: Column): Column =
    ColumnBridge.column(
      graft.functions.expressions.Md5MinhashPair(ColumnBridge.expression(c)))

  /** JVM-side twin of [[md5LongHi]]: hex chars 17–31 are digest bytes
    * 8..15 big-endian shifted right a nibble (the exact mirror of
    * [[md5LongJvm]] on the first 8 bytes). Parity with the Column path
    * is spec-asserted. */
  def md5LongHiJvm(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    val be =
      ((d(8) & 0xffL) << 56) | ((d(9) & 0xffL) << 48) |
        ((d(10) & 0xffL) << 40) | ((d(11) & 0xffL) << 32) |
        ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
    be >>> 4
  }

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** JVM-side twin of [[md5Long]] — the same 60-bit value for the same
    * string, for driver/state code that cannot evaluate a Column
    * (streaming state updates, control-plane loops) and for per-row
    * expression folds ([[graft.functions.expressions.SimhashTokens]]).
    * Parity with the Column path is spec-asserted. */
  def md5LongJvm(s: String): Long =
    md5LongJvm(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[md5LongJvm]] over raw UTF-8 bytes — the hot-path entry (no
    * String round-trip, thread-local digest). The first 15 hex chars of
    * the digest are the big-endian first 8 bytes shifted right a nibble:
    * `parseLong(hex(d).substring(0, 15), 16) == bigEndian64(d) >>> 4`. */
  def md5LongJvm(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  /** Both 60-bit halves ([[md5LongJvm]], [[md5LongHiJvm]]) from ONE
    * digest, written into `out(0)` / `out(1)` — the hot-path entry for
    * 120-bit folds (one md5 per token, no tuple allocation). */
  def md5LongPairJvm(bytes: Array[Byte], out: Array[Long]): Unit = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    val lo =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    val hi =
      ((d(8) & 0xffL) << 56) | ((d(9) & 0xffL) << 48) |
        ((d(10) & 0xffL) << 40) | ((d(11) & 0xffL) << 32) |
        ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
    out(0) = lo >>> 4
    out(1) = hi >>> 4
  }

  /** DuckDB SQL fragment equivalent to [[md5Long]], for oracle authors. */
  def duckMd5Long(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  def duckMd5LongSeeded(seed: Int, expr: String): String =
    duckMd5Long(s"'$seed' || ':' || $expr")

  /** DuckDB SQL fragment equivalent to [[md5Long2]]. */
  def duckMd5Long2(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 17, 10)) AS BIGINT)"

  /** DuckDB SQL fragment equivalent to [[md5LongHi]]. */
  def duckMd5LongHi(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 17, 15)) AS BIGINT)"
}
