package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable deterministic hashing.
  *
  * Spark's `xxhash64`/`hash` and DuckDB's `hash` are different algorithms, so
  * sketch operators built on them could never be checked against the DuckDB
  * oracle. Instead we derive a 32-bit integer from the first 8 hex chars of
  * `md5` — identical in any engine with md5 + hex parsing — and build the
  * MinHash/SimHash families on top with explicit affine coefficients.
  *
  * At 100 TB this costs one md5 per shingle vs xxhash64's cheaper mix;
  * [[fastHash]] swaps in `xxhash64` when oracle portability stops
  * mattering, for the column form ([[baseHash]]) and the in-row signature
  * kernel ([[signature]]) alike.
  */
object PortableHash {

  /** Prime just above 2^32 for the affine MinHash family. Coefficients are
    * bounded ≤ 10^6 so a*h+b stays far from Long overflow. */
  val P: Long = 4294967311L

  /** Fixed affine coefficients (a_k, b_k) for K MinHash functions —
    * deterministic, embedded identically in generated oracle SQL. */
  val K: Int = 32
  val minhashCoef: IndexedSeq[(Long, Long)] = {
    val r = new scala.util.Random(20260812L)
    IndexedSeq.fill(K)((r.nextInt(999999).toLong + 1L, r.nextInt(999999).toLong))
  }

  /** When set (env `GRAFT_FAST_HASH=1`), sketches use xxhash64 instead of
    * the md5-derived hash: a cheaper base hash, but signatures are no
    * longer reproducible in the DuckDB oracle (rows-only checks apply).
    * Default off — correctness gate first.
    *
    * Entry points that need run-to-run comparable timings (Bench) [[pin]]
    * the choice explicitly rather than inherit ambient env, so two bench
    * runs measure the same hash protocol without any setup. */
  @volatile private var pinnedFastHash: Option[Boolean] = None
  def pin(fast: Boolean): Unit = { pinnedFastHash = Some(fast) }
  def fastHash: Boolean =
    pinnedFastHash.getOrElse(sys.env.get("GRAFT_FAST_HASH").contains("1"))

  /** The K-slot MinHash signature (`ARRAY<BIGINT>`) of the word bigrams
    * of a token-array column, computed in-row by the native
    * `graft_minhash` kernel ([[signatureOfTokens]]). Slot k equals the min
    * of [[minhash]]`(`[[baseHash]]`(b), k)` over the bigrams
    * `b = t_i || ' ' || t_i+1`. Null for fewer than two tokens. */
  def signature(tokens: Column): Column =
    call_function("graft_minhash", tokens, lit(fastHash))

  private val coefA: Array[Long] = minhashCoef.map(_._1).toArray
  private val coefB: Array[Long] = minhashCoef.map(_._2).toArray
  private val md5s = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Row kernel of `graft_minhash` over a null-free token array. The base
    * hash of the bigram's UTF-8 bytes is the first 4 bytes of its md5
    * read as an unsigned integer — bit-identical to [[baseHash]]'s
    * `conv(substring(md5(s), 1, 8), 16, 10)` — or, with `fast`,
    * `XXH64(bytes, seed 42) & 0xFFFFFFFF`, which is `pmod(xxhash64(s),
    * 2^32)`. Duplicate bigrams cannot move a min, so no distinct pass is
    * needed. */
  def signatureOfTokens(tokens: ArrayData, fast: Boolean): ArrayData = {
    val n = tokens.numElements()
    if (n < 2) return null
    val toks = new Array[UTF8String](n)
    var maxBytes = 0
    var i = 0
    while (i < n) {
      toks(i) = tokens.getUTF8String(i)
      maxBytes = math.max(maxBytes, toks(i).numBytes())
      i += 1
    }
    val md = md5s.get()
    val digest = new Array[Byte](16)
    val buf = if (fast) new Array[Byte](2 * maxBytes + 1) else null
    val sig = Array.fill(K)(Long.MaxValue)
    i = 0
    while (i < n - 1) {
      val a = toks(i)
      val b = toks(i + 1)
      val h =
        if (fast) {
          val la = a.numBytes()
          a.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
          buf(la) = ' '.toByte
          b.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + la + 1)
          XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET,
            la + 1 + b.numBytes(), 42L) & 0xFFFFFFFFL
        } else {
          update(md, a); md.update(' '.toByte); update(md, b)
          md.digest(digest, 0, 16)
          ((digest(0) & 0xFFL) << 24) | ((digest(1) & 0xFFL) << 16) |
            ((digest(2) & 0xFFL) << 8) | (digest(3) & 0xFFL)
        }
      var k = 0
      while (k < K) {
        val v = (h * coefA(k) + coefB(k)) % P
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Feeds a string's bytes to the digest without copying them out of
    * the row when they live in a byte array. */
  private def update(md: java.security.MessageDigest, s: UTF8String): Unit =
    s.getBaseObject match {
      case arr: Array[Byte] =>
        md.update(arr, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes())
      case _ => md.update(s.getBytes)
    }

  /** 32-bit base hash of a string column: int64 in [0, 2^32). */
  def baseHash(c: Column): Column =
    if (fastHash) pmod(xxhash64(c), lit(1L << 32))
    else conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** DuckDB SQL text for the same base hash. */
  def baseHashSql(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** k-th MinHash of a base-hash column. */
  def minhash(h: Column, k: Int): Column = {
    val (a, b) = minhashCoef(k)
    (h * lit(a) + lit(b)) % lit(P)
  }

  /** DuckDB SQL text for the k-th MinHash of a base-hash expression. */
  def minhashSql(hExpr: String, k: Int): String = {
    val (a, b) = minhashCoef(k)
    s"(($hExpr) * $a + $b) % $P"
  }
}
