package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MinHash / SimHash signature machinery as pure Catalyst column
  * expressions (higher-order functions over the shingle array — fully
  * codegen'd, no UDFs; see SURVEY.md §4 scale decisions: candidate
  * generation must be band/bucket joins, never O(n²)).
  */
object Hashing {

  /** Mersenne prime 2^61-1: modulus for the universal hash family. */
  val P: Long = 2305843009213693951L

  /** 2^31-1: shingle hashes are folded below this before the affine
    * step so a*h + b never overflows a long (Spark 4 runs ANSI mode —
    * overflow THROWS, it does not wrap).
    */
  val M31: Long = 2147483647L

  /** k fixed (a, b) parameter pairs — seeded, so signatures are
    * reproducible across runs and JVMs. a < 2^31 keeps
    * a*h31 + b < 2^62 + 2^61 < Long.MaxValue.
    */
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(k)(((r.nextLong() & Long.MaxValue) % (M31 - 1) + 1,
      (r.nextLong() & Long.MaxValue) % P))
  }

  /** One minhash slot: (a·(h mod 2^31) + b) mod P, overflow-free under
    * ANSI semantics. `h31` must already be in [0, 2^31).
    */
  def affine(h31: Column, a: Long, b: Long): Column =
    pmod(lit(a) * h31 + lit(b), lit(P))

  /** A shingle hash family: how a word n-gram folds to a long, and
    * how many bits of that hash a SimHash fingerprint reads. The
    * operators that hash shingles pick one, so the hash format lives
    * here only.
    */
  private[graft] sealed abstract class Family(val bits: Int) {
    def shingle(s: Column): Column
  }

  /** xxhash64, all 64 bits: the throughput family (the inverted
    * shingle index of d04/d12, the public SimHash fingerprints).
    */
  private[graft] case object Xx64 extends Family(64) {
    def shingle(s: Column): Column = xxhash64(s)
  }

  /** The ENGINE-PORTABLE family: the first 15 hex chars of md5 decoded
    * to a 60-bit long — Spark `conv(substring(md5(s),1,15),16,10)`,
    * DuckDB `('0x' || substr(md5(s),1,15))::BIGINT` — and a band's
    * bucket is md5 of its '|'-joined slot minima. Any ANSI engine
    * derives the identical values (and the identical, vanishingly
    * rare collisions), which is what lets the registered near-dup
    * entries be oracle-gated.
    */
  private[graft] case object Md5 extends Family(60) {
    def shingle(s: Column): Column =
      conv(substring(md5(s.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)
    def bucket(slots: Seq[Column]): Column =
      md5(concat_ws("|", slots.map(_.cast(StringType)): _*).cast(BinaryType))
  }

  /** Pigeonhole table keys over a `bits`-wide fingerprint `h`: split it
    * into `blocks` blocks and key one table on each (blocks −
    * tolerance)-subset of blocks (Manku/Jain/Das Sarma, WWW 2007). A
    * pair within hamming `tolerance` differs in at most `tolerance`
    * blocks, so it agrees on some full subset and shares a key. The
    * subset's blocks fold into ONE long `kv` (table `ti`), so the
    * candidate join stays a codegen'd long equi-join however many
    * tables there are. An array of (ti, kv) structs, to `inline`.
    */
  def blockKeys(h: Column, bits: Int, blocks: Int, tolerance: Int): Column = {
    require(bits % blocks == 0, s"blocks must divide $bits, got $blocks")
    require(blocks > tolerance,
      s"a $blocks-block pigeonhole certifies hamming < $blocks, not $tolerance")
    val w = bits / blocks
    val mask = if (w == 64) -1L else (1L << w) - 1
    def block(i: Int) = shiftrightunsigned(h, i * w).bitwiseAND(lit(mask))
    array((0 until blocks).combinations(blocks - tolerance).toSeq.zipWithIndex
      .map { case (ss, ti) =>
        struct(lit(ti).as("ti"), ss.zipWithIndex
          .map { case (blk, pos) => shiftleft(block(blk), pos * w) }
          .reduce(_ bitwiseOR _).as("kv")) }: _*)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
