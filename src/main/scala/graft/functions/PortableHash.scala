package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing for the dedup/similarity
  * pipeline (SURVEY.md §7.2 step 10).
  *
  * Spark's `hash()`/`xxhash64` and DuckDB's `hash()` use different
  * algorithms, so oracle-checked dedup needs a hash both engines can
  * compute identically. This is a polynomial rolling hash over
  * characters evaluated with Catalyst higher-order functions
  * (`transform`/`aggregate` — codegen'd, no UDF):
  *
  *   H(w) = fold(chars(w), 0, (acc, c) => (acc * 31 + ascii(c)) mod P)
  *
  * with P = 1e9+7 (< 2^30, so 31*H fits comfortably in a long). The
  * DuckDB mirror is `list_reduce(list_prepend(CAST(0 AS BIGINT),
  * list_transform(string_split(w, ''), x -> ascii(x))), ...)`.
  *
  * ALPHABET PIN: the HOF form iterates Spark `split(w, '')` pieces,
  * which are UTF-16 code units, while DuckDB's `string_split` yields
  * code points — they agree on ASCII (all graft testdata) but diverge
  * on supplementary-plane characters. The native expressions in
  * [[MinHashExprs]] iterate CODE POINTS and therefore match DuckDB on
  * all of Unicode; prefer them outside ASCII-only columns.
  *
  * The 64-bit shingle hash used by the near-dup verify join combines
  * two independent polynomial hashes, h64 = h31 * 2^31 + h37 with
  * bases 31 mod P and 37 mod P2 — both folds stay inside int64 and
  * both engines compute them exactly.
  *
  * MinHash permutations are the classic (a*H + b) mod P family with
  * odd `a` — seeds fixed below and mirrored in the oracle SQL. A
  * band's BandSize minimum values fuse into one join key with the
  * injective-then-mod fold key = fold(mins, 0, (acc, m) =>
  * (acc * P + m) mod Q): each `m` < P is a base-P digit, so distinct
  * signatures collide only with probability ~1/Q (Q = 2^31 - 1),
  * unlike positional small-weight sums.
  */
object PortableHash {
  /** a `final val` constant: Scala inlines it as a literal at every use,
    * the FrameSampleScan kernel's inner loop included */
  final val P = 1000000007L
  /** second hash modulus for the 64-bit combine (NTT prime < 2^30) */
  val P2 = 998244353L
  /** band-key fuse modulus (Mersenne prime 2^31 - 1) */
  val Q = 2147483647L
  /** 2^31: the shift that stacks h31 above h37 in the 64-bit combine */
  val Shift = 2147483648L

  /** Number of MinHash permutations and the LSH banding layout. */
  val NumPerms = 16
  val BandSize = 4
  val NumBands: Int = NumPerms / BandSize

  def permA(k: Int): Long = 2L * k + 1
  def permB(k: Int): Long = 7919L * k

  /** Portable polynomial hash of a string column -> long in [0, P).
    * ASCII-only columns (see alphabet pin above). */
  def wordHash(c: Column): Column =
    aggregate(
      transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % P)

  /** The DuckDB-side expression for the same hash, for oracle SQL. */
  def wordHashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), x -> ascii(x))), " +
      s"(a, b) -> (a * 31 + b) % $P)"

  /** DuckDB mirror of the 64-bit combined shingle hash. */
  def hash64Sql(expr: String): String =
    s"(${wordHashSql(expr)} * $Shift + " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), x -> ascii(x))), " +
      s"(a, b) -> (a * 37 + b) % $P2))"

  /** k-th MinHash permutation applied to a hash column. */
  def perm(k: Int, h: Column): Column =
    (lit(permA(k)) * h + lit(permB(k))) % P

  /** Fuse one band's minimum values into a collision-resistant join
    * key: fold (acc * P + m) mod Q — injective before the mod. */
  def bandFuse(mins: Seq[Column]): Column =
    mins.foldLeft(lit(0L))((acc, m) => (acc * P + m) % Q)

  /** DuckDB mirror of [[bandFuse]] over per-position min expressions. */
  def bandFuseSql(minExprs: Seq[String]): String =
    minExprs.foldLeft("CAST(0 AS BIGINT)")((acc, m) => s"(($acc * $P + $m) % $Q)")
}
