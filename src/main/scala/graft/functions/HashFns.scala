package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-family primitives for the dedup operators: MinHash signatures, LSH
  * band keys, SimHash, and a rolling document fingerprint. All built-ins —
  * md5 is the shared, engine-portable hash (also available in the DuckDB
  * oracle), and lexicographic min over md5 hex strings is a valid min-hash.
  */
object HashFns {

  /** MinHash signature: k independent permutations simulated as
    * h_j(s) = md5(j ':' s); signature[j] = min over shingles.
    * Null/empty shingle set → null signature.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    when(shingles.isNull || size(shingles) === 0, lit(null).cast("array<string>"))
      .otherwise(transform(sequence(lit(0), lit(k - 1)),
        j => array_min(transform(shingles, s => md5(concat(j.cast("string"), lit(":"), s))))))

  /** LSH band keys: b bands of r signature rows each (k = b*r); band i key
    * is "i#md5(sig[i*r .. i*r+r-1])". Equal band key ⇒ candidate pair.
    */
  def lshBandKeys(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      i => concat(i.cast("string"), lit("#"),
        md5(array_join(slice(sig, i * r + 1, lit(r)), ","))))

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash band keys for blocking: 4 bands of 16 bits; equal band ⇒
    * candidate (guarantees recall for hamming distance ≤ 3).
    */
  def simhashBands(h: Column): Column =
    array((0 to 3).map(i =>
      concat(lit(s"$i#"),
        shiftrightunsigned(h, i * 16).bitwiseAND(lit(0xFFFFL)).cast("string"))): _*)

  /** Rolling polynomial fingerprint over tokens (deterministic, portable):
    * token value v = ascii(first char)*131 + length; h = fold(h*31 + v) mod p.
    */
  val FingerprintMod = 1000000007L
  def rollingFingerprint(tokens: Column): Column =
    graft.expressions.RollingFingerprint(tokens)

  /** The HOF formulation the codegen expression replaced — kept as the
    * bit-identity witness for ExpressionsSpec (interpreted lambda per
    * token; 10-100× slower in the hot path).
    */
  def rollingFingerprintHof(tokens: Column): Column = {
    val vals = transform(tokens, t => (ascii(t) * 131 + length(t)).cast("long"))
    aggregate(vals, lit(0L), (acc, v) => (acc * 31L + v) % FingerprintMod)
  }
}
