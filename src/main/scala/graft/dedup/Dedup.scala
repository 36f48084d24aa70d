package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication primitives for training-data pipelines: exact,
  * canonicalized-exact, MinHash signatures, LSH banding, SimHash.
  *
  * Everything is built from codegen'd Catalyst expressions (no UDFs)
  * and md5-derived hashes, so results are engine-portable and the
  * DuckDB oracles replicate them bit-for-bit.
  *
  * Scale design (100 TB):
  *   - exact/canonical dedup: one hash-shuffle on the 16-byte digest —
  *     the md5 groupBy key, not the document body, crosses the wire.
  *   - MinHash+LSH: signatures are computed in a narrow pass (per-row
  *     expressions only); candidate generation shuffles on (band,
  *     band_key) — expected bucket sizes are tiny, so the pair join is
  *     near-linear, never O(n²). Exact Jaccard re-verification touches
  *     only candidates.
  *   - SimHash: narrow per-row pass producing a 32-bit signature;
  *     near-dup lookup is a bucket join on the signature (or rotations
  *     of it for Hamming distance > 0).
  */
object Dedup {

  /** Distinct word w-gram shingles over a projected tokens-array
    * column (SQL expr string; the lambda/element_at forms match the
    * DuckDB oracle text). Documents shorter than `w` tokens yield an
    * empty array (the IF guard — Spark 4's ANSI element_at throws on
    * out-of-bounds, and sequence(1, n<1) would run descending). */
  def wordShinglesExpr(toksCol: String, w: Int = 3): String = {
    val parts = (0 until w)
      .map(o => s"element_at($toksCol, i + $o)").mkString(", ")
    s"IF(size($toksCol) >= $w, " +
      s"array_distinct(transform(sequence(1, size($toksCol) - ${w - 1}), " +
      s"i -> concat_ws(' ', $parts))), array())"
  }

  /** Distinct character k-gram shingles; texts shorter than `k` chars
    * yield an empty array. */
  def charShinglesExpr(textCol: String, k: Int): String =
    s"IF(length($textCol) >= $k, " +
      s"array_distinct(transform(sequence(1, length($textCol) - ${k - 1}), " +
      s"i -> substring($textCol, i, $k))), cast(array() as array<string>))"

  /** Portable 32-bit hash set of the (distinct) shingles: first 8 md5
    * hex digits as a long, deduped and ASC-sorted. One md5 per shingle
    * — the [[minhashExpr]] permutations are affine maps over this
    * single hash, not fresh digests (16× fewer md5 evaluations on the
    * hot path). Sorted so the pair-verify step can use the O(n+m)
    * [[graft.functions.SortedIntersectCount]] merge (sort paid once
    * per row, not once per candidate pair). */
  def shingleHash32Expr(shinglesCol: String): String =
    s"array_sort(array_distinct(transform($shinglesCol, " +
      "s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))))"

  /** MinHash signature via the standard universal-hash family over one
    * base hash: sig[i] = min over shingles of (a_i·h + b_i) mod 2³²,
    * a_i = 2i+1 (odd), b_i = i·2654435761 mod 2³² (Knuth's golden-ratio
    * constant). `hashesCol` must be a projected [[shingleHash32Expr]]
    * column; empty → null signature (no shingles to sketch). */
  def minhashExpr(hashesCol: String, perms: Int = 16): String =
    s"IF(size($hashesCol) > 0, transform(sequence(0, ${perms - 1}), " +
      s"i -> array_min(transform($hashesCol, " +
      s"h -> ((2 * i + 1) * h + (i * 2654435761L) % 4294967296L) % 4294967296L))), " +
      "cast(null as array<bigint>))"

  /** LSH band keys: md5 over each contiguous `rows`-slice of the
    * signature. bands = perms / rows. Docs sharing any band key are
    * near-dup candidates (Broder-style banding). */
  def bandKeysExpr(sigCol: String, bands: Int, rows: Int): String =
    s"transform(sequence(0, ${bands - 1}), b -> md5(array_join(" +
      s"transform(slice($sigCol, 1 + b * $rows, $rows), x -> cast(x as string)), ',')))"

  /** SimHash (Charikar'02): sign of the per-bit sum of ±1 votes from
    * each token's 32-bit hash (term-frequency weighted — duplicate
    * tokens vote multiple times). `tokenHashesCol` must be a projected
    * array of per-token hash32 values. */
  def simhashExpr(tokenHashesCol: String, bits: Int = 32): String =
    s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, b) -> acc + " +
      s"IF(aggregate($tokenHashesCol, 0L, " +
      s"(a, h) -> a + IF((shiftright(h, b) & 1) = 1, 1L, -1L)) > 0, " +
      s"shiftleft(1L, b), 0L))"

  /** Per-token portable hashes (input to [[simhashExpr]]). */
  def tokenHashesExpr(textCol: String): String =
    s"transform(split($textCol, '\\\\s+'), " +
      "t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"

  /** Exact set-Jaccard between two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Set-Jaccard for SORTED duplicate-free long arrays (the
    * [[shingleHash32Expr]] shape) via the native merge-count
    * expression — no per-pair hash-set allocation. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("sorted_intersect_count", a, b).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }
}
