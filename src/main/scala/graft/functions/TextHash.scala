package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch building blocks for near-duplicate detection — MinHash
  * signatures, banded LSH keys, and SimHash — all as pure Catalyst
  * expressions (array higher-order functions + xxhash64), so they
  * whole-stage-codegen and need no UDF/UDAF.
  *
  * Determinism: xxhash64 with an explicit integer salt column per hash
  * family member; no RNG at runtime.
  */
object TextHash {

  /** Non-empty lowercase whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Distinct k-word shingles (empty array when fewer than k tokens —
    * Spark's `sequence(1,0)` would count *down*, hence the guard). */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => array_join(slice(toks, i, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))

  /** One 64-bit content hash per shingle. Hash each string ONCE — the
    * permutation family below then works in the integer domain, so a
    * `perms`-wide signature costs one variable-length string hash +
    * `perms` fixed-width long hashes per shingle instead of `perms`
    * string hashes. (An affine h*A+B family would be cheaper still,
    * but ANSI mode — Spark 4's default — throws on the intended
    * mod-2^64 wraparound.) */
  def shingleHashes(sh: Column): Column = transform(sh, x => xxhash64(x))

  /** MinHash signature over pre-hashed shingles (see [[shingleHashes]]).
    *
    * Shaped as ONE `aggregate` fold so the expression references `hs`
    * exactly once. The previous form (`perms` separate
    * `array_min(transform(hs, …))` terms) referenced `hs` 32 times —
    * when Catalyst's project-collapsing (CollapseProject /
    * ScanOperation, triggered by e.g. a pushed-down filter landing
    * between the projections) inlines the `hs` alias into each use,
    * the shingle pipeline recomputes 32× (measured 0.2 s → 6 s at
    * sf0.1; nesting under a Generate compounded it to 200 s+).
    * Single-reference sketch expressions are immune by construction.
    *
    * Empty `hs` yields the all-Long.MaxValue seed signature (the old
    * form yielded nulls) — dedup pipelines must still drop no-shingle
    * docs before banding. */
  def minhashFromHashes(hs: Column, perms: Int): Column =
    aggregate(hs,
      typedlit(Seq.fill(perms)(Long.MaxValue)),
      (acc, h) => zip_with(acc, typedlit((0 until perms).toList),
        (a, s) => least(a, xxhash64(s, h))))

  /** MinHash signature straight from shingle strings. Callers on a hot
    * path should materialize [[shingleHashes]] in its own projection
    * first so the string hash isn't re-expanded per permutation. */
  def minhashSignature(sh: Column, perms: Int): Column =
    minhashFromHashes(shingleHashes(sh), perms)

  /** LSH band keys: hash of each consecutive `rowsPerBand`-slice of the
    * signature, salted by band index. Docs sharing any band key are
    * candidate pairs. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    // Single reference to `sig` (see minhashFromHashes): an array of
    // `bands` slice terms would reference it `bands` times and invite
    // multiplicative recompute under project-collapsing.
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * rowsPerBand + lit(1),
        lit(rowsPerBand))))

  /** Estimated Jaccard between two signatures: matching-position
    * fraction. */
  def estJaccard(sigA: Column, sigB: Column, perms: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / perms
}
