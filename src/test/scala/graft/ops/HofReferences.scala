package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function reference compositions of the native expressions
  * behind [[SimilarityOps.cosine]], [[SimilarityOps.rhpSignature]],
  * MinHash and SimHash — the equivalence specs compare the native path
  * against these. */
object HofReferences {

  /** Cosine similarity via zip_with + aggregate — the reference Column
    * composition, kept for the equivalence test. Higher-order lambdas are
    * INTERPRETED by Catalyst; use [[cosine]] (native) in real plans. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim):
    * a fixed hash mapped to [-1, 1). */
  private def plane(bit: Int, dim: Column): Column =
    (pmod(xxhash64(lit(bit), dim), lit(1000003L)).cast("double") / 500001.5) - 1.0

  /** Random-hyperplane LSH signature via HOF composition (reference for the
    * equivalence test; interpreted — use [[rhpSignature]] in plans). */
  def rhpSignatureHof(emb: Column, nBits: Int = 16): Column = {
    val bits = (0 until nBits).map { b =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (v, i) => v.cast("double") * plane(b, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** MinHash signature from a PRE-COMPUTED shingle array column: nPerms
    * independent permutations simulated by xxhash64(shingle, seed) minima —
    * one array column, no UDF. Take shingles as a column so they are
    * materialized once, not re-derived per permutation. */
  def minhashSignature(sh: Column, nPerms: Int = 16): Column =
    transform(
      sequence(lit(0), lit(nPerms - 1)),
      seed => array_min(transform(sh, s => xxhash64(s, seed))))

  /** SimHash-64 over token hashes: sign-sum of each bit, bit set on
    * majority. Pure built-in Column composition (64 aggregates over a
    * PRE-COMPUTED hash array) — the reference semantics; the fast single-pass
    * path is the native expression [[graft.functions.SimHash64]], proven
    * equivalent in DedupOpsSpec. `hashes` must be `transform(tokens,
    * xxhash64)`. */
  def simhashFromHashes(hashes: Column): Column = {
    val bitCols = (0 until 64).map { i =>
      when(
        aggregate(hashes, lit(0L),
          (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
          > 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce((x, y) => x.bitwiseOR(y))
  }

  def tokenHashes(text: Column): Column =
    // split("") yields [""]; drop empty tokens so the HOF path agrees with
    // the native tokenizer (zero tokens) on empty/whitespace-only text
    transform(filter(split(trim(text), "\\s+"), t => length(t) > 0), t => xxhash64(t))
}
