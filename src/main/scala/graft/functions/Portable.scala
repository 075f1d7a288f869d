package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic primitives.
  *
  * The driver hash-compares every query against a DuckDB oracle, so any
  * hashing/scoring the extension operators do must be reproducible in
  * ANSI-ish SQL on both engines, bit for bit:
  *
  *   - Hashes derive from `md5` (identical everywhere) rather than the
  *     engine-specific `xxhash64`/`hash`: a 60-bit (or 32-bit) positive
  *     int is parsed from the leading hex chars. In production on a
  *     cluster you would swap [[hash60]] for `xxhash64` (same shape,
  *     ~10× cheaper) — the LSH math is hash-agnostic.
  *   - Floating reductions over arrays use `aggregate` (a sequential
  *     left fold, matching DuckDB's `list_reduce`) rather than grouped
  *     `sum`, whose merge order is nondeterministic under parallelism.
  */
object Portable {

  /** 60-bit positive hash: first 15 hex chars of md5.
    * DuckDB equivalent: `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 32-bit positive hash: first 8 hex chars of md5.
    * DuckDB equivalent: `CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)`.
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace tokens of trimmed text (single-space tokenizer — the
    * fixture corpus is single-space separated; swap for `\\s+` splitting
    * plus filter for messier corpora).
    * DuckDB equivalent: `string_split(trim(text), ' ')`.
    */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Word n-gram shingles of a token array (empty below n tokens).
    * DuckDB (n=3): `[t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)]`.
    *
    * This is the SPECIFICATION form (it reads like the oracle CTE) and
    * the cross-check target in tests; operators use [[shingleStructs]] +
    * [[shingleText]] instead — the per-element `transform` lambda here
    * is CodegenFallback and interpreted per element, measured ~8×
    * slower over the corpus than the zipped-slice form.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles as an array of n-field structs (field `j` =
    * token i+j), built by zipping n array slices — one array operation
    * per ROW instead of a lambda invocation per element. Empty (never
    * null for non-null input) below n tokens. Recover the space-joined
    * shingle string of [[shingles]] with [[shingleText]] after
    * exploding; or aggregate on the struct directly when only identity
    * matters (it carries exactly the n tokens).
    */
  def shingleStructs(toks: Column, n: Int): Column = {
    val len = greatest(lit(0), size(toks) - (n - 1))
    arrays_zip((0 until n).map(j => slice(toks, lit(j + 1), len)): _*)
  }

  /** Space-joined shingle string from one exploded [[shingleStructs]]
    * element — plain codegen'd concat, byte-equal to the corresponding
    * [[shingles]] element (split() tokens are never null, so concat_ws
    * never skips a field).
    */
  def shingleText(s: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*)

  // Vector math (dot/norm/cosine, hyperplane signatures) lives in the
  // native codegen'd expressions [[CosineSim]] and [[HyperplaneSignature]]
  // — both accumulate strictly left-to-right, bit-identical to DuckDB's
  // `list_reduce(list_prepend(0.0, xs), (a,b) -> a+b)` fold. Composed
  // builtins were measured and rejected: expanded 64-term sums blow the
  // generated-method limit (whole-stage codegen disables itself) and
  // higher-order `aggregate` is interpreted per element.

  /** Count of tokens in `toks` equal to the literal word `w`.
    * DuckDB: `len(list_filter(toks, x -> x = 'w'))`.
    */
  def tokenCount(toks: Column, w: String): Column =
    size(filter(toks, x => x === lit(w)))

  /** The separator-doubled, padded form `" " + replace(trim(text), " ",
    * "  ") + " "` — every token enclosed by its own pair of spaces.
    * Callers counting SEVERAL markers should project this once and feed
    * the column to [[tokenCountInSpaced]]: the doubling pass is the
    * expensive half, and codegen subexpression elimination does not
    * reliably merge its repeated copies across a wide projection.
    */
  def spacedText(text: Column): Column =
    concat(lit(" "), replace(trim(text), lit(" "), lit("  ")), lit(" "))

  /** Occurrences of token `w` in a [[spacedText]] column: one native
    * `replace` pass + length difference.
    */
  def tokenCountInSpaced(spaced: Column, w: String): Column = {
    require(w.nonEmpty && !w.contains(" "), s"marker token must be space-free: '$w'")
    val pat = s" $w "
    ((length(spaced) - length(replace(spaced, lit(pat), lit("")))) / lit(pat.length))
      .cast("int")
  }
}
