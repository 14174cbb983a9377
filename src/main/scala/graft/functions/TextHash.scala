package graft.functions

/** Dual-dialect (Spark SQL / DuckDB SQL) expression fragments for the
  * text-pipeline operators (dedup, fingerprinting, text analysis).
  *
  * The correctness gate hash-compares Spark output against DuckDB running
  * `SparkEntry.oracleSql` — so every hash/shingle primitive is defined HERE
  * once, as a pair of dialect fragments that compute bit-identical results:
  *
  *  - token split: regex `\s+` on trimmed text, empty tokens dropped
  *    (both engines keep edge-empties on split, so the filter is load-bearing)
  *  - polyHash: left fold `(acc*31 + codepoint) % 1000000007`. Spark's
  *    `aggregate(init=0)` equals DuckDB's `list_reduce` (no init, starts at
  *    first element) because `0*31 + c == c`. Verified codepoint parity for
  *    non-ASCII (`ascii` returns full codepoints in both engines).
  *  - shingles: 3-token windows joined by single spaces, distinct.
  *
  * Quality note (100 TB): polyHash is a *parity* hash, not a quality hash —
  * at cluster scale the non-oracle paths would use `xxhash64` (codegen'd,
  * 64-bit). The MinHash/SimHash constructions are hash-agnostic.
  */
object TextHash {
  val P = 1000000007L

  /** MinHash permutation constants: h_j(x) = (A(j)*x + B(j)) mod P. */
  def A(j: Int): Long = 1117L * j + 31L
  def B(j: Int): Long = 2339L * j + 97L

  // ---- token array from a text column ----
  def tokensSpark(t: String): String =
    s"filter(split(trim($t), '\\\\s+'), x -> x <> '')"
  def tokensDuck(t: String): String =
    s"list_filter(regexp_split_to_array(trim($t), '\\s+'), x -> x <> '')"

  // ---- polynomial rolling hash of a string expression ----
  def polySpark(s: String): String =
    s"aggregate(filter(split($s, ''), c -> c <> ''), 0L, (a,c) -> (a*31 + ascii(c)) % $P)"
  // DuckDB list_reduce types the accumulator as the element type, so chars
  // are mapped to BIGINT codepoints *before* the fold (Spark's aggregate
  // takes an explicit 0L init instead; the folds agree because 0*31+c == c).
  def polyDuck(s: String): String =
    s"CASE WHEN $s IS NULL OR $s = '' THEN 0 ELSE list_reduce(list_transform(list_filter(regexp_split_to_array($s, ''), c -> c <> ''), c -> ascii(c)::BIGINT), (a,c) -> (a*31 + c) % $P) END"

  // ---- distinct 3-token shingles over a token-array column ----
  def shinglesSpark(tok: String): String =
    s"CASE WHEN size($tok) < 3 THEN array() ELSE " +
      s"array_distinct(transform(sequence(1, size($tok)-2), " +
      s"i -> concat_ws(' ', element_at($tok,i), element_at($tok,i+1), element_at($tok,i+2)))) END"

  // ---- hash every element of a string-array column ----
  def hashArraySpark(arr: String): String =
    s"transform($arr, s -> ${polySpark("s")})"
  def hashArrayDuck(arr: String): String =
    s"list_transform($arr, s -> ${polyDuck("s")})"

  // ---- distinct shingle hashes combined ARITHMETICALLY from a token-hash
  // array column (never via shingle strings).
  //
  // Perf-critical shape (measured at sf0.1): building shingle STRINGS and
  // char-hashing each one re-splits the text once per window — and worse,
  // Spark's CollapseProject inlines a multiply-referenced token-array
  // column into every per-element lambda, turning the scan into O(n^2)
  // regex splits per document (observed as a 90 s/stage single-core
  // stall). Combining the precomputed token hashes costs three BIGINT
  // multiply-adds per window instead. On the Spark side the token-hash
  // array is bound once as a lambda variable via the transform(array(x),
  // t -> ...)[0] let-binding idiom, so even an inlined expression is
  // evaluated once per row.
  //
  // h(i) = ((th[i]*8191 + th[i+1]) % P * 8191 + th[i+2]) % P
  // (element_at is 1-based like DuckDB's subscript; Spark's [] is 0-based)
  def shingleHashesSpark(th: String): String =
    s"CASE WHEN size($th) < 3 THEN array() ELSE " +
      s"element_at(transform(array($th), t -> array_distinct(transform(sequence(1, size(t)-2), " +
      s"i -> ((element_at(t,i)*8191 + element_at(t,i+1)) % $P * 8191 + element_at(t,i+2)) % $P))), 1) END"
  def shingleHashesDuck(th: String): String =
    s"CASE WHEN len($th) < 3 THEN []::BIGINT[] ELSE " +
      s"list_distinct(list_transform(generate_series(1, len($th)-2), " +
      s"i -> (($th[i]*8191 + $th[i+1]) % $P * 8191 + $th[i+2]) % $P)) END"
}
