package graft.functions

/** Portable text-feature primitives for the dedup / text-analysis tier.
  *
  * Everything here is expressed twice — as a Spark SQL fragment (codegen'd
  * higher-order built-ins: `transform`/`aggregate`/`array_min`, no UDFs)
  * and as a DuckDB SQL fragment (list comprehensions + `list_reduce`) —
  * with IDENTICAL integer arithmetic, so the DuckDB oracle reproduces
  * Spark's MinHash/SimHash results bit-for-bit. All hashing is a rolling
  * polynomial char hash mod a prime: engine-neutral, overflow-free in
  * 64-bit, and associative-friendly for partial aggregation.
  *
  * Scale: each primitive is a per-row projection (no shuffle); the ops
  * that DO shuffle (band grouping, inverted-index joins) live in the
  * query layer where the keys are explicit.
  */
object TextFeatures {

  /** Char-hash modulus (prime). Hash values are < 2^30, so products with
    * the largest MinHash multiplier (255) and band-key packing
    * (h1 * P + h2 < 2^60) stay far from Long overflow.
    */
  val P: Long = 1000000007L

  val NumHashes = 64
  val NumBands = 32 // 32 bands x 2 rows: P(miss | jaccard 0.7) ~ 4e-10

  /** Spark: rolling char hash of string expression `e` → BIGINT. */
  def charHashSpark(e: String): String =
    s"aggregate(transform(sequence(1, length($e)), i -> CAST(ascii(substring($e, i, 1)) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % $P)"

  /** DuckDB mirror of [[charHashSpark]]. */
  def charHashDuck(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(($e)[i]) AS BIGINT) for i in range(1, len($e) + 1)]), (acc, x) -> (acc * 31 + x) % $P)"

  /** Spark: word 3-gram shingles of an array-of-words column `ws`
    * (short docs fall back to the whole text as one shingle).
    */
  def shinglesSpark(ws: String): String =
    s"CASE WHEN size($ws) < 3 THEN array(array_join($ws, ' ')) ELSE transform(sequence(1, size($ws) - 2), i -> array_join(slice($ws, i, 3), ' ')) END"

  /** DuckDB mirror of [[shinglesSpark]] (list slices are 1-based inclusive,
    * `range` is end-exclusive — both give shingle starts 1..len-2).
    */
  def shinglesDuck(ws: String): String =
    s"CASE WHEN len($ws) < 3 THEN [array_to_string($ws, ' ')] ELSE [array_to_string(($ws)[i:i+2], ' ') for i in range(1, len($ws) - 1)] END"

  /** Spark: word n-gram strings of an array-of-words column `ws` (short
    * docs fall back to the whole text as one n-gram) — the general form
    * of [[shinglesSpark]] for decontamination-length n-grams.
    */
  def ngramsSpark(ws: String, n: Int): String =
    s"CASE WHEN size($ws) < $n THEN array(array_join($ws, ' ')) ELSE transform(sequence(1, size($ws) - ${n - 1}), i -> array_join(slice($ws, i, $n), ' ')) END"

  /** DuckDB mirror of [[ngramsSpark]]. */
  def ngramsDuck(ws: String, n: Int): String =
    s"CASE WHEN len($ws) < $n THEN [array_to_string($ws, ' ')] ELSE [array_to_string(($ws)[i:i+${n - 1}], ' ') for i in range(1, len($ws) - ${n - 2})] END"

  /** DuckDB: word n-gram hashes computed NUMERICALLY from a word-hash
    * array column `wh` (each word char-hashed once upstream): n-gram
    * hash = fold (acc·31 + wordHash) mod P over the n-window; short docs
    * (< n words) fall back to one whole-document n-gram. Mirrors the
    * native `wordNgramHashes` (the Spark lambda form it is proven
    * bit-equal to is the test reference `DedupReference.hashedNgramsSpark`).
    */
  def hashedNgramsDuck(wh: String, n: Int): String =
    s"CASE WHEN len($wh) < $n THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), $wh), (acc, h) -> (acc * 31 + h) % $P)] ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), ($wh)[i:i+${n - 1}]), (acc, h) -> (acc * 31 + h) % $P) for i in range(1, len($wh) - ${n - 2})] END"

  /** MinHash family constants: 64 RANDOM affine functions
    * h_i(x) = (a_i·x + b_i) mod P from a fixed-seed PRNG. An earlier
    * arithmetic-ramp family (a_i = 1+2i, b_i = 17+101i) was correlated
    * across i — any affine map of consecutive indices is a ramp — and at
    * sf0.1 a true 0.7-Jaccard pair missed ALL 32 LSH bands (the same
    * failure class as round 2's ramp-generated LSH planes). Independent
    * random coefficients restore the j^2-per-band independence the
    * 4e-10 miss bound assumes. a_i < 2^33 keeps a_i·x + b_i < 2^63 for
    * x < P.
    */
  lazy val (minhashA, minhashB): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rnd = new scala.util.Random(727272L)
    val a = IndexedSeq.fill(NumHashes)(1L + rnd.nextLong((1L << 33) - 1))
    val b = IndexedSeq.fill(NumHashes)(rnd.nextLong(P))
    (a, b)
  }

  /** Java-callable copies for generated code. */
  def minhashAArr: Array[Long] = minhashA.toArray
  def minhashBArr: Array[Long] = minhashB.toArray

  /** Spark: 64-hash MinHash signature over a BIGINT-array column `hs` of
    * shingle hashes. h_i(x) = (a_i·x + b_i) mod P, min per i.
    */
  def minhashSigSpark(hs: String): String = {
    val aArr = minhashA.mkString("array(", "L, ", "L)")
    val bArr = minhashB.mkString("array(", "L, ", "L)")
    s"transform(sequence(0, ${NumHashes - 1}), i -> array_min(transform($hs, h -> (element_at($aArr, i + 1) * h + element_at($bArr, i + 1)) % $P)))"
  }

  /** DuckDB mirror of [[minhashSigSpark]]. */
  def minhashSigDuck(hs: String): String = {
    val aArr = minhashA.mkString("[", ", ", "]")
    val bArr = minhashB.mkString("[", ", ", "]")
    s"[list_min([(($aArr)[i + 1] * h + ($bArr)[i + 1]) % $P for h in $hs]) for i in range(0, $NumHashes)]"
  }

  /** Spark: 32-bit SimHash fingerprint over shingle-hash array `hs`:
    * bit j = sign of Σ_tokens (±1 by bit j of the token hash).
    */
  def simhashSpark(hs: String): String =
    s"aggregate(transform(sequence(0, 31), j -> CASE WHEN aggregate($hs, CAST(0 AS BIGINT), (acc, h) -> acc + (CAST(shiftright(h, j) AS BIGINT) % 2) * 2 - 1) > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  /** DuckDB mirror of [[simhashSpark]]. */
  def simhashDuck(hs: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), [((h >> j) % 2) * 2 - 1 for h in $hs]), (a, b) -> a + b) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END for j in range(0, 32)]), (a, b) -> a + b)"
}
