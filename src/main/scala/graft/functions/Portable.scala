package graft.functions

/** Engine-portable expression fragments, each provided in two exactly
  * equivalent dialects: a Spark SQL expression (used via `expr`) and a
  * DuckDB SQL expression (used in the oracle). The pair MUST compute
  * bit-identical results:
  *
  *  - integer hashing is polynomial (acc*mult + ord(char)) mod a
  *    <2^30 prime, so every intermediate fits a 64-bit signed int in
  *    both engines (DuckDB traps on overflow rather than wrapping);
  *  - float reductions are strict LEFT FOLDS over the same element
  *    order, so double rounding is reproduced bit-for-bit;
  *  - no engine-native hash/random function is ever used.
  *
  * Everything here is a narrow per-row computation: at 100 TB these
  * run inside the scan stage with zero shuffle; MinHash/SimHash
  * signatures in particular are computed per-document from an array
  * column instead of exploding to (doc, shingle, perm) rows, which
  * avoids a 64x data amplification before the first shuffle.
  */
object Portable {

  val P1 = 1000000007L  // < 2^30
  val P2 = 998244353L   // < 2^30
  val TWO30 = 1073741824L

  // ---- Spark SQL dialect -------------------------------------------

  /** words: split on spaces, drop empties (Spark's split keeps a
    * trailing "" under some patterns; DuckDB's does not). */
  def words(e: String): String =
    s"filter(split($e, ' '), w -> w <> '')"

  /** polynomial char hash mod p (native loop; the pure-SQL equivalent
    * is `aggregate(filter(split(e,''), c -> c <> ''), 0L,
    * (acc,c) -> (acc*mult + ascii(c)) % p)` — see the DuckDB mirror). */
  def charHash(e: String, mult: Int = 31, p: Long = P1): String =
    s"graft_char_hash($e, $mult, $p)"

  /** 60-bit fingerprint from two independent char hashes. */
  def fp60(e: String): String =
    s"(${charHash(e, 31, P1)} * $TWO30 + ${charHash(e, 37, P2)})"

  /** A second, independent 60-bit fingerprint (different multipliers)
    * — paired with [[fp60]] this forms a 120-bit key whose per-pair
    * collision odds are ~2^-120: at 10^9 distinct texts the birthday
    * bound is ~10^18/2^121 ≈ 4e-19, negligible where fp60 alone
    * (~10^18/2^61) would not be. */
  def fp60b(e: String): String =
    s"(${charHash(e, 41, P1)} * $TWO30 + ${charHash(e, 43, P2)})"

  /** word 3-gram shingle strings from a words-array expression. */
  def shingles3(wordsArr: String): String =
    s"CASE WHEN size($wordsArr) < 3 THEN array() " +
      s"ELSE transform(sequence(1, size($wordsArr) - 2), i -> concat_ws(' ', slice($wordsArr, i, 3))) END"

  /** strict left-fold dot product of two double-array expressions
    * (native codegen'd loop; pure-SQL equivalent:
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`). */
  def dot(a: String, b: String): String =
    s"graft_dot($a, $b)"

  /** cosine similarity via left folds (bit-identical to duckCosine). */
  def cosine(a: String, b: String): String =
    s"(${dot(a, b)} / sqrt(${dot(a, a)} * ${dot(b, b)}))"

  /** float[] -> double[] */
  def toDouble(arr: String): String = s"transform($arr, x -> CAST(x AS DOUBLE))"

  /** lower + squeeze whitespace + trim ("normalized" text). */
  def normText(e: String): String =
    s"trim(regexp_replace(lower($e), '\\\\s+', ' '))"

  /** the words of the normalized text (see [[duckNormWords]]). */
  def normWords(e: String): String = words(normText(e))

  /** word-3-gram shingle hashes from a WORDS-array expression (native;
    * equivalent to `transform(shingles3(words), g -> charHash(g))`
    * without materializing the shingle strings). */
  def shingleHashes(wordsArr: String): String =
    s"graft_shingle_hashes($wordsArr)"

  /** 60-bit (fp60) shingle hashes — SimHash input; see ShingleHashes3. */
  def shingleHashes60(wordsArr: String): String =
    s"graft_shingle_hashes60($wordsArr)"

  /** 60-bit fp60 hashes of every w-word window of a WORDS-array
    * expression (native; equivalent to hashing each space-joined
    * window string without materializing it) — the span fingerprints
    * of exact-substring dedup. */
  def windowHashes60(wordsArr: String, w: Int): String =
    s"graft_window_hashes60($wordsArr, $w)"

  /** 64-permutation MinHash signature from a hash-array expression.
    * Permutation i is the affine map h -> ((2i+5)h + i^2+13) mod P2;
    * computed per-document with a fold, no (doc,shingle,perm) explode. */
  def minhashSig(hashesArr: String): String =
    s"graft_minhash_sig($hashesArr)"

  /** LSH band keys (rowsPer rows/band) from a 64-long signature; the
    * band index seeds the fold so identical row values in different
    * bands land in different buckets. 8x8 (not 16x4): with r=8 a
    * random pair at Jaccard j collides with prob ~ bands*j^8, which
    * keeps buckets bounded even on corpora with high baseline overlap,
    * while a true near-dup at j>=0.9 still collides w.p. ~1. */
  def minhashBands(sigArr: String, bands: Int = 8, rowsPer: Int = 8): String =
    s"transform(sequence(0, ${bands - 1}), b -> aggregate(slice($sigArr, $rowsPer*b+1, $rowsPer), CAST(b+1 AS BIGINT), (acc, v) -> (acc*1000003 + v) % 2147483647))"

  /** scalar digest of a signature array (left fold): the driver's
    * oracle comparator cannot sort/hash array cells, so signatures are
    * surfaced as one BIGINT per (multiplier, modulus) pair. acc < 2^31
    * and lanes < 2^30, so acc*mult + v stays well under 2^63 (DuckDB
    * traps on overflow rather than wrapping). */
  def sigDigest(sigArr: String, mult: Long = 1000003L, p: Long = 2147483647L): String =
    s"aggregate($sigArr, CAST(0 AS BIGINT), (acc, v) -> (acc * $mult + v) % $p)"

  /** estimated Jaccard = fraction of agreeing signature positions. */
  def minhashEstJaccard(sa: String, sb: String): String =
    s"(aggregate(zip_with($sa, $sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / CAST(64 AS DOUBLE))"

  /** 60-bit SimHash from a word-hash-array expression: per bit j, the
    * words vote +1/-1 by their j-th hash bit; fingerprint bit j is set
    * iff the vote is positive. */
  def simhash60(hashesArr: String): String =
    s"graft_simhash60($hashesArr)"

  /** 4 hamming-LSH band keys (15 bits each) from a 60-bit fingerprint. */
  def simhashBands(fp: String): String =
    s"transform(sequence(0, 3), b -> b*32768 + (($fp div shiftleft(CAST(1 AS BIGINT), 15*b)) % 32768))"

  /** deterministic pseudo-random hyperplane component for random-
    * hyperplane LSH: table t, bit j, dim d -> uniform(-0.5, 0.5) via an
    * LCG on the flattened index. Pure arithmetic, identical in both
    * engines. */
  /** 4 random-hyperplane LSH tables x 6 bits for a 64-dim double-array
    * expression; key embeds the table index. Bits/table should grow
    * with log(n) to hold expected bucket size constant at scale. */
  def hyperplaneKeys(v: String): String =
    s"graft_hyperplane_keys($v)"

  /** Corpus-scaled hyperplane keys: `bits` per table (see
    * [[graft.functions.Native.HyperplaneKeysN]]); `bits` is usually an
    * interpolated integer computed from a corpus count. */
  def hyperplaneKeysN(v: String, bits: String): String =
    s"graft_hyperplane_keys_n($v, $bits)"

  // ---- DuckDB dialect (must mirror the above exactly) --------------

  def duckWords(e: String): String =
    s"list_filter(string_split($e, ' '), w -> w <> '')"

  def duckCharHash(e: String, mult: Int = 31, p: Long = P1): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [ord(c) FOR c IN string_split($e, '')]), (acc, c) -> (acc * $mult + c) % $p)"

  def duckFp60(e: String): String =
    s"(${duckCharHash(e, 31, P1)} * $TWO30 + ${duckCharHash(e, 37, P2)})"

  def duckShingles3(wordsArr: String): String =
    s"[array_to_string(list_slice($wordsArr, i, i + 2), ' ') FOR i IN range(1, greatest(len($wordsArr) - 1, 1))]"

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [($a)[i] * ($b)[i] FOR i IN range(1, len($a) + 1)]), (acc, v) -> acc + v)"

  def duckCosine(a: String, b: String): String =
    s"(${duckDot(a, b)} / sqrt(${duckDot(a, a)} * ${duckDot(b, b)}))"

  def duckNormText(e: String): String =
    s"trim(regexp_replace(lower($e), '\\s+', ' ', 'g'))"

  def duckNormWords(e: String): String = duckWords(duckNormText(e))

  /** w-word window strings of a words-array expression — mirror of the
    * spans [[windowHashes60]] hashes (feed through
    * [[duckShingleHashes60]] for the hash values). */
  def duckWindows(wordsArr: String, w: Int): String =
    s"[array_to_string(list_slice($wordsArr, i, i + ${w - 1}), ' ') " +
      s"FOR i IN range(1, greatest(len($wordsArr) - ${w - 2}, 1))]"

  def duckShingleHashes(shinglesArr: String): String =
    s"list_transform($shinglesArr, g -> ${duckCharHash("g")})"

  def duckShingleHashes60(shinglesArr: String): String =
    s"list_transform($shinglesArr, g -> ${duckFp60("g")})"

  def duckMinhashSig(hashesArr: String): String =
    s"list_transform(range(0, 64), i -> list_min(list_transform($hashesArr, h -> ((2*i+5)*h + (i*i+13)) % $P2)))"

  def duckSigDigest(sigArr: String, mult: Long = 1000003L, p: Long = 2147483647L): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $sigArr), (acc, v) -> (acc * $mult + v) % $p)"

  def duckMinhashBands(sigArr: String, bands: Int = 8, rowsPer: Int = 8): String =
    s"list_transform(range(0, $bands), b -> list_reduce(list_prepend(CAST(b+1 AS BIGINT), list_slice($sigArr, $rowsPer*b+1, $rowsPer*b+$rowsPer)), (acc, v) -> (acc*1000003 + v) % 2147483647))"

  def duckMinhashEstJaccard(sa: String, sb: String): String =
    s"(list_sum(list_transform(range(1, 65), i -> CASE WHEN ($sa)[i] = ($sb)[i] THEN 1 ELSE 0 END)) / 64.0)"

  def duckSimhash60(hashesArr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 60), j -> CASE WHEN " +
      s"list_sum(list_transform($hashesArr, h -> CASE WHEN (h // (CAST(1 AS BIGINT) << j)) % 2 = 1 THEN 1 ELSE -1 END)) > 0 " +
      s"THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)), (acc, v) -> acc + v)"

  def duckSimhashBands(fp: String): String =
    s"list_transform(range(0, 4), b -> b*32768 + (($fp // (CAST(1 AS BIGINT) << (15*b))) % 32768))"

  private def duckHyper(t: String, j: String, d: String): String =
    s"(((1103515245 * CAST(($t*8+$j)*64+$d AS BIGINT) + 12345) % 2147483648) / 2147483648.0 - 0.5)"

  def duckHyperplaneKeys(v: String): String =
    s"list_transform(range(0, 4), t -> t*64 + list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 6), j -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), d -> ($v)[d+1] * ${duckHyper("t", "j", "d")})), (a, x) -> a + x) >= 0 " +
      s"THEN 1 ELSE 0 END)), (acc, b) -> acc*2 + b))"

  /** Plane LCG index for the corpus-scaled keys: 32 reserved slots per
    * table (mirrors Native.HyperplaneKeysN exactly). */
  private def duckHyperN(t: String, j: String, d: String): String =
    s"(((1103515245 * CAST(($t*32+$j)*64+$d AS BIGINT) + 12345) % 2147483648) / 2147483648.0 - 0.5)"

  /** Corpus-scaled hyperplane keys — mirrors
    * [[graft.functions.Native.HyperplaneKeysN]]; `bits` is a SQL
    * expression (typically a params-CTE column computed from
    * count(*)). */
  def duckHyperplaneKeysN(v: String, bits: String): String =
    s"list_transform(range(0, 4), t -> t*(CAST(1 AS BIGINT) << ($bits)) + list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, CAST($bits AS BIGINT)), j -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), d -> ($v)[d+1] * ${duckHyperN("t", "j", "d")})), (a, x) -> a + x) >= 0 " +
      s"THEN 1 ELSE 0 END)), (acc, b) -> acc*2 + b))"

  /** ceil(log2(n)) for a BIGINT SQL expression, in pure integer
    * arithmetic (bin() length of n-1) — no floating log2, so the two
    * engines cannot disagree at exact-power boundaries. */
  def duckCeilLog2(n: String): String =
    s"(CASE WHEN ($n) <= 1 THEN 0 ELSE length(bin(($n) - 1)) END)"
}
