package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline column functions — the LLM-training-data operator layer
  * (dedup / fingerprinting / quality / token stats). All pure
  * `org.apache.spark.sql.functions` compositions: whole-stage-codegen'd,
  * no UDFs, no shuffles at the row level — the per-document work scales
  * linearly and embarrassingly parallel at 100 TB.
  */
object TextFns {

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish tokens: word pieces or single punctuation marks. */
  def regexTokens(text: Column): Column =
    call_function("regexp_extract_all", text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Canonical normalization for exact dedup: lowercase, collapse whitespace. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact-dup fingerprint (md5 of normalized text). */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** Distinct word n-gram shingles (the MinHash/Jaccard unit). */
  def shingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    array_distinct(
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", w))))
  }

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Each variable-length shingle is string-hashed ONCE (xxhash64); the k
    * hash functions then re-hash the fixed 8-byte value with the function
    * index as a leading word — deterministic across runs/executors, and
    * ANSI-safe (a multiply-add mix would overflow-throw under Spark 4's
    * default ANSI mode). Re-hashing the string per function was 63× the
    * variable-length hash work: 7.7 s → ~3 s at sf0.1.
    */
  def minhash(shingleArr: Column, k: Int): Column =
    minhashFromHashes(transform(shingleArr, s => xxhash64(s)), k)

  /** Minhash over a PRE-MATERIALIZED hash array column. Higher-order
    * functions don't whole-stage-codegen, so common-subexpression
    * elimination never kicks in — pass a *named column* of hashes
    * (`withColumn("hs", transform(sh, xxhash64))`) or the base hashing
    * re-runs once per function.
    */
  def minhashFromHashes(hashArr: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(hashArr, h => xxhash64(lit(i), h)))): _*)

  /** LSH band keys: split a k-minhash signature into `bands` bands of
    * k/bands rows; the band key hashes band index + its slice. Docs sharing
    * any band key become candidate pairs (join on the key = one shuffle).
    */
  def lshBandKeys(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map(b =>
      xxhash64(lit(b), concat_ws(",", slice(sig, b * rows + 1, rows)))): _*)
  }

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, ±1 vote per
    * bit, sign of the vote sum becomes the bit.
    */
  def simhash64(text: Column): Column = {
    // hash each token ONCE, then fold hashes into the 64 bit-vote counters
    // (folding raw words would re-evaluate xxhash64 per bit — 64×the work)
    val hashes = transform(tokens(text), w => xxhash64(w))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash chunk keys (4 × 16-bit): pairs within hamming ≤ 3 share at
    * least one identical chunk (pigeonhole) — the banding that makes
    * near-dup search a join instead of an O(n²) scan.
    */
  def simhashChunks(sig: Column): Column =
    array((0 until 4).map(i =>
      struct(lit(i).as("chunk"),
        shiftright(sig, i * 16).bitwiseAND(0xFFFF).as("value"))): _*)

  /** Quality features (length / stopword ratio),
    * the classic heuristic text-quality scoring surface.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "on", "for", "with", "at", "by")

  def stopwordRatio(text: Column): Column = {
    val w = tokens(text)
    size(filter(w, x => x.isin(Stopwords: _*))) / size(w).cast("double")
  }

  /** Composite quality score in [0,1] — monotone in doc length (saturating),
    * penalized for extreme stopword ratios. Deterministic, SQL-mirrorable.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val sw = stopwordRatio(text)
    val swScore = lit(1.0) - abs(sw - 0.15) // peak near natural prose ratio
    round(greatest(least(lenScore * 0.6 + swScore * 0.4, lit(1.0)), lit(0.0)), 4)
  }
}
