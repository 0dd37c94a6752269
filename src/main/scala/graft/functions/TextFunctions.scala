package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-pipeline operators over the
  * `documents` table: tokenization, normalization, fingerprinting,
  * shingling, MinHash and SimHash.
  *
  * All pure Catalyst expressions (built-ins + higher-order functions) — no
  * JVM UDFs — so they distribute with zero serialization overhead and stay
  * inside the optimizer. Hashes use Spark's xxhash64 with per-function seed
  * columns, the standard trick for a deterministic hash family.
  */
object TextFunctions {

  /** Marker/stop words: generic English plus high-frequency corpus terms. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "for", "on", "with",
      "row", "table", "value", "key")

  /** Whitespace tokens of lower-cased text, empties dropped. Native
    * codegen kernel ([[TokenizeWs]]); value-identical to
    * `filter(split(lower(trim(text)), "\\s+"), t => t =!= "")`
    * (KernelParitySpec pins it) without the interpreted higher-order
    * `filter` pass or per-call regex compile. */
  def tokens(text: Column): Column = call_function("tokenize_ws", text)

  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(Stopwords))).cast("long")

  /** Whitespace-normalized lower-cased form used for exact-dup hashing. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic document fingerprint (md5 of the normalized text —
    * identical in any engine, unlike engine-native hash functions). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Engine-native fingerprint (xxhash64 of the normalized text) — the
    * 100 TB pairing for [[fingerprint]]: 8 bytes instead of a 32-char
    * md5 string and ~20× less hash CPU, with the same admission
    * decisions (KernelParitySpec pins the parity). Not reproducible
    * outside the engine, hence not the oracle configuration. */
  def fingerprintNative(text: Column): Column = xxhash64(normalize(text))

  /** Token n-gram shingles ("a b c", n=2 → ["a b","b c"]). Documents with
    * fewer than n tokens yield an empty array. Native codegen kernel
    * ([[WordShingles]] over [[TokenizeWs]]); the Column formulation it
    * replaces — `transform(sequence(1, size-n+1), i -> concat_ws(" ",
    * slice(toks, i, n)))` — re-evaluated the `toks` subtree once PER
    * SHINGLE under interpreted higher-order eval (O(tokens²) per row,
    * the former CPU ceiling of the whole MinHash family).
    * KernelParitySpec pins value equality with that chain. */
  def shingles(text: Column, n: Int): Column =
    call_function("word_shingles", tokens(text), lit(n))

  /** Winnowing fingerprint set (Schleimer et al., SIGMOD'03): the
    * distinct window-minima of the portable 60-bit hashes of the
    * document's k-gram shingles, window w. Native one-pass codegen
    * kernel ([[WinnowFps]] over [[WordShingles]]/[[TokenizeWs]]); any
    * shared run of >= w + k − 1 tokens between two documents yields at
    * least one common fingerprint — local/partial-overlap detection, vs
    * the whole-document signatures of [[minhashSignature]]. */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    call_function("winnow_fps", shingles(text, k), lit(w))

  /** Cross-engine-portable 60-bit hash: the decimal value of the first 15
    * hex chars of md5(prefix ++ s). Bit-identical to Spark's
    * `conv(substr(md5(..),1,15),16,10)` and DuckDB's
    * `CAST('0x'||substr(md5(..),1,15) AS BIGINT)` — the hash family that
    * lets MinHash/LSH/SimHash results be oracle-verified across engines.
    * Computed by the native codegen expression `portable_hash60`
    * ([[PortableHash60Expr]] — thread-local digest over raw bytes, no
    * hex-string/conv allocation; KernelParitySpec pins equality with the
    * built-in chain). Still costlier than xxhash64; at 100 TB flip the
    * kernel argument below to the engine-native default. */
  def portableHash(s: Column, prefix: String): Column =
    call_function("portable_hash60", s, lit(prefix))

  /** JVM-side scalar twin of [[portableHash]] — the SAME md5-first-15-hex
    * kernel for plan-build-time constants (LSH plane weights) and
    * driver/executor Scala code (stub codec). Keep all three forms (Column,
    * SQL string, scalar) in lockstep: oracle parity depends on it.
    * Pass a reusable digest in hot loops (digest() resets it). */
  def portableHash60(s: String,
      md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")): Long = {
    val digest = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      digest.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** The default (engine-native, fastest) MinHash kernel. */
  val xxhashKernel: (Column, Int) => Column = (s, seed) => xxhash64(s, lit(seed))

  /** Engine-native band-hash kernel (string prefixes stand in for seeds,
    * matching [[portableHash]]'s signature) — the 100 TB pairing for
    * [[xxhashKernel]] in the banded-LSH pipeline. */
  val xxhashBandKernel: (Column, String) => Column =
    (s, prefix) => xxhash64(lit(prefix), s)

  /** Portable kernel: seeds become md5 prefixes ("<seed>:"). */
  val portableKernel: (Column, Int) => Column =
    (s, seed) => portableHash(s, s"$seed:")

  /** MinHash signature: k minima over kernel(shingle, seed). Seeds make
    * k independent hash functions from one hash kernel. The portable
    * kernel takes the native one-pass path ([[PortableMinhash60]]: one
    * tight loop per row instead of k interpreted `transform` passes —
    * same values, KernelParitySpec pins it); any other kernel uses the
    * generic per-seed formulation. */
  def minhashSignature(
      shingleCol: Column, k: Int,
      kernel: (Column, Int) => Column = xxhashKernel): Column =
    if (kernel eq portableKernel)
      call_function("portable_minhash60", shingleCol, lit(k))
    else if (kernel eq xxhashKernel)
      call_function("xx_minhash64", shingleCol, lit(k))
    else
      array((0 until k).map(seed =>
        array_min(transform(shingleCol, s => kernel(s, seed)))): _*)

  /** Estimated Jaccard from two equal-length MinHash signatures. Runs
    * per CANDIDATE PAIR in the LSH verify step, so the agreement count
    * is the native [[SigAgree]] kernel (one primitive loop) rather than
    * interpreted zip_with + filter per pair; value-identical
    * (KernelParitySpec pins the chain). */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    call_function("sig_agree", sigA, sigB)
      .cast("double") / size(sigA).cast("double")

  /** 64-bit SimHash over a token array column (by name, via SQL lambda:
    * per-token xxhash64 bits vote +1/-1 per position; sign → bit). */
  def simhash64(tokensColName: String): Column = {
    val counts =
      s"""aggregate($tokensColName, array_repeat(0L, 64),
            (acc, t) -> zip_with(acc,
              transform(sequence(0, 63),
                i -> CASE WHEN (xxhash64(t) & shiftleft(1L, i)) != 0
                          THEN 1L ELSE -1L END),
              (a, b) -> a + b))"""
    expr(
      s"""aggregate(
            zip_with($counts, sequence(0, 63),
              (c, i) -> CASE WHEN c > 0L THEN shiftleft(1L, i) ELSE 0L END),
            0L, (a, b) -> a + b)""")
  }

  /** 60-bit SimHash over a token array column using the portable md5
    * kernel — same vote semantics as [[simhash64]] but reproducible in
    * DuckDB for oracle checks (60 bits because the portable hash is 15
    * hex chars). Native codegen kernel ([[PortableSimhash60]]): one
    * hash + one vote pass per token; the SQL-lambda chain it replaces
    * recomputed the hash inside the per-bit CASE — 60 digests per token
    * under interpreted eval (KernelParitySpec pins value equality). */
  def simhashPortable60(tokensColName: String): Column =
    call_function("portable_simhash60", col(tokensColName))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")
}
