package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, shingling,
  * MinHash and SimHash signatures.
  *
  * Everything here is built from codegen'd Spark SQL functions (no UDFs),
  * so expressions stay inside whole-stage codegen and scale linearly with
  * input partitions — no shuffle is introduced by any scalar function.
  *
  * ANSI-mode safe: no raw 64-bit multiply/add chains that could overflow
  * (Spark 4 runs with spark.sql.ansi.enabled=true); per-hash-function
  * diversity comes from salting the hashed bytes, not affine transforms.
  */
object TextFunctions {
  private val WS = "\\s+"

  /** Let-binding for column expressions: evaluates `c` ONCE per row and
    * passes the result to `f` as a lambda-bound variable.
    *
    * Why: higher-order functions are interpreted (no codegen CSE), so a
    * subexpression referenced inside a lambda is re-evaluated on every
    * lambda invocation — e.g. `split(text)` inside a shingle loop runs
    * |tokens|× per row, and a shingle array inside a k-family MinHash loop
    * runs k× per row (measured 25 ms/row → 0.5 ms/row after binding).
    * `transform` evaluates its input argument once, so wrapping the value
    * in a 1-element array gives an O(1) let. */
  def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Whitespace tokenization of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), WS)

  /** [[tokens]] with the empty-string artifact of splitting "" removed —
    * THE tokenizer every word-level operator shares (dedup segments,
    * decontamination, BM25, DSIR, g3); change it here and in the DuckDB
    * oracle replicas (`list_filter(string_split_regex(...), w -> w <> '')`)
    * together. */
  def cleanTokens(c: Column): Column = array_remove(tokens(c), "")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("bigint")

  /** |distinct tokens| / |tokens| — low values indicate boilerplate /
    * repetitive documents (a standard pretraining quality filter). */
  def distinctTokenRatio(c: Column): Column = bind(tokens(c)) { t =>
    size(array_distinct(t)).cast("double") / size(t).cast("double")
  }

  /** Mean token length in characters (whitespace removed / token count). */
  def meanTokenLength(c: Column): Column =
    length(regexp_replace(c, WS, "")).cast("double") /
      size(tokens(c)).cast("double")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column =
    bind(tokens(c)) { t =>
      size(filter(t, x => x.isInCollection(stopwords))).cast("double") /
        size(t).cast("double")
    }

  /** Number of tokens of `c` contained in `words`. */
  def hitCount(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), x => x.isInCollection(words))).cast("bigint")

  /** Stopword tables for the n-gram-free language-ID heuristic. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  /** Heuristic language ID: argmax of per-language stopword hit counts,
    * ties broken by the order of [[LangStopwords]]; "unk" when no hits. */
  def langId(c: Column): Column = {
    val hits = LangStopwords.map { case (lang, words) =>
      lang -> hitCount(c, words)
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("unk")) { case ((lang, h), els) =>
      when(h > 0 && h === best, lang).otherwise(els)
    }
  }

  /** BPE-ish subword tokenization: letter runs, digit runs, and single
    * non-space symbols — the pre-tokenization regex family used by GPT-2
    * style BPE vocabularies, without the merges table. */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c)).cast("bigint")

  /** First 60 bits of md5(c) as a non-negative bigint. md5 is the one hash
    * every engine shares, so values derived from it are oracle-matchable
    * (DuckDB: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`); 15 hex digits
    * keep the value under 2^60, ANSI-safe for further long arithmetic. */
  def md5Bits60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Rolling polynomial fingerprint over tokens (Karp-Rabin style):
    * acc ← (acc·31 + (md5-derived token hash) mod p) mod p. Stays below
    * 2^62 so ANSI-mode long arithmetic cannot overflow; md5-derived token
    * hashes (not xxhash64) keep the value reproducible in any engine. */
  def fingerprintRolling(c: Column): Column = {
    val p = 1000000007L
    bind(tokens(c)) { t =>
      aggregate(t, lit(1L),
        (acc, tok) => pmod(acc * 31L + pmod(md5Bits60(tok), lit(p)), lit(p)))
    }
  }

  /** 64-bit content fingerprint (xxhash64 of normalized text). */
  def fingerprint64(c: Column): Column = xxhash64(lower(trim(c)))

  /** Hex fingerprint oracle-matchable in any engine with md5. */
  def fingerprintMd5(c: Column): Column =
    substring(md5(lower(trim(c))), 1, 16)

  /** Character n-gram shingles; documents shorter than n yield [text]. */
  def charShingles(c: Column, n: Int): Column = bind(c) { s =>
    when(length(s) >= n,
      transform(sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))
      .otherwise(array(s))
  }

  /** Word n-gram shingles over whitespace tokens. */
  def wordShingles(c: Column, n: Int): Column = bind(tokens(c)) { t =>
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** Oracle-reproducible MinHash: each DISTINCT shingle is md5-hashed
    * ONCE ([[md5Bits60]], reduced mod P = 2^31-1 — md5 being the one
    * hash both engines share, the d7 SimHash precedent), and component
    * i is the min over shingles of the affine permutation
    * h_i(b) = ((2i+1)·b + i·1013904223) mod P — the textbook universal
    * family, replayable verbatim in a DuckDB oracle with plain BIGINT
    * arithmetic (max intermediate ~(2k−1)·2^31, far below overflow).
    *
    * The r15 spelling hashed every shingle k TIMES (md5(i||':'||s)),
    * which made the d29 index build md5-bound: k=16 meant 16 md5 calls
    * per shingle where one suffices (VERDICT r16 next-round #7). Use
    * the xxhash64 `graft_minhash` ([[graft.plans.MinHashSig]]) when the
    * consumer doesn't need cross-engine replay. Shingles are
    * de-duplicated inside the bind so the min runs over the set,
    * matching the Jaccard estimator's definition. */
  def md5MinHash(shinglesCol: Column, k: Int): Column = {
    val P = 2147483647L
    bind(transform(array_distinct(shinglesCol),
        s => pmod(md5Bits60(s), lit(P)))) { bs =>
      transform(sequence(lit(0), lit(k - 1)),
        i => array_min(transform(bs,
          b => pmod((i * 2 + 1) * b + i * lit(1013904223L), lit(P)))))
    }
  }

  /** Per-band bucket hashes of an [[md5MinHash]] signature: band b
    * hashes its `rows` consecutive components ('b<b>:' prefix +
    * comma-joined decimal strings) through [[md5Bits60]] — the same
    * recipe replayable in a DuckDB oracle. Band-hash equality is the
    * LSH candidate condition (rather than component-tuple equality);
    * with 60-bit hashes the distinction is negligible, and using the
    * hash on BOTH engines keeps the semantics bit-identical. */
  def md5BandHashes(sig: Column, bands: Int, rows: Int): Column =
    bind(sig) { sg =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5Bits60(concat(lit("b"), b.cast("string"), lit(":"),
          concat_ws(",", transform(
            slice(sg, b * lit(rows) + lit(1), lit(rows)),
            x => x.cast("string"))))))
    }

  /** Estimated Jaccard similarity of two equal-length MinHash signatures:
    * fraction of agreeing components. */
  def minHashSimilarity(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))
      .cast("double") / size(a).cast("double")

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    bind(array_distinct(a)) { da =>
      bind(array_distinct(b)) { db =>
        bind(size(array_intersect(da, db))) { ni =>
          ni.cast("double") / (size(da) + size(db) - ni).cast("double")
        }
      }
    }

  /** 64-bit SimHash over tokens: bit i of the signature is the sign of
    * sum over tokens of (bit i of the token hash ? +1 : -1).
    *
    * The per-token hash is the first 16 hex digits of md5(token), so the
    * signature is reproducible in any engine with md5 (the DuckDB oracle
    * recomputes it digit-by-digit). Each token is hashed ONCE into a
    * 16-element digit-value array (the outer bind), so the 64 per-bit vote
    * aggregates only do array lookups + shifts. Output is a fixed-width
    * 16-char lowercase hex string (MSB-first), compatible with
    * [[hammingHex]]. */
  def simHash(c: Column): Column =
    bind(transform(tokens(c), tok =>
      bind(substring(md5(tok), 1, 16)) { h =>
        transform(sequence(lit(1), lit(16)),
          j => conv(h.substr(j, lit(1)), 16, 10).cast("bigint"))
      })) { th =>
      val bitCols = (0 until 64).map { i =>
        // bit i (MSB-first) lives in hex digit i/4 at position 3 - i%4
        val j = i / 4 + 1
        val b = 3 - (i % 4)
        val votes = aggregate(th, lit(0L),
          (acc, ds) =>
            acc + when((shiftright(element_at(ds, j), b) % 2) =!= 0, 1L)
              .otherwise(-1L))
        when(votes > 0, lit(1L)).otherwise(lit(0L))
      }
      // assemble nibble-by-nibble into fixed-width lowercase hex
      val hexChars = (0 until 16).map { d =>
        val v = bitCols(d * 4) * 8 + bitCols(d * 4 + 1) * 4 +
          bitCols(d * 4 + 2) * 2 + bitCols(d * 4 + 3)
        lit("0123456789abcdef").substr((v + 1).cast("int"), lit(1))
      }
      concat(hexChars: _*)
    }

  /** Hamming distance between two hex SimHash signatures. */
  def hammingHex(a: Column, b: Column): Column = {
    // compare bit-by-bit via unhex → byte arrays is awkward without UDFs;
    // xor via bigint halves (each 32-bit half fits a long safely).
    def half(c: Column, from: Int): Column =
      conv(substring(lpad(c, 16, "0"), from, 8), 16, 10).cast("bigint")
    def popcount32(x: Column): Column =
      (0 until 32).map(i => (shiftright(x, i) % 2).cast("int"))
        .reduce(_ + _)
    popcount32(half(a, 1).bitwiseXOR(half(b, 1))) +
      popcount32(half(a, 9).bitwiseXOR(half(b, 9)))
  }
}
