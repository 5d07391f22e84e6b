package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftBridge

/** Custom Catalyst expressions for document sketching.
  *
  * These are the (b)-tier custom operators from the build rules: scalar
  * sketch functions Spark lacks, implemented as native expressions so
  * the per-document work is ONE pass over the token-hash array instead
  * of `numHashes` separate array traversals that built-in `transform`/
  * `array_min` chains would cost (64× less work per row at 100 TB).
  * No shuffle is involved — both are pure per-row projections.
  *
  * Capability modeled after the dedup stage of large-scale training-data
  * pipelines (the reference itself has no sketches — SURVEY §2.E declares
  * the gap; this is north-star surface from BASELINE.json).
  */
object SketchExprs {

  /** THE tokenizer of the whole sketch family — one definition, so the
    * "same tokens" equality contracts between ShingleHash /
    * ShingleStrings / GramRepetition(Pair) cannot drift: lowercase,
    * split on `\W+`, trailing empties kept (raw) or all empties dropped
    * (strict). */
  private val Splitter = java.util.regex.Pattern.compile("\\W+")

  private[functions] def rawTokens(
      u: org.apache.spark.unsafe.types.UTF8String): Array[String] =
    Splitter.split(u.toLowerCase.toString, -1)

  private[functions] def strictTokens(
      u: org.apache.spark.unsafe.types.UTF8String): Array[String] =
    rawTokens(u).filter(_.nonEmpty)

  /** Deterministic multiply-add permutation family: h_i(x) = a_i*x + b_i
    * over Z/2^64 (odd multipliers ⇒ bijective). Seeds derive from
    * SplitMix64 so signatures are reproducible across runs/executors. */
  def permutations(n: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val as = Array.fill(n)(next() | 1L) // odd
    val bs = Array.fill(n)(next())
    (as, bs)
  }

  /** MinHash signature + LSH band hashes in one pass.
    *
    * Input: array<long> of shingle hashes. Output: array<long> of
    * `bands` bucket keys — band j is a hash of signature rows
    * [j*rowsPerBand, (j+1)*rowsPerBand). Two documents share a bucket
    * key in some band iff their signatures agree on that whole band —
    * the standard (b,r) LSH construction for Jaccard similarity.
    */
  case class MinHashBands(
      child: Expression,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L)
    extends UnaryExpression {

    require(numHashes % bands == 0, "numHashes must divide into bands")
    private val rowsPerBand = numHashes / bands
    @transient private lazy val (as, bs) = permutations(numHashes, seed)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashBands].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.sketch($c);")
    }

    protected override def nullSafeEval(input: Any): Any =
      sketch(input.asInstanceOf[ArrayData])

    def sketch(input: ArrayData): ArrayData = {
      val hashes = input
      val n = hashes.numElements()
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < numHashes) {
          val p = as(j) * h + bs(j)
          if (p < mins(j)) mins(j) = p
          j += 1
        }
        i += 1
      }
      // fold each band of rowsPerBand mins into one 64-bit bucket key
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = 0xcbf29ce484222325L ^ b // FNV-ish offset, band-distinct
        var r = 0
        while (r < rowsPerBand) {
          acc = (acc ^ mins(b * rowsPerBand + r)) * 0x100000001b3L
          r += 1
        }
        out(b) = acc
        b += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): MinHashBands =
      copy(child = c)
  }

  /** 64-bit SimHash over an array<long> of token hashes: per bit,
    * majority vote of the tokens' bits; near-duplicate docs have small
    * Hamming distance (compare with `bit_count(a ^ b)`). */
  case class SimHash64(child: Expression)
    extends UnaryExpression {

    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sketch($c);")
    }

    protected override def nullSafeEval(input: Any): Any =
      sketch(input.asInstanceOf[ArrayData])

    def sketch(input: ArrayData): Long = {
      val hashes = input
      val n = hashes.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** One-pass word n-gram shingle hasher.
    *
    * Semantically identical to the built-in composition
    * `array_distinct(transform(grams, g => xxhash64(g)))` over grams
    * built with `split(lower(text), "\\W+")` + `concat_ws(" ", slice)` —
    * same token split (Java split, trailing empties kept), same gram
    * strings, same xxhash64 seed 42 — but evaluated in ONE pass per row.
    * The higher-order-function version leaves whole-stage codegen and
    * evaluates its lambda interpreted per element with a fresh
    * UTF8String per gram: ~7× slower on the documents fixture. At 100 TB
    * the shingle projection dominates dedup cost, so this is the hot
    * path worth a native expression.
    *
    * Two tokenization modes:
    *  - default (`strict = false`, the minhash family): empty tokens
    *    kept, and a document shorter than n still yields one partial
    *    gram (every doc gets a sketch);
    *  - `strict = true` (the contamination family): empty tokens
    *    dropped and documents shorter than n yield NO grams — the
    *    exact hash image of [[graft.llm.Contamination.ngrams]]'s
    *    string grams.
    */
  case class ShingleHash(child: Expression, n: Int, strict: Boolean = false)
    extends UnaryExpression {

    require(n >= 1, "shingle size must be >= 1")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    /** Codegen: one direct call into [[hash]] — the expression joins the
      * surrounding whole-stage-codegen span instead of the
      * CodegenFallback path (per-row InternalRow boxing + reflection). */
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("shingleHash", this, classOf[ShingleHash].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.hash($c);")
    }

    def hash(u: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(longs(u))

    /** The exact-size sorted-distinct long array behind [[hash]] —
      * shared with [[ShingleHashPacked]] so the packed form is the same
      * hash image by construction. */
    private[functions] def longs(
        u: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
      // ASCII fast path (round-18, guide §1.2 step 2 — per-task work):
      // `\w` in Java regex is ASCII-only, so after lowercasing every
      // token is a run of [a-z0-9_] bytes and everything else is a
      // separator. For all-ASCII documents (where Unicode lowercase ==
      // ASCII lowercase byte-for-byte) the whole tokenize→gram→hash
      // walk runs on BYTES: no regex engine, no per-token String, no
      // UTF-8 re-encode per gram. All tokens joined by single spaces
      // form one normalized buffer in which every gram is a CONTIGUOUS
      // SLICE — token i's gram is buf[start(i) .. end(i+n-1)] — so each
      // hash is one XXH64 over a slice, zero per-gram allocation. The
      // hash image is bit-identical to the string path (same bytes,
      // same seed); SketchSpec pins equivalence property-style. Any
      // non-ASCII byte (e.g. U+212A KELVIN SIGN, which lowercases INTO
      // ASCII 'k') falls back to the original string path.
      val nb = u.numBytes()
      val bytes = u.getBytes // may alias the backing array: never mutated
      var ascii = true
      var i = 0
      while (i < nb) { if (bytes(i) < 0) { ascii = false; i = nb }; i += 1 }
      if (!ascii) return longsViaStrings(u)

      def isWord(b: Byte): Boolean =
        (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9') || b == '_'
      // token spans on the raw bytes; raw mode keeps the leading/
      // trailing EMPTY tokens Java's split(-1) produces around a
      // separator-adjacent boundary (an empty input is one empty token)
      var tokCount = 0
      val starts = new Array[Int](nb + 2)
      val lens = new Array[Int](nb + 2)
      if (!strict && (nb == 0 || !isWord(bytes(0)))) {
        starts(0) = 0; lens(0) = 0; tokCount = 1
      }
      i = 0
      while (i < nb) {
        if (isWord(bytes(i))) {
          val s = i
          while (i < nb && isWord(bytes(i))) i += 1
          starts(tokCount) = s; lens(tokCount) = i - s; tokCount += 1
        } else i += 1
      }
      if (!strict && nb > 0 && !isWord(bytes(nb - 1))) {
        starts(tokCount) = nb; lens(tokCount) = 0; tokCount += 1
      }
      if (strict && tokCount < n)
        return Array.emptyLongArray
      // normalized join buffer: lowercased tokens, single ' ' between
      var joinedLen = if (tokCount == 0) 0 else tokCount - 1
      i = 0
      while (i < tokCount) { joinedLen += lens(i); i += 1 }
      val buf = new Array[Byte](joinedLen)
      val bufStart = new Array[Int](math.max(tokCount, 1))
      val bufEnd = new Array[Int](math.max(tokCount, 1))
      var p = 0
      i = 0
      while (i < tokCount) {
        if (i > 0) { buf(p) = ' '; p += 1 }
        bufStart(i) = p
        var j = starts(i)
        val e = starts(i) + lens(i)
        while (j < e) {
          val b = bytes(j)
          buf(p) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          p += 1; j += 1
        }
        bufEnd(i) = p
        i += 1
      }
      val count = math.max(tokCount - (n - 1), 1)
      val hashes = new Array[Long](count)
      i = 0
      while (i < count) {
        val last = math.min(i + n - 1, tokCount - 1)
        val s = if (tokCount == 0) 0 else bufStart(i)
        val e = if (tokCount == 0) 0 else bufEnd(last)
        hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s,
            e - s, 42L)
        i += 1
      }
      sortedDistinct(hashes, count)
    }

    /** The original String/regex path — kept verbatim for non-ASCII
      * documents, where Unicode lowercasing can change byte classes
      * (test-visible: LlmSpec pins fast-path ≡ string-path on edge
      * inputs). */
    private[graft] def hashViaStrings(
        u: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(longsViaStrings(u))

    private def longsViaStrings(
        u: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
      val tokens = if (strict) strictTokens(u) else rawTokens(u)
      if (strict && tokens.length < n) return Array.emptyLongArray
      val count = math.max(tokens.length - (n - 1), 1)
      val hashes = new Array[Long](count)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < count) {
        sb.setLength(0)
        var j = 0
        while (j < n && i + j < tokens.length) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        val g = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        hashes(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          g, org.apache.spark.sql.types.StringType, 42L)
        i += 1
      }
      sortedDistinct(hashes, count)
    }

    // SORTED distinct output: downstream set ops (JaccardSorted) get a
    // linear merge instead of per-pair hash-set builds
    private def sortedDistinct(hashes: Array[Long], count: Int): Array[Long] = {
      java.util.Arrays.sort(hashes, 0, count)
      var m = 0
      var i = 0
      while (i < count) {
        if (i == 0 || hashes(i) != hashes(i - 1)) { hashes(m) = hashes(i); m += 1 }
        i += 1
      }
      if (m == count && m == hashes.length) hashes
      else java.util.Arrays.copyOf(hashes, m)
    }

    protected override def nullSafeEval(input: Any): Any =
      hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): ShingleHash =
      copy(child = c)
  }

  /** [[ShingleHash]] with a FIXED-WIDTH BINARY payload: the identical
    * sorted-distinct long image (shared [[ShingleHash.longs]] core),
    * laid out as 8-byte little-endian entries in one byte[] instead of
    * ArrayType(Long) (see [[PackedLayout]]).
    *
    * Why (round-19, guide §1.2 step 2 / §5): the dedup families'
    * candidate-VERIFY stages carry each candidate document's shingle
    * set through two id-keyed joins. As ArrayType the value is
    * converted GenericArrayData → UnsafeArrayData (a per-ELEMENT
    * writer loop) when it first enters an UnsafeRow, and every
    * join/exchange row copy downstream moves the 8-byte header +
    * null-bit words with it; after the round-18 ASCII fast path this
    * copy machinery — not hashing — was the largest remaining CPU
    * block (q_dedup_keep_best verify: 21.3 s task CPU). A BinaryType
    * cell enters the row as ONE contiguous memcpy and stays a plain
    * byte region through every copy. [[JaccardSortedPacked]] reads the
    * longs back in place — no unpack allocation per comparison. */
  case class ShingleHashPacked(child: Expression, n: Int,
                               strict: Boolean = false)
    extends UnaryExpression {

    require(n >= 1, "shingle size must be >= 1")

    @transient private lazy val impl = ShingleHash(child, n, strict)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("shinglePacked", this,
        classOf[ShingleHashPacked].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hashPacked($c);")
    }

    def hashPacked(u: org.apache.spark.unsafe.types.UTF8String): Array[Byte] = {
      val arr = impl.longs(u)
      val out = new Array[Byte](arr.length << 3)
      var i = 0
      while (i < arr.length) {
        org.apache.spark.unsafe.Platform.putLong(out,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + (i.toLong << 3),
          PackedLayout.littleEndian(arr(i)))
        i += 1
      }
      out
    }

    protected override def nullSafeEval(input: Any): Any =
      hashPacked(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): ShingleHashPacked =
      copy(child = c)
  }

  /** Distinct word n-gram STRINGS of a document in one pass — the
    * string-form sibling of strict [[ShingleHash]] (same tokenizer,
    * same gram construction, docs shorter than n yield none), for the
    * places that must emit readable grams rather than hashes
    * (boilerplate string recovery). The built-in
    * `array_distinct(transform(sequence, slice/concat_ws))` composition
    * it replaces runs interpreted per element outside codegen — on the
    * boilerplate recovery pass that composition WAS the query cost.
    * Output order is sorted (binary), which no caller depends on.
    * NULL text propagates null (like every sketch expression), where
    * the Contamination.ngrams composition yields [] — identical under
    * `explode` (both emit zero rows), the only way callers consume
    * either. */
  case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression {

    require(n >= 1, s"gram size must be >= 1: $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("shingleStrings", this,
        classOf[ShingleStrings].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.grams($c);")
    }

    def grams(u: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val tokens = strictTokens(u)
      val count = tokens.length - (n - 1)
      if (count <= 0)
        return new GenericArrayData(Array.empty[org.apache.spark.unsafe.types.UTF8String])
      val out = new Array[org.apache.spark.unsafe.types.UTF8String](count)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < count) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        i += 1
      }
      java.util.Arrays.sort(out, new java.util.Comparator[org.apache.spark.unsafe.types.UTF8String] {
        def compare(a: org.apache.spark.unsafe.types.UTF8String,
                    b: org.apache.spark.unsafe.types.UTF8String): Int = a.compareTo(b)
      })
      var m = 0
      i = 0
      while (i < count) {
        if (i == 0 || out(i).compareTo(out(i - 1)) != 0) { out(m) = out(i); m += 1 }
        i += 1
      }
      new GenericArrayData(
        if (m == count) out.asInstanceOf[Array[Any]] else out.take(m).asInstanceOf[Array[Any]])
    }

    protected override def nullSafeEval(input: Any): Any =
      grams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): ShingleStrings =
      copy(child = c)
  }

  /** xxhash64 images of the K-CHARACTER windows of a document at a
    * fixed stride — the corpus-level repeated-substring (exact-span)
    * dedup primitive. Detection contract, stated precisely: a
    * substring of length >= k + stride - 1 repeated at two places is
    * caught iff the two occurrence offsets are congruent mod stride —
    * so stride = 1 catches EVERY repeat (the suffix-array method's
    * sensitivity, at one window per character), while stride > 1 costs
    * 1/stride and still catches the aligned-repeat cases that dominate
    * real corpora: exact copies, shared prefixes truncated/extended at
    * the tail, head-to-tail packed duplicates. (Shift-invariant
    * sampling exists as a first-class sibling now:
    * [[WinnowFingerprints]] — its portable-polynomial gram hash made
    * the selection SQL-replayable, closing the trade this note used
    * to document.) Windows are
    * CODEPOINT-indexed (SQL `len`/`substr` semantics — surrogate pairs
    * never split), occurrences preserved (no dedup — self-repetition
    * counts), empty output below k codepoints. One boundary-scan pass
    * per row hashing zero-copy byte views; only 8-byte hashes ever
    * leave the row. */
  case class CharWindowHashes(child: Expression, k: Int, stride: Int)
    extends UnaryExpression {

    require(k >= 2, s"window must be >= 2 chars: $k")
    require(stride >= 1 && stride <= k,
      s"stride must be in [1, k]: $stride vs $k")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("charWindows", this,
        classOf[CharWindowHashes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.hashes($c);")
    }

    def hashes(u: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      // windows are CODEPOINT-indexed (matching SQL len/substr — the
      // oracle's semantics — and never splitting surrogate pairs), and
      // hashed as zero-copy views over one shared UTF-8 byte array:
      // one boundary-scan pass + one tiny wrapper per window, instead
      // of a String + re-encoded UTF8String per window
      val bytes = u.getBytes
      val nBytes = bytes.length
      val offs = new Array[Int](nBytes + 1)
      var i = 0
      var cp = 0
      while (i < nBytes) {
        offs(cp) = i
        cp += 1
        i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(i))
      }
      offs(cp) = nBytes
      if (cp < k) return new GenericArrayData(Array.emptyLongArray)
      val count = (cp - k) / stride + 1
      val out = new Array[Long](count)
      var w = 0
      var p = 0
      while (w < count) {
        val start = offs(p)
        val view = org.apache.spark.unsafe.types.UTF8String.fromBytes(
          bytes, start, offs(p + k) - start)
        out(w) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          view, org.apache.spark.sql.types.StringType, 42L)
        p += stride
        w += 1
      }
      new GenericArrayData(out)
    }

    protected override def nullSafeEval(input: Any): Any =
      hashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): CharWindowHashes =
      copy(child = c)
  }

  /** W-TOKEN window signatures at a token stride — the primitive for
    * cross-document exact SUBSTRING dedup at the Lee et al. 2021
    * granularity ("Deduplicating Training Data Makes Language Models
    * Better" runs 50-token windows over a corpus suffix array; this is
    * the distributed equivalent: stride 1 catches every >= w-token
    * repeat of the token sequence, stride s the aligned-repeat subset,
    * same contract as [[CharWindowHashes]] transposed to tokens).
    *
    * One struct per window: `s` = codepoint offset of the window's
    * first token, `e` = codepoint offset just past its last token
    * (both in the ORIGINAL text — SQL `substr` coordinates, so an
    * excision pass can cut the exact span), `h` = xxhash64 of the
    * window's WHITESPACE-NORMALIZED content (tokens joined by a single
    * space) — two windows collide iff their token sequences match,
    * regardless of the whitespace between the tokens. Tokens are
    * maximal runs of non-whitespace (`Character.isWhitespace`), case
    * preserved — substring dedup wants verbatim repeats, not the
    * sketch family's lowercased `\W+` tokens. Fewer than w tokens →
    * empty output.
    *
    * One pass per row: the scan classifies codepoints, copies token
    * bytes into one shared normalized buffer, and each window hashes a
    * zero-copy view over that buffer — only (int, int, long) structs
    * leave the row. */
  case class TokenWindowHashes(child: Expression, w: Int, stride: Int)
    extends UnaryExpression {

    require(w >= 2, s"window must be >= 2 tokens: $w")
    require(stride >= 1 && stride <= w,
      s"stride must be in [1, w]: $stride vs $w")

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("s", IntegerType, nullable = false),
      StructField("e", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("tokenWindows", this,
        classOf[TokenWindowHashes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.windows($c);")
    }

    def windows(u: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val bytes = u.getBytes
      val s = u.toString // whitespace classification needs codepoints
      // parallel walk: ci (UTF-16 index into s), bi (byte index into
      // bytes), cp (codepoint index — the SQL substr coordinate)
      val tokStartCp = new java.util.ArrayList[Integer]()
      val tokEndCp = new java.util.ArrayList[Integer]()
      val normStart = new java.util.ArrayList[Integer]()
      val normEnd = new java.util.ArrayList[Integer]()
      val norm = new Array[Byte](bytes.length)
      var normLen = 0
      var ci = 0
      var bi = 0
      var cp = 0
      var inTok = false
      while (ci < s.length) {
        val code = s.codePointAt(ci)
        val nb = org.apache.spark.unsafe.types.UTF8String
          .numBytesForFirstByte(bytes(bi))
        if (!Character.isWhitespace(code)) {
          if (!inTok) {
            if (normLen > 0) { norm(normLen) = ' '; normLen += 1 }
            tokStartCp.add(cp); normStart.add(normLen); inTok = true
          }
          System.arraycopy(bytes, bi, norm, normLen, nb)
          normLen += nb
        } else if (inTok) {
          tokEndCp.add(cp); normEnd.add(normLen); inTok = false
        }
        bi += nb
        ci += Character.charCount(code)
        cp += 1
      }
      if (inTok) { tokEndCp.add(cp); normEnd.add(normLen) }
      val nTok = tokStartCp.size()
      if (nTok < w) return new GenericArrayData(Array.empty[Any])
      val count = (nTok - w) / stride + 1
      val out = new Array[Any](count)
      var k = 0
      var p = 0
      while (k < count) {
        val ns = normStart.get(p).intValue()
        val view = org.apache.spark.unsafe.types.UTF8String.fromBytes(
          norm, ns, normEnd.get(p + w - 1).intValue() - ns)
        out(k) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](
            tokStartCp.get(p).intValue(),
            tokEndCp.get(p + w - 1).intValue(),
            org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
              view, org.apache.spark.sql.types.StringType, 42L)))
        p += stride
        k += 1
      }
      new GenericArrayData(out)
    }

    protected override def nullSafeEval(input: Any): Any =
      windows(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): TokenWindowHashes =
      copy(child = c)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS algorithm): hash every k-codepoint gram, slide a window
    * of w consecutive gram hashes, select each window's MINIMUM hash
    * (ties broken to the RIGHTMOST position — STANDARD winnowing; the
    * paper's "robust winnowing" variant instead re-selects the previous
    * window's fingerprint on ties to lower density further, but that
    * makes selection depend on scan history and is not replayable as a
    * per-window SQL expression, so it is deliberately not used),
    * and emit the distinct selected (pos, hash) pairs in position
    * order. Guarantee (the paper's): any substring match of length
    * >= w + k - 1 between two documents shares at least one
    * fingerprint — with density 2/(w+1) of all grams instead of the
    * full gram set, which is what makes fingerprint indexes ~an order
    * of magnitude smaller than [[CharWindowHashes]] at stride 1 while
    * keeping a HARD detection guarantee (strided windows only catch
    * aligned repeats; winnowing's selection is content-anchored, so it
    * is shift-invariant).
    *
    * This closes the trade documented on [[CharWindowHashes]]
    * ("winnowing needs a hash the SQL oracle could replay"): the gram
    * hash here is the house PORTABLE polynomial — fold
    * (state·31 + codepoint) mod 2147483647 — which any SQL engine
    * replays with a list_reduce, so fingerprint SELECTION itself is
    * oracle-checkable. Fewer than k codepoints → empty; fewer than w
    * grams → ONE selection (the min over the grams that exist),
    * matching a truncated trailing window on the SQL side.
    *
    * One pass per row: the sliding-window minimum runs on a monotonic
    * deque (amortized O(1) per gram; pushing pops equal-or-greater
    * tails, so the newest of equal hashes survives = rightmost tie);
    * only (int, long) structs leave the row. */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

    require(k >= 2, s"gram size must be >= 2 chars: $k")
    require(w >= 1, s"window must be >= 1 grams: $w")

    private val P = 2147483647L

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("winnow", this,
        classOf[WinnowFingerprints].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.fingerprints($c);")
    }

    def fingerprints(u: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val s = u.toString
      val n = s.codePointCount(0, s.length)
      if (n < k) return new GenericArrayData(Array.empty[Any])
      // codepoints once (the hash is defined over codepoints — the
      // SQL side's ascii(substr(g, i, 1)))
      val cps = s.codePoints().toArray
      val nGrams = n - k + 1
      val hashes = new Array[Long](nGrams)
      var g = 0
      while (g < nGrams) {
        var h = 0L
        var i = 0
        while (i < k) { h = (h * 31 + cps(g + i)) % P; i += 1 }
        hashes(g) = h
        g += 1
      }
      // sliding-window min with rightmost ties via monotonic deque
      val dq = new java.util.ArrayDeque[Int]() // positions, hashes increasing
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      var lastSel = -1
      var p = 0
      while (p < nGrams) {
        while (!dq.isEmpty && hashes(dq.peekLast()) >= hashes(p))
          dq.pollLast() // equal pops too → rightmost of ties survives
        dq.addLast(p)
        val windowStart = p - w + 1
        while (dq.peekFirst() < windowStart) dq.pollFirst()
        // a window completes at p >= w-1; short docs (nGrams < w)
        // yield exactly one selection from the final (truncated) pass
        if (p >= w - 1 || p == nGrams - 1) {
          val sel = dq.peekFirst()
          if (sel != lastSel) {
            out += new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(Array[Any](sel, hashes(sel)))
            lastSel = sel
          }
        }
        p += 1
      }
      new GenericArrayData(out.toArray)
    }

    protected override def nullSafeEval(input: Any): Any =
      fingerprints(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
      copy(child = c)
  }

  /** `(total, distinct, top)` occurrence counts of `tokens`' n-grams,
    * by sorted xxhash64 image: sort, then one linear scan — run
    * boundaries give the distinct count, the longest run is the modal
    * gram's occurrence count. Shared by [[GramRepetition]] (one n) and
    * [[GramRepetitionPair]] (words + n-grams from one tokenization). */
  private[functions] def gramOccurrenceStats(
      tokens: Array[String], n: Int): (Long, Long, Long) = {
    val count = tokens.length - (n - 1)
    if (count <= 0) return (0L, 0L, 0L)
    val hashes = new Array[Long](count)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      val g = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        g, org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var distinct = 1L
    var top = 1L
    var run = 1L
    i = 1
    while (i < count) {
      if (hashes(i) == hashes(i - 1)) {
        run += 1
        if (run > top) top = run
      } else { distinct += 1; run = 1L }
      i += 1
    }
    (count.toLong, distinct, top)
  }

  /** One-pass word n-gram repetition statistics:
    * `struct(total, distinct, top)` over the document's n-gram
    * OCCURRENCES — total occurrences, distinct grams, and the
    * occurrence count of the most frequent gram. These are the raw
    * numbers behind the published repeated-content quality filters
    * (duplicate-word fraction, most-common-n-gram fraction,
    * duplicate-n-gram fraction — Gopher-style corpus hygiene).
    *
    * Tokenization is exactly [[ShingleHash]]'s strict mode (lowercase,
    * split `\W+`, empties dropped, < n tokens ⇒ zero grams), so the
    * counts agree with the contamination/dedup families' gram space.
    * Grams are compared by xxhash64 image — identical counts up to
    * 2^-64 collisions, same contract as the whole sketch family — and
    * the per-row cost is one tokenize + one sort + one linear scan,
    * inside whole-stage codegen. No shuffle: a groupBy(doc, gram)
    * formulation would shuffle every gram occurrence in the corpus;
    * this keeps repetition scoring a pure projection at 100 TB. */
  case class GramRepetition(child: Expression, n: Int)
    extends UnaryExpression {

    require(n >= 1, s"gram size must be >= 1: $n")

    override def dataType: DataType = StructType(Seq(
      StructField("total", LongType, nullable = false),
      StructField("distinct", LongType, nullable = false),
      StructField("top", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("gramRep", this, classOf[GramRepetition].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.stats($c);")
    }

    def stats(u: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val tokens = strictTokens(u)
      val (t, d, p) = gramOccurrenceStats(tokens, n)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](t, d, p))
    }

    protected override def nullSafeEval(input: Any): Any =
      stats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): GramRepetition =
      copy(child = c)
  }

  /** Word (n=1) AND n-gram repetition stats from ONE tokenization:
    * `struct(w_total, w_distinct, w_top, g_total, g_distinct, g_top)`.
    * [[graft.llm.Repetition.stats]] needs both families per document;
    * two separate [[GramRepetition]] projections would tokenize every
    * document twice — at 100 TB the regex split IS the dominant cost,
    * so the paired form halves it. Field semantics are exactly the two
    * single-n results (equality-pinned in tests). */
  case class GramRepetitionPair(child: Expression, n: Int)
    extends UnaryExpression {

    require(n >= 1, s"gram size must be >= 1: $n")

    override def dataType: DataType = StructType(Seq(
      StructField("w_total", LongType, nullable = false),
      StructField("w_distinct", LongType, nullable = false),
      StructField("w_top", LongType, nullable = false),
      StructField("g_total", LongType, nullable = false),
      StructField("g_distinct", LongType, nullable = false),
      StructField("g_top", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("gramRepPair", this,
        classOf[GramRepetitionPair].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.stats($c);")
    }

    def stats(u: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val tokens = strictTokens(u)
      val (wt, wd, wp) = gramOccurrenceStats(tokens, 1)
      val (gt, gd, gp) = gramOccurrenceStats(tokens, n)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](wt, wd, wp, gt, gd, gp))
    }

    protected override def nullSafeEval(input: Any): Any =
      stats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(c: Expression): GramRepetitionPair =
      copy(child = c)
  }

  /** Jaccard similarity of two SORTED distinct long arrays via a single
    * linear merge — O(|a|+|b|), no per-pair hash sets, no intermediate
    * arrays. The candidate-verify stage of near-dup dedup evaluates this
    * once per candidate pair, so at 100 TB it is the inner loop. */
  case class JaccardSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("jaccard", this, classOf[JaccardSorted].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.merge($a, $b);")
    }

    def merge(a: ArrayData, b: ArrayData): Double = {
      val na = a.numElements(); val nb = b.numElements()
      if (na == 0 && nb == 0) return 1.0d
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter.toDouble / (na + nb - inter).toDouble
    }

    protected override def nullSafeEval(l: Any, r: Any): Any =
      merge(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): JaccardSorted = copy(left = l, right = r)
  }

  def jaccard_sorted(a: Column, b: Column): Column =
    GraftBridge.column(
      JaccardSorted(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** [[JaccardSorted]] over two PACKED shingle sets
    * ([[ShingleHashPacked]] payloads: sorted-distinct longs as 8-byte
    * little-endian entries in one byte[]). Identical merge, identical
    * result for the same hash image — the longs are read in place
    * from the binary cell, so the verify inner loop never unpacks an
    * array per comparison. */
  case class JaccardSortedPacked(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("jaccardPacked", this,
        classOf[JaccardSortedPacked].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.merge($a, $b);")
    }

    def merge(a: Array[Byte], b: Array[Byte]): Double = {
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
      val na = a.length >>> 3; val nb = b.length >>> 3
      if (na == 0 && nb == 0) return 1.0d
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = PackedLayout.littleEndian(
          org.apache.spark.unsafe.Platform.getLong(a, off + (i.toLong << 3)))
        val y = PackedLayout.littleEndian(
          org.apache.spark.unsafe.Platform.getLong(b, off + (j.toLong << 3)))
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter.toDouble / (na + nb - inter).toDouble
    }

    protected override def nullSafeEval(l: Any, r: Any): Any =
      merge(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): JaccardSortedPacked =
      copy(left = l, right = r)
  }

  def jaccard_sorted_packed(a: Column, b: Column): Column =
    GraftBridge.column(
      JaccardSortedPacked(GraftBridge.expression(a), GraftBridge.expression(b)))

  // ------------------------- Column-level API ---------------------------

  def minhash_bands(hashes: Column, numHashes: Int = 64, bands: Int = 16,
                    seed: Long = 42L): Column =
    GraftBridge.column(
      MinHashBands(GraftBridge.expression(hashes), numHashes, bands, seed))

  def simhash64(hashes: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(hashes)))

  /** Word n-gram shingles of a text column → distinct xxhash64 values.
    * One projection, no shuffle; see [[ShingleHash]] for why this is a
    * native expression rather than a transform/xxhash64 composition. */
  def shingleHashes(text: Column, n: Int = 3, strict: Boolean = false): Column =
    GraftBridge.column(ShingleHash(GraftBridge.expression(text), n, strict))

  /** [[shingleHashes]] with the fixed-width BinaryType payload — see
    * [[ShingleHashPacked]]; pair with [[jaccard_sorted_packed]]. */
  def shingleHashesPacked(text: Column, n: Int = 3,
                          strict: Boolean = false): Column =
    GraftBridge.column(
      ShingleHashPacked(GraftBridge.expression(text), n, strict))

  /** Per-document n-gram occurrence stats `struct(total, distinct, top)`
    * — see [[GramRepetition]]. */
  def gramRepetition(text: Column, n: Int): Column =
    GraftBridge.column(GramRepetition(GraftBridge.expression(text), n))

  /** Word AND n-gram stats from one tokenization — see
    * [[GramRepetitionPair]]. */
  def gramRepetitionPair(text: Column, n: Int): Column =
    GraftBridge.column(GramRepetitionPair(GraftBridge.expression(text), n))

  /** Distinct gram strings in one pass — see [[ShingleStrings]]. */
  def shingleStrings(text: Column, n: Int): Column =
    GraftBridge.column(ShingleStrings(GraftBridge.expression(text), n))

  /** Strided k-char window hashes — see [[CharWindowHashes]]. */
  def charWindowHashes(text: Column, k: Int, stride: Int): Column =
    GraftBridge.column(CharWindowHashes(GraftBridge.expression(text), k, stride))

  /** Strided w-token window (s, e, hash) structs — see
    * [[TokenWindowHashes]]. */
  def tokenWindowHashes(text: Column, w: Int, stride: Int): Column =
    GraftBridge.column(TokenWindowHashes(GraftBridge.expression(text), w, stride))

  /** Winnowing (pos, hash) fingerprints — see [[WinnowFingerprints]]. */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprints(GraftBridge.expression(text), k, w))

  /** Foldable-integer extraction for SQL-registration parameters: a SQL
    * user writing `minhash_bands(h, 128, 32)` must get 128/32, and a
    * non-constant argument must be a loud error — silently falling back
    * to defaults would return wrong-parameter sketches. */
  private[functions] def litLong(fn: String, name: String)(e: Expression): Long =
    if (e.foldable)
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long    => l.longValue
        case s: java.lang.Short   => s.longValue
        case b: java.lang.Byte    => b.longValue
        case other => throw graft.core.GraftError.Configuration(
          s"$fn: $name must be an integer literal, got $other")
      }
    else throw graft.core.GraftError.Configuration(
      s"$fn: $name must be a foldable integer literal, got ${e.sql}")

  private[functions] def litInt(fn: String, name: String)(e: Expression): Int = {
    val l = litLong(fn, name)(e)
    // a long literal that overflows Int must be loud, never truncated —
    // a silently-wrapped parameter would return wrong-parameter sketches
    if (l < Int.MinValue || l > Int.MaxValue)
      throw graft.core.GraftError.Configuration(
        s"$fn: $name out of Int range: $l")
    l.toInt
  }

  /** Register SQL names so `spark.sql` users get the sketches too.
    * Parameters are parsed from foldable literals; wrong arity or a
    * non-foldable parameter throws instead of silently using defaults. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands", {
        case Seq(h)       => MinHashBands(h)
        case Seq(h, n, b) => MinHashBands(h,
          litInt("minhash_bands", "numHashes")(n),
          litInt("minhash_bands", "bands")(b))
        case Seq(h, n, b, s) => MinHashBands(h,
          litInt("minhash_bands", "numHashes")(n),
          litInt("minhash_bands", "bands")(b),
          litLong("minhash_bands", "seed")(s))
        case exprs => throw graft.core.GraftError.Configuration(
          s"minhash_bands expects (hashes[, numHashes, bands[, seed]]), " +
            s"got ${exprs.length} arguments")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", {
        case Seq(h) => SimHash64(h)
        case exprs => throw graft.core.GraftError.Configuration(
          s"simhash64 expects (hashes), got ${exprs.length} arguments")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hashes", {
        case Seq(t)    => ShingleHash(t, 3)
        case Seq(t, n) => ShingleHash(t, litInt("shingle_hashes", "n")(n))
        case exprs => throw graft.core.GraftError.Configuration(
          s"shingle_hashes expects (text[, n]), got ${exprs.length} arguments")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_repetition", {
        case Seq(t)    => GramRepetition(t, 2)
        case Seq(t, n) => GramRepetition(t, litInt("gram_repetition", "n")(n))
        case exprs => throw graft.core.GraftError.Configuration(
          s"gram_repetition expects (text[, n]), got ${exprs.length} arguments")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaccard_sorted", {
        case Seq(a, b) => JaccardSorted(a, b)
        case exprs => throw graft.core.GraftError.Configuration(
          s"jaccard_sorted expects (a, b), got ${exprs.length} arguments")
      }, "scala_udf")
  }
}
