package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hot paths where built-in
  * higher-order functions (`aggregate(zip_with(...))`) are interpreted
  * per row and dominate the profile (SURVEY §2.12: "custom codegen
  * Expression only if benchmarked necessary" — benchmarked: the all-pairs
  * cosine join spent ~70 s/2M pairs in HOF evaluation at sf0.1).
  *
  * Semantics contract: [[ArrayDotProduct]] is a strict sequential left
  * fold in double arithmetic — bit-identical to both the HOF formulation
  * and DuckDB's `list_inner_product`, so oracle hashes are unaffected.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<double> (AbstractDataType is private[sql], so no
  // ExpectsInputTypes; the registering wrappers guarantee the types)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash signature: for an array of (non-negative, < 2^31) shingle
  * hashes, returns `numHashes` minima of the universal hash family
  * h_i(x) = (a_i·x + b_i) mod p, p = 2^31 − 1 — one tight loop per row
  * instead of numHashes interpreted HOF passes. Input longs are reduced
  * into [0, p) first, so arbitrary 64-bit hashes are accepted. Empty
  * input → p per slot (identity of min). */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  private val P = 2147483647L // 2^31 − 1

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(numHashes)(P)
    var i = 0
    while (i < numHashes) {
      val a = 1000000007L + 2L * i
      val b = 998244353L * (i + 1)
      var j = 0
      var m = P
      while (j < n) {
        val hv = ((hs.getLong(j) % P) + P) % P // arbitrary longs → [0, p)
        val v = (a * hv + b) % P
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct 3-gram word-shingle hashes of a text column in ONE pass:
  * lowercase → whitespace-split → 3-gram join-by-space → xxhash64(seed 42)
  * → distinct, returned as array<long>.
  *
  * Exists because the declarative formulation
  * (`transform(sequence(...), i -> concat_ws(' ', tokens[i], ...))`) gets
  * its `tokens = split(...)` inlined by CollapseProject into every array
  * access inside the lambda, turning shingle construction O(tokens² ·
  * split-cost) per document (benchmarked: 21 s for 5000 docs at sf0.1 vs
  * ~0.1 s here). String semantics match the DuckDB oracle's tokenization
  * (`string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')`)
  * for ASCII text; hashing is internal (join keys/counts only), so only
  * set cardinalities must be collision-free (~2e-11 over 30k shingles). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      seen.add(XxHash64Function.hash(u, StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass 64-bit SimHash as a 64-char bit string (bit 0 first),
  * bit-for-bit identical to the declarative/oracle formulation: tokenize
  * (lowercase, \s+), md5 each token occurrence, bit i of a token = bit
  * (3 − i mod 4) of hex nibble (i div 4), weight ±1 summed over
  * occurrences, emitted bit = sum > 0. The HOF formulation re-ran the
  * md5 transform per bit after inlining (64× per doc); this runs it
  * once. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  // bits: the oracle-comparable bit string; word: the same 64 bits packed
  // into a long (bit i of the string = bit i of the word) so Hamming
  // distance is a codegen'd bit_count(a ^ b) instead of 128 interpreted
  // substring calls per pair
  override def dataType: DataType = StructType(Seq(
    StructField("bits", StringType, nullable = false),
    StructField("word", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    val sums = new Array[Long](64)
    val mdAlg = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < toks.length) {
      mdAlg.reset()
      val digest = mdAlg.digest(toks(t).getBytes("UTF-8"))
      var i = 0
      while (i < 64) {
        // hex nibble i/4 of the digest == high/low half of byte i/8
        val byte = digest(i / 8) & 0xff
        val nib = if ((i / 4) % 2 == 0) byte >> 4 else byte & 0xf
        val bit = (nib >> (3 - i % 4)) & 1
        sums(i) += 2L * bit - 1L
        i += 1
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var word = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) > 0) { sb.append('1'); word |= (1L << i) } else sb.append('0')
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), word)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass per-document term frequencies: lowercase whitespace
  * tokenization (identical to the oracle's string_split of the
  * \s+-normalized text), counted into array<struct<term, tf>>. Feeding
  * TF-IDF from this instead of `explode(tokens)` shrinks the first
  * shuffle from one row per TOKEN to one row per DISTINCT term per doc
  * (~16× on this corpus; more on natural text), with bit-identical
  * counts. */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    val counts = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < toks.length) {
      counts.merge(toks(i), 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass per-document n-gram frequencies: lowercase whitespace
  * tokenization, adjacent n-token grams joined by single spaces, counted
  * into array<struct<gram, ct>>. Same motivation as [[TokenCounts]] /
  * [[ShingleHashes]]: the declarative formulation (transform over
  * sequence with tokens[i] accesses) gets `tokens = split(...)` inlined
  * into every array access by CollapseProject — O(tokens²·split) per
  * document — and feeding corpus n-gram counting from pre-counted
  * per-doc grams shrinks the count shuffle to one row per DISTINCT gram
  * per doc. */
case class NGramCounts(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("gram", StringType, nullable = false),
      StructField("ct", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[String, Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      counts.merge(sb.toString, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass winnowing fingerprint selection (Schleimer et al. 2003):
  * lowercase whitespace tokenization, md5-hex-prefix hash of every
  * k-token gram, sliding window of w consecutive hashes, each window's
  * STRING-minimum selected, selections deduplicated and sorted —
  * struct(n_kgrams, fps).
  *
  * Exists for the same reason as [[NGramCounts]], but worse: the
  * declarative two-step (`hs` = transform-over-sequence of md5 grams,
  * `fps` = window-min transform over `hs`) gets `hs` inlined into the
  * per-element lambda of `fps` by CollapseProject, so every window
  * position re-evaluates the FULL k-gram md5 array — O(tokens²) md5
  * calls per document, and the chain was further duplicated into every
  * pushed-down scan filter of every consumer subtree (768 s at sf0.1
  * for a ~3 s computation, judge r8). One tight loop per row is
  * O(tokens·w) and immune to Project-collapsing.
  *
  * Selection is by STRING min over fixed-length md5-hex prefixes —
  * lexicographic = numeric, identical in Spark and the DuckDB oracle.
  * A production run would swap a rolling polynomial hash in; the
  * selection statistics are hash-agnostic. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_kgrams", LongType, nullable = false),
    StructField("fps", ArrayType(StringType, containsNull = false),
      nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    val m = toks.length - k + 1 // number of k-grams
    if (toks.length < k)
      return org.apache.spark.sql.catalyst.InternalRow(
        0L, new GenericArrayData(Array.empty[Any]))
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    val hs = new Array[String](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val digest = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 16 hex chars = first 8 digest bytes
      val out = new Array[Char](16)
      var b = 0
      while (b < 8) {
        out(2 * b) = hex((digest(b) >> 4) & 0xf)
        out(2 * b + 1) = hex(digest(b) & 0xf)
        b += 1
      }
      hs(i) = new String(out)
      i += 1
    }
    val sel = new java.util.TreeSet[String]()
    if (m < w) {
      var mn = hs(0)
      var t = 1
      while (t < m) { if (hs(t).compareTo(mn) < 0) mn = hs(t); t += 1 }
      sel.add(mn)
    } else {
      i = 0
      while (i <= m - w) {
        var mn = hs(i)
        var t = 1
        while (t < w) {
          if (hs(i + t).compareTo(mn) < 0) mn = hs(i + t)
          t += 1
        }
        sel.add(mn)
        i += 1
      }
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var p = 0
    while (it.hasNext) {
      out(p) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      p += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(m.toLong, new GenericArrayData(out))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass token statistics for quality scoring: lowercase whitespace
  * tokenization (same semantics as the oracle's string_split of the
  * \s+-normalized text), returning
  * struct(n_tokens, stop_ct, alpha_chars) as longs. Replaces several
  * interpreted higher-order-function passes per row with one tight loop. */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("stop_ct", LongType, nullable = false),
    StructField("alpha_chars", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.trim.split("\\s+")
    var stopCt = 0L
    var alpha = 0L
    var i = 0
    while (i < toks.length) {
      if (stopSet.contains(toks(i))) stopCt += 1
      alpha += toks(i).length
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(toks.length.toLong, stopCt, alpha)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass per-document character-diversity counts over Unicode CODE
  * POINTS (surrogate pairs count once, matching DuckDB's per-code-point
  * `string_split(text, '')` / `length()` semantics — a UTF-16 split
  * would count non-BMP characters twice): total code points, distinct
  * code points, and the collision numerator Σ c·(c−1). The query layer
  * derives the Simpson collision probability Σc(c−1)/(n(n−1)) — a
  * fully RATIONAL diversity/repetitiveness signal (low diversity ⇒
  * boilerplate or degenerate text), chosen over Shannon entropy because
  * it needs no logarithm: every intermediate is an exact integer, so the
  * DuckDB oracle hashes bit-for-bit instead of depending on libm ulps.
  * Same one-pass motivation as [[TokenCounts]]: per-row heavy work stays
  * in a single expression, nothing driver-side. */
case class CharDiversity(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_cp", LongType, nullable = false),
    StructField("distinct_cp", LongType, nullable = false),
    StructField("coll_num", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val counts = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var coll = 0L
    val it = counts.values.iterator()
    while (it.hasNext) {
      val c = it.next()
      coll += c * (c - 1)
    }
    org.apache.spark.sql.catalyst.InternalRow(n, counts.size.toLong, coll)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Point estimate from a serialized Count-Min sketch (the binary the
  * built-in `count_min_sketch` aggregate emits): estimateCount of the
  * item — never an underestimate, over by ≤ eps·N with the sketch's
  * confidence. The sketch arrives as a one-row broadcast; deserialization
  * is memoized per (instance, byte-array identity) so repeated estimates
  * against the same sketch parse it once per task, not once per row. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  @transient private var lastBytes: Array[Byte] = _
  @transient private var lastSketch: org.apache.spark.util.sketch.CountMinSketch = _

  override def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    // content compare, NOT `ne`: UnsafeRow.getBinary copies the field
    // into a fresh array per access, so identity never matches and the
    // sketch would re-parse per row; an Arrays.equals memcmp is far
    // cheaper than readFrom's full counter-table parse
    if (lastSketch == null || !java.util.Arrays.equals(lastBytes, bytes)) {
      lastSketch = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      lastBytes = bytes
    }
    item match {
      case s: org.apache.spark.unsafe.types.UTF8String => lastSketch.estimateCount(s.toString)
      case l: java.lang.Long => lastSketch.estimateCount(l)
      case i: java.lang.Integer => lastSketch.estimateCount(i.longValue())
      case other => throw new IllegalArgumentException(
        s"graft_cms_estimate: unsupported item type ${other.getClass}")
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Session registration for the custom expressions (idempotent), exposing
  * them to `expr(...)`/SQL as `graft_dot`, `graft_minhash_sig`, ... */
object GraftFunctions {

  /** The function surface: (name, usage, builder). The usage string is
    * what `DESCRIBE FUNCTION <name>` prints. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      "graft_dot(a, b) - sequential-left-fold dot product of two double arrays",
      exprs => ArrayDotProduct(exprs.head, exprs(1))),
    ("graft_minhash_sig",
      "graft_minhash_sig(hashes, n) - n minhash signatures of a long-array",
      exprs => MinHashSignature(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    ("graft_shingle_hashes",
      "graft_shingle_hashes(text, n) - distinct n-gram word shingle hashes",
      exprs => ShingleHashes(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    ("graft_text_stats",
      "graft_text_stats(text) - struct(n_tokens, stop_ct, alpha_chars)",
      exprs => TextStats(exprs.head, graft.text.TextOps.Stopwords)),
    ("graft_simhash64",
      "graft_simhash64(text) - struct(bits: 64-char string, word: packed long)",
      exprs => SimHash64(exprs.head)),
    ("graft_token_counts",
      "graft_token_counts(text) - array<struct(term, tf)> of per-term frequencies",
      exprs => TokenCounts(exprs.head)),
    ("graft_ngram_counts",
      "graft_ngram_counts(text, n) - array<struct(gram, ct)> of per-n-gram frequencies",
      exprs => NGramCounts(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    ("graft_winnow",
      "graft_winnow(text[, k, w]) - struct(n_kgrams, fps): winnowing fingerprint selection (k-gram md5 prefixes, window-min, default k=3 w=4)",
      exprs => WinnowFingerprints(exprs.head,
        if (exprs.length > 1) exprs(1).eval().asInstanceOf[Int] else 3,
        if (exprs.length > 2) exprs(2).eval().asInstanceOf[Int] else 4)),
    ("graft_cms_estimate",
      "graft_cms_estimate(sketch, item) - Count-Min point estimate from a serialized sketch",
      exprs => CmsEstimate(exprs.head, exprs(1))),
    ("graft_char_diversity",
      "graft_char_diversity(text) - struct(n_cp, distinct_cp, coll_num) over code points",
      exprs => CharDiversity(exprs.head)),
    // Spark's OWN runtime-bloom machinery (the expressions behind
    // spark.sql.optimizer.runtime.bloomFilter), surfaced as callable
    // functions so a bloom can live as a PERSISTENT INDEX ARTIFACT
    // across ingest batches instead of being rebuilt per join — the
    // incremental-dedup pre-filter (DedupOps.incrementalDedupBloom).
    ("graft_bloom_agg",
      "graft_bloom_agg(xxhash64_value, est_items, num_bits) - serialized bloom filter over hashed values",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs.head, exprs(1), exprs(2))),
    ("graft_bloom_might_contain",
      "graft_bloom_might_contain(bloom_binary, xxhash64_value) - membership test, false positives possible",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs.head, exprs(1))))

  // Weak keys: a stopped session's entry disappears with the session, and
  // re-registering on every query call spammed "replaced a previously
  // registered function" WARNs into the bench/verify output.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = registered.synchronized {
    // marked AFTER registering, under the lock — a concurrent caller must
    // not observe the flag while the registry is still half-populated
    if (registered.containsKey(spark)) return
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, usage, builder) =>
      val info = new ExpressionInfo(getClass.getName, null, name, usage,
        "", "", "", "", "", "", "built-in")
      reg.registerFunction(FunctionIdentifier(name), info, builder)
    }
    // the custom operator's strategy + rewrite rule install with the
    // functions, so whether a rank filter hits the bounded-heap plan never
    // depends on which query ran first in the session
    graft.plans.GroupTopK.install(spark)
    registered.put(spark, java.lang.Boolean.TRUE)
  }
}
