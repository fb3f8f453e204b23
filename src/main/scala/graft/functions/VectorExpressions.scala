package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Columns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import scala.reflect.{ClassTag, classTag}

/** Native (whole-stage-codegen'd) dot product over two double arrays.
  *
  * The built-in way to write a dot product —
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is a higher-order
  * function, which Spark evaluates INTERPRETED (lambda dispatch +
  * boxing per element). Fine for one pass over N vectors; dominant
  * cost for pairwise work (`dedup_embed` does N²/2 dots). This is the
  * case SURVEY §7.3 reserved for a custom Catalyst Expression: same
  * semantics, but `doGenCode` emits a tight primitive loop that fuses
  * into the surrounding whole-stage codegen.
  *
  * Null semantics: null array → null result (standard binary-expression
  * null propagation); array ELEMENTS are assumed non-null (embedding
  * vectors are dense). On a vector that does contain a null element
  * the two formulations DIVERGE: `ArrayData.getDouble` reads the null
  * slot as 0.0 (the element drops out of the sum), while the
  * zip_with+aggregate formulation null-poisons the whole sum to NULL.
  * The engine only ever feeds both from `embeddings.embedding` after
  * a cast that preserves density, so the divergence is unreachable in
  * the declared queries; ExtensibilitySpec ("divergence on a null
  * element") documents it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
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

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Winnowing document fingerprints via a byte-level Rabin-Karp
  * rolling hash (the standard local fingerprinting scheme: compute
  * the hash of every k-byte window in one pass, then keep the
  * minimum of each w-hash window, deduplicating consecutive picks).
  * Guarantees: identical documents produce identical fingerprint
  * sets, and any shared substring of length ≥ k+w−1 produces at
  * least one shared fingerprint — the matching property exact-hash
  * dedup lacks and shingle-MinHash only approximates.
  *
  * One pass over the bytes per row, no per-row allocation beyond the
  * output array — evaluated via nullSafeEval (this op is per-document
  * and allocation-bound, not a per-pair hot loop, so interpreted
  * evaluation is not the bottleneck; the surrounding projection still
  * codegens around it).
  */
case class Winnow(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(k >= 2 && w >= 1, s"need k >= 2 and w >= 1, got k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow requires a string column, got $t")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  private val B = 1000003L

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    val n = bytes.length
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    // rolling hashes of every k-byte window (unsigned-overflow arith)
    var bk = 1L // B^k
    var i = 0
    while (i < k) { bk *= B; i += 1 }
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xFF); i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = h * B + (bytes(i + k - 1) & 0xFF) - (bytes(i - 1) & 0xFF) * bk
      hashes(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Winnow.select(hashes, w))
  }

  override protected def withNewChildInternal(c: Expression): Winnow =
    copy(child = c)
}

object Winnow {
  /** The winnowing selection over a document's window hashes, shared
    * by [[Winnow]] and [[WinnowMd5Summary]]: the rightmost minimum of
    * each `w`-window (the standard tie-break), consecutive picks of
    * the same position kept once. Fewer than `w` hashes form one
    * window; `hashes` must be non-empty.
    */
  def select(hashes: Array[Long], w: Int): Array[Long] = {
    val m = hashes.length
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var lastPick = -1
    var start = 0
    val windows = math.max(m - w + 1, 1)
    while (start < windows) {
      var minIdx = start
      var j = start + 1
      val end = math.min(start + w, m)
      while (j < end) {
        if (hashes(j) <= hashes(minIdx)) minIdx = j
        j += 1
      }
      if (minIdx != lastPick) { out += hashes(minIdx); lastPick = minIdx }
      start += 1
    }
    out.result()
  }
}

/** The `doc_winnow_portable` summary as ONE per-row kernel: md5-60
  * hash of every k-CHAR window, rightmost minimum per w-window of
  * hashes, consecutive-pick dedup, then `(pick count, Σ picked hashes
  * mod 2⁶¹−1)` — value-identical to the declarative
  * explode/aggregate/window pipeline it replaces (pinned row-for-row
  * by WinnowSpec against [[graft.ops.TextSim.docWinnowPortableDeclarative]],
  * and end-to-end by the DuckDB oracle, which still computes the same
  * numbers from its own CTE pipeline — two independent
  * implementations now agree on every value).
  *
  * Why a kernel: the declarative twin was the heaviest query on BOTH
  * engines in the window-11 pairing (Spark 5.49 s / DuckDB 10.60 s at
  * sf0.1) because it materializes positions × w candidate rows
  * through an exchange + hash aggregate + lag window; the statistic
  * is per-document, so none of those rows ever needed to leave their
  * row — the [[Winnow]]/[[TokenCounts]] trade-off again. Here each
  * document costs one pass: char offsets once (O(bytes)), one
  * MessageDigest reused across its windows, [[Winnow.select]] (the
  * selection [[Winnow]] runs), zero exchanges before the per-doc
  * projection.
  *
  * Hash value: the top 60 bits of the md5 (first 15 hex nibbles read
  * big-endian) — exactly `conv(substring(md5(sub), 1, 15), 16, 10)`.
  * Windows are CHARACTER-based via a byte-offset table (UTF8-safe,
  * `substring` semantics). Digest accumulates `(acc + h) % M` per
  * pick — every intermediate < 2⁶¹ + 2⁶⁰ < 2⁶³, no overflow.
  * Returns null for docs shorter than k chars (the pipeline filters
  * them; null-safety belt here).
  *
  * Cost envelope (r17 ADVICE): one MD5 digest per character position
  * plus O(len) int/long scratch, all inside a single task row with no
  * intra-doc parallelism — the price of oracle portability, which the
  * production [[Winnow]] path (rolling polynomial hash) does not pay.
  * ~100 ns/digest puts a 1 MB run-on document at ~0.1 s and a 100 MB
  * pathological one at ~10 s on one core: fine for fixture-shaped and
  * crawl-typical docs (PathologicalCorpusSpec exercises the 10k-token
  * run-on class), but a corpus with unbounded raw documents should be
  * length-capped or pre-chunked upstream before running the PORTABLE
  * twin — the production winnow is the path sized for raw crawl data.
  */
case class WinnowMd5Summary(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(k >= 2 && w >= 1, s"need k >= 2 and w >= 1, got k=$k w=$w")

  private val MersenneP = 2305843009213693951L

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow_md5 requires a string column, got $t")
    }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_fingerprints",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("fp_digest",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_md5"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val bytes = s.getBytes
    // char-start byte offsets (UTF8: continuation bytes are 10xxxxxx)
    var nChars = 0
    var bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) nChars += 1
      bi += 1
    }
    if (nChars < k) return null
    val off = new Array[Int](nChars + 1)
    var ci = 0
    bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) { off(ci) = bi; ci += 1 }
      bi += 1
    }
    off(nChars) = bytes.length
    val m = nChars - k + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(bytes, off(i), off(i + k) - off(i))
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xFF); b += 1 }
      hashes(i) = v >>> 4 // first 15 hex nibbles as a 60-bit value
      i += 1
    }
    val picks = Winnow.select(hashes, w)
    var digest = 0L
    i = 0
    while (i < picks.length) {
      digest = (digest + picks(i)) % MersenneP
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(picks.length.toLong, digest)
  }

  override protected def withNewChildInternal(c: Expression): WinnowMd5Summary =
    copy(child = c)
}

/** 64-bit hashes of every n-token shingle of a token array, in one
  * expression call per row.
  *
  * The declarative formulation —
  * `transform(sequence(1, size(toks)-n+1), i -> concat_ws(' ', slice(toks, i, n)))`
  * then `xxhash64` per shingle — pays an interpreted lambda dispatch
  * plus a fresh string allocation per shingle (higher-order functions
  * do not codegen), and that map stage is the single hottest loop of
  * the near-dup operators: at corpus scale it runs once per token of
  * the input. Here each token is hashed once and each shingle hash is
  * an n-step xxhash64 chain over those longs — no string is ever
  * built, and the whole row costs one boxed call (CodegenFallback)
  * with tight primitive loops inside, the [[Winnow]] trade-off.
  *
  * Hash identity: shingle hashes equal iff the underlying token
  * sequences are equal (modulo 64-bit collisions, negligible and
  * deterministic), so group/join keys built on them behave exactly
  * like the string shingles they replace. Null tokens hash as seed 0
  * (split() never produces them); a null array yields null.
  */
case class ShingleHash(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"need n >= 1, got n=$n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle requires array<string>, got $t")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_shingle"

  override protected def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{LongType, StringType}
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      th(i) = if (t == null) 0L else XxHash64Function.hash(t, StringType, 42L)
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i < m - n + 1) {
      var h = 42L
      var j = 0
      while (j < n) { h = XxHash64Function.hash(th(i + j), LongType, h); j += 1 }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleHash =
    copy(child = c)
}

/** Multiplicity of the most frequent word-BIGRAM in a token array —
  * the Gopher top-2-gram repetition signal's kernel
  * ([[graft.ops.TextSim.textRepetition]]).
  *
  * Replaces the declarative spelling (build `concat(w[i-1],' ',w[i])`
  * strings → `array_sort` → interpreted `aggregate()` fold counting
  * the longest equal-adjacent run), which allocated one UTF8String
  * per bigram and dispatched two lambdas per element. Here the pair
  * array is never materialized: indices 0..m-1 are sorted by the
  * (w[i], w[i+1]) componentwise comparator and the longest equal run
  * counted in one pass — O(n log n) per row, zero string allocation.
  * Componentwise equality equals concat-with-space equality because
  * tokens come from a whitespace split (no token contains a space),
  * so the count is identical to the old form's.
  *
  * Returns 0 for arrays with fewer than 2 elements (no bigrams);
  * callers filter those out. Array elements are assumed non-null
  * (whitespace split never produces null tokens) — same density
  * assumption as [[DotProduct]].
  */
case class BigramTopCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bigram_top requires array<string>, got $t")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_bigram_top"

  override protected def nullSafeEval(input: Any): Any =
    BigramTopCount.topCount(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): BigramTopCount =
    copy(child = c)
}

object BigramTopCount {
  /** Longest run of equal adjacent (w[i], w[i+1]) pairs after sorting
    * pair indices — i.e. the top bigram's multiplicity. Only EQUALITY
    * grouping matters, so any total order works; binary UTF8String
    * order is the cheapest.
    */
  def topCount(words: ArrayData): Long = {
    val m = words.numElements() - 1
    if (m <= 0) return 0L
    val w = new Array[org.apache.spark.unsafe.types.UTF8String](m + 1)
    var i = 0
    while (i <= m) { w(i) = words.getUTF8String(i); i += 1 }
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val xi = x.intValue(); val yi = y.intValue()
        val c = w(xi).binaryCompare(w(yi))
        if (c != 0) c else w(xi + 1).binaryCompare(w(yi + 1))
      }
    })
    var best = 1L
    var run = 1L
    i = 1
    while (i < m) {
      val a = idx(i - 1).intValue(); val b = idx(i).intValue()
      if (w(a).equals(w(b)) && w(a + 1).equals(w(b + 1))) {
        run += 1
        if (run > best) best = run
      } else run = 1L
      i += 1
    }
    best
  }
}

/** Per-document token-entropy statistics in ONE pass over the token
  * array — `struct<n_tokens: long, n_distinct: long, term_sum:
  * double>`, or null when the document has no non-empty tokens (so
  * callers' null filter reproduces the explode+groupBy row set).
  *
  * This kernel exists to DELETE the (doc_id, token) shuffle from
  * `text_entropy`: every statistic it needs is a function of one
  * document's own token multiset, which sits in a single array in a
  * single row, so shuffling one row per (doc, token) pair (group
  * cardinality ≈ input row count — map-side combine saves nothing)
  * paid an exchange for locality the data already had. Same pattern
  * as [[BigramTopCount]]: sort token INDICES with a binary
  * `UTF8String` comparator (only equality grouping matters), then
  * run-length the sorted order.
  *
  * `term_sum` reproduces the declarative spelling BIT-FOR-BIT:
  * per distinct token, `round(ln(tf), 8)` uses the same
  * `java.lang.Math.log` and the same HALF_UP BigDecimal rounding as
  * Spark's `round`, the pinned 8-dp value scales to exact 1e-8 LONG
  * units (|units| ≤ 1.4e9 even at tf = 10⁶), `units × tf` and their
  * sum stay exact longs (loud on overflow — impossible below ~10¹²
  * tokens/doc), and the closing units→double conversion is the same
  * correctly-rounded decimal cast the DECIMAL(18,8)-sum spelling
  * ends with. `ln` is memoized per distinct tf — a document has few
  * distinct term frequencies.
  */
case class TokenEntropyStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_token_entropy requires array<string>, got $t")
    }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("term_sum",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_entropy"

  override protected def nullSafeEval(input: Any): Any =
    TokenEntropyStats.stats(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): TokenEntropyStats =
    copy(child = c)
}

/** Shared scaffolding for the per-doc token-run kernels
  * ([[TokenEntropyStats]], [[TokenCounts]]): collect the non-empty
  * tokens (split() of leading whitespace yields empty strings — the
  * declarative paths filter `token <> ''`), sort them in place
  * (binary UTF8String order; runs are all that matter, no index
  * indirection), and visit each (token, frequency) run. One
  * authoritative copy — the file's own history shows duplicated
  * scaffolding drifting (r14 review).
  */
private[functions] object TokenRuns {
  def foreachRun(toks: ArrayData)(
      f: (org.apache.spark.unsafe.types.UTF8String, Long) => Unit): Int = {
    val total = toks.numElements()
    val w = new Array[org.apache.spark.unsafe.types.UTF8String](total)
    var n = 0
    var i = 0
    while (i < total) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) { w(n) = t; n += 1 }
      i += 1
    }
    foreachRunOf(w, n)(f)
  }

  /** The sort + run-count core over an already-filtered token array
    * (`w(0 until n)`, no nulls/empties) — shared by the array-input
    * [[TokenCounts]] and the fused-text [[TokenCountsText]] so the
    * two kernels cannot drift on ordering or counting.
    */
  def foreachRunOf(w: Array[org.apache.spark.unsafe.types.UTF8String],
                   n: Int)(
      f: (org.apache.spark.unsafe.types.UTF8String, Long) => Unit): Int = {
    if (n == 0) return 0
    java.util.Arrays.sort(w, 0, n,
      new java.util.Comparator[org.apache.spark.unsafe.types.UTF8String] {
        override def compare(
            x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String): Int = x.binaryCompare(y)
      })
    var run = 1L
    var i = 1
    while (i < n) {
      if (w(i - 1).equals(w(i))) run += 1
      else { f(w(i - 1), run); run = 1L }
      i += 1
    }
    f(w(n - 1), run)
    n
  }
}

object TokenEntropyStats {
  /** round(ln(tf), 8) as exact 1e-8 long units — the same value
    * Spark's `round(log(tf), 8).cast(DECIMAL(18,8))` pins, by the
    * same Math.log and HALF_UP rounding.
    */
  private def lnUnits(tf: Long): Long =
    java.math.BigDecimal.valueOf(java.lang.Math.log(tf.toDouble))
      .setScale(8, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  def stats(toks: ArrayData): Any = {
    val lnCache = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var distinct = 0L
    var sumUnits = 0L
    val n = TokenRuns.foreachRun(toks) { (_, tf) =>
      distinct += 1
      var u = lnCache.get(tf)
      if (u == null) { u = java.lang.Long.valueOf(lnUnits(tf)); lnCache.put(tf, u) }
      sumUnits = java.lang.Math.addExact(sumUnits,
        java.lang.Math.multiplyExact(u.longValue(), tf))
    }
    if (n == 0) return null
    // exact 1e-8-unit sum -> correctly rounded double, the same value
    // as CAST(SUM(DECIMAL(18,8) * tf) AS DOUBLE)
    val termSum = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(sumUnits), 8).doubleValue()
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, distinct, termSum)
  }
}

/** Per-document token frequency pairs in ONE pass —
  * `array<struct<token: string, tf: long>>` over the distinct
  * non-empty tokens (order: binary UTF8String ascending, a
  * by-product of the run-length grouping; callers aggregate over the
  * pairs, so the order is incidental), or null when the document has
  * no non-empty tokens.
  *
  * The candidate-reduction sibling of [[TokenEntropyStats]]: a
  * (doc, token) groupBy shuffles one row per OCCURRENCE and its
  * group count ≈ row count (map-side combine saves little), while
  * the per-doc counts are computable inside the row — downstream
  * explode volume drops from n_tokens to distinct-tokens-per-doc and
  * the first exchange disappears entirely. tf values are the exact
  * integer counts the groupBy produced, so downstream arithmetic is
  * bit-identical.
  */
case class TokenCounts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_token_counts requires array<string>, got $t")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_counts"

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.counts(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): TokenCounts =
    copy(child = c)
}

object TokenCounts {
  def counts(toks: ArrayData): Any = {
    val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()
    val n = TokenRuns.foreachRun(toks) { (tok, tf) =>
      out.add(org.apache.spark.sql.catalyst.InternalRow(tok.clone(), tf))
    }
    if (n == 0) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[org.apache.spark.sql.catalyst.InternalRow](0))
        .asInstanceOf[Array[Any]])
  }
}

/** FUSED tokenize + count over the raw text column — value-identical
  * to `TokenCounts(split(lower(text), "\\s+"))` (pinned by
  * TokenCountsTextSpec on fixture + pathological docs), one pass
  * instead of three expressions. The split spelling decodes the
  * UTF8String to a java.lang.String, runs the regex engine, and
  * re-encodes every token back to UTF8String; here the document is
  * lowercased ONCE at the UTF8String level and tokens are byte
  * slices between ASCII whitespace runs — Java's regex `\s` without
  * UNICODE_CHARACTER_CLASS is exactly [ \t\n\x0B\f\r], all < 0x80,
  * so a byte scan can never split inside a multi-byte character and
  * the separator set matches the regex bit for bit (a leading
  * whitespace run produces the same dropped empty token, non-ASCII
  * whitespace stays inside tokens in both spellings). Counting rides
  * the shared [[TokenRuns]] sort + run core, so ordering/count
  * semantics cannot drift from the array-input kernel.
  */
case class TokenCountsText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_token_counts_text requires a string column, got $t")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_counts_text"

  override protected def nullSafeEval(input: Any): Any = {
    val lowered = input
      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toLowerCase
    // `b` is a stable heap array the emitted token slices may alias
    // without the per-token clone() the array-input kernel needs: a
    // row/vector-backed input has a non-zero base offset, so getBytes
    // COPIES; a heap-exact input only reaches here via a literal,
    // whose buffer is never reused. (TokenCounts clones because its
    // tokens point into the reusable ArrayData row buffer.)
    val b = lowered.getBytes
    // upper bound on token count: ceil((len+1)/2) tokens need len
    // alternating separator bytes; one slot per run start is enough
    val w = new Array[org.apache.spark.unsafe.types.UTF8String](
      b.length / 2 + 1)
    var n = 0
    var i = 0
    val len = b.length
    def isWs(c: Byte): Boolean =
      c == 0x20 || c == 0x09 || c == 0x0A || c == 0x0B || c == 0x0C ||
        c == 0x0D
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      val start = i
      while (i < len && !isWs(b(i))) i += 1
      if (i > start) {
        w(n) = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, start, i - start)
        n += 1
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()
    val kept = TokenRuns.foreachRunOf(w, n) { (tok, tf) =>
      out.add(org.apache.spark.sql.catalyst.InternalRow(tok, tf))
    }
    if (kept == 0) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[org.apache.spark.sql.catalyst.InternalRow](0))
        .asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): TokenCountsText =
    copy(child = c)
}

/** n-token shingles of `child` (an `array<string>`) as the joined
  * STRINGS themselves (`"tok tok tok"`), for paths that must keep the
  * shingle text — the portable-oracle MinHash
  * ([[graft.ops.NearDup.dedupMinhashPortable]]) md5-hashes the string
  * so DuckDB can recompute the identical value, which a 64-bit
  * [[ShingleHash]] id cannot give it.
  *
  * Exists for the same reason as [[ShingleHash]]: the declarative
  * spelling (`transform(sequence(...), i -> concat_ws(' ',
  * slice(toks, i+1, n)))`) evaluates the lambda INTERPRETED per
  * window, while this is one tight loop over the cached per-token
  * `UTF8String`s — measured 0.82 s → 0.46 s warm for the shingle
  * stage over the sf0.1 documents corpus (260k windows), with an
  * identical length-checksum. Null tokens are skipped inside a
  * window exactly like `concat_ws` (UTF8String.concatWs semantics),
  * so the output is bit-identical to the lambda spelling.
  */
case class ShingleStrings(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"need n >= 1, got n=$n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_str requires array<string>, got $t")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_str"

  private val sep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val ts = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ts(i) = toks.getUTF8String(i); i += 1 }
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i < m - n + 1) {
      val win = new Array[UTF8String](n)
      var j = 0
      while (j < n) { win(j) = ts(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, win: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleStrings =
    copy(child = c)
}

/** 128-bit shingle fingerprints: for each n-token window of `child`
  * (an `array<string>`), a `struct<h1: bigint, h2: bigint>` of two
  * xxhash64 chains over the per-token hashes, seeded independently
  * (42 / the 64-bit golden ratio). The h1 chain is bit-identical to
  * [[ShingleHash]].
  *
  * This is the "swap in when the map stage dominates" codegen path
  * the [[graft.ops.NearDup]] scaladocs promise: one pass hashes each
  * token once and runs both chains over the cached token hashes — no
  * per-window string concatenation, nothing wider than 16 bytes per
  * window leaves the operator. Two grams collide only if both 64-bit
  * chains collide (~2⁻¹²⁸ for independent inputs; correlated only
  * through a 64-bit per-token hash collision that must ALSO sit in
  * otherwise-identical windows).
  */
case class ShingleHash2(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"need n >= 1, got n=$n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle2 requires array<string>, got $t")
    }
  private val structType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("h1",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("h2",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def dataType: DataType = ArrayType(structType,
    containsNull = false)
  override def prettyName: String = "graft_shingle2"

  override protected def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{LongType, StringType}
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      th(i) = if (t == null) 0L else XxHash64Function.hash(t, StringType, 42L)
      i += 1
    }
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i < m - n + 1) {
      var h1 = 42L
      var h2 = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) {
        h1 = XxHash64Function.hash(th(i + j), LongType, h1)
        h2 = XxHash64Function.hash(th(i + j), LongType, h2)
        j += 1
      }
      out(i) = org.apache.spark.sql.catalyst.InternalRow(h1, h2)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleHash2 =
    copy(child = c)
}

/** Order-preserving bit image of a double: a LONG whose signed order
  * equals the double's total order (negatives reversed and placed
  * below positives, -0.0 < +0.0, NaN above everything — i.e.
  * `java.lang.Double.compare` order, which is also Spark's sort and
  * struct-comparison order). The standard transform
  * `bits ^ ((bits >> 63) & Long.MAX_VALUE)` on the raw IEEE-754 bits
  * (sign-extend selects negatives; flipping their lower 63 bits
  * reverses them below the untouched positives).
  *
  * Purpose: argmax/argmin aggregates. `min/max(struct(double, id))`
  * can only plan as a SortAggregate (struct buffers are not
  * hash-aggregable), which sorts the fact input in both partials;
  * mapping the double through this expression lets the (value, id)
  * pair pack into one fixed-width DECIMAL and the argmax run as an
  * ordinary map-side-combined HashAggregate
  * ([[graft.ops.Aggregates.aggMinmaxBy]]). Pure codegen — one
  * stay-in-register transform, no allocation.
  */
case class DoubleOrderBits(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_dbits requires double, got $t")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dbits"

  def orderBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & java.lang.Long.MAX_VALUE)
  }

  override protected def nullSafeEval(input: Any): Any =
    orderBits(input.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(java.lang.Double.doubleToLongBits($c) ^ " +
        s"((java.lang.Double.doubleToLongBits($c) >> 63) & " +
        "java.lang.Long.MAX_VALUE))")

  override protected def withNewChildInternal(c: Expression): DoubleOrderBits =
    copy(child = c)
}

/** Argmin-over-centroids assignment — the codegen'd core of every
  * coarse quantizer (k-means assignment, IVF cell routing, SemDeDup
  * blocking, the chained Lloyd train). Semantics are EXACTLY the
  * `least(struct(d2, cid)...)` formulation it replaces
  * ([[graft.ops.Cluster]] r6–r12): for each centroid `c`,
  * `d2 = |c|² − 2·(v·c)` (the |v|²-free argmin form, norms and dots
  * summed left-to-right), ties and NaNs resolved the way Spark's
  * struct ordering resolves them (lower cid on ties; NaN greater than
  * every real, NaN equal to NaN) — CentroidParitySpec pins
  * bit-equality against the old expression tree.
  *
  * Why it exists: `least` over k struct expressions embeds k separate
  * dot-product loops in the generated code, so plan size grows O(k)
  * and Janino falls off whole-stage codegen in the low hundreds —
  * measured 4× SLOWER at k=64 than k=32 on the same data. Real
  * quantizers need k in the thousands (SemDeDup: 110k cells). This
  * expression is ONE loop ([[CentroidArgminCol.nearest]]) over a
  * packed row-major `double[]` matrix, so generated-code size is O(1)
  * in k and the matrix lives flat in memory.
  *
  * The matrix and the per-centroid squared norms are expressions:
  * k = `norms.numElements()`, d = `mat.numElements() / k`. Two
  * spellings:
  *   - `cached = true`: both are constant within a partition. Either
  *     a per-call [[CallValue]] ([[VectorFunctions.centroidArgmin]]:
  *     one leaf regardless of k, where `array(array(lit…))` would be
  *     k·d Literal nodes and die in analysis long before 110k cells),
  *     or the chained trainer's 1-row cartesian side
  *     ([[graft.ops.Cluster]] r20: round r+1 reads round r's means in
  *     the same plan, so no per-round collect fires). Generated and
  *     interpreted evaluation alike keep a per-task flat image
  *     ([[CentroidArgminCol.MatCache]]), so nothing is copied per row.
  *   - `cached = false`: arbitrary columns, the SQL function
  *     `graft_argmin_centroid_col`. A recycled row buffer (same
  *     base/offset/length, new bytes) could alias a per-row-varying
  *     matrix past a storage-keyed cache, so this spelling copies the
  *     matrix per row — correct for any input, and on no hot path.
  *
  * Null semantics: null vector → null result; vectors shorter than d
  * dot only their first components (DotProduct's min-length rule). A
  * matrix whose length is not k·d (a ragged seed) yields truncated
  * offsets: [[VectorFunctions.centroidArgmin]] refuses one, and the
  * chained trainer detects that shape on the driver after its single
  * job and fails before anything is returned. Returns
  * `struct(d2: double, cid: int)`.
  */
case class CentroidArgminCol(vec: Expression, mat: Expression,
                             norms: Expression, cached: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = mat
  override def third: Expression = norms

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, mat.dataType, norms.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
            ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (v, m, n) => TypeCheckResult.TypeCheckFailure(
        s"graft_argmin_centroid_col requires three array<double> " +
          s"arguments, got ($v, $m, $n)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("d2", DoubleType),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType)))
  override def prettyName: String = "graft_argmin_centroid_col"

  // the interpreted twin of the generated code's per-task caches
  @transient private lazy val matCache = new CentroidArgminCol.MatCache
  @transient private lazy val normCache = new CentroidArgminCol.MatCache

  override protected def nullSafeEval(vv: Any, mm: Any, nn: Any): Any = {
    val m = mm.asInstanceOf[ArrayData]
    val n = nn.asInstanceOf[ArrayData]
    CentroidArgminCol.nearest(vv.asInstanceOf[ArrayData],
      if (cached) matCache.get(m) else m.toDoubleArray(),
      if (cached) normCache.get(n) else n.toDoubleArray())
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // cached = true: per-task flat-array reuse (the matrix is
    // partition-constant). cached = false: copy per row — the only
    // always-correct choice for arbitrary columns.
    val (matImg, nrmImg): (String => String, String => String) =
      if (cached) {
        val cacheCls = classOf[CentroidArgminCol.MatCache].getName
        val matCache = ctx.addMutableState(cacheCls, "argminMatCache",
          v => s"$v = new $cacheCls();")
        val normCache = ctx.addMutableState(cacheCls, "argminNormCache",
          v => s"$v = new $cacheCls();")
        (m => s"$matCache.get($m)", nm => s"$normCache.get($nm)")
      } else {
        (m => s"$m.toDoubleArray()", nm => s"$nm.toDoubleArray()")
      }
    nullSafeCodeGen(ctx, ev, (v, m, nm) =>
      s"${ev.value} = ${CentroidArgminCol.Nearest}($v, ${matImg(m)}, " +
        s"${nrmImg(nm)});")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CentroidArgminCol =
    copy(vec = f, mat = s, norms = t)
}

object CentroidArgminCol {
  /** The one argmin loop, interpreted and generated alike (generated
    * code calls it through [[Nearest]]): `struct(d2, cid)` of the
    * nearest of the k =
    * `norms.length` centroids packed row-major in `cents`
    * (d = `cents.length / k`), `d2 = |c|² − 2·(v·c)` with norms and
    * dots summed left-to-right. Ordered as `least(struct…)` orders:
    * a strictly smaller d2 wins, so ties keep the lower cid, and a NaN
    * incumbent loses to any real challenger (struct ordering puts NaN
    * above every real). Vectors shorter than d dot only their first
    * components; k = 0 gives `(0.0, 0)`.
    */
  def nearest(v: ArrayData, cents: Array[Double],
              norms: Array[Double]): InternalRow = {
    val k = norms.length
    val d = if (k == 0) 0 else cents.length / k
    val n = math.min(v.numElements(), d)
    var bestD2 = 0.0
    var bestC = 0
    var c = 0
    while (c < k) {
      var dot = 0.0
      val off = c * d
      var i = 0
      while (i < n) { dot += v.getDouble(i) * cents(off + i); i += 1 }
      val d2 = norms(c) - 2.0 * dot
      if (c == 0 || d2 < bestD2 ||
          (java.lang.Double.isNaN(bestD2) && !java.lang.Double.isNaN(d2))) {
        bestD2 = d2; bestC = c
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestD2, bestC))
  }

  /** [[nearest]] as generated code spells the static call. */
  private[functions] val Nearest: String =
    classOf[CentroidArgminCol].getName + ".nearest"

  /** Per-task flat-array cache for a column that is constant within a
    * partition: keyed on the backing storage (base object + offset +
    * length for UnsafeArrayData, reference identity + length
    * otherwise) PLUS a first/last-word content fingerprint, so the
    * steady state is a handful of comparisons per row and zero
    * allocation. The fingerprint is insurance against a recycled
    * buffer presenting the old key over new bytes (UnsafeRow buffer
    * reuse); it is cheap, not airtight — which is why only the
    * partition-constant spelling (`cached = true`) uses this cache at
    * all (the public function copies per row, see
    * [[CentroidArgminCol]]). One instance per generated-code object or
    * interpreted expression — both are per-task, so no cross-thread
    * sharing.
    */
  final class MatCache {
    private var base: AnyRef = null
    private var off: Long = -1L
    private var n: Int = -1
    private var fpFirst: Long = 0L
    private var fpLast: Long = 0L
    private var flat: Array[Double] = null
    private def fingerprintOk(a: ArrayData): Boolean =
      n == 0 ||
        (java.lang.Double.doubleToRawLongBits(a.getDouble(0)) == fpFirst &&
          java.lang.Double.doubleToRawLongBits(a.getDouble(n - 1)) == fpLast)
    private def fill(a: ArrayData): Array[Double] = {
      n = a.numElements(); flat = a.toDoubleArray()
      if (n > 0) {
        fpFirst = java.lang.Double.doubleToRawLongBits(flat(0))
        fpLast = java.lang.Double.doubleToRawLongBits(flat(n - 1))
      }
      flat
    }
    def get(a: ArrayData): Array[Double] = a match {
      case u: UnsafeArrayData =>
        if ((u.getBaseObject eq base) && u.getBaseOffset == off &&
            u.numElements() == n && fingerprintOk(u)) flat
        else {
          base = u.getBaseObject; off = u.getBaseOffset
          fill(u)
        }
      case other =>
        if ((other.asInstanceOf[AnyRef] eq base) &&
            other.numElements() == n && fingerprintOk(other)) flat
        else {
          base = other.asInstanceOf[AnyRef]; off = -1L
          fill(other)
        }
    }
  }
}

/** The SQL-callable function table + Column-level entry points for the
  * native vector expressions.
  */
object VectorFunctions {

  /** Guard for function-builder parameters that must be literal at
    * plan time (they parameterize the generated operator): a
    * non-foldable argument would otherwise surface as an opaque
    * NullPointerException/ClassCastException from eval() during
    * resolution.
    */
  private def literalInt(fn: String, arg: String,
                        e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal, got " +
          s"non-foldable expression ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal, got $other")
    }
  }

  /** One table entry: `name` accepts any of `arities` arguments. */
  private def fn[T <: Expression: ClassTag](name: String, arities: Int*)(
      build: Seq[Expression] => T): SparkSessionExtensions#FunctionDescription =
    fnOf(name, classTag[T].runtimeClass.getCanonicalName, arities: _*)(build)

  /** [[fn]] naming the defining class explicitly — for builders that
    * expand to builtin expressions ([[Signatures]]). */
  private def fnOf(name: String, className: String, arities: Int*)(
      build: Seq[Expression] => Expression)
      : SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(className, name),
      { (exprs: Seq[Expression]) =>
        require(arities.contains(exprs.length),
          s"$name expects ${arities.mkString(" or ")} arguments, got " +
            s"${exprs.length}")
        build(exprs)
      })

  /** Every SQL-callable graft function, each name once:
    * [[registerAll]] registers the table into one session,
    * [[graft.GraftExtensions]] injects it into every session of a
    * cluster. Integer parameters parameterize the generated operator
    * and must be literals ([[literalInt]]).
    */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("graft_dot", 2)(a => DotProduct(a(0), a(1))),
    fn("graft_winnow", 3)(a => Winnow(a(0),
      literalInt("graft_winnow", "k", a(1)),
      literalInt("graft_winnow", "w", a(2)))),
    fn("graft_winnow_md5", 3)(a => WinnowMd5Summary(a(0),
      literalInt("graft_winnow_md5", "k", a(1)),
      literalInt("graft_winnow_md5", "w", a(2)))),
    fn("graft_shingle", 2)(a =>
      ShingleHash(a(0), literalInt("graft_shingle", "n", a(1)))),
    fn("graft_shingle_str", 2)(a =>
      ShingleStrings(a(0), literalInt("graft_shingle_str", "n", a(1)))),
    fn("graft_shingle2", 2)(a =>
      ShingleHash2(a(0), literalInt("graft_shingle2", "n", a(1)))),
    fn("graft_bigram_top", 1)(a => BigramTopCount(a(0))),
    fn("graft_token_entropy", 1)(a => TokenEntropyStats(a(0))),
    fn("graft_token_counts", 1)(a => TokenCounts(a(0))),
    fn("graft_token_counts_text", 1)(a => TokenCountsText(a(0))),
    // arbitrary columns: per-row matrix copy, never the per-task cache
    fn("graft_argmin_centroid_col", 3)(a =>
      CentroidArgminCol(a(0), a(1), a(2), cached = false)),
    fn("graft_centroid_sums", 5)(a =>
      CentroidSumAgg(a(0), a(1), a(2), a(3), a(4))),
    fn("graft_dbits", 1)(a => DoubleOrderBits(a(0))),
    fnOf("graft_minhash", signaturesClass, 1, 2)(a => Signatures.minhash(
      a(0), a.lift(1).fold(64)(literalInt("graft_minhash", "numHashes", _)))),
    fnOf("graft_simhash", signaturesClass, 1)(a => Signatures.simhash(a(0))))

  private def signaturesClass: String =
    Signatures.getClass.getName.stripSuffix("$")

  /** Register [[functions]] into `spark`'s registry (session-scoped,
    * no catalog writes; idempotent) — the local-session counterpart of
    * the `spark.sql.extensions` deployment through
    * [[graft.GraftExtensions]].
    */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }

  /** Shingle hashes as a Column (n-token windows over a token array). */
  def shingle(toks: Column, n: Int = 3): Column =
    column(ShingleHash(expression(toks), n))

  /** Shingle STRINGS as a Column (n-token windows joined with " "). */
  def shingleStrings(toks: Column, n: Int = 3): Column =
    column(ShingleStrings(expression(toks), n))

  /** Top-bigram multiplicity as a Column ([[BigramTopCount]]). */
  def bigramTop(toks: Column): Column =
    column(BigramTopCount(expression(toks)))

  /** Per-doc entropy statistics as a Column
    * (`struct<n_tokens, n_distinct, term_sum>`, null when tokenless).
    */
  def tokenEntropy(toks: Column): Column =
    column(TokenEntropyStats(expression(toks)))

  /** Per-doc token frequencies as a Column
    * (`array<struct<token, tf>>`, null when tokenless).
    */
  def tokenCounts(toks: Column): Column =
    column(TokenCounts(expression(toks)))

  /** Fused per-doc token frequencies straight off the text column
    * (`array<struct<token, tf>>`, null when tokenless) — see
    * [[TokenCountsText]] for the equivalence contract with
    * `tokenCounts(split(lower(text), "\\s+"))`.
    */
  def tokenCountsText(text: Column): Column =
    column(TokenCountsText(expression(text)))

  /** 128-bit shingle fingerprints as a Column
    * (`array<struct<h1,h2>>`, one per n-token window).
    */
  def shingle2(toks: Column, n: Int): Column =
    column(ShingleHash2(expression(toks), n))

  /** Argmin centroid assignment as a Column: `struct(d2, cid)` of the
    * nearest centroid per vector. The packed matrix and its norms ride
    * in the plan as two [[CallValue]]s: plan size is independent of k,
    * and the generated source of the values.
    */
  def centroidArgmin(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "centroidArgmin: need at least 1 centroid")
    val d = centroids.head.length
    require(centroids.forall(_.length == d),
      "centroidArgmin: ragged centroid matrix")
    // norms summed left-to-right per row — the exact fold the
    // least(struct…) formulation used (`c.map(x => x*x).sum`)
    val norms = centroids.map(_.foldLeft(0.0)((acc, x) => acc + x * x))
    column(CentroidArgminCol(expression(vec),
      expression(callValue("centroids", centroids.flatten)),
      expression(callValue("centroid_norms", norms)), cached = true))
  }

  /** Column-matrix argmin assignment: `struct(d2, cid)` of the nearest
    * centroid per vector, with the packed row-major matrix and the
    * per-centroid squared norms supplied as COLUMNS (typically from a
    * 1-row join side) instead of plan-time literals.
    *
    * `cached = true` is for callers (the chained Lloyd trainer) whose
    * matrix column is constant within every partition; it enables the
    * per-task flat-array reuse. Leave it false for arbitrary inputs.
    */
  def centroidArgminCol(vec: Column, mat: Column,
                        norms: Column, cached: Boolean = false): Column =
    column(CentroidArgminCol(expression(vec), expression(mat),
      expression(norms), cached))

  /** One Lloyd round's per-slot decimal sums + counts as a single
    * global aggregate Column — `struct(old, kk, d, sums, cnts)`.
    */
  def centroidSums(cid: Column, v: Column,
                   mat: Column, kk: Column, d: Column): Column =
    column(CentroidSumAgg(expression(cid), expression(v), expression(mat),
      expression(kk), expression(d)))

  /** Order-preserving long image of a double as a Column. */
  def dbits(d: Column): Column =
    column(DoubleOrderBits(expression(d)))

  /** Portable winnow summary as a Column — see [[WinnowMd5Summary]]. */
  def winnowMd5(c: Column, k: Int, w: Int): Column =
    column(WinnowMd5Summary(expression(c), k, w))

  /** Winnowing fingerprints as a Column (k-byte shingles, w-window). */
  def winnow(c: Column, k: Int = 12, w: Int = 4): Column =
    column(Winnow(expression(c), k, w))

  /** Codegen'd dot product as a Column. */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Codegen'd cosine similarity from one dot + two norms. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Codegen'd Bloom membership probe over THIS broadcast filter as a
    * Column ([[BloomProbe]]).
    */
  def mightContain(h: Column,
      bf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    column(BloomProbe(expression(h), bf))

  /** `v` (any value `lit` takes) as a value fixed for the call, kept
    * out of the generated source ([[CallValue]]). A `double[]` is
    * packed flat, where `lit`'s form boxes every element.
    */
  def callValue(label: String, v: Any): Column = column(v match {
    case a: Array[Double] => CallValue(label,
      UnsafeArrayData.fromPrimitiveArray(a), ArrayType(DoubleType, false))
    case _ =>
      val l = org.apache.spark.sql.catalyst.expressions.Literal(v)
      CallValue(label, l.value, l.dataType)
  })
}
