package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.kernels.Kernels

/** Static entry points for generated code: Janino-compiled expressions
  * call these through the Scala object's static forwarders, so the DP
  * kernels run on primitive arrays with zero boxing on either side. */
object NativeOps {
  def dtw(a: ArrayData, b: ArrayData, radius: Int): Double =
    Kernels.dtwFlatEA(a.toDoubleArray(), b.toDoubleArray(), radius, Double.PositiveInfinity)

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(utf8(s)) as a non-negative long — the value of
    * `conv(substring(md5(s), 1, 15), 16, 10)` without materializing the
    * 32-char hex string or re-parsing it base-16: the first 15 hex chars
    * are the first 8 digest bytes big-endian shifted right 4 bits. */
  def md5Hash60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    md5Word60(md5Local.get(), bytes, 0, bytes.length)
  }

  /** Primitive dot product — the UDF version converts both arrays into
    * boxed Seq[Double] per pair (an allocation storm at 10⁷ pairs per
    * cosine self-join: ~130 boxed doubles per call); this reads the
    * Tungsten buffers directly. Element order matches
    * aggregate(zip_with(...)) left-fold, so results are bit-identical to
    * the former HOF/UDF forms (oracle hashes unchanged). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val aa = a.toDoubleArray()
    val ba = b.toDoubleArray()
    requireSameLength(aa.length, ba.length, "dot")
    var s = 0.0
    var i = 0
    val n = aa.length
    while (i < n) { s += aa(i) * ba(i); i += 1 }
    s
  }

  /** Ragged guard shared by the pointwise vector kernels: like
    * Kernels.euclidean these are only defined for equal-length series
    * (reference VARIABLE_LENGTH_METRICS excludes euclidean — a silent
    * min-length truncation would return plausible-but-wrong distances
    * through GraftML's euclidean kNN/kMeans on ragged input). */
  private def requireSameLength(a: Int, b: Int, op: String): Unit =
    if (a != b)
      throw new IllegalArgumentException(
        s"$op requires equal-size series (got $a vs $b)")

  /** Cosine similarity in one pass over the two buffers; same fold order
    * as vecDot/vecNorm (dot / (sqrt(na)·sqrt(nb))). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val aa = a.toDoubleArray()
    val ba = b.toDoubleArray()
    requireSameLength(aa.length, ba.length, "cosine")
    var s = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = aa.length
    while (i < n) { s += aa(i) * ba(i); i += 1 }
    i = 0
    while (i < aa.length) { na += aa(i) * aa(i); i += 1 }
    i = 0
    while (i < ba.length) { nb += ba(i) * ba(i); i += 1 }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Euclidean distance, same ascending fold as Kernels.euclidean. */
  def euclidean(a: ArrayData, b: ArrayData): Double = {
    val aa = a.toDoubleArray()
    val ba = b.toDoubleArray()
    requireSameLength(aa.length, ba.length, "euclidean")
    var s = 0.0
    var i = 0
    val n = aa.length
    while (i < n) { val d = aa(i) - ba(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** One-pass word-k-shingle 60-bit hashes straight from the text
    * bytes: split on single spaces (empties preserved, matching
    * Spark/DuckDB split semantics), md5 each k-word window's joined
    * bytes (identical to md5 of the array_join'd string — UTF-8 never
    * embeds 0x20 in a multibyte sequence), optional per-doc distinct.
    * No intermediate shingle strings, no interpreted HOF chain — the
    * construction stage of the inverted-index pipelines in one
    * primitive loop. Short texts (< k words) yield the single
    * truncated window, mirroring greatest(size-k, 0). */
  def shingleHash60(text: org.apache.spark.unsafe.types.UTF8String, k: Int,
                    lowercase: Boolean, distinct: Boolean): ArrayData = {
    val bytes = (if (lowercase) text.toLowerCase else text).getBytes
    val starts = wordStarts(bytes)
    val nWords = starts.length - 1
    val nSh = math.max(nWords - k, 0) + 1
    val d = md5Local.get()
    val out = new Array[Long](nSh)
    var s = 0
    while (s < nSh) {
      // window [s, min(s+k, nWords)) joined with ' ' is EXACTLY the
      // byte range from starts(s) to the end of word min(s+k,nWords)-1
      val endWord = math.min(s + k, nWords)
      // - 1 strips the trailing separator/sentinel
      out(s) = md5Word60(d, bytes, starts(s), starts(endWord) - 1)
      s += 1
    }
    if (!distinct) ArrayData.toArrayData(out)
    else {
      java.util.Arrays.sort(out)
      var n = 0
      var j = 0
      while (j < out.length) {
        if (j == 0 || out(j) != out(j - 1)) { out(n) = out(j); n += 1 }
        j += 1
      }
      ArrayData.toArrayData(java.util.Arrays.copyOf(out, n))
    }
  }

  /** One-pass word-k-shingle STRING array — the native form of the
    * interpreted `transform(sequence(0, greatest(size(w)−k, 0)),
    * i => array_join(slice(w, i+1, k), " "))` chain over
    * `split(lower(text), " ")`. Each shingle is the contiguous
    * lowercased byte span from the start of word i to the end of word
    * min(i+k, nWords)−1 (single-space separators make the join equal
    * the span; UTF-8 never embeds 0x20 in a multibyte sequence), so
    * the produced strings are IDENTICAL to the HOF chain's — every
    * downstream md5 and string-equality join is unchanged.
    * `distinct` mirrors array_distinct: first-occurrence order. */
  def shingleSpans(text: org.apache.spark.unsafe.types.UTF8String, k: Int,
                   distinct: Boolean): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val starts = wordStarts(bytes)
    val nWords = starts.length - 1
    val nSh = math.max(nWords - k, 0) + 1
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](nSh)
    var s = 0
    while (s < nSh) {
      val endWord = math.min(s + k, nWords)
      val from = starts(s)
      val until = starts(endWord) - 1 // strip trailing separator/sentinel
      out(s) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        bytes, from, until - from)
      s += 1
    }
    if (!distinct) ArrayData.toArrayData(out)
    else {
      // array_distinct keeps the FIRST occurrence of each value in order
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      var j = 0
      while (j < out.length) { seen.add(out(j)); j += 1 }
      val ded = new Array[org.apache.spark.unsafe.types.UTF8String](seen.size)
      seen.toArray(ded)
      ArrayData.toArrayData(ded)
    }
  }

  /** One-pass MinHash signature over an array of shingle strings: for
    * each shingle, the 60-bit md5 base hash mod p, then the running
    * minimum of (a_j·x + b_j) mod p for every permutation j — the fused
    * form of 64 staged `array_min(transform(..))` HOF minima
    * (interpreted HOF lambdas cost ~64 closure calls per shingle; this
    * is one tight primitive loop). Base hash is non-negative, a_j,
    * x < p = 2³¹−1, so products fit a Long and % equals pmod. */
  def minhashSig(sh: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val x = md5Hash60(sh.getUTF8String(i)) % p
      var j = 0
      while (j < k) {
        val h = (as(j) * x + bs(j)) % p
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** Word start offsets of `bytes` under Spark's `split(text, " ")`
    * semantics (single-space separators, leading/interior/trailing
    * empties preserved): slot w holds the start of word w; the sentinel
    * slot holds bytes.length + 1, so word w's bytes are
    * [starts(w), starts(w+1) − 1). */
  private def wordStarts(bytes: Array[Byte]): Array[Int] = {
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = bytes.length + 1
    starts
  }

  /** The 60-bit md5 hash of `bytes[from, until)`: the first 8 digest
    * bytes big-endian, shifted right 4 bits — the value DuckDB replays
    * as `substring(md5(x), 1, 15)` read base 16. The one definition of
    * the text-dedup hash. */
  private def md5Word60(d: java.security.MessageDigest,
                        bytes: Array[Byte], from: Int, until: Int): Long = {
    d.reset()
    d.update(bytes, from, until - from)
    val h = d.digest()
    (((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) | ((h(2) & 0xffL) << 40) |
      ((h(3) & 0xffL) << 32) | ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)) >>> 4
  }

  /** Fused hashed bag-of-words d-bucket histogram: the one-pass form of
    * the per-word bucket ids + their per-bucket count histogram
    * (`transform(sequence(0, d−1), b => size(filter(bks, x === b)))` —
    * an O(d·words) interpreted HOF chain per row). Counts are exact
    * integers in doubles, so the result is bit-identical. */
  def hashedBow(text: org.apache.spark.unsafe.types.UTF8String, d: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val starts = wordStarts(bytes)
    val nWords = starts.length - 1
    val md = md5Local.get()
    val hist = new Array[Double](d)
    var w = 0
    while (w < nWords) {
      hist((md5Word60(md, bytes, starts(w), starts(w + 1) - 1) % d).toInt) += 1.0
      w += 1
    }
    ArrayData.toArrayData(hist)
  }
}

/** Native Catalyst expressions for the hot pair-metric path.
  *
  * A Scala UDF converts each ArrayData argument into a boxed
  * scala.collection.Seq per call; at millions of pairs per task that
  * conversion dominates the O(sz·r) DTW itself. These expressions read
  * the primitive `ArrayData.toDoubleArray` buffers directly
  * (SURVEY §4.2) and implement `doGenCode` as a static call into
  * [[NativeOps]], so they stay INSIDE whole-stage codegen spans instead
  * of forcing the CodegenFallback interpreted boundary.
  */
case class DtwExpression(left: Expression, right: Expression, radius: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ts_dtw_native"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeOps.dtw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], radius)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeOps.dtw($a, $b, $radius);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product of two ARRAY<DOUBLE> columns on the primitive buffers —
  * the hot inner expression of every embedding pair join. */
case class DotExpression(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot_native"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeOps.dot($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity of two ARRAY<DOUBLE> columns (unnormalized inputs). */
case class CosineExpression(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine_native"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeOps.cosine($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean distance of two ARRAY<DOUBLE> columns. */
case class EuclideanExpression(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_euclidean_native"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeOps.euclidean(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeOps.euclidean($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Engine-portable 60-bit md5 hash of a string column (see
  * [[NativeOps.md5Hash60]]); bit-identical to DuckDB's
  * `CAST(CONCAT('0x', substring(md5(x), 1, 15)) AS BIGINT)`. */
case class Md5Hash60Expression(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // Fail at analysis time on a non-string child (the case class is
  // public; md5Hash60Native's .cast covers internal callers only).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hash60_native requires a STRING child, got ${child.dataType.sql}")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "md5_hash60_native"
  override protected def nullSafeEval(s: Any): Any =
    NativeOps.md5Hash60(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NativeOps.md5Hash60($s);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass word-k-shingle 60-bit hash array of a STRING text column
  * (see [[NativeOps.shingleHash60]]): the native construction stage of
  * the inverted-index dedup pipelines. */
case class ShingleHash60Expression(child: Expression, k: Int,
                                   lowercase: Boolean, distinct: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hash60_native requires a STRING child, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "shingle_hash60_native"
  override protected def nullSafeEval(s: Any): Any =
    NativeOps.shingleHash60(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k, lowercase, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NativeOps.shingleHash60($s, $k, $lowercase, $distinct);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass word-k-shingle STRING array of a STRING text column
  * (see [[NativeOps.shingleSpans]]): identical strings to the
  * interpreted split/transform/slice/array_join chain. */
case class ShingleSpansExpression(child: Expression, k: Int, distinct: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_spans_native requires a STRING child, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, false)
  override def prettyName: String = "shingle_spans_native"
  override protected def nullSafeEval(s: Any): Any =
    NativeOps.shingleSpans(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NativeOps.shingleSpans($s, $k, $distinct);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused hashed bag-of-words histogram of a STRING text column
  * (see [[NativeOps.hashedBow]]). */
case class HashedBowExpression(child: Expression, d: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // d <= 0 would otherwise surface per row at execution time (mod zero /
  // negative index) instead of at construction (ADVICE r17).
  require(d > 0, s"hashed_bow_native requires d > 0, got $d")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hashed_bow_native requires a STRING child, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, false)
  override def prettyName: String = "hashed_bow_native"
  override protected def nullSafeEval(s: Any): Any =
    NativeOps.hashedBow(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NativeOps.hashedBow($s, $d);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused MinHash signature of an ARRAY<STRING> shingle column
  * (see [[NativeOps.minhashSig]]): numHashes per-permutation minima in
  * one primitive pass, bit-identical to the DuckDB oracle's md5 replay.
  * Coefficient arrays ride along as codegen reference objects. */
case class MinhashSigExpression(child: Expression, numHashes: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private val p: Long = graft.operators.Dedup.MinhashP
  @transient private lazy val coeffs = graft.operators.Dedup.minhashCoeffs(numHashes, seed)
  @transient private lazy val as: Array[Long] = coeffs.map(_._1)
  @transient private lazy val bs: Array[Long] = coeffs.map(_._2)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig_native requires ARRAY<STRING>, got ${other.sql}")
    }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "minhash_sig_native"
  override protected def nullSafeEval(sh: Any): Any =
    NativeOps.minhashSig(sh.asInstanceOf[ArrayData], as, bs, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, sh =>
      s"${ev.value} = graft.functions.NativeOps.minhashSig($sh, $asRef, $bsRef, ${p}L);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NativeExpressions {
  /** Fused MinHash signature of an ARRAY<STRING> column. */
  def minhashSigNative(sh: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    GraftColumnBridge.column(MinhashSigExpression(
      GraftColumnBridge.expression(sh), numHashes, seed))

  /** Word-k-shingle 60-bit hashes of a STRING text column, one pass.
    *
    * Scale bound (the 100 TB lens): the 60-bit keyspace gives a birthday
    * expectation of ~n²/2^61 colliding shingle pairs — negligible at the
    * ~450 k distinct shingles of sf0.1 (~1e-7) but ~40 expected
    * collisions at the ~1e10 distinct shingles of a 100 TB corpus. A
    * collision merges two inverted-index buckets, slightly inflating
    * containment/Jaccard intersection counts vs string-keyed semantics
    * (it can only ADD candidate pairs, never drop true ones — exactness
    * of surviving pairs is unaffected where the score is recomputed).
    * 60 bits (not 64) is kept for parity with the DuckDB-replayable
    * MinHash/SimHash signature chain; a corpus past ~1e9 distinct
    * shingles that needs string-exact bucketing should key the index on
    * the shingle text itself and pay the wider shuffle. */
  def shingleHash60Native(text: Column, k: Int = 3, lowercase: Boolean = false,
                          distinct: Boolean = true): Column =
    GraftColumnBridge.column(ShingleHash60Expression(
      GraftColumnBridge.expression(text), k, lowercase, distinct))

  /** DTW as a native expression; radius < 0 = unconstrained. */
  def dtwNative(a: Column, b: Column, radius: Int = -1): Column =
    GraftColumnBridge.column(DtwExpression(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), radius))

  /** One-pass word-k-shingle strings (array<string>) of a STRING
    * column — value-identical to the interpreted
    * transform(sequence)/slice/array_join chain over
    * split(lower(text), " "), with distinct mirroring array_distinct
    * (first-occurrence order). */
  def shingleSpansNative(text: Column, k: Int, distinct: Boolean = true): Column =
    GraftColumnBridge.column(ShingleSpansExpression(
      GraftColumnBridge.expression(text), k, distinct))

  /** Fused hashed-BoW d-bucket histogram (array<double>) of a STRING
    * column — the one-pass form of the buckets + histogram HOF stages. */
  def hashedBowNative(text: Column, d: Int): Column =
    GraftColumnBridge.column(HashedBowExpression(
      GraftColumnBridge.expression(text), d))

  /** Portable 60-bit md5 hash of a string column. */
  def md5Hash60Native(s: Column): Column =
    GraftColumnBridge.column(Md5Hash60Expression(GraftColumnBridge.expression(s)))

  /** Dot product of two ARRAY<DOUBLE> columns (no UDF boxing). */
  def dotNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotExpression(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Cosine similarity of two ARRAY<DOUBLE> columns (no UDF boxing). */
  def cosineNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineExpression(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Euclidean distance of two ARRAY<DOUBLE> columns (no UDF boxing). */
  def euclideanNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(EuclideanExpression(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
