package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/**
 * Custom Catalyst expressions for the engine (SURVEY.md §7.1 expr/):
 * PHash64, ZOrder64, HilbertIndex64, Psnr, DecodeWH. Scalar, deterministic,
 * codegen'd via static calls into [[Curves]] / [[graft.images.ImageCodec]]
 * so they stay inside whole-stage codegen (no UDF serialization overhead).
 *
 * Re-grounds the reference's Embedder extension point
 * (core/src/interfaces/embedder.ts:6-12): bytes -> deterministic signature.
 */

/** 64-bit average-hash of an encoded image (BinaryType -> LongType). */
case class PHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    graft.images.ImageCodec.phash(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.images.ImageCodec.phash($b)")
  override protected def withNewChildInternal(c: Expression): PHash64 = copy(c)
}

/** Z-order interleave of 3 long dims, 21 bits each (LongType^3 -> LongType). */
case class ZOrder64(a: Expression, b: Expression, c: Expression)
    extends TernaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = c
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    Curves.zorder3(x.asInstanceOf[Long], y.asInstanceOf[Long], z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, z) => s"graft.expr.Curves.zorder3($x, $y, $z)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ZOrder64 = copy(f, s, t)
}

/** Hilbert index of 3 long dims, 21 bits each (LongType^3 -> LongType). */
case class HilbertIndex64(a: Expression, b: Expression, c: Expression)
    extends TernaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = c
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    Curves.hilbert3(x.asInstanceOf[Long], y.asInstanceOf[Long], z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, z) => s"graft.expr.Curves.hilbert3($x, $y, $z)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HilbertIndex64 = copy(f, s, t)
}

/** PSNR (dB) between two encoded images (BinaryType^2 -> DoubleType).
  * Infinity is clamped to 999.0 for SQL-friendliness. */
case class Psnr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = graft.images.ImageCodec.psnrBytes(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (v.isInfinite) 999.0 else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.ExprOps.psnrClamped($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Psnr =
    copy(l, r)
}

/** Container format from magic bytes (BinaryType -> StringType): png/jpg/
  * unknown. Codegen'd so ingest's decode stage stays in whole-stage codegen. */
case class DetectFmt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    ExprOps.detectFmtUtf8(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.ExprOps.detectFmtUtf8($b)")
  override protected def withNewChildInternal(c: Expression): DetectFmt = copy(c)
}

/** Decoded dimensions of an encoded image (BinaryType -> STRUCT<w INT, h INT>). */
case class DecodeWH(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    StructType(Seq(StructField("w", IntegerType), StructField("h", IntegerType)))
  override def nullSafeEval(v: Any): Any = {
    val img = graft.images.ImageCodec.decode(v.asInstanceOf[Array[Byte]])
    org.apache.spark.sql.catalyst.InternalRow(img.getWidth, img.getHeight)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.ExprOps.decodeWH($b)")
  override protected def withNewChildInternal(c: Expression): DecodeWH = copy(c)
}

/** Fault-tolerant decode for ingest paths: (w, h) or a (NULL, NULL) struct
  * when the payload does not decode — one corrupt file in a directory scan
  * must not fail the whole job. */
case class DecodeWHSafe(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    StructType(Seq(StructField("w", IntegerType), StructField("h", IntegerType)))
  override def nullSafeEval(v: Any): Any =
    ExprOps.decodeWHSafe(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.ExprOps.decodeWHSafe($b)")
  override protected def withNewChildInternal(c: Expression): DecodeWHSafe = copy(c)
}

/**
 * Maps a long sort key to a hash-partitioning REPRESENTATIVE value such that
 * `repartition(n, col)` places the key's range bucket exactly at partition
 * index = bucket index. `bounds` are ascending range boundaries (bucket = #
 * of bounds <= key, via binary search); `reps(i)` is a precomputed long whose
 * Murmur3 hash pmod n equals i (see [[graft.jobs.Cluster.partitionReps]]).
 *
 * This is the engine's exact-range exchange: the standard
 * `repartitionByRange` samples by EXECUTING the child twice — including the
 * image payload — while this expression needs only driver-computed bounds.
 */
case class RangeRep(child: Expression, bounds: Array[Long], reps: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    reps(ExprOps.rangeBucket(bounds, v.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bounds", bounds, "long[]")
    val r = ctx.addReferenceObj("reps", reps, "long[]")
    defineCodeGen(ctx, ev, c => s"$r[graft.expr.ExprOps.rangeBucket($b, $c)]")
  }
  override protected def withNewChildInternal(c: Expression): RangeRep = copy(child = c)
}

/**
 * Salted IVF inverted-list routing: maps (bucket cid, salt) to the hash-
 * partitioning representative of one of the bucket's sub-bucket output
 * partitions. `cids` are the ASCENDING bucket ids; bucket index i owns the
 * contiguous representative block `reps[offsets(i) until offsets(i+1))`
 * (one entry per sub-bucket), and the salt picks the sub-bucket by Murmur3.
 *
 * O(1)-in-k per row (binary search + one hash), replacing the O(k)
 * chained-`when` router — at k = 4096 that was 4096 branch evaluations per
 * vector. Sub-buckets are what bound output FILE size and give each
 * inverted list `m` parallel writer tasks instead of one ([[RangeRep]]'s
 * shape, extended with the salt dimension).
 */
case class IvfRep(bucket: Expression, salt: Expression,
    cids: Array[Long], offsets: Array[Int], reps: Array[Long])
    extends BinaryExpression {
  override def left: Expression = bucket
  override def right: Expression = salt
  override def dataType: DataType = LongType
  override def nullSafeEval(b: Any, s: Any): Any =
    ExprOps.ivfRep(cids, offsets, reps, b.asInstanceOf[Long], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("cids", cids, "long[]")
    val o = ctx.addReferenceObj("offsets", offsets, "int[]")
    val r = ctx.addReferenceObj("reps", reps, "long[]")
    defineCodeGen(ctx, ev, (b, s) => s"graft.expr.ExprOps.ivfRep($c, $o, $r, $b, $s)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfRep =
    copy(bucket = l, salt = r)
}

/**
 * Nearest-centroid id (argmin of squared L2 distance in the fixed-point
 * space) over an `array<long>` vector, with the centroid matrix folded in
 * as a reference object — the k-means / IVF assignment kernel.
 *
 * Why not compose `array_min(array(struct(aggregate(zip_with(...)))))`:
 * Spark's higher-order array functions evaluate INTERPRETED, one boxed
 * lambda invocation per element — k x dims x 2 lambda evals plus k
 * intermediate arrays per row (measured: the composed form dominated the
 * whole IVF build at 1 M x 64-d x k=16). This expression is one tight
 * primitive long loop inside whole-stage codegen. Tie-break matches the
 * composed struct-min exactly: smallest distance, then smallest cid.
 */
case class NearestCentroid(child: Expression,
    cids: Array[Long], cents: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.nearestCentroid(cids, cents,
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ci = ctx.addReferenceObj("cids", cids, "long[]")
    val ce = ctx.addReferenceObj("cents", cents, "long[][]")
    defineCodeGen(ctx, ev, v => s"graft.expr.ExprOps.nearestCentroid($ci, $ce, $v)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/**
 * Fixed-point scaling of a float/double array to scaled longs
 * (x -> HALF_UP(x * 1e6), [[graft.operators.KMeans.scaled]]'s kernel) as
 * one codegen'd loop. The composed `transform(vec, x => round(...))` form
 * pays an interpreted lambda + Round expression eval per element; this
 * calls the SAME BigDecimal HALF_UP arithmetic ([[graft.operators
 * .KMeans.scaleValue]]) per element with no lambda machinery, so the
 * value contract with the SQL oracle's `round(x * 1e6)` is unchanged.
 * A wholly-null vector null-propagates; a null ELEMENT is rejected
 * loudly (see [[ExprOps.scaleVec]]), so the output is always dense.
 */
case class ScaleVec(child: Expression) extends UnaryExpression {
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"scale_vec expects array<float|double>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.scaleVec(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.ExprOps.scaleVec($v, $isFloat)")
  override protected def withNewChildInternal(c: Expression): ScaleVec = copy(c)
}

/**
 * Cosine similarity of a float/double array column against a DRIVER-held
 * query vector (reference object), with the query norm precomputed — the
 * IVF probe's scan kernel. One pass over the array (dot and row norm
 * together) instead of three interpreted higher-order traversals
 * (zip_with dot + aggregate norm + divide). Ascending-index IEEE double
 * folds; elements are widened to double BEFORE squaring — matching the
 * driver-side reference computation (IvfIndexSpec's brute force), where
 * the composed form squared float elements at float precision.
 */
case class CosineSim(child: Expression, q: Array[Double], qNorm: Double)
    extends UnaryExpression {
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects array<float|double>, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    ExprOps.cosineSim(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat, q, qNorm)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qr = ctx.addReferenceObj("q", q, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expr.ExprOps.cosineSim($v, $isFloat, $qr, ${ExprOps.javaDouble(qNorm)})")
  }
  override protected def withNewChildInternal(c: Expression): CosineSim =
    copy(child = c)
}

/**
 * Cosine similarity of two float/double array COLUMNS in one codegen'd pass
 * — the query-surface twin of [[CosineSim]] for the case where both vectors
 * are table-side (q21/q35/q37's brute-force and near-dup cosines). The
 * composed form paid three INTERPRETED higher-order traversals per row
 * (`aggregate(zip_with(a, b, *))` dot + two `aggregate` norms, one boxed
 * lambda per element); this is one tight loop inside whole-stage codegen.
 *
 * ARITHMETIC CONTRACT (oracle-pinned, ExprKernelsSpec): bit-identical to
 * the composed form it replaces ON DENSE, EQUAL-LENGTH vectors — the only
 * shape the fixtures and the serving path produce. Malformed input
 * (ragged lengths, null elements) FAILS LOUDLY per the engine's kernel
 * convention (requireDense scaladoc), where the composed form silently
 * yielded a NULL cosine. For float arrays the per-element products
 * x*y and squares x*x are computed AT FLOAT PRECISION (Spark's
 * Multiply(float, float) = float — [[CosineSim]] widens first, which is a
 * DIFFERENT rounding) and then widened into ascending-index IEEE double
 * accumulators, exactly like `aggregate(..., 0.0d, (acc, v) => acc + v)`.
 * Final value = dot / (sqrt(na2) * sqrt(nb2)), the same op order as
 * `dot / (sqrt_a * sqrt_b)`.
 */
case class CosineSimFF(left: Expression, right: Expression)
    extends BinaryExpression {
  private def floatOf(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim_ff expects array<float|double>, got $other")
  }
  private lazy val isFloat: Boolean = {
    val (l, r) = (floatOf(left), floatOf(right))
    require(l == r, "cosine_sim_ff requires both sides the same element type")
    l
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprOps.cosineSimFF(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.ExprOps.cosineSimFF($a, $b, $isFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimFF =
    copy(left = l, right = r)
}

/**
 * Cosine similarity of a float/double array column against a DRIVER-held
 * DOUBLE vector, replicating q34's literal-centroid form bit-for-bit: the
 * dot's products are double (Spark promotes float x double), but the row
 * norm's squares stay AT FLOAT PRECISION for float arrays (`x * x` in the
 * composed `aggregate` was Multiply(float, float)) — which is why
 * [[CosineSim]] (double squares, the IVF serving kernel) cannot be used
 * here without perturbing the oracle-pinned rounding. Final value =
 * dot / (sqrt(na2) * qNorm), `qNorm` precomputed driver-side exactly as the
 * composed form's `lit(sqrt(sum of double squares))`.
 */
case class CosineSimLit(child: Expression, q: Array[Double], qNorm: Double)
    extends UnaryExpression {
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim_lit expects array<float|double>, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    ExprOps.cosineSimLit(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat, q, qNorm)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qr = ctx.addReferenceObj("q", q, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expr.ExprOps.cosineSimLit($v, $isFloat, $qr, ${ExprOps.javaDouble(qNorm)})")
  }
  override protected def withNewChildInternal(c: Expression): CosineSimLit =
    copy(child = c)
}

/**
 * Per-document winnowing fingerprint summary (q36's hot path) as ONE
 * codegen'd pass over the text: tokens -> `shingle`-word shingles ->
 * rolling md5 -> per-position minimum over a forward window of `window`
 * shingles -> distinct fingerprints -> (n_fp, fp_min, fp_max).
 *
 * This is a pure per-document computation, which the relational form could
 * not express without a full corpus-wide token shuffle: posexplode every
 * word, Exchange hashpartitioning(doc_id), sort, two Window passes, then
 * distinct + aggregate (guide §8: use what you know that the optimizer
 * does not — winnowing never crosses documents). The kernel keeps the scan
 * map-side only: zero exchanges at ANY corpus size.
 *
 * SEMANTICS CONTRACT (ExprKernelsSpec pins it against the window-function
 * formulation; the DuckDB oracle replays the window form independently):
 *  - tokens = java String.split(" ", -1), identical to Spark's
 *    split(text, " ") (same regex engine, same empty-trailing handling);
 *  - shingle_p = tok_p + " " + ... for p in 0..n-shingle (absent if
 *    n < shingle: lead() returned null there and the row was filtered);
 *  - fp_p = min md5 hex over shingles p..p+window-1 capped at the last
 *    shingle (ROWS BETWEEN CURRENT ROW AND window-1 FOLLOWING), compared
 *    in UTF8String byte order (md5 hex is ASCII, so String order agrees);
 *  - result = (count of DISTINCT fp, min fp, max fp); NULL when the doc
 *    has no shingles (those doc_ids were absent from the window form).
 *
 * Marked NON-deterministic purely to stop the optimizer pushing the
 * null-filter below the projection and re-evaluating the kernel per
 * reference (guide §4.4); the function itself is pure.
 */
case class WinnowFp(child: Expression, shingle: Int, window: Int)
    extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_fp", LongType),
    StructField("fp_min", StringType),
    StructField("fp_max", StringType)))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprOps.winnowFp(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], shingle, window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.ExprOps.winnowFp($c, $shingle, $window);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(c: Expression): WinnowFp =
    copy(child = c)
}

/**
 * Count of array elements contained in a small driver-held string set —
 * q24's stopword counter and q25's per-language marker votes. Replaces the
 * interpreted `size(filter(arr, w => w.isin(...)))` higher-order pair (one
 * boxed lambda + an isin chain per element, plus a materialized filtered
 * array) with one codegen'd hash-probe loop. Exact semantics of the
 * composed form: NULL array -> NULL (size(filter(NULL)) was NULL), NULL
 * elements never match (isin yields NULL, filter drops), result is an INT
 * like `size`. Membership is UTF8String equality — identical to isin's.
 */
case class CountInSet(child: Expression, values: Seq[String])
    extends UnaryExpression {
  @transient private lazy val set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    values.foreach(v =>
      s.add(org.apache.spark.unsafe.types.UTF8String.fromString(v)))
    s
  }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    ExprOps.countInSet(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("cset", set, classOf[java.util.HashSet[_]].getName)
    defineCodeGen(ctx, ev, c => s"graft.expr.ExprOps.countInSet($c, $s)")
  }
  override protected def withNewChildInternal(c: Expression): CountInSet =
    copy(child = c)
}

/**
 * Per-document MinHash signature (q17/q18's signature pass) as ONE
 * codegen'd pass over the text: words -> `n` salted md5 hashes per word ->
 * per-salt minimum, returned as a struct of hex strings (mh0..mh{n-1}).
 *
 * Like [[WinnowFp]], a pure per-document computation: the relational form
 * exploded every word and aggregated min(md5 string) per doc — and Spark
 * cannot HASH-aggregate a string-valued min buffer, so the whole corpus
 * paid Sort + SortAggregate on both sides of the exchange. The kernel is
 * map-side only: zero exchanges at any corpus size.
 *
 * SEMANTICS CONTRACT (ExprKernelsSpec pins it against the explode+groupBy
 * form; the DuckDB oracle replays that form independently): words =
 * String.split(" ", -1) (identical to Spark's split); hash i of word w =
 * md5 hex of UTF-8(w + i); minima compare in UTF8String byte order (hex
 * is ASCII, so String order agrees); the original form's array_distinct
 * is a no-op under min. NULL text never reaches the kernel in q17 (the
 * query filters it, replicating the generator's zero-rows-on-null).
 * Deterministic=false only to keep the optimizer from duplicating the
 * kernel per struct-field reference (guide §4.4); the function is pure.
 */
case class MinHashHex(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, s"n out of range: $n")
  override lazy val deterministic: Boolean = false
  override def dataType: DataType =
    StructType((0 until n).map(i => StructField(s"mh$i", StringType)))
  override def nullSafeEval(v: Any): Any =
    ExprOps.minHashHex(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ExprOps.minHashHex($c, $n)")
  override protected def withNewChildInternal(c: Expression): MinHashHex =
    copy(child = c)
}

/**
 * md5-hex-parity contribution vector for the SimHash pass (q20): for the
 * row's word, array<int> of length `bits` where element b is +1 if the
 * (b+1)-th hex char of md5(word) has odd ASCII code, else -1 — exactly
 * the composed `when(ascii(substring(md5(w), b+1, 1)) % 2 = 1, 1, -1)`
 * per bit, which paid one md5 plus 16 substring allocations + ascii calls
 * per row; this computes md5 once and reads the 16 chars in one pass
 * (the per-bit SUMs then read codegen'd element_at on the int array).
 */
case class Md5ParityVec(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 32, s"bits out of range: $bits")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.md5ParityVec(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ExprOps.md5ParityVec($c, $bits)")
  override protected def withNewChildInternal(c: Expression): Md5ParityVec =
    copy(child = c)
}

/**
 * Canonicalized text for exact-dedup fingerprints (q26): DISTINCT words
 * sorted in UTF8String byte order, space-joined — the input to the md5
 * content fingerprint. The composed `array_sort(array_distinct(split))`
 * runs array_sort as a higher-order function whose comparator lambda is
 * INTERPRETED per comparison (~n log n boxed evaluations per document);
 * this kernel is one pass + one primitive sort. Ordering goes through
 * [[graft.table.Utf8Ord]] — the engine's pinned sign-identical twin of
 * UTF8String.compareTo (Java String order would diverge on
 * supplementary-plane code points). NULL text null-propagates; the query
 * wraps the kernel in coalesce(.., "") to replicate concat_ws's
 * null-skipping before md5. ExprKernelsSpec pins kernel == composed form.
 */
case class CanonText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    ExprOps.canonText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ExprOps.canonText($c)")
  override protected def withNewChildInternal(c: Expression): CanonText =
    copy(child = c)
}

/**
 * Nearest-centroid-by-COSINE bucket id for q34's IVF assignment: argmax
 * over centroids of round(cosine(v, c), `scale`), ties to the smaller cid
 * — bit-exact to the composed
 * `-array_max(array(struct(round(cosLit(..)), -cid)...)).ncid` form:
 * per-centroid sims use [[CosineSimLit]] arithmetic (double dot products,
 * FLOAT-precision row-norm squares), rounding replicates Spark's
 * Round-on-double (BigDecimal.valueOf + HALF_UP; NaN/Inf pass through),
 * and comparisons use the same total double order (NaN greatest,
 * -0.0 < 0.0). On top of removing 2k interpreted higher-order traversals
 * per row, the row norm is computed ONCE instead of once per centroid.
 *
 * deterministic=false for the §4.4 reason only (the probe filter
 * otherwise duplicates the whole argmax below itself); pure function.
 */
case class NearestCosineCid(child: Expression, cids: Array[Long],
    cents: Array[Array[Double]], norms: Array[Double], scale: Int)
    extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"nearest_cosine_cid expects array<float|double>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.nearestCosineCid(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat, cids, cents, norms, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ci = ctx.addReferenceObj("cids", cids, "long[]")
    val ce = ctx.addReferenceObj("cents", cents, "double[][]")
    val no = ctx.addReferenceObj("norms", norms, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expr.ExprOps.nearestCosineCid($v, $isFloat, $ci, $ce, $no, $scale)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCosineCid =
    copy(child = c)
}

/** Static helpers referenced from generated code. */
object ExprOps {
  /** Java source for the double `d`, bit-exact for every value: a spliced
    * `${d}D` is uncompilable for NaN/Infinity ("NaND"), which makes Spark
    * fall back to interpreted evaluation without a word. */
  def javaDouble(d: Double): String =
    s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(d)}L)"
  /** Bucket of `v` given ascending boundaries: the count of bounds <= v. */
  def rangeBucket(bounds: Array[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(bounds, v)
    if (i >= 0) i + 1 else -i - 1
  }
  /** See [[NearestCentroid]]: argmin_{c} sum_i (v_i - cents_c_i)^2, ties to
    * the smaller cid. Exact Long math (inputs within
    * [[graft.operators.KMeans.maxSafeScaled]]). */
  def nearestCentroid(cids: Array[Long], cents: Array[Array[Long]],
      v: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var best = Long.MaxValue
    var bestCid = Long.MaxValue
    // One dense-ness pass up front (not inside the k-way loop): null slots
    // would read as 0 from ArrayData's primitive getters — fail loudly, as
    // scaleVec does. (ScaleVec output is already guaranteed dense; this
    // guards direct callers.)
    requireDense(v)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0L
      var i = 0
      while (i < cv.length) { val x = v.getLong(i) - cv(i); d += x * x; i += 1 }
      if (d < best || (d == best && cids(c) < bestCid)) {
        best = d; bestCid = cids(c)
      }
      c += 1
    }
    bestCid
  }

  private def requireDense(v: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"null vector component at index $i — vectors must be dense")
      i += 1
    }
  }

  /** See [[ScaleVec]]. Null ELEMENTS are rejected loudly: the downstream
    * primitive kernels ([[nearestCentroid]], [[cosineSim]]) return
    * non-nullable primitives, so a null slot would otherwise silently read
    * as coordinate 0 and produce a confidently wrong assignment/score.
    * (A wholly-null vector still null-propagates via nullSafeEval.) */
  def scaleVec(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"null vector component at index $i — vectors must be dense")
      val d = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = graft.operators.KMeans.scaleValue(d)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[CosineSim]]: dot(v, q) / (||v|| * qNorm), ascending-index IEEE
    * double folds, elements widened to double before squaring. */
  def cosineSim(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean, q: Array[Double], qNorm: Double): Double = {
    requireDense(v)
    var dot = 0.0
    var nrm = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      dot += x * q(i)
      nrm += x * x
      i += 1
    }
    dot / (math.sqrt(nrm) * qNorm)
  }

  /** See [[CosineSimFF]]: float products/squares widened into double
    * accumulators (double path: plain double ops) — the composed
    * zip_with/aggregate arithmetic, exactly. */
  def cosineSimFF(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean): Double = {
    requireDense(a)
    requireDense(b)
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim_ff: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val x = a.getFloat(i)
        val y = b.getFloat(i)
        dot += (x * y) // float multiply, THEN widen — matches Multiply(float,float)
        na += (x * x)
        nb += (y * y)
        i += 1
      }
    } else {
      while (i < n) {
        val x = a.getDouble(i)
        val y = b.getDouble(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** See [[CosineSimLit]]: double products (float widened x double literal),
    * float-precision squares for the row norm. */
  def cosineSimLit(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean, q: Array[Double], qNorm: Double): Double = {
    requireDense(v)
    val n = v.numElements()
    if (n != q.length)
      throw new IllegalArgumentException(
        s"cosine_sim_lit: vector has $n dims, query has ${q.length}")
    var dot = 0.0
    var na = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val x = v.getFloat(i)
        dot += x.toDouble * q(i)
        na += (x * x) // float multiply, THEN widen
        i += 1
      }
    } else {
      while (i < n) {
        val x = v.getDouble(i)
        dot += x * q(i)
        na += x * x
        i += 1
      }
    }
    dot / (math.sqrt(na) * qNorm)
  }

  /** See [[CountInSet]]: null elements never match (the composed isin
    * yielded NULL there and filter dropped the element). */
  def countInSet(v: org.apache.spark.sql.catalyst.util.ArrayData,
      set: java.util.HashSet[_]): Int = {
    var n = 0
    var i = 0
    val len = v.numElements()
    while (i < len) {
      if (!v.isNullAt(i) && set.contains(v.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  private val md5Digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val HexChars = "0123456789abcdef".toCharArray

  private def md5Hex(s: String): String = {
    val d = md5Digest.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** See [[MinHashHex]]: per-salt minimum of md5(word + salt) hex over the
    * doc's words, String order (== UTF8String order on ASCII hex). */
  def minHashHex(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(" ", -1)
    val mins = new Array[String](n)
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      var i = 0
      while (i < n) {
        val h = md5Hex(w + i)
        if (mins(i) == null || h.compareTo(mins(i)) < 0) mins(i) = h
        i += 1
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      mins.toIndexedSeq.map(org.apache.spark.unsafe.types.UTF8String.fromString))
  }

  /** Spark's Round(double, scale) HALF_UP, NaN/Inf passed through — the
    * exact codegen'd arithmetic of the builtin. */
  private def roundDouble(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** See [[NearestCosineCid]]. One row-norm pass + one dot per centroid. */
  def nearestCosineCid(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean, cids: Array[Long], cents: Array[Array[Double]],
      norms: Array[Double], scale: Int): Long = {
    requireDense(v)
    val n = v.numElements()
    // Row norm: float-precision squares widened into an ascending double
    // fold — identical to each CosineSimLit call's own accumulation.
    var na = 0.0
    var i = 0
    while (i < n) {
      if (isFloat) { val x = v.getFloat(i); na += (x * x) }
      else { val x = v.getDouble(i); na += x * x }
      i += 1
    }
    val sna = math.sqrt(na)
    var bestSim = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var first = true
    var c = 0
    while (c < cents.length) {
      val q = cents(c)
      if (q.length != n)
        throw new IllegalArgumentException(
          s"nearest_cosine_cid: vector has $n dims, centroid has ${q.length}")
      var dot = 0.0
      i = 0
      while (i < n) {
        dot += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * q(i)
        i += 1
      }
      val sim = roundDouble(dot / (sna * norms(c)), scale)
      // Spark's double ordering (nan-safe: NaN greatest, but -0.0 == 0.0
      // via primitive equality — NOT Double.compare, which would break the
      // tie-break when one sim rounds to -0.0 and another to +0.0); ties
      // take the smaller cid, like the composed struct-max's -cid field.
      val simNaN = java.lang.Double.isNaN(sim)
      val bestNaN = java.lang.Double.isNaN(bestSim)
      val cmp =
        if ((simNaN && bestNaN) || sim == bestSim) 0
        else if (simNaN) 1
        else if (bestNaN) -1
        else if (sim > bestSim) 1 else -1
      if (first || cmp > 0 || (cmp == 0 && cids(c) < bestCid)) {
        bestSim = sim; bestCid = cids(c); first = false
      }
      c += 1
    }
    bestCid
  }

  /** See [[CanonText]]: distinct words, Utf8Ord-sorted, space-joined. */
  def canonText(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val toks = text.toString.split(" ", -1)
    val set = new java.util.HashSet[String]()
    val distinct = new java.util.ArrayList[String](toks.length)
    var i = 0
    while (i < toks.length) {
      if (set.add(toks(i))) distinct.add(toks(i))
      i += 1
    }
    distinct.sort((a: String, b: String) =>
      Integer.signum(graft.table.Utf8Ord.cmp(a, b)))
    org.apache.spark.unsafe.types.UTF8String.fromString(
      String.join(" ", distinct))
  }

  /** See [[Md5ParityVec]]: +1/-1 per hex-char ASCII parity of md5(word).
    * Hex chars are ASCII, so (char & 1) == ascii(char) % 2. */
  def md5ParityVec(w: org.apache.spark.unsafe.types.UTF8String,
      bits: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val h = md5Hex(w.toString)
    val out = new Array[Int](bits)
    var b = 0
    while (b < bits) {
      out(b) = if ((h.charAt(b) & 1) == 1) 1 else -1
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** See [[WinnowFp]]. Returns null when the doc has fewer than `shingle`
    * tokens (no shingles — the window form emitted no rows). */
  def winnowFp(text: org.apache.spark.unsafe.types.UTF8String,
      shingle: Int, window: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(" ", -1)
    val m = toks.length - (shingle - 1) // number of shingles
    if (m <= 0) return null
    val md5s = new Array[String](m)
    val sb = new java.lang.StringBuilder
    var p = 0
    while (p < m) {
      sb.setLength(0)
      var j = 0
      while (j < shingle) {
        if (j > 0) sb.append(' ')
        sb.append(toks(p + j))
        j += 1
      }
      md5s(p) = md5Hex(sb.toString)
      p += 1
    }
    // Per-position forward-window minimum, distinct, global min/max. md5
    // hex is ASCII so String.compareTo == UTF8String byte order.
    val seen = new java.util.HashSet[String]()
    var fpMin: String = null
    var fpMax: String = null
    p = 0
    while (p < m) {
      var best = md5s(p)
      var j = p + 1
      val hi = math.min(p + window - 1, m - 1)
      while (j <= hi) {
        if (md5s(j).compareTo(best) < 0) best = md5s(j)
        j += 1
      }
      if (seen.add(best)) {
        if (fpMin == null || best.compareTo(fpMin) < 0) fpMin = best
        if (fpMax == null || best.compareTo(fpMax) > 0) fpMax = best
      }
      p += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      seen.size.toLong,
      org.apache.spark.unsafe.types.UTF8String.fromString(fpMin),
      org.apache.spark.unsafe.types.UTF8String.fromString(fpMax))
  }

  /** See [[IvfRep]]: representative of (bucket `cid`, sub-bucket chosen by
    * `salt`). The salt hash uses the same Murmur3 family as the partitioner
    * but only to PICK within the block — the rep value then lands the row at
    * exactly that partition index. */
  def ivfRep(cids: Array[Long], offsets: Array[Int], reps: Array[Long],
      cid: Long, salt: Long): Long = {
    val i = java.util.Arrays.binarySearch(cids, cid)
    val lo = offsets(i)
    val m = offsets(i + 1) - lo
    if (m == 1) reps(lo)
    else {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(salt, 17)
      reps(lo + (((h % m) + m) % m))
    }
  }
  def psnrClamped(a: Array[Byte], b: Array[Byte]): Double = {
    val v = graft.images.ImageCodec.psnrBytes(a, b)
    if (v.isInfinite) 999.0 else v
  }
  def detectFmtUtf8(b: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.images.ImageCodec.detectFmt(b))
  def decodeWH(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val img = graft.images.ImageCodec.decode(b)
    org.apache.spark.sql.catalyst.InternalRow(img.getWidth, img.getHeight)
  }
  def decodeWHSafe(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    try decodeWH(b)
    catch { case _: Exception =>
      org.apache.spark.sql.catalyst.InternalRow(null, null) }
}

/** Column-level API for the engine's expressions. */
object functions {
  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  def phash64(bytes: Column): Column = c(PHash64(e(bytes)))
  def zorder3(a: Column, b: Column, cc: Column): Column =
    c(ZOrder64(e(a), e(b), e(cc)))
  def hilbert3(a: Column, b: Column, cc: Column): Column =
    c(HilbertIndex64(e(a), e(b), e(cc)))
  def psnr(a: Column, b: Column): Column = c(Psnr(e(a), e(b)))
  def decode_wh(bytes: Column): Column = c(DecodeWH(e(bytes)))
  def decode_wh_safe(bytes: Column): Column = c(DecodeWHSafe(e(bytes)))
  def detect_fmt(bytes: Column): Column = c(DetectFmt(e(bytes)))
  def range_rep(key: Column, bounds: Array[Long], reps: Array[Long]): Column =
    c(RangeRep(e(key), bounds, reps))
  def ivf_rep(bucket: Column, salt: Column, cids: Array[Long],
      offsets: Array[Int], reps: Array[Long]): Column =
    c(IvfRep(e(bucket), e(salt), cids, offsets, reps))
  /** Element-wise sum aggregate over array<long> (see [[SumLongArray]]). */
  def sum_long_array(arr: Column): Column =
    c(SumLongArray(e(arr)).toAggregateExpression())
  /** Codegen'd argmin-centroid assignment (see [[NearestCentroid]]). */
  def nearest_centroid(vec: Column, cents: Seq[(Long, Array[Long])]): Column =
    c(NearestCentroid(e(vec), cents.map(_._1).toArray, cents.map(_._2).toArray))
  /** Codegen'd fixed-point array scaling (see [[ScaleVec]]). */
  def scale_vec(vec: Column): Column = c(ScaleVec(e(vec)))
  /** Codegen'd cosine against a driver-held query (see [[CosineSim]]). */
  def cosine_sim(vec: Column, q: Array[Double], qNorm: Double): Column =
    c(CosineSim(e(vec), q, qNorm))
  /** Codegen'd column-vs-column cosine, composed-HOF arithmetic
    * (see [[CosineSimFF]]). */
  def cosine_sim_ff(a: Column, b: Column): Column = c(CosineSimFF(e(a), e(b)))
  /** Codegen'd cosine against a driver-held DOUBLE literal vector with
    * float-precision row-norm squares (see [[CosineSimLit]]). */
  def cosine_sim_lit(vec: Column, q: Array[Double], qNorm: Double): Column =
    c(CosineSimLit(e(vec), q, qNorm))
  /** Codegen'd per-document winnowing fingerprint summary
    * (see [[WinnowFp]]). */
  def winnow_fp(text: Column, shingle: Int, window: Int): Column =
    c(WinnowFp(e(text), shingle, window))
  /** Codegen'd count of array elements in a literal string set
    * (see [[CountInSet]]). */
  def count_in(arr: Column, values: Seq[String]): Column =
    c(CountInSet(e(arr), values))
  /** Codegen'd per-document MinHash signature (see [[MinHashHex]]). */
  def minhash_hex(text: Column, n: Int): Column = c(MinHashHex(e(text), n))
  /** Codegen'd md5-hex-parity +-1 vector (see [[Md5ParityVec]]). */
  def md5_parity_vec(word: Column, bits: Int): Column =
    c(Md5ParityVec(e(word), bits))
  /** Codegen'd sorted-distinct-words canonical text (see [[CanonText]]). */
  def canon_text(text: Column): Column = c(CanonText(e(text)))
  /** Codegen'd argmax-cosine centroid assignment (see [[NearestCosineCid]]).
    * `cents` = (cid, components, precomputed norm) ascending by cid. */
  def nearest_cosine_cid(vec: Column,
      cents: Seq[(Long, Array[Double], Double)], scale: Int): Column =
    c(NearestCosineCid(e(vec), cents.map(_._1).toArray,
      cents.map(_._2).toArray, cents.map(_._3).toArray, scale))

  /** Hamming distance between two phash values — composed from built-ins
    * (stays fully codegen'd). */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** The engine's standard cluster key over (phash, w, h): unsigned-order
    * top-21-bits of phash interleaved with w, h. */
  def clusterKeyZ(phash: Column, w: Column, h: Column): Column =
    zorder3(org.apache.spark.sql.functions.shiftrightunsigned(phash, 43),
      w.cast(LongType), h.cast(LongType))

  def clusterKeyHilbert(phash: Column, w: Column, h: Column): Column =
    hilbert3(org.apache.spark.sql.functions.shiftrightunsigned(phash, 43),
      w.cast(LongType), h.cast(LongType))
}
