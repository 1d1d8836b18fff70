package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the LLM-data-pipeline operator family
  * (SURVEY.md §7.2 slice 4). Scalar, deterministic, single-pass — they run
  * inside whole-stage codegen pipelines (native `doGenCode` where the call is
  * hot; `CodegenFallback` where the expression runs once per row on small
  * inputs). The reference ships no such operators; this is the
  * beyond-reference surface (BASELINE.json north_star).
  */


/** Manual input-type validation shared by the custom expressions
  * (AbstractDataType/ExpectsInputTypes is private[sql], so each expression
  * checks its children explicitly — silent wrong-stride ArrayData reads on
  * mistyped inputs are the failure mode this prevents). */
private[functions] object TypeChecks {
  def check(name: String, pairs: (DataType, String)*): TypeCheckResult = {
    val bad = pairs.zipWithIndex.collectFirst {
      case ((dt, want), i) if !ok(dt, want) =>
        s"$name argument ${i + 1} must be $want, got ${dt.simpleString}"
    }
    bad.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
  private def ok(dt: DataType, want: String): Boolean = (dt, want) match {
    case (ArrayType(LongType, _), "array<bigint>") => true
    case (ArrayType(_: StringType, _), "array<string>") => true
    case (ArrayType(IntegerType, _), "array<int>") => true
    case (ArrayType(FloatType, _), "array<float>") => true
    case (ArrayType(DoubleType, _), "array<double>") => true
    case (IntegerType, "int") => true
    case (_: StringType, "string") => true
    case (BinaryType, "binary") => true
    case (DoubleType, "double") => true
    case (LongType, "bigint") => true
    case _ => false
  }
}

/** minhash signature over pre-hashed shingles: array<long> -> array<long>. */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "array<bigint>")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Kernels.minHashSignature(v.asInstanceOf[ArrayData], numHashes, seed))
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  override def prettyName: String = "graft_minhash"
}

/** Broadcast-backed Bloom membership probe: bigint -> boolean. The filter
  * words travel in a Spark Broadcast (torrent: shipped once per EXECUTOR),
  * resolved once per generated-class instance into a plain long[] field —
  * the plan carries only the broadcast handle, so an eval-benchmark filter
  * can be 100s of MB without bloating the plan, the codegen source, or the
  * per-task closure. (The plan-literal form, DedupOps.bloomProbe, stays the
  * right call below ~1 MiB: no broadcast lifecycle to manage.) The probe
  * itself stays inside whole-stage codegen via the Kernels call. */
case class BloomContains(child: Expression,
    bits: org.apache.spark.broadcast.Broadcast[Array[Long]], mBits: Long, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "bigint")
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    Kernels.bloomContains(v.asInstanceOf[Long], bits.value, mBits, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = ctx.addReferenceObj("bloomBc", bits,
      "org.apache.spark.broadcast.Broadcast")
    val words = ctx.addMutableState("long[]", "bloomWords",
      v => s"$v = (long[]) $bcName.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.bloomContains($c, $words, ${mBits}L, $k)")
  }
  override protected def withNewChildInternal(c: Expression): BloomContains = copy(child = c)
  override def prettyName: String = "graft_bloom_contains"
}

/** 64-bit SimHash over token array: array<string> -> long. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "array<string>")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Kernels.simHash64(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "graft_simhash"
}

/** Cosine similarity of two numeric arrays (float or double elements),
  * accumulated in double. Codegen'd: emits a direct static kernel call so it
  * stays inside the whole-stage-generated loop (this sits in the ANN hot
  * path — O(|Q|·|C|) evals). */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        // same-typed sides required: the kernel reads both arrays with one
        // element accessor; a float/double mix would read garbage strides
        TypeCheckResult.TypeCheckFailure(
          s"graft_cosine requires two array<float> or two array<double> args, got $l / $r")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat) Kernels.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else Kernels.cosineDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "cosineFloat" else "cosineDouble"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

/** Intersection size of two sorted array<long> columns: codegen'd merge. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, left.dataType -> "array<bigint>", right.dataType -> "array<bigint>")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.sortedIntersectSize($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
  override def prettyName: String = "graft_intersect_size"
}

/** Hash-set distinct count of a string array: array<string> -> int.
  * Codegen'd (static kernel call inside the whole-stage loop): O(n) per row
  * vs `size(array_distinct(...))`'s O(n²) pairwise string equality — the
  * repetition metrics (t52) evaluate this once per token array and once per
  * bigram array for every document. */
case class DistinctCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "array<string>")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = Kernels.distinctCount(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.distinctCount($a)")
  override protected def withNewChildInternal(c: Expression): DistinctCount = copy(child = c)
  override def prettyName: String = "graft_ndistinct"
}

/** Per-channel pixel sums through the REAL BMP decode path: binary ->
  * array<bigint> [nPix, sumC0, sumC1, sumC2] (storage-order BGR channels,
  * stride padding excluded) — the decode-side aggregate an image
  * normalization pipeline computes per file. Null for invalid/non-24bpp. */
case class BmpChanStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val a = Kernels.bmpChanStats(v.asInstanceOf[Array[Byte]])
    if (a == null) null else new GenericArrayData(a)
  }
  override protected def withNewChildInternal(c: Expression): BmpChanStats = copy(child = c)
  override def prettyName: String = "graft_bmp_chanstats"
}

/** Perceptual average-hash through the real codec: binary -> 64-char
  * '0'/'1' string (8×8 nearest-neighbor luma grid thresholded at its
  * mean), null for invalid/non-24bpp — the image near-dup fingerprint. */
case class BmpAHash(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Kernels.bmpAHash(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): BmpAHash = copy(child = c)
  override def prettyName: String = "graft_bmp_ahash"
}

/** Nearest-neighbor 2× BMP downsample through the real codec (parse →
  * sample even pixels of even rows → re-encode): binary -> binary, null
  * for invalid/non-24bpp input — the resize stage of an image pipeline. */
case class BmpDownsample2x(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    Kernels.bmpDownsample2x(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): BmpDownsample2x = copy(child = c)
  override def prettyName: String = "graft_bmp_downsample2x"
}

/** Span-removal token rebuild: (array<string> tokens, array<int> starts,
  * int width) -> array<string> of tokens NOT covered by any
  * [start, start+width) span. Codegen'd O(n + |starts|·width) boolean-mask
  * kernel — the d81 boilerplate strip evaluates this once per document;
  * the equivalent `filter(t, (x,i) -> !array_contains(cov, i))` is
  * O(n·|cov|), quadratic on boilerplate-heavy long docs. */
case class StripSpans(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "array<string>",
      second.dataType -> "array<int>", third.dataType -> "int")
  override def dataType: DataType = first.dataType
  override protected def nullSafeEval(t: Any, p: Any, w: Any): Any =
    Kernels.stripSpans(t.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData],
      w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p, w) => s"graft.functions.Kernels.stripSpans($t, $p, $w)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): StripSpans = copy(first = f, second = s, third = t)
  override def prettyName: String = "graft_strip_spans"
}

/** Random-hyperplane LSH bucket: array<float> -> int. */
case class HyperplaneSig(child: Expression, table: Expression, nbits: Int)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = table
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "array<float>", table.dataType -> "int")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any, t: Any): Any =
    Kernels.hyperplaneSig(v.asInstanceOf[ArrayData], t.asInstanceOf[Int], nbits)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HyperplaneSig =
    copy(child = l, table = r)
  override def prettyName: String = "graft_hyperplane"
}

/** Int8-pack a float vector under per-dim (lo, hi) stats (the s65 affine
  * scheme): (array<float>, array<double>, array<double>) -> binary. Runs
  * once per corpus vector at index-build time; codegen'd so the write stays
  * one whole-stage scan. */
case class Q8Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "array<float>",
      second.dataType -> "array<double>", third.dataType -> "array<double>")
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(v: Any, lo: Any, hi: Any): Any =
    Kernels.q8Encode(v.asInstanceOf[ArrayData], lo.asInstanceOf[ArrayData],
      hi.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, lo, hi) => s"graft.functions.Kernels.q8Encode($v, $lo, $hi)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Q8Encode = copy(f, s, t)
  override def prettyName: String = "graft_q8_encode"
}

/** PQ-encode a float vector against a flat product-quantization codebook:
  * (array<float>, array<double> codebook, int m) -> binary (m bytes, one
  * centroid index per subspace). Index-build hot path — codegen'd static
  * kernel call, same policy as Q8Encode. */
case class PqEncode(first: Expression, second: Expression, m: Int)
    extends BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "array<float>",
      second.dataType -> "array<double>")
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(v: Any, cb: Any): Any =
    Kernels.pqEncode(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, cb) => s"graft.functions.Kernels.pqEncode($v, $cb, $m)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(first = l, second = r)
  override def prettyName: String = "graft_pq_encode"
}

/** Asymmetric PQ cosine: (array<float> query, binary PQ code, array<double>
  * codebook) -> double, reconstructing centroids inside the dot-product
  * loop. Rerank hot path (O(|Q|·candidates) evals) — codegen'd, same
  * policy as CosineQ8. */
case class PqCosine(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "array<float>",
      second.dataType -> "binary", third.dataType -> "array<double>")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(q: Any, code: Any, cb: Any): Any =
    Kernels.pqCosine(q.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]],
      cb.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, c, cb) => s"graft.functions.Kernels.pqCosine($q, $c, $cb)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqCosine = copy(f, s, t)
  override def prettyName: String = "graft_pq_cosine"
}

/** Asymmetric quantized cosine: (array<float> query, binary int8 codes,
  * array<double> lo, array<double> hi) -> double, dequantizing inside the
  * dot-product loop. This sits in the quantized-ANN rerank hot path
  * (O(|Q|·candidates) evals) — codegen'd static kernel call, same policy as
  * graft_cosine. */
case class CosineQ8(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "array<float>",
      second.dataType -> "binary",
      third.dataType -> "array<double>", fourth.dataType -> "array<double>")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(q: Any, code: Any, lo: Any, hi: Any): Any =
    Kernels.cosineQ8(q.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]],
      lo.asInstanceOf[ArrayData], hi.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (q, c, lo, hi) => s"graft.functions.Kernels.cosineQ8($q, $c, $lo, $hi)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): CosineQ8 = copy(f, s, t, q)
  override def prettyName: String = "graft_cosine_q8"
}

/** Encode PCM bytes as a canonical WAV file:
  * (binary, int sampleRate, int channels, int bitsPerSample) -> binary.
  * Fixture-side of the de-stubbed WAV modality (no media files ship in
  * this container, so payloads are built from corpus bytes) — the bytes it
  * emits are REAL RIFF/WAVE, parseable by any audio tool. */
case class WavBuild(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression
    with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, first.dataType -> "binary",
      second.dataType -> "int", third.dataType -> "int", fourth.dataType -> "int")
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(pcm: Any, sr: Any, ch: Any, bits: Any): Any =
    Kernels.wavBuild(pcm.asInstanceOf[Array[Byte]], sr.asInstanceOf[Int],
      ch.asInstanceOf[Int], bits.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): WavBuild = copy(f, s, t, q)
  override def prettyName: String = "graft_wav_build"
}

/** REAL WAV header decode (chunk-walking RIFF parser, pure JVM byte
  * arithmetic — the de-stubbed modality): binary -> struct, null for
  * invalid/truncated/non-PCM payloads. */
case class WavMetaExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_s", DoubleType, nullable = false)))
  override def nullSafeEval(v: Any): Any = {
    val m = Kernels.wavParse(v.asInstanceOf[Array[Byte]])
    if (m == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      m.channels, m.sampleRate, m.bitsPerSample, m.nSamples, m.durationS))
  }
  override protected def withNewChildInternal(c: Expression): WavMetaExpr = copy(child = c)
  override def prettyName: String = "graft_wav_meta"
}

/** 8-bit PCM sample stats over a WAV payload: binary -> array<bigint>
  * [n, sum, sumSq, peakDev] — the decode-side aggregate a real audio
  * pipeline computes per file (silence/clipping gates, loudness buckets),
  * over the same chunk walk as graft_wav_meta. */
case class WavStats8Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val a = Kernels.wavStats8(v.asInstanceOf[Array[Byte]])
    if (a == null) null else new GenericArrayData(a)
  }
  override protected def withNewChildInternal(c: Expression): WavStats8Expr = copy(child = c)
  override def prettyName: String = "graft_wav_stats8"
}

/** 16-bit signed LE PCM sample stats over a WAV payload: binary ->
  * array<bigint> [n, sum, sumSq, peakAbs] — the CD-depth companion of
  * graft_wav_stats8, same chunk walk, null for non-16-bit/odd/corrupt. */
case class WavStats16Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val a = Kernels.wavStats16(v.asInstanceOf[Array[Byte]])
    if (a == null) null else new GenericArrayData(a)
  }
  override protected def withNewChildInternal(c: Expression): WavStats16Expr = copy(child = c)
  override def prettyName: String = "graft_wav_stats16"
}

/** Stopword-profile language identification: string -> string lang code. */
case class LangId(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "string")
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = Kernels.langId(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
  override def prettyName: String = "graft_lang_id"
}

/** Rolling-hash (Rabin-Karp) document fingerprint: string -> long. */
case class RollingFingerprint(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"fingerprint k-gram size must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "string")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Kernels.rollingFingerprint(v.asInstanceOf[UTF8String], k)
  override protected def withNewChildInternal(c: Expression): RollingFingerprint = copy(child = c)
  override def prettyName: String = "graft_fingerprint"
}

/** Encode raw bytes as the pixel stream of a REAL uncompressed 24bpp BMP
  * (bottom-up rows, 4-byte stride padding): (binary, int width) -> binary.
  * Fixture-side of the de-stubbed image modality (no image files ship in
  * this container, so payloads are built from corpus bytes) — the bytes it
  * emits are a genuine DIB, openable by any image tool. */
case class BmpBuild(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, left.dataType -> "binary",
      right.dataType -> "int")
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(pix: Any, w: Any): Any =
    Kernels.bmpBuild(pix.asInstanceOf[Array[Byte]], w.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): BmpBuild = copy(left = l, right = r)
  override def prettyName: String = "graft_bmp_build"
}

/** REAL BMP header decode (fixed-offset DIB parser, pure JVM byte
  * arithmetic — the de-stubbed image modality): binary -> struct, null for
  * invalid/truncated/compressed payloads. */
case class BmpMetaExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.check(prettyName, child.dataType -> "binary")
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("bpp", IntegerType, nullable = false),
    StructField("stride", IntegerType, nullable = false),
    StructField("img_size", IntegerType, nullable = false),
    StructField("top_down", BooleanType, nullable = false)))
  override def nullSafeEval(v: Any): Any = {
    val m = Kernels.bmpParse(v.asInstanceOf[Array[Byte]])
    if (m == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      m.width, m.height, m.bpp, m.stride, m.imgSize, m.topDown))
  }
  override protected def withNewChildInternal(c: Expression): BmpMetaExpr = copy(child = c)
  override def prettyName: String = "graft_bmp_meta"
}

/** Range partition id: how many of the sorted `bounds` (array<struct>)
  * sort strictly below the row's struct `left`, ascending with nulls first
  * in every field — RangePartitioner's bucket search as a pure expression,
  * so every subtree that computes it agrees on a row's partition. Rows
  * equal in every field always share an id. Codegen'd: it runs once per
  * row of a lake-scale sweep. */
case class RangeBucket(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (a: StructType, ArrayType(b: StructType, _)) if a.map(_.dataType) == b.map(_.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a struct and an array of that struct, got $a / $b")
  }
  override def dataType: DataType = IntegerType
  @transient private lazy val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(left.dataType)
  override def nullSafeEval(row: Any, bounds: Any): Any = {
    val b = bounds.asInstanceOf[ArrayData]
    var (lo, hi) = (0, b.numElements())
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.compare(b.get(mid, left.dataType), row) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = left.dataType.asInstanceOf[StructType].length
    val Seq(lo, hi, mid) = Seq("lo", "hi", "mid").map(ctx.freshName)
    nullSafeCodeGen(ctx, ev, (row, b) =>
      s"""int $lo = 0, $hi = $b.numElements();
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if (${ctx.genComp(left.dataType, s"$b.getStruct($mid, $n)", row)} < 0) $lo = $mid + 1;
         |  else $hi = $mid;
         |}
         |${ev.value} = $lo;""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RangeBucket =
    copy(left = l, right = r)
  override def prettyName: String = "graft_range_bucket"
}

/** SQL registration so the operators are usable from both the DataFrame API
  * (via expr) and plain SQL — mirroring how the reference exposes its custom
  * expressions through the session catalog (reference
  * `DirectSessionCatalog.makeFunctionExpression`, cited for capability
  * parity, not design). */
object GraftFunctions {

  private def lit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal, got $e")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_minhash",
      es => MinHashSignature(es.head, lit(es(1), "numHashes").toInt,
        if (es.size > 2) lit(es(2), "seed") else 42L), "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash", es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cosine",
      es => CosineSimilarity(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_lang_id", es => LangId(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_fingerprint",
      es => RollingFingerprint(es.head, if (es.size > 1) lit(es(1), "k").toInt else 8), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_build",
      es => BmpBuild(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_meta",
      es => BmpMetaExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_chanstats",
      es => BmpChanStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_downsample2x",
      es => BmpDownsample2x(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_ahash",
      es => BmpAHash(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_mg_topk",
      es => MisraGriesTopK(es.head, lit(es(1), "capacity").toInt)
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("graft_topk_pairs",
      es => TopKPairs(es.head, es(1), lit(es(2), "k").toInt)
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("graft_intersect_size",
      es => SortedIntersectSize(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_strip_spans",
      es => StripSpans(es.head, es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_ndistinct",
      es => DistinctCount(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_hyperplane",
      es => HyperplaneSig(es.head, es(1), lit(es(2), "nbits").toInt), "scala_udf")
    reg.createOrReplaceTempFunction("graft_q8_encode",
      es => Q8Encode(es.head, es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cosine_q8",
      es => CosineQ8(es.head, es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_pq_encode",
      es => PqEncode(es.head, es(1), lit(es(2), "m").toInt), "scala_udf")
    reg.createOrReplaceTempFunction("graft_pq_cosine",
      es => PqCosine(es.head, es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_build",
      es => WavBuild(es.head, es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_meta",
      es => WavMetaExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_stats8",
      es => WavStats8Expr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_stats16",
      es => WavStats16Expr(es.head), "scala_udf")
  }
}
