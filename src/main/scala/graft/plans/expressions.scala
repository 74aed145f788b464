package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** Custom Catalyst expressions for the signature kernels: native
  * `doGenCode` implementations (a generated static call into
  * `HashKernels`) so signatures stay inside whole-stage codegen —
  * measured ~50x faster than the equivalent higher-order
  * `aggregate`/`filter` lambda expressions, which Spark interprets per
  * element.
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleSize: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // the kernel returns null for shingle-less docs even when input is non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val sig = HashKernels.minhash(input.asInstanceOf[UTF8String].toString,
      numHashes, shingleSize, seed)
    if (sig == null) null else new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      s"""
         |long[] $sig = $kernel.minhash($c.toString(), $numHashes, $shingleSize, ${seed}L);
         |if ($sig == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev, c => s"$kernel.simhash($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Jaccard estimate from two minhash signatures: fraction of agreeing
  * positions, as one fused codegen'd loop (`HashKernels.sigAgreement`).
  */
case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sig_agreement expects array<bigint> inputs, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sigAgreement(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // static forwarders
    defineCodeGen(ctx, ev, (a, b) => s"$kernel.sigAgreement($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreement =
    copy(left = l, right = r)
  override def prettyName: String = "sig_agreement"
}

/** Byte-stride downsample of a binary payload (`HashKernels.strideSample`):
  * a single-pass, O(len) construction — the codegen replacement for the
  * quadratic per-byte `aggregate`/`concat` formulation.
  */
case class ByteStride(child: Expression, targetBytes: Int) extends UnaryExpression {
  require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"byte_stride expects binary, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.strideSample(input.asInstanceOf[Array[Byte]], targetBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev, c => s"$kernel.strideSample($c, $targetBytes)")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteStride =
    copy(child = newChild)
  override def prettyName: String = "byte_stride"
}

/** Per-band 64-bit folds of a minhash signature
  * (`HashKernels.bandFolds`): the compact LSH banding join key — one
  * long per band rides the shuffle instead of the `rowsPerBand`-long
  * raw slice. Pairs with `BandAgree` for the exact post-join check.
  */
case class BandFolds(child: Expression, rowsPerBand: Int) extends UnaryExpression {
  require(rowsPerBand > 0, s"rowsPerBand must be positive, got $rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"band_folds expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashKernels.bandFolds(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], rowsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$kernel.bandFolds($c, $rowsPerBand))")
  }

  override protected def withNewChildInternal(newChild: Expression): BandFolds =
    copy(child = newChild)
  override def prettyName: String = "band_folds"
}

/** Exact LSH banding predicate (`HashKernels.bandAgree`): true iff two
  * signatures agree on at least one full `rowsPerBand` slice. Filters
  * fold-collision pairs after a `BandFolds` join, keeping the candidate
  * set bit-identical to a raw-slice join.
  */
case class BandAgree(left: Expression, right: Expression, rowsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(rowsPerBand > 0, s"rowsPerBand must be positive, got $rowsPerBand")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"band_agree expects array<bigint> inputs, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.bandAgree(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // static forwarders
    defineCodeGen(ctx, ev, (a, b) => s"$kernel.bandAgree($a, $b, $rowsPerBand)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BandAgree =
    copy(left = l, right = r)
  override def prettyName: String = "band_agree"
}

/** L1-normalized `bins`-bin byte-value histogram of a binary payload
  * (`HashKernels.byteHistogram`): the codegen feature-extraction stub for
  * multimodal columns — keeps `Multimodal.decodeFeatures` inside
  * whole-stage codegen instead of an RDD Row round-trip that
  * deserializes every sibling column.
  */
case class ByteHistogram(child: Expression, bins: Int) extends UnaryExpression {
  require(bins > 0 && bins <= 256, s"bins must be in 1..256, got $bins")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"byte_histogram expects binary, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.byteHistogram(input.asInstanceOf[Array[Byte]], bins))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$kernel.byteHistogram($c, $bins))")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
  override def prettyName: String = "byte_histogram"
}

/** REAL media decode: `binary -> struct<kind string, d1 long, d2 long,
  * feature array<double>>` ([[MediaKernels.decodeMedia]]) — parses
  * 24-bit BMP and 16-bit PCM WAV payloads in one codegen call and
  * falls back to the 4-bin byte histogram (`kind = "raw"`) for
  * anything else, so the projection is total and never throws on
  * corrupt payloads (the 100 TB ingest contract).
  */
case class MediaDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("feature", ArrayType(DoubleType, containsNull = false),
      nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"decode_media expects binary, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MediaKernels.decodeMedia(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = MediaKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.decodeMedia($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MediaDecode =
    copy(child = newChild)
  override def prettyName: String = "decode_media"
}

/** Deterministic real-format media payload for a doc id
  * ([[MediaKernels.syntheticPayload]]): `long -> binary` — even ids a
  * 24-bit BMP, odd ids a PCM WAV, pixel/sample values a fixed formula
  * of (id, position) the differential oracle replays in SQL. Test/
  * fixture surface for the multimodal family (real pipelines read
  * payload columns from storage instead).
  */
case class SyntheticMedia(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"synthetic_media expects bigint, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MediaKernels.syntheticPayload(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = MediaKernels.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$kernel.syntheticPayload($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SyntheticMedia =
    copy(child = newChild)
  override def prettyName: String = "synthetic_media"
}

/** Sorted distinct char n-grams packed into longs
  * (`HashKernels.packedNgrams`): the primitive-array form of
  * `TextFunctions.charShingles` for n ≤ 3, exact by injective
  * code-point packing (21 bits each). Pairs with `SortedInterCount`
  * for allocation-free jaccard.
  */
case class CharNgramSet(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 3, s"char_ngram_set supports n in 1..3, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_ngram_set expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.packedNgrams(input.asInstanceOf[UTF8String].toString, n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders — Janino cannot resolve MODULE$
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$kernel.packedNgrams($c.toString(), $n))")
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgramSet =
    copy(child = newChild)
  override def prettyName: String = "char_ngram_set"
}

/** Intersection size of two sorted distinct long arrays — one fused
  * merge pass (`HashKernels.sortedInterCount`); the jaccard numerator
  * for `CharNgramSet` shingle sets (union size follows from
  * |a| + |b| − |a∩b|, so no union array is ever built).
  */
case class SortedInterCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_count expects array<bigint> inputs, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sortedInterCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // static forwarders
    defineCodeGen(ctx, ev, (a, b) => s"$kernel.sortedInterCount($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_inter_count"
}

/** `TextFunctions.tokens` as a codegen'd kernel call
  * (`TextKernels.tokensOf`): lower + ASCII-whitespace run scan over raw
  * UTF-8 bytes, no interpreted `filter` lambda and no java.lang.String
  * round-trip. Feeds every tokenizing operator; parity with the Column
  * form is differential-tested (`ExpressionsSpec`) and oracle-pinned.
  */
case class TokensOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.tokensOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.tokensOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokensOf =
    copy(child = newChild)
  override def prettyName: String = "tokens_of"
}

/** `string -> long`: the first `nHex` hex digits of md5 as an unsigned
  * long — the fused form of the engine-portable hash-draw spelling
  * `conv(substring(md5(x), 1, nHex), 16, 10)::long` that DSIR
  * bucketing, weighted sampling, shard routing and the k-means||
  * coin flips all use. Same md5 arithmetic, same value
  * ([[HashKernels.md5PrefixLong]], differential-pinned in
  * `TextKernelsSpec`); skips the per-row 32-char hex string, the
  * substring copy and conv's base-16 string parse (~70% of the
  * per-(doc, token) stream cost in the DSIR scans — OPTIMIZATION_r11.md §8).
  */
case class Md5PrefixLong(child: Expression, nHex: Int)
    extends UnaryExpression {
  require(nHex > 0 && nHex <= 15, s"nHex must be in 1..15, got $nHex")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix_long expects string, got $dt")
    }

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.md5PrefixLong(input.asInstanceOf[UTF8String], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = HashKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.md5PrefixLong($c, $nHex)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
  override def prettyName: String = "md5_prefix_long"
}

/** Unicode NFC normalization as a codegen kernel call
  * (`TextKernels.nfcNormalize`): canonical composition so that visually
  * identical strings hash/dedup/tokenize identically — the first step
  * of every text-curation pipeline. Already-normalized rows (the
  * overwhelming majority) pass through zero-copy.
  */
case class NfcNormalizeOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfcNormalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.nfcNormalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeOf =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** Count of non-overlapping matches of a constant regex — replaces
  * `size(regexp_extract_all(text, pattern))`, which materializes the
  * whole match array to read its length. Same `java.util.regex` engine
  * as Spark's regexp functions (counts identical by construction); the
  * compiled Pattern ships to codegen as a reference object.
  */
case class RegexCountOf(child: Expression, pattern: String)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.regexCount(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    val pRef = ctx.addReferenceObj("pattern", compiled, "java.util.regex.Pattern")
    defineCodeGen(ctx, ev, c => s"$kernel.regexCount($c, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexCountOf =
    copy(child = newChild)
  override def prettyName: String = "regex_count"
}

/** Per-document `(token, tf)` pairs as a codegen'd kernel call
  * (`TextKernels.tokenTf`): tokenize + per-doc count in one pass, no
  * shuffle — the document is the group. Exploding this is the
  * scale-correct input to corpus-frequency aggregations: volume is
  * per-doc DISTINCT terms, not total token instances.
  */
case class TokenTfOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.tokenTf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.tokenTf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenTfOf =
    copy(child = newChild)
  override def prettyName: String = "token_tf"
}

/** Distinct word n-gram shingles as a codegen'd kernel call
  * (`TextKernels.wordShingles`/`wordShinglesText`): accepts raw text
  * (tokenizes internally) or a pre-tokenized `array<string>`. Replaces
  * the interpreted `array_distinct(transform(sequence, slice,
  * concat_ws))` pipeline; first-occurrence order preserved.
  */
case class WordShinglesOf(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle size must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def isText = child.dataType == StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles expects string or array<string>, got $dt")
    }

  override protected def nullSafeEval(input: Any): Any =
    if (isText) TextKernels.wordShinglesText(input.asInstanceOf[UTF8String], n)
    else TextKernels.wordShingles(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    val fn = if (isText) "wordShinglesText" else "wordShingles"
    defineCodeGen(ctx, ev, c => s"$kernel.$fn($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesOf =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** Distinct character n-gram shingles (code-point windows) as a
  * codegen'd kernel call — the `array_distinct(transform(sequence,
  * substr))` pipeline fused.
  */
case class CharShinglesOf(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle size must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.charShingles($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): CharShinglesOf =
    copy(child = newChild)
  override def prettyName: String = "char_shingles"
}

/** Language-ID of raw text as ONE codegen'd kernel call
  * (`TextKernels.langIdText`): tokenize + marker-scoring + argmax fused,
  * replacing the interpreted higher-order `aggregate` form (Spark
  * evaluates lambda expressions per element with no codegen). Exact
  * semantic parity with `TextFunctions.langIdOfTokens(tokens(text))` is
  * spec-pinned (`ExpressionsSpec`), and the DuckDB oracle pins it
  * cross-engine.
  */
case class LangIdOf(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  @transient private lazy val bitsMap: java.util.HashMap[String, Integer] =
    TextKernels.buildMarkerBits(markers.map(_._2.toArray).toArray)
  @transient private lazy val langsArr: Array[String] = markers.map(_._1).toArray

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.langIdText(input.asInstanceOf[UTF8String], bitsMap, langsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    val bitsRef = ctx.addReferenceObj("markerBits", bitsMap, "java.util.HashMap")
    val langsRef = ctx.addReferenceObj("langs", langsArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"$kernel.langIdText($c, $bitsRef, $langsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdOf =
    copy(child = newChild)
  override def prettyName: String = "lang_id_of"
}

/** Gopher quality signals `[n_tok, total_len, n_alpha, n_stop]` as one
  * codegen'd kernel pass (`TextKernels.gopherStatsText/Tokens`). Accepts
  * raw text (StringType — tokenizes internally, the fast path) or a
  * pre-tokenized `array<string>` (the composable form). The ratio
  * rounding and verdict thresholds deliberately stay OUTSIDE in Column
  * land so the filtering and signal-column forms share arithmetic.
  */
/** Code-point entropy signal: `string -> struct<n_cp long,
  * n_distinct long, entropy double>` — one fused pass
  * ([[TextKernels.charEntropy]]). High entropy flags random/binary
  * junk, near-zero flags repetition.
  */
case class CharEntropyOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_cp", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_entropy expects string, got $dt")
    }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    defineCodeGen(ctx, ev, c => s"$kernel.charEntropy($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropyOf =
    copy(child = newChild)
  override def prettyName: String = "char_entropy"
}

case class GopherStats(child: Expression, stopWords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def isText = child.dataType == StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gopher_stats expects string or array<string>, got $dt")
    }

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  override protected def nullSafeEval(input: Any): Any = {
    val stats =
      if (isText) TextKernels.gopherStatsText(input.asInstanceOf[UTF8String], stopSet)
      else TextKernels.gopherStatsTokens(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], stopSet)
    new GenericArrayData(stats)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = TextKernels.getClass.getName.stripSuffix("$") // mirror-class static forwarders
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    val fn = if (isText) "gopherStatsText" else "gopherStatsTokens"
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData($kernel.$fn($c, $stopRef))")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
  override def prettyName: String = "gopher_stats"
}

/** Optimizer barrier: evaluates `child` exactly once per row.
  *
  * A `withColumn` alias is substituted back into every downstream
  * reference by `CollapseProject`/predicate pushdown — an expensive
  * computed column consumed by both a filter and the output projection
  * runs TWICE per row. Declaring the wrapper [[Nondeterministic]] makes
  * that substitution illegal (Catalyst never duplicates or reorders
  * non-deterministic expressions), so the project node that computes the
  * value survives optimization intact and downstream operators read the
  * attribute. Unlike a Generate/explode barrier there is no per-row
  * UnsafeRow copy — `doGenCode` forwards to the child, so the value is
  * computed inline in the same whole-stage-codegen stage (measured: the
  * explode(array(e)) barrier costs ~0.2 s at sf0.1 on the stratified
  * sampler; this costs nothing).
  *
  * The wrapped expression MUST itself be deterministic (we only lie to
  * the optimizer about scheduling, never about values): enforced at
  * construction.
  */
case class EvalOnce(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Nondeterministic {
  require(child.deterministic,
    "EvalOnce wraps deterministic expressions only — for genuinely " +
      "non-deterministic children the barrier is already implied")

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): EvalOnce =
    copy(child = newChild)
  override def prettyName: String = "eval_once"
}

/** Column-API wrappers. */
object GraftFunctions {
  def minhash_sig(text: Column, numHashes: Int = 64, shingleSize: Int = 3,
                  seed: Long = 13L): Column =
    GraftBridge.column(
      MinHashSig(GraftBridge.expression(text), numHashes, shingleSize, seed))

  def simhash64(text: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(text)))

  def byte_stride(payload: Column, targetBytes: Int): Column =
    GraftBridge.column(ByteStride(GraftBridge.expression(payload), targetBytes))

  def sig_agreement(a: Column, b: Column): Column =
    GraftBridge.column(SigAgreement(GraftBridge.expression(a), GraftBridge.expression(b)))

  def char_ngram_set(text: Column, n: Int): Column =
    GraftBridge.column(CharNgramSet(GraftBridge.expression(text), n))

  def sorted_inter_count(a: Column, b: Column): Column =
    GraftBridge.column(SortedInterCount(GraftBridge.expression(a), GraftBridge.expression(b)))

  def byte_histogram(payload: Column, bins: Int = 16): Column =
    GraftBridge.column(ByteHistogram(GraftBridge.expression(payload), bins))

  def band_folds(sig: Column, rowsPerBand: Int): Column =
    GraftBridge.column(BandFolds(GraftBridge.expression(sig), rowsPerBand))

  def band_agree(a: Column, b: Column, rowsPerBand: Int): Column =
    GraftBridge.column(BandAgree(GraftBridge.expression(a),
      GraftBridge.expression(b), rowsPerBand))

  def tokens_of(text: Column): Column =
    GraftBridge.column(TokensOf(GraftBridge.expression(text)))

  def nfc_normalize(text: Column): Column =
    GraftBridge.column(NfcNormalizeOf(GraftBridge.expression(text)))

  def md5_prefix_long(s: Column, nHex: Int): Column =
    GraftBridge.column(Md5PrefixLong(GraftBridge.expression(s), nHex))

  def pq_encode(vec: Column, cb: Array[Double], m: Int, subDim: Int,
                k: Int): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), cb, m, subDim, k))

  def pq_adc(codes: Column, table: Array[Double], k: Int): Column =
    GraftBridge.column(PqAdc(GraftBridge.expression(codes), table, k))

  def pq_adc_batch(codes: Column, tables: Array[Double], nQueries: Int,
                   k: Int): Column =
    GraftBridge.column(PqAdcBatch(GraftBridge.expression(codes), tables,
      nQueries, k))

  def pq_adc_at(codes: Column, qidx: Column, tables: Array[Double],
                k: Int): Column =
    GraftBridge.column(PqAdcAt(GraftBridge.expression(codes),
      GraftBridge.expression(qidx), tables, k))

  def bloom_contains(key: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftBridge.column(BloomContains(GraftBridge.expression(key), bloom))

  def token_tf(text: Column): Column =
    GraftBridge.column(TokenTfOf(GraftBridge.expression(text)))

  def regex_count(text: Column, pattern: String): Column =
    GraftBridge.column(RegexCountOf(GraftBridge.expression(text), pattern))

  def word_shingles(textOrTokens: Column, n: Int): Column =
    GraftBridge.column(WordShinglesOf(GraftBridge.expression(textOrTokens), n))

  def char_shingles(text: Column, n: Int): Column =
    GraftBridge.column(CharShinglesOf(GraftBridge.expression(text), n))

  def lang_id_of(text: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftBridge.column(LangIdOf(GraftBridge.expression(text), markers))

  def gopher_stats(textOrTokens: Column, stopWords: Seq[String]): Column =
    GraftBridge.column(GopherStats(GraftBridge.expression(textOrTokens), stopWords))
  def char_entropy(text: Column): Column =
    GraftBridge.column(CharEntropyOf(GraftBridge.expression(text)))

  def decode_media(payload: Column): Column =
    GraftBridge.column(MediaDecode(GraftBridge.expression(payload)))

  def synthetic_media(id: Column): Column =
    GraftBridge.column(SyntheticMedia(GraftBridge.expression(id)))
}

/** SQL-surface registration: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) exposes the kernels as SQL
  * functions `minhash_sig(text[, k, n, seed])` and `simhash64(text)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      GraftExtensions.minhashBuilder))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      GraftExtensions.simhashBuilder))
    ext.injectFunction((
      new FunctionIdentifier("byte_stride"),
      new ExpressionInfo(classOf[ByteStride].getName, "byte_stride"),
      GraftExtensions.byteStrideBuilder))
    ext.injectFunction((
      new FunctionIdentifier("byte_histogram"),
      new ExpressionInfo(classOf[ByteHistogram].getName, "byte_histogram"),
      GraftExtensions.byteHistogramBuilder))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeOf].getName, "nfc_normalize"),
      GraftExtensions.nfcNormalizeBuilder))
    ext.injectFunction((
      new FunctionIdentifier("topn_smallest"),
      new ExpressionInfo(classOf[TopNSmallestByKey].getName, "topn_smallest"),
      GraftExtensions.topnSmallestBuilder))
  }
}

object GraftExtensions {
  // SQL-surface argument extraction: every malformed call (wrong arity,
  // NULL or non-numeric literal) must surface as a descriptive
  // IllegalArgumentException, not a raw IndexOutOfBounds/NPE/NumberFormat
  private def intLiteral(fn: String, args: Seq[Expression], i: Int,
                         default: Option[Long]): Long = {
    if (args.length <= i) default.getOrElse(throw new IllegalArgumentException(
      s"$fn requires at least ${i + 1} arguments, got ${args.length}"))
    else args(i) match {
      case Literal(v, _) if v != null =>
        try v.toString.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$fn argument $i must be an integer literal, got '$v'")
        }
      case other => throw new IllegalArgumentException(
        s"$fn argument $i must be a non-null integer literal, got $other")
    }
  }

  // .toInt on an out-of-range Long would silently truncate (e.g.
  // byte_stride(p, 2^32+1) -> stride target 1) — range-check first
  private def checkedInt(fn: String, args: Seq[Expression], i: Int,
                         default: Option[Long]): Int = {
    val v = intLiteral(fn, args, i, default)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new IllegalArgumentException(
        s"$fn argument $i out of Int range: $v")
    v.toInt
  }

  val minhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.nonEmpty, "minhash_sig requires a text argument")
    MinHashSig(args.head,
      checkedInt("minhash_sig", args, 1, Some(64)),
      checkedInt("minhash_sig", args, 2, Some(3)),
      intLiteral("minhash_sig", args, 3, Some(13)))
  }
  val simhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.nonEmpty, "simhash64 requires a text argument")
    SimHash64(args.head)
  }
  val byteStrideBuilder: Seq[Expression] => Expression = { args =>
    require(args.nonEmpty, "byte_stride requires a payload argument")
    ByteStride(args.head, checkedInt("byte_stride", args, 1, None))
  }
  val byteHistogramBuilder: Seq[Expression] => Expression = { args =>
    require(args.nonEmpty, "byte_histogram requires a payload argument")
    ByteHistogram(args.head, checkedInt("byte_histogram", args, 1, Some(16)))
  }
  val nfcNormalizeBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "nfc_normalize requires exactly one text argument")
    NfcNormalizeOf(args.head)
  }
  // returns the raw AggregateFunction: the analyzer (ResolveFunctions)
  // wraps registered aggregates in AggregateExpression itself, exactly
  // as for built-in SQL aggregates
  val topnSmallestBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      "topn_smallest requires (key string, id bigint, n int-literal)")
    TopNSmallestByKey(args(0), args(1),
      checkedInt("topn_smallest", args, 2, None))
  }
}
