package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{CcCandidates, CcValid, CdcChunks, CharShingles, ContentFp, CosineSimilarity, CountMinAgg, CountMinEstimate, DenylistHits, DenylistMask, DotProduct, DupNgramFrac, Hamming128, Int8Quantize, IvfPqEncode, L2Norm, MinHashBands, MinHashSig, PqAdc, PqEncode, Q8Dot, Q8Scale, Q8Sum, SignBands, SimHash64, SrpBands, StopwordHits, TopK, TopTokenFrac, Ulid, WordShingles, ZOrder2}

/** SparkSessionExtensions entry point: injects graft's native Catalyst
  * expressions into the SQL function registry, so `spark.sql` and
  * `call_function` can use them like built-ins (codegen included), plus
  * graft's optimizer rules, the physical [[ParameterizeLiterals]] rule and
  * the [[DriverCollect]] planner strategy.
  *
  * Register with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or post-hoc via [[GraftExtensions.registerFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    // physical only: a session built without the extension (the bare
    // Verify/Bench session) has no hook to add it later and keeps its plans
    ext.injectColumnar(_ => ParameterizeLiterals.Hook)
    ext.injectPlannerStrategy(_ => DriverCollect)
  }
}

object GraftExtensions {
  /** graft's Catalyst rewrites, in the order they are installed. */
  val optimizerRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    Seq(FuseCosine, MetricPrefixPruning, LocalSort)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def litFloatArray(e: Expression, what: String): Array[Float] = e match {
    case Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
      ad.toFloatArray()
    case other => throw new IllegalArgumentException(
      s"$what must be an array<float> literal, got $other")
  }

  private def litDoubleArray(e: Expression, what: String): Array[Double] = e match {
    case Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
      ad.toDoubleArray()
    case other => throw new IllegalArgumentException(
      s"$what must be an array<double> literal, got $other")
  }

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", info("cosine_sim", "cosine similarity of two array<float>"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    ("dot_product", info("dot_product", "dot product of two array<float>"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("l2_norm", info("l2_norm", "L2 norm of an array<float>"),
      (args: Seq[Expression]) => L2Norm(args(0))),
    ("q8_scale", info("q8_scale", "symmetric int8 quantization scale of an array<float>"),
      (args: Seq[Expression]) => Q8Scale(args(0))),
    ("int8_quantize", info("int8_quantize", "int8 code vector of an array<float>"),
      (args: Seq[Expression]) => Int8Quantize(args(0))),
    ("q8_sum", info("q8_sum", "sum of the int8 codes of an array<float>"),
      (args: Seq[Expression]) => Q8Sum(args(0))),
    ("q8_dot", info("q8_dot", "exact integer dot product of two int8 code vectors"),
      (args: Seq[Expression]) => Q8Dot(args(0), args(1))),
    ("zorder2", info("zorder2", "62-bit Morton code of two non-negative bigint keys"),
      (args: Seq[Expression]) => ZOrder2(args(0), args(1))),
    ("sign_bands", info("sign_bands", "axis-sign LSH band buckets of an array<float>"),
      (args: Seq[Expression]) => SignBands(args(0),
        litInt(args(1), "sign_bands bands"), litInt(args(2), "sign_bands bits"))),
    ("srp_bands", info("srp_bands", "signed-random-projection LSH band buckets of an array<float>"),
      (args: Seq[Expression]) => SrpBands(args(0),
        litInt(args(1), "srp_bands bands"), litInt(args(2), "srp_bands bits"))),
    ("simhash64", info("simhash64", "64-bit SimHash of an array<string> of tokens"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    ("minhash_sig", info("minhash_sig", "k-permutation MinHash signature of array<string>"),
      (args: Seq[Expression]) => MinHashSig(args(0), litInt(args(1), "minhash_sig k"))),
    ("content_fp", info("content_fp", "polynomial rolling-hash content fingerprint"),
      (args: Seq[Expression]) => ContentFp(args(0))),
    ("char_shingles", info("char_shingles", "distinct n-char shingles of text"),
      (args: Seq[Expression]) => CharShingles(args(0), litInt(args(1), "char_shingles n"))),
    ("word_shingles", info("word_shingles", "distinct n-word shingles of text"),
      (args: Seq[Expression]) => WordShingles(args(0), litInt(args(1), "word_shingles n"))),
    ("cdc_chunks", info("cdc_chunks", "content-defined chunk texts (token-level Gear CDC)"),
      (args: Seq[Expression]) => CdcChunks(args(0), litInt(args(1), "cdc_chunks divisor"))),
    ("minhash_bands", info("minhash_bands", "LSH band hashes of the MinHash signature"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        litInt(args(1), "minhash_bands k"), litInt(args(2), "minhash_bands bands"))),
    // the reference's `a @ b` Hamming-distance operator by name
    // (README.md "Metrics"): composes built-in codegen expressions
    ("hamming64", info("hamming64", "Hamming distance between two 64-bit hashes"),
      (args: Seq[Expression]) => BitwiseCount(BitwiseXor(args(0), args(1)))),
    // the same `@` operator over binary(16) — the UINT128 metric-key type
    ("hamming128", info("hamming128", "Hamming distance between two equal-length binary values"),
      (args: Seq[Expression]) => Hamming128(args(0), args(1))),
    ("top_token_frac", info("top_token_frac", "fraction of tokens taken by the most frequent token"),
      (args: Seq[Expression]) => TopTokenFrac(args(0))),
    ("stopword_hits", info("stopword_hits", "count of tokens in the English stopword lexicon"),
      (args: Seq[Expression]) => StopwordHits(args(0))),
    ("denylist_hits", info("denylist_hits", "count of tokens in the policy denylist"),
      (args: Seq[Expression]) => DenylistHits(args(0))),
    ("denylist_mask", info("denylist_mask", "text with denylisted tokens masked as [X]"),
      (args: Seq[Expression]) => DenylistMask(args(0))),
    ("cc_candidates", info("cc_candidates", "count of 13-19-digit maximal runs (PAN-shaped)"),
      (args: Seq[Expression]) => CcCandidates(args(0))),
    ("cc_valid", info("cc_valid", "count of PAN-shaped runs passing the Luhn checksum"),
      (args: Seq[Expression]) => CcValid(args(0))),
    ("dup_ngram_frac", info("dup_ngram_frac", "fraction of repeated consecutive word n-grams"),
      (args: Seq[Expression]) => DupNgramFrac(args(0), litInt(args(1), "dup_ngram_frac n"))),
    ("top_k", info("top_k", "k largest struct values per group, bounded-heap aggregate"),
      (args: Seq[Expression]) => TopK(args(0), args(1))),
    // Spark's runtime-filter bloom sketch pair, surfaced as callable
    // functions: bloom_agg(xxhash64(col), estItems, numBits) builds the
    // sketch (partial-combined, BinaryType result), bloom_might_contain
    // probes it. The probe side requires a foldable/scalar-subquery bloom
    // (BloomFilterMightContain's own type check), which is exactly the
    // one-pass "build once, probe everywhere" shape we want.
    ("bloom_agg", info("bloom_agg", "bloom filter sketch of a group of xxhash64 longs"),
      (args: Seq[Expression]) => new BloomFilterAggregate(args(0), args(1), args(2))),
    ("bloom_might_contain", info("bloom_might_contain", "probe a bloom_agg sketch for a long hash"),
      (args: Seq[Expression]) => BloomFilterMightContain(args(0), args(1))),
    // count-min pair, same build/probe split as the bloom pair
    ("cms_agg", info("cms_agg", "count-min sketch grid of a group of strings (depth, width literals)"),
      (args: Seq[Expression]) => CountMinAgg(args(0), args(1), args(2))),
    ("cms_estimate", info("cms_estimate", "probe a cms_agg sketch for a string's estimated count"),
      (args: Seq[Expression]) => CountMinEstimate(args(0), args(1),
        litInt(args(2), "cms_estimate width"))),
    ("ulid", info("ulid", "generate a ULID (Crockford base32, time-ordered)"),
      (args: Seq[Expression]) => { require(args.isEmpty, "ulid() takes no arguments"); Ulid() }),
    // PQ family: the fitted model arrives as flattened array literals —
    // a plan CONSTANT, same idea as litInt — so the encode/ADC hot loops
    // are map-only codegen over codes (see functions/PqExpressions.scala)
    ("pq_encode", info("pq_encode", "PQ codebook codes of an array<float> (books, k, dsub literals)"),
      (args: Seq[Expression]) => PqEncode(args(0),
        litFloatArray(args(1), "pq_encode books"),
        litInt(args(2), "pq_encode k"), litInt(args(3), "pq_encode dsub"))),
    ("ivfpq_encode", info("ivfpq_encode", "IVFPQ row struct(cluster_id, residual codes) of an array<float>"),
      (args: Seq[Expression]) => IvfPqEncode(args(0),
        litFloatArray(args(1), "ivfpq_encode centers"), litInt(args(2), "ivfpq_encode dim"),
        litFloatArray(args(3), "ivfpq_encode books"),
        litInt(args(4), "ivfpq_encode k"), litInt(args(5), "ivfpq_encode dsub"))),
    ("pq_adc", info("pq_adc", "ADC score of PQ codes against a probe LUT literal"),
      (args: Seq[Expression]) => PqAdc(args(0),
        litDoubleArray(args(1), "pq_adc lut"), litInt(args(2), "pq_adc k"))),
    // TRY-mode cast for the dialect's TRY_CAST: NULL on conversion
    // failure instead of the session's ANSI runtime error. Catalyst's
    // own Cast with EvalMode.TRY -- same codegen as a built-in cast;
    // registered as a function because try_cast is parser syntax in
    // Spark SQL, not a registry entry the lowering could call.
    ("graft_try_cast", info("graft_try_cast", "cast that yields NULL instead of an ANSI error"),
      (args: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.Cast(
        args(0),
        org.apache.spark.sql.types.DataType.fromDDL(litString(args(1), "graft_try_cast type")),
        None, org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
  )

  /** Post-hoc registration for sessions built without the extension
    * (the driver's Verify/Bench harness builds a bare session).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    definitions.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
