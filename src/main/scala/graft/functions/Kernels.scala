package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One codegen kernel: a static method on a kernel object, called per
  * row through Spark's `StaticInvoke`. Whole-stage codegen emits the
  * direct static call; the interpreted path calls the same method by
  * reflection, so each kernel has exactly one implementation.
  *
  * Arguments are the column inputs, each cast to its `inputs` type,
  * then the plan constants: `Int`/`Long` become literals inlined into
  * the generated source, anything else (codebooks, LUTs, centroid
  * tables, word lists) an `ObjectType` literal, which codegen passes by
  * reference, so the source is the same for every value.
  *
  * Every kernel returns null for a null input. `returnNullable` marks
  * the kernels that also return null for non-null input; for the rest
  * `nullable` is the inputs' nullability, as written schemas expect.
  * `ok` validates the constants when the call is built. */
final case class Kernel(
    name: String,
    obj: AnyRef,
    method: String,
    dataType: DataType,
    inputs: Seq[String],
    returnNullable: Boolean = false,
    sql: Option[KernelSql] = None,
    ok: Seq[Any] => Boolean = _ => true) {

  /** The kernel over `args`: `Column`s first, in `inputs` order, then
    * constants. */
  def apply(args: Any*): Column = {
    val (cols, consts) = args.splitAt(inputs.length)
    Bridge.column(call(cols.zip(inputs).map {
      case (c: Column, t) => Bridge.expression(c.cast(t))
      case (c, _) => throw new IllegalArgumentException(s"$name: $c is not a column")
    }, consts))
  }

  /** The kernel over input expressions already of the `inputs` types. */
  def call(in: Seq[Expression], consts: Seq[Any]): Expression = {
    require(ok(consts), s"$name: invalid constants $consts")
    StaticInvoke(obj.getClass, dataType, method, in ++ consts.map(Kernel.constant),
      returnNullable = returnNullable)
  }
}

/** SQL surface of a kernel: function name, usage line and how many
  * integer-literal arguments follow its column inputs. */
final case class KernelSql(name: String, usage: String, intArgs: Int = 0)

object Kernel {
  def constant(v: Any): Expression = v match {
    case i: Int => Literal(i)
    case l: Long => Literal(l)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }
}

/** A word list as one plan constant: equal lists are equal constants
  * (plan equality, cache lookups and exchange reuse see the words), and
  * the forms the kernels read are built once per deserialized copy. */
final case class Words(words: Seq[String]) {
  @transient lazy val utf8: Array[UTF8String] = words.map(UTF8String.fromString).toArray
  @transient lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    utf8.foreach(s.add)
    s
  }
}

/** A long vector as one plan constant (see [[Words]]). */
final case class Longs(values: Seq[Long]) {
  @transient lazy val array: Array[Long] = values.toArray
}

/** An IVF coarse quantizer as one plan constant (see [[Words]]):
  * centroid ids and vectors, driver-collected and tiny by definition. */
final case class Centroids(cids: Seq[Long], cvecs: Seq[Seq[Double]]) {
  require(cids.nonEmpty && cids.length == cvecs.length)
  @transient lazy val cidArray: Array[Long] = cids.toArray
  @transient lazy val cvecArray: Array[Array[Double]] = cvecs.map(_.toArray).toArray
}

/** The kernel table: every codegen kernel of the engine, one row each.
  * The typed helpers (`VectorFunctions`, `HashFunctions`,
  * `TextFunctions`, `PqFunctions`, `EmbedFunctions`, `operators.Pii`)
  * call these rows, and [[graft.GraftExtensions]] registers the rows
  * that carry a [[KernelSql]]. */
object Kernels {
  private val Vec = "array<double>"
  private val Mat = "array<array<double>>"
  private val LongArr = "array<bigint>"
  private val StrArr = "array<string>"
  private val Str = "string"

  private def strict(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val Strings = ArrayType(StringType, containsNull = false)

  // ---- vectors ----------------------------------------------------------

  val dot = Kernel("dot_product", VectorKernels, "dot", DoubleType, Seq(Vec, Vec),
    sql = Some(KernelSql("graft_dot", "graft_dot(a, b) - dot product of two double arrays")))
  val cosine = Kernel("cosine_sim", VectorKernels, "cosine", DoubleType, Seq(Vec, Vec),
    sql = Some(KernelSql("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two double arrays")))
  val maxsim = Kernel("maxsim", MaxSim, "maxsim", DoubleType, Seq(Mat, Mat),
    sql = Some(KernelSql("graft_maxsim",
      "graft_maxsim(q, d) - ColBERT/ColPali MaxSim of two patch matrices")))
  val packF32 = Kernel("pack_f32", MaxSim, "packMatrix", BinaryType, Seq(Mat),
    sql = Some(KernelSql("graft_pack_f32",
      "graft_pack_f32(patches, dim) - row-major float32 binary packing of a patch matrix", 1)),
    ok = { case Seq(dim: Int) => dim > 0 })
  val maxsimF32 = Kernel("maxsim_f32", MaxSim, "maxsimF32", DoubleType, Seq(Mat, "binary"),
    sql = Some(KernelSql("graft_maxsim_f32",
      "graft_maxsim_f32(q, packed, dim) - MaxSim against a pack_f32 binary cell", 1)),
    ok = { case Seq(dim: Int) => dim > 0 })
  val reshapeRows = Kernel("reshape_rows", ReshapeRowsKernel, "eval",
    ArrayType(ArrayType(DoubleType), containsNull = false), Seq(Vec),
    ok = { case Seq(rows: Int, width: Int) => rows >= 1 && width >= 1 })
  val hyperplaneBuckets = Kernel("hyperplane_buckets", VectorKernels, "hyperplaneBuckets",
    ArrayType(LongType, containsNull = false), Seq(Vec),
    sql = Some(KernelSql("graft_hyperplane_buckets",
      "graft_hyperplane_buckets(vec, tables, bits) - LSH bucket ids per table", 2)),
    ok = { case Seq(tables: Int, bits: Int) => tables > 0 && bits > 0 && bits <= 62 })
  val ivfAssign = Kernel("ivf_assign", IvfAssignKernel, "assign",
    strict("cdot" -> DoubleType, "cid" -> LongType), Seq(Vec))
  val dotI64 = Kernel("dot_i64", DotI64Kernel, "eval", LongType, Seq(LongArr),
    returnNullable = true)
  val featureHashEmbed = Kernel("feature_hash_embed", VectorKernels, "featureHashEmbed",
    ArrayType(DoubleType, containsNull = false), Seq(LongArr),
    sql = Some(KernelSql("graft_feature_embed",
      "graft_feature_embed(hashes, dim) - deterministic feature-hash embedding", 1)),
    ok = { case Seq(dim: Int) => dim > 0 })
  val pqEncode = Kernel("pq_encode", Pq, "encode",
    ArrayType(IntegerType, containsNull = false), Seq(Vec),
    ok = { case Seq(cb: Array[Double], m: Int, sub: Int, k: Int) =>
      m > 0 && sub > 0 && k > 0 && cb.length == m * sub * k })
  val pqAdc = Kernel("pq_adc", Pq, "adc", DoubleType, Seq("array<int>"),
    ok = { case Seq(lut: Array[Double], k: Int) => k > 0 && lut.length % k == 0 })
  val quantizeI8 = Kernel("quantize_i8", QuantizeI8Kernel, "eval",
    StructType(Seq(
      StructField("codes", ArrayType(DoubleType), nullable = false),
      StructField("scale", DoubleType))), Seq(Vec))

  // ---- hashes and sketches ------------------------------------------------

  val minhashSig = Kernel("minhash_sig", SketchKernels, "minhash",
    ArrayType(LongType, containsNull = false), Seq(LongArr), returnNullable = true,
    sql = Some(KernelSql("graft_minhash",
      "graft_minhash(hashes, k) - k-perm MinHash signature of a bigint array", 1)))
  val simhash = Kernel("simhash", SketchKernels, "simhash", LongType, Seq(LongArr),
    sql = Some(KernelSql("graft_simhash",
      "graft_simhash(hashes, bits) - SimHash fingerprint of a bigint array", 1)),
    ok = { case Seq(bits: Int) => bits > 0 && bits <= 63 })
  val hash56 = Kernel("hash56", Hash56OneKernel, "eval", LongType, Seq(Str))
  val hash56Map = Kernel("hash56_map", Hash56MapKernel, "eval", ArrayType(LongType),
    Seq(StrArr))
  val bandKeys = Kernel("band_keys", BandKeysKernel, "eval", Strings, Seq(LongArr),
    ok = { case Seq(bands: Int, rows: Int) => bands >= 1 && rows >= 1 })
  val fpFold = Kernel("fp_fold", FpFoldKernel, "eval", LongType, Seq(LongArr),
    returnNullable = true)

  // ---- text ---------------------------------------------------------------

  val tokenize = Kernel("bm25_tokenize", TokenizeKernel, "tokenize", Strings, Seq(Str),
    sql = Some(KernelSql("graft_tokenize",
      "graft_tokenize(text) - BM25 tokenizer (lowercase, punct-strip, stopwords, len>=2)")))
  val porterStem = Kernel("porter_stem", PorterStemmer, "stemUTF8", StringType, Seq(Str),
    sql = Some(KernelSql("graft_porter_stem", "graft_porter_stem(term) - Porter-stemmed term")))
  val wsTokens = Kernel("ws_tokens", WsTokensKernel, "tokenize", Strings, Seq(Str),
    sql = Some(KernelSql("graft_ws_tokens",
      "graft_ws_tokens(text) - whitespace tokens (no filtering)")))
  val langId = Kernel("lang_id", LangIdKernel, "eval", StringType, Seq(StrArr),
    sql = Some(KernelSql("graft_lang_id",
      "graft_lang_id(tokens) - function-word language ID (en/de/es/fr/zh/und)")))
  val nfcNormalize = Kernel("nfc_normalize", NfcKernel, "eval", StringType, Seq(Str))
  val shingles = Kernel("shingles_k", ShinglesKernel, "eval", Strings, Seq(StrArr),
    ok = { case Seq(n: Int) => n >= 1 })
  val bigrams = Kernel("bigrams", BigramsKernel, "eval",
    ArrayType(StructType(Seq(StructField("w1", StringType), StructField("w2", StringType))),
      containsNull = false), Seq(StrArr))
  val runStats = Kernel("run_stats", RunStatsKernel, "eval",
    strict("best" -> LongType, "d" -> LongType), Seq(StrArr))
  val sumSorted = Kernel("sum_sorted", SumSortedKernel, "eval", DoubleType, Seq(Vec),
    returnNullable = true)
  val sumLen = Kernel("sum_len", SumLenKernel, "eval", LongType, Seq(StrArr),
    returnNullable = true)
  val countAlpha = Kernel("count_alpha", SetKernels, "countAlpha", LongType, Seq(StrArr))
  val setHits = Kernel("set_hits", SetKernels, "setHits", LongType, Seq(StrArr))
  val countIn = Kernel("count_in", SetKernels, "countIn", LongType, Seq(StrArr))
  val filterLowerAlpha = Kernel("filter_lower_alpha", SetKernels, "filterLowerAlpha",
    Strings, Seq(StrArr))
  val pplScore = Kernel("ppl_score", PplScoreKernel, "eval", DoubleType, Seq(StrArr))
  val keptLines = Kernel("c4_kept_lines", KeptLinesKernel, "eval",
    strict("n_lines" -> IntegerType, "kept" -> Strings), Seq(Str))
  val lineStats = Kernel("line_stats", LineStatsKernel, "eval",
    strict("n_lines" -> IntegerType, "bullets" -> IntegerType, "ells" -> IntegerType),
    Seq(Str))
  val scrubJoin = Kernel("scrub_join", ScrubJoinKernel, "eval", StringType,
    Seq(StrArr, "array<int>"))
  val joinSortedLines = Kernel("join_sorted_lines", JoinSortedLinesKernel, "eval",
    StringType, Seq("array<struct<pos:int,line:string>>"))

  // ---- PII ----------------------------------------------------------------

  val piiScrub = Kernel("pii_scrub", PiiKernel, "scrub", PiiKernel.scrubType, Seq(Str))
  val piiRedact = Kernel("pii_redact", PiiKernel, "redact", StringType, Seq(Str))
  val piiHas = Kernel("pii_has", PiiKernel, "hasPii", BooleanType, Seq(Str))

  val all: Seq[Kernel] = Seq(
    dot, cosine, maxsim, packF32, maxsimF32, reshapeRows, hyperplaneBuckets, ivfAssign,
    dotI64, featureHashEmbed, pqEncode, pqAdc, quantizeI8,
    minhashSig, simhash, hash56, hash56Map, bandKeys, fpFold,
    tokenize, porterStem, wsTokens, langId, nfcNormalize, shingles, bigrams, runStats,
    sumSorted, sumLen, countAlpha, setHits, countIn, filterLowerAlpha, pplScore,
    keptLines, lineStats, scrubJoin, joinSortedLines,
    piiScrub, piiRedact, piiHas)
}
