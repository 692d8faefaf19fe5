package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.sql.functions.call_function

/** Registration surface for graft's custom Catalyst expressions.
  *
  * `register` installs them into a session's function registry (idempotent);
  * `GraftExtensions` is the `spark.sql.extensions` form for clusters that
  * configure extensions at session build time:
  *   SparkSession.builder.config("spark.sql.extensions", "graft.sql.GraftExtensions")
  */
object GraftFunctions {

  val DotName = "graft_dot_f32"
  val L2NormName = "graft_l2normalize_f32"
  val IvfProbeName = "graft_ivf_probe_f32"
  val RollingHashName = "graft_rolling_hash"
  val UnicodeNormName = "graft_unicode_norm"
  val MinhashSigName = "graft_minhash_sig"
  val CharNgramsName = "graft_char_ngrams"
  val DeflateLenName = "graft_deflate_len"
  val MaxAbsName = "graft_maxabs_f32"
  val Int8CodesName = "graft_int8_codes"
  val TopKName = "graft_topk"
  val TopKStrName = "graft_topk_str"
  val TopKDotName = "graft_topk_dot_f32"
  val SortedInterName = "graft_sorted_inter_count"
  val WordShinglesName = "graft_word_shingles"

  /** ENGINE-SESSION CONTRACT (round-11, narrowed per the round-10
    * advice): running a graft operator that aggregates with one of the
    * K-BOUNDED object aggregates (TopKAggF, MgTopKAgg, VecCentroidAgg —
    * buffers of ~16B×k / 2×capacity entries / dim doubles per group)
    * raises `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * from its conservative default (128 distinct groups per task, sized
    * for ARBITRARY-size object buffers) to 1M — IF AND ONLY IF the user
    * has not set it (an explicit setting, even explicitly 128, always
    * wins; asserted in GraftSessionContractSpec). The sort-based
    * fallback re-sorts every candidate row and defeats the
    * map-side-combine point of TopKAggF entirely (measured
    * 18.4 s → 8.2 s on the 38M-row retrieval shape).
    *
    * The raise is SESSION-WIDE once applied (SQLConf has no per-query
    * scope), so it is triggered only by [[enableBoundedObjectAgg]] —
    * called from the operator paths that actually run these aggregates
    * (Relational.topKPerGroupAgg, Ivf/Pq k-means fits, ApproxStats) —
    * not by plain `register()`: a session that merely uses graft's
    * scalar expressions keeps Spark's memory-safe default for its own
    * unbounded-buffer aggregates (collect_list/percentile over millions
    * of groups). Sessions mixing graft top-k with such aggregates
    * should set the threshold explicitly; the one-time INFO log records
    * when the raise happens. */
  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Raise the ObjectHashAggregate sort-fallback threshold for graft's
    * bounded-buffer aggregates (see the contract above). Idempotent;
    * never overrides an explicit user setting; logs once per session
    * (the first call sets the key, making later calls no-ops). */
  def enableBoundedObjectAgg(spark: SparkSession): Unit = {
    // contains() is true only for EXPLICITLY-set entries (session set()
    // or spark-defaults, both land in the session's settings map) — so
    // unlike a value==default check, a user who deliberately set 128
    // keeps 128.
    if (!spark.sessionState.conf.contains(FallbackKey)) {
      spark.conf.set(FallbackKey, (1 << 20).toString)
      org.apache.logging.log4j.LogManager.getLogger(getClass)
        .info(s"graft: raised $FallbackKey to 1M for this session " +
          "(k-bounded object-aggregate path; set it explicitly to opt out)")
    }
  }

  /** The value of integral literal argument `arg` of SQL function `fn`:
    * an INT, or a BIGINT within INT range, so `4` and `4L` build the same
    * expression. A non-literal, NULL, non-integral or out-of-range value
    * fails with an IllegalArgumentException naming `fn` and `arg` (the
    * type-checked expressions turn it into a TypeCheckFailure). */
  def intLiteral(fn: String, arg: String, e: Expression): Int = {
    def fail() = throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal (or a BIGINT literal within INT " +
        s"range), got ${e.sql}")
    if (!e.foldable) fail()
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case _ => fail()
    }
  }

  /** The value of array literal argument `arg` of SQL function `fn`,
    * nested arrays included. A non-literal, a NULL literal or a NULL
    * element at any depth fails with an IllegalArgumentException naming
    * `fn` and `arg` (a NULL would otherwise read as 0 or throw an NPE). */
  def arrayLiteral(fn: String, arg: String, e: Expression): ArrayData = {
    def fail(got: String) = throw new IllegalArgumentException(
      s"$fn: $arg must be an array literal without NULL elements, got $got")
    def check(a: ArrayData, elem: DataType): Unit = {
      var i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i)) fail(s"a NULL element at index $i")
        elem match {
          case ArrayType(inner, _) => check(a.getArray(i), inner)
          case _ =>
        }
        i += 1
      }
    }
    if (!e.foldable) fail("a non-literal")
    (e.eval(), e.dataType) match {
      case (a: ArrayData, ArrayType(elem, _)) => check(a, elem); a
      case (null, _) => fail("NULL")
      case (_, t) => fail(t.simpleString)
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      DeflateLenName, exprs => DeflateLenF(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      MaxAbsName, exprs => MaxAbsF32(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      Int8CodesName, exprs => Int8CodesF32(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      CharNgramsName, exprs => CharNgramsF.fromExprs(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      DotName, exprs => DotF32(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      L2NormName, exprs => L2NormalizeF32(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      IvfProbeName, exprs => IvfProbeF32.fromExprs(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      RollingHashName, exprs => RollingHashF(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      UnicodeNormName, exprs => UnicodeNormF(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      MinhashSigName, exprs => MinhashSigF.fromExprs(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      TopKName, exprs => TopKAggF(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      TopKStrName, exprs => TopKStrAggF(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      TopKDotName, exprs => TopKDotF32.fromExprs(exprs.head, exprs(1),
        exprs(2), exprs(3), exprs(4)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      SortedInterName, exprs => SortedInterCountF(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      WordShinglesName, exprs => WordShinglesF.fromExprs(exprs.head, exprs(1)), "built-in")
  }

  /** Column-level call; requires `register` (or GraftExtensions) first. */
  def dotF32(a: Column, b: Column): Column = call_function(DotName, a, b)

  /** Column-level call; requires `register` (or GraftExtensions) first. */
  def l2NormalizeF32(a: Column): Column = call_function(L2NormName, a)

  /** Cosine over float arrays through the codegen dot kernel —
    * bit-identical to VectorOps.cosine (DotF32 ≡ the HOF sequential fold
    * per DotF32Spec, and the sqrt/division association is unchanged), so
    * oracle rows replaying the HOF arithmetic swap freely. Three kernel
    * calls per row instead of three interpreted array walks. */
  def cosineF32(a: Column, b: Column): Column =
    dotF32(a, b) /
      (org.apache.spark.sql.functions.sqrt(dotF32(a, a))
        * org.apache.spark.sql.functions.sqrt(dotF32(b, b)))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * The matrix travels as ONE nested-array literal (data, not plan code). */
  def ivfProbeF32(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    call_function(IvfProbeName, vec,
      org.apache.spark.sql.functions.typedLit(centroids.map(_.toSeq).toSeq),
      org.apache.spark.sql.functions.lit(nprobe))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * Rabin–Karp hashes of every k-codepoint window, one O(L) pass. */
  def rollingHash(text: Column, k: Int): Column =
    call_function(RollingHashName, text,
      org.apache.spark.sql.functions.lit(k))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * UAX #15 Unicode normalization (NFC/NFD/NFKC/NFKD), codegen-native. */
  def unicodeNorm(text: Column, form: String = "NFC"): Column =
    call_function(UnicodeNormName, text,
      org.apache.spark.sql.functions.lit(form))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * All k MinHash signature minima of a shingle array in one pass. */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    call_function(MinhashSigName, shingles,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * All overlapping character n-grams in one O(L) pass. */
  def charNgrams(text: Column, n: Int): Column =
    call_function(CharNgramsName, text,
      org.apache.spark.sql.functions.lit(n))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * DEFLATE-compressed byte length (level 6) of a string/binary column. */
  def deflateLen(c: Column): Column = call_function(DeflateLenName, c)

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * max(|x_i|) of an array<float> as double (NULL for empty/all-null). */
  def maxAbsF32(a: Column): Column = call_function(MaxAbsName, a)

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * Int8 symmetric quantization codes floor(x·127/maxabs + 0.5). */
  def int8Codes(a: Column): Column = call_function(Int8CodesName, a)

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * Bounded top-k aggregate: the group's k best (score desc, id asc)
    * rows as array<struct<id, score>>, best first, k-bounded heap held
    * map-side (see TopKAggF; DataFrame surface is
    * Relational.topKPerGroupAgg). */
  def topKAgg(score: Column, id: Column, k: Int): Column =
    call_function(TopKName, score.cast("double"), id.cast("long"),
      org.apache.spark.sql.functions.lit(k))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * String-id flavor of [[topKAgg]] (Categorify catalogs, UUIDs, URLs):
    * array<struct<id: string, score: double>>, best first, bytewise id
    * tie-break — identical row-set to the window form. */
  def topKAggStr(score: Column, id: Column, k: Int): Column =
    call_function(TopKStrName, score.cast("double"), id.cast("string"),
      org.apache.spark.sql.functions.lit(k))

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * |a ∩ b| of two sorted-distinct string arrays by one merge walk —
    * equals size(array_intersect(a, b)) under that precondition (see
    * SortedInterCountF). */
  def sortedInterCount(a: Column, b: Column): Column =
    call_function(SortedInterName, a, b)

  /** Column-level call; requires `register` (or GraftExtensions) first.
    * All overlapping n-token word shingles in one pass (null input →
    * null; TextOps.wordShingles adds the empty-array coalesce). */
  def wordShingles(toks: Column, n: Int): Column =
    call_function(WordShinglesName, toks,
      org.apache.spark.sql.functions.lit(n))
}

/** spark.sql.extensions entry point. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.DotName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotF32].getName, GraftFunctions.DotName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotF32(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.L2NormName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[L2NormalizeF32].getName, GraftFunctions.L2NormName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        L2NormalizeF32(exprs.head)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.IvfProbeName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[IvfProbeF32].getName, GraftFunctions.IvfProbeName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        IvfProbeF32.fromExprs(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.RollingHashName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingHashF].getName, GraftFunctions.RollingHashName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHashF(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.UnicodeNormName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[UnicodeNormF].getName, GraftFunctions.UnicodeNormName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        UnicodeNormF(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.MinhashSigName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinhashSigF].getName, GraftFunctions.MinhashSigName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashSigF.fromExprs(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.CharNgramsName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CharNgramsF].getName, GraftFunctions.CharNgramsName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CharNgramsF.fromExprs(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.DeflateLenName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DeflateLenF].getName, GraftFunctions.DeflateLenName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DeflateLenF(exprs.head)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.MaxAbsName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MaxAbsF32].getName, GraftFunctions.MaxAbsName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MaxAbsF32(exprs.head)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.Int8CodesName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Int8CodesF32].getName, GraftFunctions.Int8CodesName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Int8CodesF32(exprs.head)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.TopKName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[TopKAggF].getName, GraftFunctions.TopKName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TopKAggF(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.TopKStrName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[TopKStrAggF].getName, GraftFunctions.TopKStrName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TopKStrAggF(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.TopKDotName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[TopKDotF32].getName, GraftFunctions.TopKDotName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TopKDotF32.fromExprs(exprs.head, exprs(1), exprs(2), exprs(3), exprs(4))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.SortedInterName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SortedInterCountF].getName, GraftFunctions.SortedInterName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedInterCountF(exprs.head, exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(GraftFunctions.WordShinglesName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordShinglesF].getName, GraftFunctions.WordShinglesName),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordShinglesF.fromExprs(exprs.head, exprs(1))))
  }
}
