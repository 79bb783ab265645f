package graft.functions

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

/** Registration + Column facade for the graft expression library.
  *
  * Expressions are registered in the session FunctionRegistry (SQL-callable)
  * and exposed as Column helpers via `call_function`, which keeps us off the
  * private Column↔Expression constructors that moved in Spark 4.
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "extract_cc_licenses" -> (es => ExtractCcLicenses(es.head)),
    "parse_cc_license_url" -> (es => ParseCcLicenseUrl(es.head)),
    "url_decode_py" -> (es => UrlDecode(es.head)),
    "canonicalize_url" -> (es => CanonicalizeUrl(es.head)),
    "url_host" -> (es => UrlHost(es.head)),
    "registered_domain" -> (es => RegisteredDomain(es.head)),
    "url_hash64" -> (es => UrlHash64(es.head)),
    "url_key" -> (es => UrlKey(es.head)),
    "minhash_sig" -> (es => MinHashSig(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "winnow_fingerprint" -> (es => WinnowFingerprint(es.head)),
    "gen_image" -> (es => GenImage(es(0), es(1), es(2), es(3))),
    "decode_image_dims" -> (es => DecodeImageDims(es.head)),
    "phash64" -> (es => PHash64(es.head)),
    "psnr_vs_pattern" -> (es => PsnrVsPattern(es(0), es(1), es(2), es(3))),
    "image_check" -> (es => ImageCheck(es(0), es(1), es(2), es(3))),
    "image_feature_stub" -> (es => ImageFeatureStub(es.head)),
    "extract_links" -> (es => ExtractLinks(es.head)),
    "normalize_nfc" -> (es => NormalizeNfc(es.head)),
    "extract_visible_text" -> (es => ExtractVisibleText(es.head)),
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "shingle_set" -> (es => ShingleSet(es(0), es(1))),
    "sorted_pairs" -> (es => SortedPairs(es.head)),
    "bounded_min_list" -> (es => BoundedMinList(es(0),
      integralArg("bounded_min_list", es, 1, "positive INT")(k => k >= 1 && k <= Int.MaxValue)
        .toInt)),
    "lang_decision" -> { es =>
      val nLangs = LangHeuristic.langStops.size
      if (es.size != nLangs + 1) throw mismatch("lang_decision", es, "WRONG_NUM_ARG_TYPES",
        "expectedNum" -> (nLangs + 1).toString, "actualNum" -> es.size.toString)
      LangDecision(es.head, es.indices.tail.map(i =>
        literalArg("lang_decision", es, i, "DOUBLE") {
          case (_: NumericType, d: Decimal) => d.toDouble
          case (_: NumericType, n: Number) => n.doubleValue
        }))
    },
    "referenced_long" -> (es => ReferencedLong(
      integralArg("referenced_long", es, 0, "BIGINT")(_ => true))),
    "bloom_might_contain" -> (es => graft.frontier.BloomMightContain(es(0), es(1), es(2))),
    "cuckoo_might_contain" -> (es => graft.frontier.CuckooMightContain(es(0), es(1), es(2))),
    "constraint_barrier" -> (es => graft.frontier.ConstraintBarrier(es.head))
  )

  /** Value of argument `i` of `fn`, which must be a non-null literal that
    * `pick` accepts (it sees the argument's type and value). Anything else
    * fails analysis with an [[AnalysisException]] naming the argument, not a
    * ClassCastException in the builder or a task. */
  private def literalArg[T](fn: String, es: Seq[Expression], i: Int, required: String)(
      pick: PartialFunction[(DataType, Any), T]): T = {
    val e = es(i)
    if (!e.foldable)
      throw mismatch(fn, es, "NON_FOLDABLE_INPUT", "inputName" -> s"argument ${i + 1}",
        "inputType" -> required, "inputExpr" -> e.sql)
    val v = e.eval()
    if (v == null) throw mismatch(fn, es, "UNEXPECTED_NULL", "exprName" -> s"argument ${i + 1}")
    pick.applyOrElse((e.dataType, v), (_: (DataType, Any)) =>
      throw mismatch(fn, es, "UNEXPECTED_INPUT_TYPE", "paramIndex" -> (i + 1).toString,
        "requiredType" -> required, "inputSql" -> e.sql, "inputType" -> e.dataType.sql))
  }

  private def integralArg(fn: String, es: Seq[Expression], i: Int, required: String)(
      ok: Long => Boolean): Long =
    literalArg(fn, es, i, required) {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) if ok(n.longValue) =>
        n.longValue
    }

  private def mismatch(fn: String, es: Seq[Expression], subClass: String,
      params: (String, String)*) = new AnalysisException(s"DATATYPE_MISMATCH.$subClass",
    Map("sqlExpr" -> s"\"$fn(${es.map(_.sql).mkString(", ")})\"") ++ params)

  /** Spark's generated-class cache key (a static SQL conf: read once, when
    * `CodeGenerator` first compiles, into an LRU of this many classes). */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated-class cache size. Spark's default of 100 is below this
    * engine's working set: one pipelined crawl compiles ~350 classes and one
    * pass of the 45 queries ~400, so at 100 every class is evicted before its
    * plan runs again, and each recompile is a fresh JVM class the JIT warms
    * from scratch. 2048 holds both sets with headroom. */
  val CodegenCacheEntries = 2048

  @volatile private var registered: Set[SparkSession] = Set.empty
  // whether this JVM's first register already checked for an earlier compile
  // (later sessions find the classes the first one compiled)
  @volatile private var compileChecked = false

  /** Register the expression library on `spark` (idempotent) and, the first
    * time a session is seen, size the generated-class cache to
    * [[CodegenCacheEntries]] unless the key was set explicitly. Set on the
    * session conf, not `spark.conf`, which rejects static keys; the value
    * takes effect only if no class has been compiled in this JVM yet. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!registered.contains(spark)) {
      val conf = spark.sessionState.conf
      if (!conf.contains(CodegenCacheKey)) {
        conf.setConfString(CodegenCacheKey, CodegenCacheEntries.toString)
        if (!compileChecked && CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
          LoggerFactory.getLogger(getClass).warn(
            s"generated classes were compiled before the graft library was " +
            s"registered, so $CodegenCacheKey keeps the size it was created " +
            s"with; register before the first query to size it to " +
            s"$CodegenCacheEntries")
      }
      compileChecked = true
      builders.foreach { case (name, b) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, b, "built-in")
      }
      registered += spark
    }
  }

  // --- Column helpers -------------------------------------------------------

  def extractCcLicenses(html: Column): Column = call_function("extract_cc_licenses", html)
  def parseCcLicenseUrlCol(url: Column): Column = call_function("parse_cc_license_url", url)
  def urlDecode(s: Column): Column = call_function("url_decode_py", s)
  def canonicalizeUrl(url: Column): Column = call_function("canonicalize_url", url)
  def urlHost(url: Column): Column = call_function("url_host", url)
  def registeredDomain(url: Column): Column = call_function("registered_domain", url)
  def urlHash64(url: Column): Column = call_function("url_hash64", url)
  def urlKey(url: Column): Column = call_function("url_key", url)
  def minhashSig(text: Column): Column = call_function("minhash_sig", text)
  def simhash64(text: Column): Column = call_function("simhash64", text)
  def winnowFingerprint(text: Column): Column = call_function("winnow_fingerprint", text)
  def genImage(seed: Column, w: Column, h: Column, fmt: Column): Column =
    call_function("gen_image", seed, w, h, fmt)
  def decodeImageDims(bytes: Column): Column = call_function("decode_image_dims", bytes)
  def phash64(bytes: Column): Column = call_function("phash64", bytes)
  def psnrVsPattern(bytes: Column, seed: Column, w: Column, h: Column): Column =
    call_function("psnr_vs_pattern", bytes, seed, w, h)
  def imageCheck(bytes: Column, seed: Column, w: Column, h: Column): Column =
    call_function("image_check", bytes, seed, w, h)
  def imageFeatureStub(bytes: Column): Column = call_function("image_feature_stub", bytes)
  def extractLinks(html: Column): Column = call_function("extract_links", html)
  def normalizeNfc(s: Column): Column = call_function("normalize_nfc", s)
  def extractVisibleText(html: Column): Column = call_function("extract_visible_text", html)
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def sortedPairs(arr: Column): Column = call_function("sorted_pairs", arr)
  def boundedMinList(e: Column, k: Int): Column =
    call_function("bounded_min_list", e, lit(k))
  def constraintBarrier(e: Column): Column = call_function("constraint_barrier", e)
  def referencedLong(v: Long): Column = call_function("referenced_long", lit(v))

  /** The 11 license metadata columns of the C5 schema from one extract-struct
    * column (the projection step of `license_annotator.py:53-71`), with
    * `potential_licenses` in the reference's struct-of-8-parallel-arrays shape
    * (`script_utils.py:301-315`). */
  def licenseMetadataColumns(extracted: Column): Seq[Column] = {
    val ls = extracted.getField("licenses")
    val best = element_at(ls, 1)
    val err = extracted.getField("parse_error")
    def field(name: String): Column = when(!err && size(ls) > 0, best.getField(name))
    Seq(
      field("abbr").as("license_abbr"),
      field("version").as("license_version"),
      field("location").as("license_location"),
      field("in_head").as("license_in_head"),
      field("in_footer").as("license_in_footer"),
      field("element").as("license_element"),
      field("left_context").as("license_left_context"),
      field("right_context").as("license_right_context"),
      when(!err && size(ls) > 0, struct(
        transform(ls, l => l.getField("abbr")).as("abbr"),
        transform(ls, l => l.getField("in_footer")).as("in_footer"),
        transform(ls, l => l.getField("in_head")).as("in_head"),
        transform(ls, l => l.getField("location")).as("location"),
        transform(ls, l => l.getField("version")).as("version"),
        transform(ls, l => l.getField("element")).as("element"),
        transform(ls, l => l.getField("left_context")).as("left_context"),
        transform(ls, l => l.getField("right_context")).as("right_context")
      )).as("potential_licenses"),
      err.as("license_parse_error"),
      when(!err && size(ls) > 0,
        size(array_distinct(transform(ls, l => l.getField("abbr")))) > 1
      ).as("license_disagreement")
    )
  }
}
