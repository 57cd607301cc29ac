package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's native functions and the [[ReplaceHofCosine]]
  * optimizer rule. Listed under
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's session builder applies it to every session it creates
  * (and their `newSession()`s) with no configuration or engine call.
  * Spark logs a provider failure as a warning and goes on, so a broken
  * services entry shows only as an undefined function at query time
  * (FunctionsSpec resolves every name in a fresh session). */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => ReplaceHofCosine)
  }
}

object GraftExtensions {

  private type FnDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val cosineSim: FnDesc = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (es: Seq[Expression]) => CosineSimilarity(es(0), es(1)))

  private val minhashSig: FnDesc = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (es: Seq[Expression]) => MinHashSig(es.head))

  private val signLshSig: FnDesc = (
    FunctionIdentifier("sign_lsh_sig"),
    new ExpressionInfo(classOf[SignLshSig].getName, "sign_lsh_sig"),
    (es: Seq[Expression]) => SignLshSig(es.head))

  private val hyperplaneSig: FnDesc = (
    FunctionIdentifier("hyperplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSig].getName, "hyperplane_sig"),
    (es: Seq[Expression]) => HyperplaneSig(es.head))

  private val argmaxDot: FnDesc = (
    FunctionIdentifier("argmax_dot"),
    new ExpressionInfo(classOf[ArgmaxDot].getName, "argmax_dot"),
    (es: Seq[Expression]) => ArgmaxDot(es(0), es(1)))

  private val pqAdc: FnDesc = (
    FunctionIdentifier("pq_adc"),
    new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
    (es: Seq[Expression]) => PqAdc(es(0), es(1)))

  private val vecMean: FnDesc = (
    FunctionIdentifier("vec_mean"),
    new ExpressionInfo(classOf[VecMeanAgg].getName, "vec_mean"),
    (es: Seq[Expression]) => VecMeanAgg(es.head).toAggregateExpression())

  private val countIn: FnDesc = (
    FunctionIdentifier("count_in"),
    new ExpressionInfo(classOf[CountIn].getName, "count_in"),
    (es: Seq[Expression]) => {
      if (es.length < 2) throw new IllegalArgumentException(
        "count_in requires (array, word, word, ...)")
      val words = es.tail.map {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType == org.apache.spark.sql.types.StringType && l.value != null =>
          l.value.toString
        case other => throw new IllegalArgumentException(
          s"count_in word arguments must be string literals, got $other")
      }
      CountIn(es.head, words)
    })

  private val misraGries: FnDesc = (
    FunctionIdentifier("misra_gries"),
    new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
    (es: Seq[Expression]) => MisraGries(es.head).toAggregateExpression())

  // Spark's OWN bloom machinery (BloomFilterAggregate /
  // BloomFilterMightContain — the expressions InjectRuntimeFilter plants),
  // absent from the public function registry — exposed here so
  // bloom_prune_join probes natively: BloomFilterMightContain has
  // doGenCode, so the probe stays inside whole-stage codegen instead of
  // a black-box Scala UDF over a driver-built sketch (r16, verdict #5).
  private val bloomFilterAgg: FnDesc = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_filter_agg"),
    (es: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      val agg = es.length match {
        case 1 => new BloomFilterAggregate(es(0))
        case 2 => new BloomFilterAggregate(es(0), es(1))
        case 3 => new BloomFilterAggregate(es(0), es(1), es(2))
        case n => throw new IllegalArgumentException(
          s"bloom_filter_agg takes (hash[, numItems[, numBits]]); got $n args")
      }
      agg.toAggregateExpression()
    })

  private val mightContain: FnDesc = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "might_contain"),
    (es: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1)))

  private val top2By: FnDesc = (
    FunctionIdentifier("top2_by"),
    // the sentinel restriction lives in the USAGE string (r17, per
    // ADVICE): a SQL user sees it in DESCRIBE FUNCTION instead of only
    // in a Scaladoc they never read
    new ExpressionInfo(classOf[Top2By].getName, null, "top2_by",
      "top2_by(v, k) - top-2 (v DOUBLE, k BIGINT) pairs of the group, " +
        "ordered v DESC then k ASC, as ARRAY<STRUCT<v, k>>. RESTRICTION: " +
        "empty buffer slots are the sentinel (-Infinity, Long.MaxValue), " +
        "so rows with v = -Infinity (and the exact pair " +
        "(-Infinity, Long.MaxValue)) are dropped from the output; use the " +
        "generic topk aggregate when -Infinity is a live value.", ""),
    (es: Seq[Expression]) => Top2By(es(0), es(1)).toAggregateExpression())

  private val topkRows: FnDesc = (
    FunctionIdentifier("topk"),
    new ExpressionInfo(classOf[TopKRows].getName, "topk"),
    (es: Seq[Expression]) => {
      if (es.length != 2) throw new IllegalArgumentException(
        s"topk requires exactly 2 arguments (struct, k); got ${es.length}")
      TopKRows(es(0), es(1))
    })

  /** The 13 native functions, each injected into every session. None
    * shadows a Spark builtin (FunctionsSpec checks the names). */
  val functions: Seq[FnDesc] = Seq(cosineSim, minhashSig, signLshSig,
    hyperplaneSig, argmaxDot, pqAdc, vecMean, countIn, misraGries,
    bloomFilterAgg, mightContain, topkRows, top2By)
}
