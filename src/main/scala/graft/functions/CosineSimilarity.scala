package graft.functions

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * ArrayType(DoubleType) columns, with full whole-stage-codegen support —
  * the custom-Expression tier of SURVEY §2.11's similarity operator
  * (preference order (b): a codegen'd Expression beats the interpreted
  * higher-order-function form by ~10x on the pairwise hot path, and beats
  * any UDF by avoiding serialization).
  *
  * Numerics are IDENTICAL to the declarative form in graft.ext.Similarity
  * (dot/(||a||*||b||), each accumulator a left-to-right IEEE double fold),
  * so swapping the implementations never changes results — asserted
  * bit-exactly in ExtSpec.
  *
  * Mismatched lengths fold over the common prefix for the dot product
  * while each norm uses its own full array; null arrays yield null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < x.numElements()) { val v = x.getDouble(i); na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.numElements()) { val v = y.getDouble(i); nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $a.getDouble($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $v = $b.getDouble($i); $nb += $v * $v;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the plain dot product over two
  * ArrayType(DoubleType) columns, with whole-stage-codegen support.
  *
  * This is the hot-path primitive of the pre-normalized scoring scheme in
  * graft.ext.Similarity: per-row norms are hoisted into a column computed
  * ONCE (n = sqrt(graft_dot(v, v))), so a pairwise cosine costs a single
  * dot per pair — score = graft_dot(x, y) / (x.n * y.n) — instead of the
  * three array traversals graft_cosine spends recomputing both norms.
  * The arithmetic (left-to-right IEEE fold over the common prefix) is
  * identical to CosineSimilarity's dot accumulator, so hoisting never
  * changes a score bit.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering the native functions. Installed by the
  * Verify/Bench/test sessions via `spark.sql.extensions`; library code
  * falls back to the declarative forms when absent (see
  * Similarity.cosineAuto), so an uninstrumented session still works.
  *
  * It also sizes Spark's generated-class cache, since every engine
  * session is built through it. That cache is one JVM-wide LRU keyed by
  * generated source, sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` when `CodeGenerator` is first
  * used; Spark's default is 100. The query registry compiles ~1,960
  * distinct classes (perfbench's 66-entry query_mix alone ~270), so at
  * 100 the LRU evicts each class before its query runs again and every
  * warm query recompiles in Janino. At
  * [[GraftExtensions.CodegenCacheEntries]] the whole catalog stays
  * resident and warm queries compile nothing. A value the user sets
  * (SparkConf, `--conf` or a `-Dspark.sql...` system property) wins. If
  * codegen already ran in this JVM before the first session was built,
  * the cache exists and this does nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.codegenCacheOverride(SparkEnv.get.conf).foreach { n =>
      val conf = new SQLConf
      conf.setConfString(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, n.toString)
      // CodeGenerator's one-time initializer reads SQLConf.get, which is
      // `conf` here while no session is active
      SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSignature(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_rplsh"),
      new ExpressionInfo(classOf[RandomHyperplaneHash].getName, "graft_rplsh"),
      (children: Seq[Expression]) => RandomHyperplaneHash(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_isect"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_isect"),
      (children: Seq[Expression]) => SortedIntersectSize(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "graft_deflate_ratio"),
      (children: Seq[Expression]) => DeflateRatio(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dhash"),
      new ExpressionInfo(classOf[DHash64].getName, "graft_dhash"),
      (children: Seq[Expression]) =>
        DHash64(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dhash_px"),
      new ExpressionInfo(classOf[DHashPixels].getName, "graft_dhash_px"),
      (children: Seq[Expression]) =>
        DHashPixels(children.head, children(1), children(2))))
    // plan-level algebra over the custom expressions (the Rule tier):
    // collapse idempotent re-normalization
    ext.injectOptimizerRule(_ => CollapseIdempotentNfc)
  }
}

object GraftExtensions {
  /** Generated-class cache size: about twice the 1,962 classes a full
    * `graft.Profile` run compiles (sf0.1). At 2048 the same run compiled
    * 2,017: the cache evicts per segment, before the whole of it is full.
    */
  val CodegenCacheEntries = 4096

  /** The cache size to install, or None when `conf` already sets one. */
  def codegenCacheOverride(conf: SparkConf): Option[Int] =
    if (conf.contains(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key)) None
    else Some(CodegenCacheEntries)
}
