package graft.plans

import graft.functions._
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types._

/** Catalyst session extensions for the graft engine:
  *
  *  - [[RewriteDotProduct]], an optimizer rule that recognizes the
  *    declarative dot-product idiom
  *    `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)`
  *    and replaces it with the fused native
  *    [[graft.functions.DotProductDouble]] loop — users writing plain
  *    builtin compositions get the codegen'd kernel for free, the same
  *    fold order bit-for-bit.
  *  - SQL registration of the engine's native functions
  *    (`dot_product`, `simhash64`, `minhash_signature`,
  *    `decode_byte_array`, ...) so the pure-SQL surface reaches them
  *    too; a call with a bad argument count or a non-constant int
  *    argument fails at analysis.
  *
  * A session gets them only from
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which
  * [[graft.GraftSession.posture]] sets; they cannot be added to a
  * session that is already built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteDotProduct)
    e.injectOptimizerRule(_ => RewriteLevenshteinThreshold)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
         new ExpressionInfo("graft.functions", name),
         builder))
    }
  }
}

object GraftExtensions {

  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("dot_product(a, b)") { (es, _) => DotProductDouble(es(0), es(1)) },
    fn("simhash64(tokens)") { (es, _) => SimHash64(es(0)) },
    fn("simhash60(tokens)") { (es, _) => SimHash60Portable(es(0)) },
    fn("minhash_signature(tokens, num_hashes INT)") { (es, ints) =>
      MinHashSignature(es(0), ints(1))
    },
    fn("decode_byte_array(bytes)") { (es, _) => DecodeLongArrayToUtf8(es(0)) },
    fn("word_ngrams(tokens, n INT)") { (es, ints) => WordNgrams(es(0), ints(1)) },
    fn("sorted_intersect_count(a, b)") { (es, _) => SortedArrayIntersectCount(es(0), es(1)) },
    fn("mean_threshold_bits(code_points, bits INT)") { (es, ints) =>
      MeanThresholdBits(es(0), ints(1))
    },
    fn("md5hex32(text)") { (es, _) => Md5Hex32(es(0)) },
    fn("md5_lanes(key, groups INT)") { (es, ints) => Md5Lanes(es(0), ints(1)) },
    fn("md5_sign_vector(key, n)") { (es, _) => Md5SignVector(es(0), es(1)) }
  )

  /** The registry entry of the SQL function `signature`, e.g.
    * `"minhash_signature(tokens, num_hashes INT)"`. Its builder checks
    * the call's argument count and that every `INT` argument is a
    * foldable integer, then hands `build` the arguments and, by
    * position, those integers. A failed check is an
    * `AnalysisException` naming the signature and the bad argument.
    */
  private def fn(signature: String)(build: (Seq[Expression], Map[Int, Int]) => Expression)
      : (String, Seq[Expression] => Expression) = {
    val name = signature.takeWhile(_ != '(')
    val params = signature.drop(name.length + 1).stripSuffix(")").split(", ").toSeq
    val intParams = params.indices.filter(params(_).endsWith(" INT"))
    name -> { es =>
      def reject(problem: String) = throw new FunctionArgumentsException(s"$signature $problem")
      if (es.length != params.length)
        reject(s"takes ${params.length} argument(s), got ${es.length}")
      val ints = intParams.map { i =>
        val e = es(i)
        val value = e.dataType match {
          case ByteType | ShortType | IntegerType | LongType if e.foldable => Option(e.eval())
          case _ => None
        }
        i -> value.map(_.asInstanceOf[Number].longValue).filter(_.isValidInt).getOrElse(
          reject(s"argument ${i + 1} (${e.sql}) must be a constant integer")).toInt
      }
      build(es, ints.toMap)
    }
  }

  /** Fails at frame build, not at `collect`, when `spark`'s planner
    * lacks `strategy`: a session built without the extensions would
    * otherwise plan the custom logical node into Spark's
    * "[INTERNAL_ERROR] … You hit a bug in Spark".
    */
  private[graft] def requirePlanner(spark: SparkSession, strategy: SparkStrategy): Unit =
    require(
      spark.sessionState.planner.strategies.contains(strategy),
      s"${strategy.getClass.getSimpleName.stripSuffix("$")} is not in this session's planner: " +
        "build the session with GraftSession.builder, or set " +
        "spark.sql.extensions=graft.plans.GraftExtensions")
}

/** A call of one of [[GraftExtensions]]' SQL functions whose arguments
  * fail its check; the message names the function's signature and the
  * bad argument.
  */
private[plans] final class FunctionArgumentsException(message: String)
    extends AnalysisException(message)

/** `levenshtein(a, b) <= k` / `< k` / `>= k` / `> k` (constant
  * non-negative k, no threshold) → the THRESHOLD levenshtein
  * compared against −1's semantics: the banded DP does O(k·n) work
  * with early exit instead of filling the full O(n·m) matrix, and
  * the predicate's truth value is unchanged (`levenshtein(a, b, k)`
  * returns the true distance when ≤ k and −1 otherwise, so
  * `dist <= k ⟺ threshold-form ≠ −1`). Users write the naive
  * predicate; every edit-distance filter in the plan gets the banded
  * kernel for free — the same contract as [[RewriteDotProduct]].
  */
object RewriteLevenshteinThreshold extends Rule[LogicalPlan] {

  private def constK(e: Expression): Option[Int] = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) if v >= 0 => Some(v)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // dist <= k  ⟺  lev(a,b,k) != -1
      case LessThanOrEqual(Levenshtein(a, b, None), kl @ Literal(_, _))
          if constK(kl).isDefined =>
        Not(EqualTo(Levenshtein(a, b, Some(kl)), Literal(-1)))
      // dist < k (k ≥ 1)  ⟺  lev(a,b,k-1) != -1
      case LessThan(Levenshtein(a, b, None), kl @ Literal(_, _))
          if constK(kl).exists(_ >= 1) =>
        Not(
          EqualTo(
            Levenshtein(a, b, Some(Literal(constK(kl).get - 1))),
            Literal(-1)))
      // dist > k  ⟺  lev(a,b,k) == -1
      case GreaterThan(Levenshtein(a, b, None), kl @ Literal(_, _))
          if constK(kl).isDefined =>
        EqualTo(Levenshtein(a, b, Some(kl)), Literal(-1))
      // dist >= k (k ≥ 1)  ⟺  lev(a,b,k-1) == -1
      case GreaterThanOrEqual(Levenshtein(a, b, None), kl @ Literal(_, _))
          if constK(kl).exists(_ >= 1) =>
        EqualTo(
          Levenshtein(a, b, Some(Literal(constK(kl).get - 1))),
          Literal(-1))
    }
}

/** `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)`
  * over `array<double>` → [[DotProductDouble]] — identical semantics
  * (left fold, null on null/length-mismatch input) in one fused loop.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(
              a,
              b,
              LambdaFunction(
                Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
                Seq(xd: NamedLambdaVariable, yd: NamedLambdaVariable),
                _)),
            Literal(zero, DoubleType),
            LambdaFunction(
              Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
              Seq(accd: NamedLambdaVariable, vd: NamedLambdaVariable),
              _),
            LambdaFunction(fin: NamedLambdaVariable, Seq(find: NamedLambdaVariable), _))
          if zero == 0.0 &&
            x.exprId == xd.exprId && y.exprId == yd.exprId &&
            acc.exprId == accd.exprId && v.exprId == vd.exprId &&
            fin.exprId == find.exprId &&
            isDoubleArray(a) && isDoubleArray(b) =>
        DotProductDouble(a, b)
    }
}
