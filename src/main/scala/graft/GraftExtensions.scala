package graft

import graft.functions._
import graft.parse.JsonFindNumbers
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, BloomFilterMightContain, Expression, ExpressionInfo,
  JsonToStructs, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{FailFastMode, ParseMode}

/** Session extensions mounting the engine's custom Catalyst pieces.
  * Enable with .config("spark.sql.extensions", "graft.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => GraftExtensions.ParseOnce)
    // Whole-operator extension: the native as-of join (logical node →
    // strategy → streaming merge exec). See graft.plans.AsOfJoin.
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.checked(_)))
    }
  }
}

object GraftExtensions {

  /** One SQL function: `build` receives exactly `arity` arguments. */
  private[graft] final case class Fn(name: String, signature: String, arity: Int, cls: Class[_],
                                     build: Seq[Expression] => Expression) {
    /** Arity-checked builder: a wrong argument count surfaces as a
      * readable analysis-time error naming the expected signature, not
      * an IndexOutOfBoundsException from exprs(n).
      */
    def checked(exprs: Seq[Expression]): Expression = {
      if (exprs.length != arity)
        throw new IllegalArgumentException(
          s"$name expects $arity arguments — $name($signature) — got ${exprs.length}")
      build(exprs)
    }
  }

  /** Every function the extension registers. */
  private[graft] val functions: Seq[Fn] = Seq(
    Fn(JsonFindNumbers.fnName, "json, key, subfield", 3, classOf[JsonFindNumbers],
      e => JsonFindNumbers(e(0), e(1), e(2))),
    Fn(CosineSimilarity.fnName, "vecA, vecB", 2, classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    Fn(LshSignature.fnName, "vec, numPlanes, table", 3, classOf[LshSignature], e => LshSignature(e(0), e(1), e(2))),
    Fn(SimHash64.fnName, "words", 1, classOf[SimHash64], e => SimHash64(e(0))),
    Fn(SimHashMd5.fnName, "words", 1, classOf[SimHashMd5], e => SimHashMd5(e(0))),
    Fn(WordShingles.fnName, "text, n", 2, classOf[WordShingles], e => WordShingles(e(0), e(1))),
    Fn(TopKCount.fnName, "term, k, capacity", 3, classOf[TopKCount], e => TopKCount(e(0), e(1), e(2))),
    Fn(TopKSum.fnName, "term, weight, k, capacity", 4, classOf[TopKSum], e => TopKSum(e(0), e(1), e(2), e(3))),
    Fn(NfcNormalize.fnName, "str", 1, classOf[NfcNormalize], e => NfcNormalize(e(0))),
    Fn(SubwordTokenize.fnName, "words, vocab, unk", 3, classOf[SubwordTokenize],
      e => SubwordTokenize(e(0), e(1), e(2))),
    Fn(DictMatch.fnName, "text, patterns", 2, classOf[DictMatch], e => DictMatch(e(0), e(1))),
    Fn(BitmapDistinct.aggName, "bucket, m", 2, classOf[BitmapAgg], e => BitmapAgg(e(0), e(1))),
    Fn(BitmapDistinct.orAggName, "bm", 1, classOf[BitmapOrAgg], e => BitmapOrAgg(e(0))),
    Fn(BitmapDistinct.cardName, "bm", 1, classOf[BitmapCardinality], e => BitmapCardinality(e(0))),
    Fn(BitmapDistinct.andName, "a, b", 2, classOf[BitmapAndCardinality], e => BitmapAndCardinality(e(0), e(1))),
    Fn(BitmapDistinct.orName, "a, b", 2, classOf[BitmapOrCardinality], e => BitmapOrCardinality(e(0), e(1))),
    Fn(CountMin.aggName, "value, w, d", 3, classOf[CountMinAgg], e => CountMinAgg(e(0), e(1), e(2))),
    Fn(CountMin.mergeName, "sketch", 1, classOf[CountMinMergeAgg], e => CountMinMergeAgg(e(0))),
    Fn(CountMin.estName, "sketch, value", 2, classOf[CountMinEstimate], e => CountMinEstimate(e(0), e(1))),
    // Spark's own runtime-filter expressions, surfaced as callable
    // functions so ops/Joins.bloomPrunedJoin can build/probe the
    // sketch explicitly (the planner's InjectRuntimeFilter only fires
    // under narrow preconditions). Both are codegen'd; the aggregate
    // merges partial sketches executor-side.
    Fn("graft_bloom_agg", "xxhash64Value, estimatedItems, numBits", 3, classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    Fn("graft_might_contain", "bloomFilter, xxhash64Value", 2, classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  /** Parse each JSON value once per row. In a Project, identical
    * deterministic `from_json` calls (same input, schema and options)
    * become one alias in a child Project that every use reads, so a
    * projection extracting five fields of a bundle parses it once, not
    * five times: Catalyst does not share a repeated `from_json` itself.
    *
    * Mounted at analysis: by optimization, OptimizeJsonExprs has pruned
    * each use's schema to its own fields and the calls no longer match.
    * CollapseProject keeps the alias, as it keeps any non-cheap alias
    * read more than once. Hoisting pulls a parse out of `when` branches,
    * so FAILFAST parses (which throw) stay put, as do parses that read
    * anything the child does not output, a lambda variable included.
    * Idempotent: the child Project holds each parse once.
    */
  object ParseOnce extends Rule[LogicalPlan] {
    private def hoistable(j: JsonToStructs, child: LogicalPlan): Boolean =
      j.deterministic && j.references.nonEmpty && j.references.subsetOf(child.outputSet) &&
        !j.options.exists { case (k, v) => k.equalsIgnoreCase("mode") && ParseMode.fromString(v) == FailFastMode }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
      case p @ Project(list, child) if p.resolved =>
        def parses(e: Expression): Seq[JsonToStructs] = e match {
          case j: JsonToStructs if hoistable(j, child) => Seq(j)
          case _ => e.children.flatMap(parses)
        }
        val all = list.flatMap(parses)
        val uses = all.groupMapReduce(_.canonicalized)(_ => 1)(_ + _)
        val hoisted = all.filter(j => uses(j.canonicalized) > 1).distinctBy(_.canonicalized)
          .map(j => j.canonicalized -> Alias(j, "__json")())
        if (hoisted.isEmpty) p
        else {
          val bound = hoisted.toMap
          Project(list.map(_.transformDown {
            case j: JsonToStructs if bound.contains(j.canonicalized) => bound(j.canonicalized).toAttribute
          }.asInstanceOf[NamedExpression]), Project(child.output ++ hoisted.map(_._2), child))
        }
    }
  }
}
