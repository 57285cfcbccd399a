package graft

import graft.functions.CosineSimilarity
import graft.parse.JsonFindNumbers
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, ExpressionInfo, JsonToStructs, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{FailFastMode, ParseMode}

/** Session extensions mounting the engine's custom Catalyst pieces.
  * Enable with .config("spark.sql.extensions", "graft.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: a wrong argument count surfaces as a
    * readable analysis-time error naming the expected signature, not
    * an IndexOutOfBoundsException from exprs(n).
    */
  private def checked(name: String, signature: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects $n arguments — $name($signature) — got ${exprs.length}")
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => GraftExtensions.ParseOnce)
    // Whole-operator extension: the native as-of join (logical node →
    // strategy → streaming merge exec). See graft.plans.AsOfJoin.
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier(JsonFindNumbers.fnName),
      new ExpressionInfo(classOf[JsonFindNumbers].getName, JsonFindNumbers.fnName),
      checked(JsonFindNumbers.fnName, "json, key, subfield", 3)(
        exprs => JsonFindNumbers(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier(CosineSimilarity.fnName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineSimilarity.fnName),
      checked(CosineSimilarity.fnName, "vecA, vecB", 2)(
        exprs => CosineSimilarity(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.LshSignature.fnName),
      new ExpressionInfo(classOf[graft.functions.LshSignature].getName, graft.functions.LshSignature.fnName),
      checked(graft.functions.LshSignature.fnName, "vec, numPlanes, table", 3)(
        exprs => graft.functions.LshSignature(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.SimHash64.fnName),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName, graft.functions.SimHash64.fnName),
      checked(graft.functions.SimHash64.fnName, "words", 1)(
        exprs => graft.functions.SimHash64(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.SimHashMd5.fnName),
      new ExpressionInfo(classOf[graft.functions.SimHashMd5].getName, graft.functions.SimHashMd5.fnName),
      checked(graft.functions.SimHashMd5.fnName, "words", 1)(
        exprs => graft.functions.SimHashMd5(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.WordShingles.fnName),
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, graft.functions.WordShingles.fnName),
      checked(graft.functions.WordShingles.fnName, "text, n", 2)(
        exprs => graft.functions.WordShingles(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.TopKCount.fnName),
      new ExpressionInfo(classOf[graft.functions.TopKCount].getName, graft.functions.TopKCount.fnName),
      checked(graft.functions.TopKCount.fnName, "term, k, capacity", 3)(
        exprs => graft.functions.TopKCount(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.TopKSum.fnName),
      new ExpressionInfo(classOf[graft.functions.TopKSum].getName, graft.functions.TopKSum.fnName),
      checked(graft.functions.TopKSum.fnName, "term, weight, k, capacity", 4)(
        exprs => graft.functions.TopKSum(exprs(0), exprs(1), exprs(2), exprs(3)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.NfcNormalize.fnName),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName, graft.functions.NfcNormalize.fnName),
      checked(graft.functions.NfcNormalize.fnName, "str", 1)(
        exprs => graft.functions.NfcNormalize(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.SubwordTokenize.fnName),
      new ExpressionInfo(classOf[graft.functions.SubwordTokenize].getName, graft.functions.SubwordTokenize.fnName),
      checked(graft.functions.SubwordTokenize.fnName, "words, vocab, unk", 3)(
        exprs => graft.functions.SubwordTokenize(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.DictMatch.fnName),
      new ExpressionInfo(classOf[graft.functions.DictMatch].getName, graft.functions.DictMatch.fnName),
      checked(graft.functions.DictMatch.fnName, "text, patterns", 2)(
        exprs => graft.functions.DictMatch(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.BitmapDistinct.aggName),
      new ExpressionInfo(classOf[graft.functions.BitmapAgg].getName, graft.functions.BitmapDistinct.aggName),
      checked(graft.functions.BitmapDistinct.aggName, "bucket, m", 2)(
        exprs => graft.functions.BitmapAgg(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.BitmapDistinct.orAggName),
      new ExpressionInfo(classOf[graft.functions.BitmapOrAgg].getName, graft.functions.BitmapDistinct.orAggName),
      checked(graft.functions.BitmapDistinct.orAggName, "bm", 1)(
        exprs => graft.functions.BitmapOrAgg(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.BitmapDistinct.cardName),
      new ExpressionInfo(classOf[graft.functions.BitmapCardinality].getName, graft.functions.BitmapDistinct.cardName),
      checked(graft.functions.BitmapDistinct.cardName, "bm", 1)(
        exprs => graft.functions.BitmapCardinality(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.BitmapDistinct.andName),
      new ExpressionInfo(classOf[graft.functions.BitmapAndCardinality].getName, graft.functions.BitmapDistinct.andName),
      checked(graft.functions.BitmapDistinct.andName, "a, b", 2)(
        exprs => graft.functions.BitmapAndCardinality(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.BitmapDistinct.orName),
      new ExpressionInfo(classOf[graft.functions.BitmapOrCardinality].getName, graft.functions.BitmapDistinct.orName),
      checked(graft.functions.BitmapDistinct.orName, "a, b", 2)(
        exprs => graft.functions.BitmapOrCardinality(exprs(0), exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.CountMin.aggName),
      new ExpressionInfo(classOf[graft.functions.CountMinAgg].getName, graft.functions.CountMin.aggName),
      checked(graft.functions.CountMin.aggName, "value, w, d", 3)(
        exprs => graft.functions.CountMinAgg(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.CountMin.mergeName),
      new ExpressionInfo(classOf[graft.functions.CountMinMergeAgg].getName, graft.functions.CountMin.mergeName),
      checked(graft.functions.CountMin.mergeName, "sketch", 1)(
        exprs => graft.functions.CountMinMergeAgg(exprs(0)))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.CountMin.estName),
      new ExpressionInfo(classOf[graft.functions.CountMinEstimate].getName, graft.functions.CountMin.estName),
      checked(graft.functions.CountMin.estName, "sketch, value", 2)(
        exprs => graft.functions.CountMinEstimate(exprs(0), exprs(1)))))
    // Spark's own runtime-filter expressions, surfaced as callable
    // functions so ops/Joins.bloomPrunedJoin can build/probe the
    // sketch explicitly (the planner's InjectRuntimeFilter only fires
    // under narrow preconditions). Both are codegen'd; the aggregate
    // merges partial sketches executor-side.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      checked("graft_bloom_agg", "xxhash64Value, estimatedItems, numBits", 3)(
        exprs => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      checked("graft_might_contain", "bloomFilter, xxhash64Value", 2)(
        exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1)))))
  }
}

object GraftExtensions {

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
