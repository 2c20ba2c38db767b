package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{KernelExpressions => K, TopKByScore}

/** SQL surface for the kernel library: `spark.sql.extensions=graft.GraftExtensions`
  * (wired into Main/Bench/Verify and available to any `spark-submit`) injects
  * every codegen'd kernel row of [[graft.functions.KernelExpressions]] that
  * declares one as a `graft_*` SQL function, so pure-SQL users get
  * the same single-static-call generated code as the Column API — cosine over
  * embedding arrays, minhash/simhash signatures, shingle and n-gram hashes,
  * quality stats, int8 quantization, media header parsing, and the frozen
  * merge-table BPE token count. Parameter arguments (n-gram sizes, hash
  * counts) must be integer LITERALS — they parameterize code generation, not
  * per-row values.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // the one broadcast-size policy: strips oversized explicit broadcast() hints
    ext.injectOptimizerRule(graft.plans.BroadcastGuard)
    // whole-operator plans: native sort-merge as-of join
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofStrategy)
  }
}

object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  private def fd(name: String, usage: String, builder: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.KernelExpressions", null, name, usage, ""),
      builder)

  /** One function per kernel row that declares SQL, plus the top-k aggregate. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    (for (k <- K.all; s <- k.sql) yield fd(s.name, s.usage, k.fromSql(s))) :+
      fd("graft_topk",
        "graft_topk(score, id, k) - AGGREGATE: k best (score, id) pairs per group, score DESC id ASC",
        args => { K.requireArity("graft_topk", args, 3)
          // cast-tolerant: any numeric score / integral id works from SQL
          TopKByScore(Cast(args(0), DoubleType), Cast(args(1), LongType),
            K.litInt(args, 2, "graft_topk")) })
}
