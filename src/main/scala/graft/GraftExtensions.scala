package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.graft.{CmsTopK, RowLevelSecurityRule, VectorExpressions => VE}

/** Session extensions — the library's Catalyst integration point
  * (the Spark-4 equivalent of the reference's SnappySessionState wiring,
  * SURVEY.md §3.1): row-level-security analyzer rule + SQL registration
  * of the custom expressions, so `spark.sql("SELECT vec_cosine(a,b) ...")`
  * works next to the Column API.
  *
  * Usage: `graft.GraftConf.session(app, cpus)`, which sets
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(session => RowLevelSecurityRule(session))
    // SYS virtual tables (sys.tablestats, sys.members, ...) resolved
    // live at analysis time — the reference's SYS schema surface
    e.injectResolutionRule(session => SysRelationRule(session))
    // CREATE SYNONYM resolution: bare-name relations that match a
    // registered synonym rewrite to their (cycle-checked) target
    e.injectResolutionRule(session => SynonymRule(session))
    e.injectResolutionRule(session => org.apache.spark.sql.graft.GrantCheckRule(session))
    // dictionary-code join fast path for store-scan ⋈ small-dim string
    // joins (spark.sql.graft.dictJoin = false|auto|true, default auto:
    // fires only when the probe key is actually dict-encoded)
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.store.DictJoinStrategy)
    // a store-table append whose rows are already on the driver (a
    // VALUES list) writes and commits on the calling thread, no job
    e.injectPlannerStrategy(session => org.apache.spark.sql.graft.store.LocalWrites(session))
    // whole-table approx_count_distinct over sketch_columns tables →
    // answered from per-batch HLL digests (no scan); declines on any
    // delete/update so the estimate contract is never weakened
    e.injectOptimizerRule(session =>
      org.apache.spark.sql.graft.store.StatsApproxDistinctRule(session))
    // transparent materialized-view substitution: aggregates over a base
    // table with a PROVEN-FRESH matview answer from the summary table
    // (spark.sql.graft.matviewRewrite = true|false, default true)
    e.injectOptimizerRule(session =>
      org.apache.spark.sql.graft.store.MatViewRewrite(session))
    // both halves run before CollapseCodegenStages. Pre: literal-
    // independent generated code — comparison operands in Filter/Project
    // read their value from `references`, so a new point-lookup key
    // reuses the compiled class instead of running Janino. Post: a
    // bounded key lookup's single partition runs on the calling thread
    // (collect/take/toIterator) instead of as a one-task Spark job
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        org.apache.spark.sql.graft.ParamLiterals
      override def postColumnarTransitions: Rule[SparkPlan] =
        org.apache.spark.sql.graft.store.LocalLookups
    })

    // Snappy statement surface (PUT INTO, UPDATE/DELETE on managed
    // tables, CREATE POLICY, CREATE SAMPLE TABLE, CREATE TABLE USING
    // column AS ...) — a combinator grammar delegating embedded
    // expressions/queries to the stock parser.
    e.injectParser((session, delegate) =>
      new org.apache.spark.sql.graft.parser.GraftSqlParser(session, delegate))

    e.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double dot product of float vectors"),
      (args: Seq[Expression]) => VE.VectorDot(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of float vectors"),
      (args: Seq[Expression]) => VE.VectorCosine(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of a float vector"),
      (args: Seq[Expression]) => VE.VectorNorm(args(0))))
    e.injectFunction((FunctionIdentifier("approx_topk"),
      info("approx_topk", "approx_topk(key, k) - CMS top-k keys by frequency"),
      (args: Seq[Expression]) => CmsTopK(args(0),
        args(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))

    // DuckDB-parity rounding as a SQL function (see graft.dround scaladoc)
    e.injectFunction((FunctionIdentifier("graft_round"),
      info("graft_round", "graft_round(x, s) - round half-away-from-zero on the binary double"),
      (args: Seq[Expression]) => VE.graftRoundExpr(args(0),
        args(1).eval().asInstanceOf[Number].intValue())))

    // bootstrap error estimation (reference NumBootStrapTrials contract,
    // Literals.scala:259-303) — composable surface: bootstrap_trials
    // yields the raw per-trial estimates so non-linear estimators get CIs
    // closed-form can't provide; bootstrap_ci turns any ARRAY<DOUBLE> of
    // trials into a percentile interval
    e.injectFunction((FunctionIdentifier("bootstrap_trials"),
      info("bootstrap_trials",
        "bootstrap_trials(x, w, mode, trials, seed[, rowKey]) - poissonized-bootstrap trial estimates"),
      (args: Seq[Expression]) =>
        (if (args.length >= 6)
          org.apache.spark.sql.graft.BootstrapTrials(
            args(0), args(1), args(2), args(3), args(4), args(5))
        else
          org.apache.spark.sql.graft.BootstrapTrials(
            args(0), args(1), args(2), args(3), args(4))).toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("bootstrap_ci"),
      info("bootstrap_ci",
        "bootstrap_ci(trials, confidence) - percentile CI struct(abs_err, lo, hi)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.BootstrapCI(args(0), args(1))))

    // the text-hash/dedup expression family in SQL (the Column API
    // wrappers live in graft.functions.TextFunctions) — literal
    // parameters are evaluated at registration, mirroring approx_topk
    def intArg(args: Seq[Expression], i: Int): Int =
      args(i).eval().asInstanceOf[Number].intValue()
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text, shingleLen, numHashes) - MinHash signature"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.MinHashSignature(args(0),
          intArg(args, 1), intArg(args, 2))))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text, n) - sorted distinct shingle hashes"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.ShingleHashes(args(0), intArg(args, 1))))
    e.injectFunction((FunctionIdentifier("ngram_jaccard"),
      info("ngram_jaccard", "ngram_jaccard(a, b, n) - exact word n-gram Jaccard"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.NgramJaccard(args(0), args(1), intArg(args, 2))))
    e.injectFunction((FunctionIdentifier("hash_jaccard"),
      info("hash_jaccard", "hash_jaccard(a, b) - Jaccard of two sorted hash arrays"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.HashArrayJaccard(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("md5_prefix_long"),
      info("md5_prefix_long", "md5_prefix_long(s, hexChars) - md5 prefix as unsigned long"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.Md5PrefixLong(args(0), intArg(args, 1))))
    e.injectFunction((FunctionIdentifier("top_gram_fracs"),
      info("top_gram_fracs", "top_gram_fracs(tokens, maxN) - top n-gram coverage fractions"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.TopGramFracs(args(0), intArg(args, 1))))
    e.injectFunction((FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(tokens, sigBits, md5Portable) - SimHash signature"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.SimHashSig(args(0), intArg(args, 1),
          args(2).eval() == true)))
    e.injectFunction((FunctionIdentifier("rolling_window_hash"),
      info("rolling_window_hash",
        "rolling_window_hash(tokens, windowLen) - Rabin-Karp window fingerprints"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.RollingWindowHash(args(0), intArg(args, 1))))
    e.injectFunction((FunctionIdentifier("array_count_in"),
      info("array_count_in", "array_count_in(arr, v1, v2, ...) - count of elements in the set"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graft.ArrayCountIn(args(0),
          args.tail.map { e =>
            // clean analysis-time error instead of an NPE / unbound-eval
            // crash on non-literal or NULL value arguments
            require(e.foldable,
              "array_count_in: values must be string literals")
            val v = e.eval()
            require(v != null,
              "array_count_in: values must be non-null string literals")
            v.toString
          })))

    // reference io/snappydata/functions.scala:46-53: dsid() (executor
    // member id — here the partition id, the Spark-native analog) and
    // current_schema() (alias of current_database)
    e.injectFunction((FunctionIdentifier("dsid"),
      info("dsid", "dsid() - id of the executor partition computing the row"),
      (_: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.SparkPartitionID()))
    e.injectFunction((FunctionIdentifier("current_schema"),
      info("current_schema", "current_schema() - current database name"),
      (_: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.CurrentDatabase()))
    // reference `VALUES CURRENT ISOLATION` (set-isolation.md): surfaced
    // as a function reading the session's recorded level (NONE | CS)
    e.injectFunction((FunctionIdentifier("current_isolation"),
      info("current_isolation", "current_isolation() - session isolation level (NONE | CS)"),
      (_: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            org.apache.spark.sql.internal.SQLConf.get
              .getConfString("spark.sql.graft.isolation", "NONE")),
          org.apache.spark.sql.types.StringType)))
  }
}
