package graft

import graft.functions.{DotProduct, EqualPositions, HyperplaneSig, UnicodeNormalize}
import graft.sources.AvroBinaryToJson
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** Registers graft's custom Catalyst expressions as SQL functions, so the
  * whole engine surface is reachable from `spark.sql(...)`:
  *
  *  - `graft_dot(a, b)` — double dot product over array<float|double>;
  *  - `graft_hyperplane_sig(vec, planes)` — random-hyperplane LSH bits;
  *  - `graft_equal_positions(a, b)` — MinHash signature agreement;
  *  - `graft_avro_to_json(payload, schemaJson)` — Avro binary → JSON;
  *  - `graft_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD')` — Unicode
  *    normalization (codegen'd JDK Normalizer);
  *  - `graft_utf8_truncate(s, maxBytes)` — whole-character byte-width
  *    clamp (COPY TRUNCATECOLUMNS);
  *  - `graft_utf8_sanitize(s[, repl])` — invalid-UTF-8 byte replacement
  *    (COPY ACCEPTINVCHARS);
  *  - `graft_script_counts(s)` — one-pass Unicode script profile
  *    `[letters, latin, cyrillic, han, arabic]` code-point counts.
  *
  * Use via config (`spark.sql.extensions=graft.GraftExtensions`) or
  * imperatively with [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // interval theta-join -> banded equi-join (kills BNLJ/cartesian plans)
    ext.injectOptimizerRule(_ => graft.plans.BandedIntervalJoin)
    // plans GroupRunningAgg (two-pass distributed rank local pass)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
  }
}

object GraftExtensions {

  private def str(e: Expression): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got $other")
  }

  private def int(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"expected an int literal, got $other")
  }

  private[graft] val definitions: Seq[
      (String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_equal_positions",
      new ExpressionInfo(classOf[EqualPositions].getName, "graft_equal_positions"),
      (args: Seq[Expression]) => EqualPositions(args(0), args(1))),
    ("graft_hyperplane_sig",
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplane_sig"),
      (args: Seq[Expression]) => HyperplaneSig(args(0), int(args(1)))),
    ("graft_avro_to_json",
      new ExpressionInfo(classOf[AvroBinaryToJson].getName, "graft_avro_to_json"),
      (args: Seq[Expression]) => AvroBinaryToJson(args(0), str(args(1)))),
    ("graft_normalize",
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (args: Seq[Expression]) => UnicodeNormalize(args(0), str(args(1)))),
    ("graft_utf8_truncate",
      new ExpressionInfo(
        classOf[graft.warehouse.Utf8Truncate].getName, "graft_utf8_truncate"),
      (args: Seq[Expression]) =>
        graft.warehouse.Utf8Truncate(args(0), int(args(1)))),
    ("graft_utf8_sanitize",
      new ExpressionInfo(
        classOf[graft.warehouse.Utf8Sanitize].getName, "graft_utf8_sanitize"),
      (args: Seq[Expression]) =>
        graft.warehouse.Utf8Sanitize(args(0),
          if (args.length > 1) str(args(1)) else "?")),
    ("graft_script_counts",
      new ExpressionInfo(
        classOf[graft.functions.ScriptCounts].getName, "graft_script_counts"),
      (args: Seq[Expression]) => graft.functions.ScriptCounts(args(0))))

  /** Imperative registration on an existing session. Idempotent also
    * against the `spark.sql.extensions` path: injectOptimizerRule'd rules
    * live in the optimizer's batch list (not extraOptimizations), so the
    * guard checks both — otherwise a session built with the extensions
    * config and then registered would install the rule twice and pay two
    * plan traversals per query. */
  def register(spark: SparkSession): Unit = {
    definitions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
    val viaExtensions = spark.sessionState.optimizer.batches.exists(
      _.rules.contains(graft.plans.BandedIntervalJoin))
    if (!viaExtensions && !spark.experimental.extraOptimizations
        .contains(graft.plans.BandedIntervalJoin))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.BandedIntervalJoin)
    // planner.strategies covers both the extensions path and
    // experimental.extraStrategies — one check guards both install routes
    if (!spark.sessionState.planner.strategies.contains(graft.plans.GraftStrategy))
      spark.experimental.extraStrategies ++= Seq(graft.plans.GraftStrategy)
  }
}
