package graft.lake

import org.apache.spark.sql.SparkSession

/** The engine's optimizer rules, installed once per session:
  *   - [[NormalizeZeroComparisonLiterals]] fixes the parquet-pushdown
  *     -0.0 equality hole for every scan in the session;
  *   - [[ManifestAggRule]] answers aggregates over manifest-backed scans
  *     from metadata alone.
  *
  * Every [[LakeTable]] handle installs them, so a session built by any
  * caller gets them before its first lake read. */
object OptimizerRules {
  private val rules = Seq(NormalizeZeroComparisonLiterals, ManifestAggRule)

  /** Idempotent: appends only the rules the session does not carry. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    val missing = rules.filterNot(exp.extraOptimizations.contains)
    if (missing.nonEmpty)
      exp.extraOptimizations = exp.extraOptimizations ++ missing
  }
}
