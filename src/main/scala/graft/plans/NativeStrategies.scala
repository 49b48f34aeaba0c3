package graft.plans

import org.apache.spark.sql.SparkSession

/** The one install point of the native planner strategies
  * ([[AsOfJoinStrategy]], [[RangeJoinStrategy]]) on a session's
  * `extraStrategies`. Idempotent, and synchronized: it is a
  * read-modify-write of a session-global, so concurrent first calls
  * must neither lose an update nor install a duplicate. Each strategy
  * plans only its own logical node, so no other plan changes.
  */
object NativeStrategies {
  private val All = Seq(AsOfJoinStrategy, RangeJoinStrategy)

  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    val missing = All.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies ++ missing
  }
}
