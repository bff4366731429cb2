package graft.graphx

import org.apache.spark.sql.SparkSession

/** The one local/distributed dispatch for every fixpoint in
  * [[GraphAnalytics]]. A synchronous fixpoint is dozens of sequential
  * shuffle stages whose scheduling overhead dwarfs the arithmetic while
  * the graph fits the driver, so each one has two arms computing the
  * identical exact result (the arms-equality specs pin every pair): a
  * driver loop over one collect, and the distributed DataFrame loop
  * that is the scale path.
  *
  * The rule, for every site: the local arm runs when the site's row
  * measure is at or under the limit. The limit is [[LimitConf]] when it
  * is set, else the site's own default. Setting it to 0 forces every
  * distributed arm; `Long.MaxValue` forces every local one. The chosen
  * arm lands in the local property `graft.<name>.impl`, so tests and
  * profiles can see which one ran.
  */
object Arms {

  /** The one threshold conf: rows at or under it run the local arm. */
  val LimitConf = "spark.graft.localEdgeThreshold"

  /** The limit in force: [[LimitConf]] when set, else `default`. */
  def limit(spark: SparkSession, default: Long): Long =
    spark.conf.getOption(LimitConf).fold(default)(_.toLong)

  /** Whether the `name` site runs its local arm for `rows` rows; tags
    * `graft.<name>.impl` with `labels._1` (local) or `labels._2`. */
  def local(spark: SparkSession, name: String, rows: => Long, default: Long,
            labels: (String, String) = ("local", "distributed")): Boolean = {
    val isLocal = rows <= limit(spark, default)
    spark.sparkContext.setLocalProperty(s"graft.$name.impl",
      if (isLocal) labels._1 else labels._2)
    isLocal
  }
}
