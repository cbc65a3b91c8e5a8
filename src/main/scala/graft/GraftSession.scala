package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: `Bench`, `Verify`, `PlanDump` and the
  * test suite all run on it, so the oracle checks the physical plan the
  * bench times. */
object GraftSession {
  /** A `local[cpus]` session; `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // r11 (guide §3.1): let AQE rewrite a planned sort-merge join to a
      // shuffled-hash join at runtime when the MEASURED per-partition map
      // output fits comfortably in memory — unlike preferSortMergeJoin
      // (an estimate-based static gamble), this is size-guarded per
      // partition, so it is the same decision a 100 TB run should make:
      // big partitions keep the spill-safe SMJ, small ones skip the sort.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
