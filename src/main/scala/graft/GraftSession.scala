package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains and specs build a local `SparkSession`.
  *
  * The builder always installs [[graft.functions.GraftExtensions]] (SQL
  * MERGE / UPDATE / DELETE resolution, the MV rewrite, `vec_dot` and the
  * other SQL functions), so no entry point can forget it. Callers chain
  * only what is theirs (app name, Hive confs) before `getOrCreate()`.
  */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI, nanosecond parquet timestamps read as longs, and graft's
    * extensions installed.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
