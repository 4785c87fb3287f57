package graft

import org.apache.spark.sql.SparkSession

/** The one session setup every graft main and the specs' shared session
  * use — the engine's form of the reference's `env.sh`, which every script
  * sources. Only the forked crash victims keep their own small `local[n]`
  * setups.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with graft's extensions, one shuffle
    * partition per core, UTC, no UI and nanos-as-long parquet timestamps
    * (the events vintage [[Tables.events]] adapts to), at log level WARN.
    * `extra` settings apply last.
    */
  def local(extra: (String, String)*): SparkSession = {
    val n = cpus
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
