package graft
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every main and the
  * test suite open their session here, so entry points cannot drift
  * apart in configuration (ref: the reference opens its one connection
  * from one config, pgdedupe/cli.py:26-67):
  *
  *  - the `GraftExtensions` SQL functions (`cosine_sim`, …) installed;
  *  - `local[cpus]` with shuffle partitions = `cpus`;
  *  - UTC session time zone, adaptive execution on, no UI;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: TIMESTAMP(NANOS) parquet
  *    columns read as longs, which `Tables.load` converts back.
  *
  * `getOrCreate` semantics: a second call in the same JVM returns the
  * running session.
  */
object GraftSession {

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else every core the
    * JVM can see.
    */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `master` overrides `local[cpus]` (a cluster address); shuffle
    * partitions stay `cpus` either way.
    */
  def apply(cpus: Int = defaultCpus,
      master: Option[String] = None): SparkSession = {
    require(cpus >= 1, s"cpus $cpus must be >= 1")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", graft.functions.GraftExtensions.CONF)
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
