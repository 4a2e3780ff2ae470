package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The end-to-end collection build — union → member merge →
    * rank → assembly — i.e. the reference's whole DAG as one plan. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q19_collection_pipeline(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** The local session every `main` here and in `graft.tools` runs
    * on: `local[cpus]` with shuffle partitions = cpus, where cpus is
    * SPARK_GRAFT_CPUS or, when unset, the processor count the JVM
    * sees; UTC session time; no UI. The codegen class cache is
    * raised from its ~100-entry default, which self-evicts once 126
    * queries have compiled: a warmed query's classes could be gone
    * by its timed run. It is a static conf, so it must be set before
    * the first SQLConf read in the JVM. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .getOrCreate()
  }
}
