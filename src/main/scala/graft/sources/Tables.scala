package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Reference analog: the inlet datasets of
  * /root/reference/airflow/dags/create_inlets.py (CollectionDataset),
  * re-expressed as columnar parquet scans so Catalyst gets predicate
  * pushdown + column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One parquet file per table: `dir/name.parquet`, read with the
    * schema Spark inferred for it ([[schemaOf]]). A bare
    * `spark.read.parquet` runs a one-task footer job to infer the
    * schema before every query that reads the table; given the
    * schema, the read runs no job. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Per path read: the fingerprint ([[schemaOf]]) its schema was
    * inferred under, and that schema. Bounded by the paths read; an
    * entry is replaced when its path's fingerprint changes. */
  private val inferred = new ConcurrentHashMap[String,
    ((Seq[(String, Long, Long)], Map[String, String]), StructType)]

  /** Session confs that parquet schema inference reads: the type
    * mappings (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
    * two of them set by [[tune]]), field-name case and corrupt-footer
    * handling. */
  private def inferenceConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.files.ignoreCorruptFiles"
    }

  /** Every file under `path` (the path itself if it is a file) as
    * (name, length, modification time), sorted; empty if `path` does
    * not exist. */
  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk) else Seq(s)
    if (!fs.exists(p)) Nil
    else walk(fs.getFileStatus(p))
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
  }

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * fingerprint: every leaf file's (name, length, modification time)
    * plus the session's [[inferenceConfs]]. Rewriting the table or
    * changing one of those confs re-infers on the next read; a
    * missing path is inferred every time, so it fails as a bare read
    * does. The listing is taken before the inference, so a rewrite
    * racing a read is caught by the next one. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val fingerprint = (leafFiles(spark, path), inferenceConfs(spark))
    Option(inferred.get(path)).collect { case (f, schema) if f == fingerprint =>
      schema
    }.getOrElse {
      val schema = spark.read.parquet(path).schema
      inferred.put(path, (fingerprint, schema))
      schema
    }
  }

  /** The paths an inferred schema is held for. */
  private[graft] def inferredPaths: Seq[String] =
    inferred.keySet.asScala.toSeq

  /** Session tuning applied by every entry point. Idempotent.
    *
    * - timestamps: read parquet TIMESTAMP(isAdjustedToUTC=false) as
    *   session-TZ TimestampType (UTC session) so semantics line up with
    *   the DuckDB oracle's naive timestamps;
    *   events.ts is TIMESTAMP(NANOS) which Spark's vectorized reader
    *   only surfaces via nanosAsLong — we convert to TimestampType at
    *   load (see [[events]]).
    * - AQE on with skew-join handling: at 100 TB the fact-fact joins
    *   (orders x lineitem) need runtime skew splitting.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }

  /** events with `ts` as a proper TimestampType column (micros
    * truncation of the nanos value — matches DuckDB's `ts` to the
    * microsecond, which is all we ever compare on).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = apply(spark, dir, "events")
    if (raw.schema("ts").dataType.typeName == "long")
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
