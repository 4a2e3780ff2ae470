package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read-side evidence for [[graft.sinks.Sinks.writeZOrdered]] (q46's
  * layout half): writes the SAME table z-ordered and unsorted, then
  * (a) counts, from the parquet FOOTERS' per-row-group min/max
  * column statistics, how many row groups a 2-D range predicate can
  * prune — the deterministic measure of what parquet's row-group
  * skipping decompresses — and (b) times the filtered scan on both
  * layouts (per-query warm + min of 2, the CLAUDE.md bench method).
  * Footer stats are the honest metric: wall-clock on a local SSD
  * understates the skip's value at 100 TB, where every non-pruned
  * row group is a remote read.
  *
  * Usage: runMain graft.tools.ZOrderScan <sfDir> <outJson>
  */
object ZOrderScan {

  /** (total row groups, row groups whose [min,max] boxes overlap the
    * predicate box on BOTH columns) across all parquet files under
    * `path` — exactly the groups parquet's stats-based filter must
    * read. Driver-side footer walk: metadata only, no row data. */
  def rowGroupOverlap(spark: SparkSession, path: String,
                      xCol: String, xLo: Long, xHi: Long,
                      yCol: String, yLo: Long, yHi: Long)
    : (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var total = 0L
    var overlap = 0L
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          f, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        (0 until blocks.size()).foreach { bi =>
          val b = blocks.get(bi)
          total += 1
          def range(name: String): Option[(Long, Long)] = {
            val cols = b.getColumns
            (0 until cols.size()).iterator.map(cols.get)
              .find(_.getPath.toDotString == name)
              .flatMap { c =>
                val st = c.getStatistics
                if (st == null || !st.hasNonNullValue) None
                else (st.genericGetMin, st.genericGetMax) match {
                  case (mn: Number, mx: Number) =>
                    Some((mn.longValue, mx.longValue))
                  case _ => None
                }
              }
          }
          // a group with no usable stats cannot be pruned -> overlaps
          val xOk = range(xCol).forall { case (mn, mx) =>
            mx >= xLo && mn <= xHi }
          val yOk = range(yCol).forall { case (mn, mx) =>
            mx >= yLo && mn <= yHi }
          if (xOk && yOk) overlap += 1
        }
      } finally reader.close()
    }
    (total, overlap)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val out = args.lift(1).getOrElse("/tmp/graft_zorder.json")
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")

    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
      .select(col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"),
        col("l_extendedprice"))
    // small row groups so skipping is visible at test scale — at
    // production scale the default 128 MB groups play the same role
    // (layouts land in a scratch dir; the test data dir is read-only)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString
    val zDir = s"$scratch/li_zorder.parquet"
    val uDir = s"$scratch/li_unsorted.parquet"
    val files = 32
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 64 * 1024)
    graft.sinks.Sinks.writeZOrdered(li, zDir, "pk", "sk", files)
    li.repartition(files).write.mode("overwrite").parquet(uDir)

    // the selective 2-D box: ~1% of each key domain
    val (pkLo, pkHi) = {
      val mx = li.agg(max("pk")).head.getLong(0)
      (mx / 2, mx / 2 + math.max(mx / 100, 1))
    }
    val (skLo, skHi) = {
      val mx = li.agg(max("sk")).head.getLong(0)
      (mx / 2, mx / 2 + math.max(mx / 100, 1))
    }
    def scan(path: String): DataFrame =
      spark.read.parquet(path)
        .filter(col("pk").between(pkLo, pkHi) &&
          col("sk").between(skLo, skHi))
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("s"))
    // both layouts must agree before timings mean anything; counts
    // compare exactly, revenue with a cent tolerance (the two
    // layouts sum doubles in different orders — same discipline as
    // SkewBench)
    val rz = scan(zDir).head
    val ru = scan(uDir).head
    require(rz.getLong(0) == ru.getLong(0) &&
      math.abs(rz.getDouble(1) - ru.getDouble(1)) <= 0.01,
      s"layouts disagree: $rz vs $ru")

    val (zTotal, zOverlap) = rowGroupOverlap(spark, zDir,
      "pk", pkLo, pkHi, "sk", skLo, skHi)
    val (uTotal, uOverlap) = rowGroupOverlap(spark, uDir,
      "pk", pkLo, pkHi, "sk", skLo, skHi)

    def time(path: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        scan(path).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }
    val tz = time(zDir)
    val tu = time(uDir)
    val line = s"""{"metric":"zorder_scan","data":"$dataDir",""" +
      s""""box":[$pkLo,$pkHi,$skLo,$skHi],"rows_match":${rz.getLong(0)},""" +
      s""""zorder":{"row_groups":$zTotal,"overlapping":$zOverlap,"sec":$tz},""" +
      s""""unsorted":{"row_groups":$uTotal,"overlapping":$uOverlap,"sec":$tu}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
