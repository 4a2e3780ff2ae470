package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.Tables

/** Table loading: the events `ts` conversion, and the inferred-schema
  * memo behind `Tables.apply` — one inference job per file and
  * fingerprint, the same schema a bare `spark.read.parquet` infers,
  * re-inferred when the file or a parquet conf changes, one entry per
  * path. */
class TablesSpec extends SparkSpec {

  test("events ts surfaces as TimestampType despite parquet NANOS") {
    val e = Tables.events(spark, sf("sf0.001"))
    assert(e.schema("ts").dataType.typeName == "timestamp")
    val r = e.selectExpr("min(unix_millis(ts))").collect()(0).getLong(0)
    // driver data starts 2024-01-01 UTC
    assert(r >= 1704067200000L && r < 1706745600000L)
  }

  test("all tables load with non-empty schemas") {
    Tables.all.foreach { name =>
      val df =
        if (name == "events") Tables.events(spark, sf("sf0.001"))
        else Tables(spark, sf("sf0.001"), name)
      assert(df.schema.nonEmpty, name)
    }
  }

  /** The Spark jobs `f` runs on this thread. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
          j.properties.getProperty("graft.spec.tag") == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try f
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** A fresh directory holding a copy of sf0.001's `name` table. */
  private def copyOf(name: String): Path = {
    val dir = Files.createTempDirectory("tables-spec")
    Files.copy(Path.of(sf("sf0.001"), s"$name.parquet"),
      dir.resolve(s"$name.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  test("a second read of an unchanged file runs no Spark job; the first " +
    "runs one") {
    val dir = copyOf("lineitem").toString
    assert(jobsOf(Tables(spark, dir, "lineitem")) == 1)
    assert(jobsOf(Tables(spark, dir, "lineitem")) == 0)
    assert(jobsOf(Tables(spark, dir, "lineitem").schema) == 0)
  }

  test("the memoized schema equals spark.read.parquet's for all ten " +
    "tables; events is inferred again under another nanosAsLong") {
    val dir = sf("sf0.001")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def bare(t: String) = spark.read.parquet(s"$dir/$t.parquet").schema
    Tables.all.foreach(t => assert(Tables(spark, dir, t).schema == bare(t), t))
    val on = Tables(spark, dir, "events").schema
    val previous = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      // a changed parquet conf is a new fingerprint: the file is
      // inferred again, and gives what a bare read gives under it
      val off = jobsOf(assert(Tables(spark, dir, "events").schema == bare("events")))
      assert(off == 2, "one inference each for Tables and the bare read")
    } finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // one entry per path: back under "true", it is inferred once more
    assert(jobsOf(assert(Tables(spark, dir, "events").schema == on)) == 1)
    assert(jobsOf(Tables(spark, dir, "events")) == 0)
  }

  test("a table rewritten at the same path with another schema is read " +
    "with the new one; the memo keeps one entry per path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-spec").toString
    val path = s"$dir/t.parquet"
    val versions = Seq(
      Seq(1L, 2L).toDF("a"),
      Seq(("x", 3)).toDF("b", "c"),
      Seq((4.5, "y", true)).toDF("d", "e", "f"),
      Seq(5L, 6L).toDF("a"))
    for ((v, i) <- versions.zipWithIndex) {
      v.write.mode("overwrite").parquet(path)
      val read = Tables(spark, dir, "t")
      assert(read.schema == spark.read.parquet(path).schema, s"version $i")
      assert(read.schema.fieldNames.toSeq == v.columns.toSeq, s"version $i")
      assert(read.collect().map(_.toString).sorted.toSeq ==
        v.collect().map(_.toString).sorted.toSeq, s"version $i")
      assert(Tables.inferredPaths.count(_.startsWith(dir)) == 1, s"version $i")
    }
  }
}
