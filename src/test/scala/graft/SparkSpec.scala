package graft

import org.apache.spark.LocalCheckpoints
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/$name"

  /** The ids of the RDDs that `f` left persisted, less the local
    * checkpoints the graph loops store their result layers in. */
  def persistedBy(f: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    f
    (sc.getPersistentRDDs -- before)
      .filterNot(p => LocalCheckpoints.marked(p._2)).keySet.toSet
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh")
    System.setProperty("derby.system.home", tmp.toString)
    val s = SparkSession.builder()
      .config("spark.sql.warehouse.dir", tmp.resolve("wh").toString)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.tune(s)
    s
  }
}
