package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence for q56's salted join (round-9 advice #6): the
  * salted plan is oracle-verified result-invariant, but nothing
  * committed showed it BEATING the unsalted plan on a genuinely hot
  * key. This main builds that fixture and takes the measurement.
  *
  * Fixture: GenData's lineitem with ~HALF of its rows remapped to
  * ONE supplier key (deterministic xxhash64 mod-2 coin, seed 42) —
  * the one-customer-is-a-whale shape that breaks hash-partitioned
  * joins: after the join shuffle, one task owns ~50% of the fact
  * table (the measured share is printed as hot_share).
  *
  * Regime: the dim side is forced PAST the broadcast threshold
  * (autoBroadcastJoinThreshold = -1). With a broadcastable dim there
  * is no join shuffle and no skew problem — that is q56's normal
  * small-dim plan and exactly why saltedJoin documents itself as the
  * fallback for when the dim side is too big to broadcast. Three
  * plans are timed (per-query warm + min of 2, the CLAUDE.md
  * methodology), all three asserted row-identical first:
  *   - unsalted sort-merge, AQE skew-join OFF — the raw skew cost
  *   - unsalted sort-merge, AQE skew-join ON — Spark's own runtime
  *     mitigation (needs no code; the right default answer)
  *   - graft saltedJoin(factor 8), AQE ON — the explicit rewrite for
  *     engines/plans where AQE cannot help (e.g. the skewed side
  *     feeding a window, or pre-3.0 clusters)
  * Prints one JSON line and writes it to args(1).
  *
  * Usage: SkewBench <dataDir with lineitem/supplier parquet> <out>
  * (generate the data first: `runMain graft.tools.GenData /tmp/sfgen/sf1 1`)
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val out = args.lift(1).getOrElse("/tmp/graft_skewbench.json")
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // hot-key fixture: supplier 0 takes ~half of lineitem (the
    // one-whale-domain shape a web-scale fact table shows)
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
      .select(
        when(pmod(xxhash64(lit(42), col("l_orderkey"),
          col("l_linenumber")), lit(2)) === 0, lit(0L))
          .otherwise(col("l_suppkey")).as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val hotDir = s"$dataDir/lineitem_hot.parquet"
    li.write.mode("overwrite").parquet(hotDir)
    val sup = spark.read.parquet(s"$dataDir/supplier.parquet")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    val hotShare = spark.read.parquet(hotDir)
      .agg(avg(when(col("suppkey") === 0L, 1.0).otherwise(0.0)))
      .as[Double].head()

    def agg(joined: DataFrame): DataFrame = joined
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))

    def unsalted(): DataFrame =
      agg(spark.read.parquet(hotDir).join(sup, "suppkey"))
    def salted(): DataFrame =
      agg(graft.operators.Relational.saltedJoin(
        spark.read.parquet(hotDir), sup, "suppkey", 8))

    val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val plans: Seq[(String, () => DataFrame, Seq[(String, String)])] =
      Seq(
        ("unsalted_noaqe_skew", () => unsalted(), Seq(noBroadcast,
          "spark.sql.adaptive.skewJoin.enabled" -> "false")),
        // AQE's skew-join defaults (256 MB threshold) are tuned for
        // cluster-scale partitions and never classify this fixture's
        // ~50 MB hot partition as skewed — lower them so the arm
        // measures AQE's mitigation actually firing, not a no-op
        ("unsalted_aqe_skew", () => unsalted(), Seq(noBroadcast,
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            -> "8m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")),
        // the salted arm sets the AQE skew confs EXPLICITLY (back to
        // Spark's defaults) so its regime never depends on which arm
        // ran before it — session confs otherwise leak across arms
        ("salted", () => salted(), Seq(noBroadcast,
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            -> "256m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")))

    // all three must agree before any timing means a thing: counts
    // exactly; the double revenue sum to a cent (summation order is
    // plan-dependent, so bit-equality across plan shapes is not the
    // contract — q56's oracle-checked grouping is)
    val rows = plans.map { case (name, mk, conf) =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val r = mk().orderBy("s_nationkey").collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).toSeq
      name -> r
    }
    rows.tail.foreach { case (name, r) =>
      val base = rows.head._2
      require(r.size == base.size &&
        r.zip(base).forall { case ((n1, c1, v1), (n2, c2, v2)) =>
          n1 == n2 && c1 == c2 && math.abs(v1 - v2) < 0.011 },
        s"plan $name disagrees with ${rows.head._1}")
    }

    val timed = plans.map { case (name, mk, conf) =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      def once(): Double = {
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      val t = math.min(once(), once())
      println(s"skewbench: $name ${"%.2f".format(t)} s")
      name -> t
    }
    val qs = timed.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"skew_join","unit":"sec",""" +
      s""""hot_share":$hotShare,"data":"$dataDir","plans":$qs}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
