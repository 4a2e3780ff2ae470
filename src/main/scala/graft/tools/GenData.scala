package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator mirroring TESTDATA.md's
  * schema and distribution discipline, for SFs the driver does not
  * ship (the 10x scaling audit needs sf1 = 10x the largest committed
  * dataset). Writes the same ten tables with the same schemas, key
  * ranges, categorical domains, and structural quirks observed in
  * /root/testdata: Poisson(4) lines per order (0-line orders simply
  * absent from lineitem), ts-ordered event ids over a 30-day span,
  * exponential(mean 50) event values, 10-100-word documents over the
  * 30-word vocabulary with 5% near-duplicates built by appending
  * " dup" to an earlier doc's text, unit-norm 64-dim embeddings with
  * 5% near-copies, labels carrying no cluster structure (measured
  * intra-label cosine ~0.06 in the shipped data).
  *
  * Never touches /root/testdata — output goes to args(0)
  * (e.g. /tmp/sfgen/sf1); args(1) is the scale factor.
  *
  * Determinism discipline: every pseudo-random value derives from
  * xxhash64(seed=42, column salt, row id) — splittable,
  * partition-invariant, re-runnable. No java.util.Random, no rand():
  * the same (sf, table, row) triple always produces the same bytes on
  * any partitioning or executor count.
  */
object GenData {
  private val Seed = 42

  /** uniform in [0,1) keyed by (seed, salt, id expr) */
  private def u(salt: Int, idCol: String = "id") =
    pmod(xxhash64(lit(Seed), lit(salt), col(idCol)), lit(1000000000L)) / 1e9

  /** integer in [0, n) keyed by (seed, salt, id expr) */
  private def h(salt: Int, n: Long, idCol: String = "id") =
    pmod(xxhash64(lit(Seed), lit(salt), col(idCol)), lit(n))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, outDir, sf)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    import spark.implicits._

    val nCustomer = math.max(1, (150000 * sf).toLong)
    val nSupplier = math.max(1, (10000 * sf).toLong)
    val nPart = math.max(1, (200000 * sf).toLong)
    val nOrders = math.max(1, (1500000 * sf).toLong)
    val nEvents = math.max(1, (1000000 * sf).toLong)
    val nUsers = math.max(1, (15000 * sf).toLong)
    val nDocs = math.max(500L, (50000 * sf).toLong)
    val nVecs = math.max(500L, (20000 * sf).toLong)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"gen: $name done")
    }

    /** timestamp column at a fixed date plus a column of days */
    def dayTs(startDate: String, days: Column) =
      to_date(lit(startDate)).cast("timestamp") +
        days.cast("int") * expr("INTERVAL 1 DAY")

    // region / nation — fixed dims, same five regions and 25 nations
    write(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")
    ).toDF("r_regionkey", "r_name").select(
      $"r_regionkey".cast("int"), $"r_name"), "region")

    write(spark.range(25).select(
      $"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")), "nation")

    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    write(spark.range(nCustomer).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(2) * 11000.0, 2).as("c_acctbal"),
      element_at(segments, (h(3, 5) + 1).cast("int")).as("c_mktsegment")),
      "customer")

    write(spark.range(nSupplier).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(5) * 11000.0, 2).as("s_acctbal")),
      "supplier")

    val adjs = array(Seq("blue", "cold", "hot", "large", "new", "old",
      "red", "small").map(lit): _*)
    val nouns = array(Seq("anvil", "bolt", "gear", "gizmo", "plate",
      "ring", "rod", "widget").map(lit): _*)
    val ptypes = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    write(spark.range(nPart).select(
      $"id".as("p_partkey"),
      concat(element_at(adjs, (h(6, 8) + 1).cast("int")), lit(" "),
        element_at(nouns, (h(7, 8) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (h(8, 25) + 1)).as("p_brand"),
      element_at(ptypes, (h(9, 6) + 1).cast("int")).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + ($"id" % 1000) / 10.0, 1).as("p_retailprice")),
      "part")

    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val priorities = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    write(spark.range(nOrders).select(
      $"id".as("o_orderkey"),
      h(11, nCustomer).as("o_custkey"),
      element_at(statuses, (h(12, 3) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u(13) * 499000.0, 2).as("o_totalprice"),
      dayTs("1995-01-01", h(14, 2405)).as("o_orderdate"),
      element_at(priorities, (h(15, 5) + 1).cast("int"))
        .as("o_orderpriority")), "orders")

    // lineitem: Poisson(4) lines per order via a literal inverse-CDF
    // count (matches the observed per-order line-count histogram:
    // mode 3-4, tail to ~17, ~1.8% of orders absent entirely)
    val pois = {
      val lam = 4.0
      val pmf = (0 until 18).scanLeft(math.exp(-lam)) { case (p, k) =>
        p * lam / (k + 1)
      }.take(18)
      pmf.scanLeft(0.0)(_ + _).drop(1)
    }
    val cdfArr = array(pois.map(lit): _*)
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val lstat = array(Seq("F", "O").map(lit): _*)
    write(spark.range(nOrders)
      .withColumn("n_lines", aggregate(cdfArr, lit(0),
        (acc, c) => acc + when(u(16) >= c, 1).otherwise(0)))
      .filter($"n_lines" >= 1) // 0-line orders never reach lineitem
      .select($"id".as("l_orderkey"),
        explode(sequence(lit(1), $"n_lines")).as("ln"))
      .withColumn("lid", xxhash64(lit(Seed), $"l_orderkey", $"ln"))
      .select(
        $"l_orderkey",
        h(17, nPart, "lid").as("l_partkey"),
        h(18, nSupplier, "lid").as("l_suppkey"),
        $"ln".cast("int").as("l_linenumber"),
        (h(19, 50, "lid") + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(20, "lid") * 104100.0, 2)
          .as("l_extendedprice"),
        (h(21, 11, "lid") / 100.0).as("l_discount"),
        (h(22, 9, "lid") / 100.0).as("l_tax"),
        element_at(flags, (h(23, 3, "lid") + 1).cast("int"))
          .as("l_returnflag"),
        element_at(lstat, (h(24, 2, "lid") + 1).cast("int"))
          .as("l_linestatus"),
        dayTs("1995-01-02", h(25, 2499, "lid")).as("l_shipdate")),
      "lineitem")

    // events: ids ascend with ts (one stride per id + jitter inside
    // the stride), 30-day span, exponential(mean 50) values
    val spanUs = 30L * 24 * 3600 * 1000000
    val strideUs = math.max(1L, spanUs / nEvents)
    val etypes = array(Seq("click", "error", "purchase", "signup",
      "view").map(lit): _*)
    write(spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(
        lit(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .getEpochSecond * 1000000L) +
          $"id" * strideUs + h(26, strideUs)).as("ts"),
      h(27, nUsers).as("user_id"),
      element_at(etypes, (h(28, 5) + 1).cast("int")).as("event_type"),
      round(-log((pmod(xxhash64(lit(Seed), lit(29), $"id"),
        lit(999999L)) + 1) / 1e6) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), h(30, 100), lit("}")).as("props")),
      "events")

    // documents: 10-100 words from the 30-word vocabulary; 5% of rows
    // (doc_id >= 20) are near-duplicates — an earlier doc's text with
    // " dup" appended (the observed near-dup recipe). Both the base
    // text and the duplicate derive text purely from the generator id
    // gid, so no self-join is needed: text(gid) is a pure function.
    val vocab = array(Seq("a", "agg", "batch", "big", "column",
      "customer", "data", "fast", "filter", "group", "hash", "join",
      "key", "line", "merge", "order", "part", "query", "row", "scan",
      "slow", "small", "sort", "spark", "stream", "table", "the",
      "value", "vector", "window").map(lit): _*)
    val langs = array(Seq("en", "de", "es", "fr", "zh").map(lit): _*)
    write(spark.range(nDocs)
      .withColumn("isdup", u(31) < 0.05 && $"id" >= 20)
      .withColumn("gid", when($"isdup",
        pmod(xxhash64(lit(Seed), lit(32), $"id"), $"id")).otherwise($"id"))
      .withColumn("nw",
        pmod(xxhash64(lit(Seed), lit(33), $"gid"), lit(91L)) + 10)
      .withColumn("text0", array_join(transform(
        sequence(lit(0L), $"nw" - 1),
        j => element_at(vocab,
          (pmod(xxhash64(lit(Seed), lit(34), $"gid", j), lit(30L)) + 1)
            .cast("int"))), " "))
      .withColumn("text",
        when($"isdup", concat($"text0", lit(" dup"))).otherwise($"text0"))
      .select(
        $"id".as("doc_id"),
        $"text",
        when(u(35) < 0.41, "en").otherwise(
          element_at(langs, (h(36, 4) + 2).cast("int"))).as("lang"),
        concat(lit("src"), $"id" % 20).as("source"),
        length($"text").cast("long").as("n_chars")), "documents")

    // embeddings: unit-norm 64-dim float vectors, approximately
    // gaussian components (Irwin-Hall sum of four uniforms); 5% are
    // near-copies of an earlier vector plus small noise (the d05
    // near-dup population); labels uniform 0-9 with no cluster
    // structure, matching the shipped data
    def gauss(salt: Int, idc: Column, j: Column): Column =
      (1 to 4).map { k =>
        pmod(xxhash64(lit(Seed), lit(salt), lit(k), idc, j), lit(1000L)) /
          lit(1000.0)
      }.reduce(_ + _) - 2.0
    write(spark.range(nVecs)
      .withColumn("isdup", u(41) < 0.05 && $"id" >= 20)
      .withColumn("gid", when($"isdup",
        pmod(xxhash64(lit(Seed), lit(42), $"id"), $"id")).otherwise($"id"))
      .withColumn("rawv", transform(sequence(lit(0), lit(63)),
        j => gauss(43, $"gid", j) +
          when($"isdup", gauss(44, $"id", j) * lit(0.03))
            .otherwise(lit(0.0))))
      .withColumn("nrm", sqrt(aggregate($"rawv", lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        $"id".as("vec_id"),
        transform($"rawv", x => (x / $"nrm").cast("float"))
          .as("embedding"),
        h(45, 10).cast("int").as("label")), "embeddings")
  }
}
