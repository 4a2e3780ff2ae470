package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Line-oriented sources the reference pipeline consumes
  * (create_inlets.py downloads TSV dumps; the custom-collection flow
  * reads JSONL — load_custom_collections.py). Both map onto Spark's
  * splittable text readers, so a 100 TB dump parallelizes by input
  * split with schema enforced at scan time (no driver-side parsing).
  */
object TextSources {

  /** JSONL with explicit schema: never infer on big data (inference
    * is a full extra pass). Corrupt lines land in
    * `_corrupt_record` (PERMISSIVE) instead of failing the job. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType)
    : DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  /** Headerless TSV (the Wikipedia dump shape: enwiki-*.tsv.gz). */
  def readTsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", "\t")
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Parse MySQL-dump `INSERT INTO … VALUES (…),(…);` statements —
    * the Wikipedia SQL dump shape the reference ingests
    * (create_inlets.py's page/category/pagelinks parsing) — into one
    * row per VALUES tuple with `fields` string columns.
    *
    * Fully columnar and splittable: each dump line parses
    * independently (regexp_extract for the VALUES body, split on the
    * `),(` tuple separator, quote-aware field split via a Java-regex
    * lookahead), so a multi-TB dump parallelizes by input split with
    * no driver-side parsing. Quoted strings may contain commas and
    * parentheses; `''` and `\'` escapes are unescaped. Limitation
    * (documented): a string containing the literal `),(`  would split
    * early — a full SQL lexer would be a custom datasource.
    */
  def parseSqlDumpTuples(lines: DataFrame, lineCol: String,
                         fields: Seq[String]): DataFrame = {
    val body = regexp_extract(col(lineCol),
      "(?i)VALUES\\s*\\((.*)\\)\\s*;?\\s*$", 1)
    // normalize MySQL backslash-quote escapes to SQL '' BEFORE any
    // quote counting — the comma splitter below counts raw quotes and
    // a \' would otherwise leave an odd count and mis-split the tuple.
    // (An escaped backslash immediately before a closing quote, \\',
    // is the one sequence this normalization misreads — full fidelity
    // there needs a real lexer datasource.)
    val normalized = regexp_replace(body, "\\\\'", "''")
    val exploded = lines
      .select(explode(split(normalized, "\\),\\s*\\(")).as("graft_tuple"))
      .filter(length(col("graft_tuple")) > 0)
    // split on commas outside single-quoted strings (even number of
    // quotes to the right of the comma)
    val parts = split(col("graft_tuple"),
      ",(?=(?:[^']*'[^']*')*[^']*$)")
    val cols = fields.zipWithIndex.map { case (f, i) =>
      // try_element_at: a malformed/short tuple yields null fields
      // instead of an ANSI INVALID_ARRAY_INDEX crash of the whole job
      val raw = trim(try_element_at(parts, lit(i + 1)))
      val unquoted = regexp_replace(raw, "^'(.*)'$", "$1")
      regexp_replace(unquoted, "''", "'").as(f)
    }
    exploded.select(cols: _*)
  }
}
