package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis column functions for a training-data pipeline.
  * All are built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs), so they stay inside whole-stage codegen and run at
  * scan speed on 100 TB.
  *
  * Reference analogs: member curation / tokenization in
  * create_merged.py:187 (curate_member) and
  * load_custom_collections.py:144 (_tokenizer) — the reference
  * tokenizes names imperatively per-row; here the same semantics are
  * declarative columns.
  */
object TextFunctions {

  /** Whitespace tokens, empty-token free. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Token count (BIGINT on purpose — matches SQL engines). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Count-Min cell index shared by batch t11/t12 and the streaming
    * sketch maintainer: md5(row ":" token) first 8 hex digits mod
    * width — mirrored digit-for-digit by the DuckDB oracles. */
  def countMinCell(r: Column, tok: Column, width: Int = 16): Column =
    conv(substring(md5(concat(r.cast("string"), lit(":"), tok)),
      1, 8), 16, 10).cast("long") % width

  /** Count-min cell rows `(r, cell)` of a `text` feed, before any
    * aggregation: each lowercased token hits one [[countMinCell]] in
    * each row r < depth. Batch t12 and the streaming count-min twins
    * count these rows. */
  def countMinCells(docs: DataFrame, depth: Int, width: Int): DataFrame =
    docs.select(explode(tokens(lower(col("text")))).as("tok"))
      .select(col("tok"),
        explode(array((0 until depth).map(lit(_)): _*)).as("r"))
      .select(col("r"), countMinCell(col("r"), col("tok"), width)
        .as("cell"))

  /** Source-drift cell rows `(source, b)` of a `(source, text)` feed,
    * before any aggregation: each token's [[hashBucket]]. Batch t26
    * and the streaming drift twins count these rows. */
  def sourceCells(docs: DataFrame, width: Int): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), hashBucket(col("tok"), width).as("b"))

  /** Feature-hash bucket for a token (hashing-trick classifiers):
    * md5 first 8 hex digits mod width, mirrored by DuckDB
    * `('0x' || substr(md5(tok), 1, 8))::BIGINT % width`. */
  def hashBucket(tok: Column, width: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % width

  /** "BPE-ish" subword proxy: count of letter-digit runs, giving a
    * tokenizer-independent length signal. */
  def wordPieceCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0))
      .cast("long")

  /** Ratio of punctuation chars to all chars, 4-dp rounded. */
  def punctRatio(text: Column): Column =
    round(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))) /
        greatest(length(text), lit(1)).cast("double"), 4)

  /** Fraction of tokens that are English stopwords. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, t => t.isInCollection(stopwords))
    round(size(stops) / greatest(size(toks), lit(1)).cast("double"), 4)
  }

  /** Mean token length, 4-dp rounded. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    // null (not 0.0) for token-less docs — matches SQL list_sum([])
    when(size(toks) === 0, lit(null).cast("double"))
      .otherwise(round(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)) /
          size(toks).cast("double"), 4))
  }

  /** Stopword-profile language ID over a fixed tiny lexicon —
    * the classic n-gram/stopword heuristic. Returns the language with
    * the most lexicon hits, "und" when nothing matches.
    */
  val langLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"))

  def langHits(text: Column, lexicon: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(lexicon)))

  def langId(text: Column): Column = {
    val scored = langLexicon.toSeq.sortBy(_._1).map { case (lang, lex) =>
      struct(langHits(text, lex).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** PII scrub regexes — kept to syntax that is valid in BOTH Java
    * regex and RE2 so the DuckDB oracle applies the identical
    * patterns. A production scrubber adds more classes (SSNs, IBANs,
    * addresses); the operator shape (ordered regexp_replace chain +
    * per-class counts) is what matters at corpus scale — one codegen'd
    * pass, no UDF. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Redact emails then phone-like numbers (order matters: emails can
    * contain digits). Spark regexp_replace is global by default — the
    * DuckDB mirror needs the explicit 'g' flag. */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  def emailCount(text: Column): Column =
    regexp_count(text, lit(emailRe)).cast("long")

  def phoneCount(text: Column): Column =
    regexp_count(text, lit(phoneRe)).cast("long")

  /** Normalized-content fingerprint: md5 of lowercased,
    * whitespace-collapsed text. The exact-dedup key.
    * Reference analog: update_es.py:98 (JSONLIndex.hash) hashes a
    * canonicalized document to detect changed content.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-gram shingles (space-joined), for Jaccard / MinHash.
    * Column form — handy for row-local use; for corpus-scale shingle
    * pipelines prefer [[shinglePostings]] (codegen end-to-end).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    val cnt = size(toks)
    when(cnt >= n,
      transform(sequence(lit(0), cnt - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingle postings `(doc_id, shingle)` — the
    * inverted-index shape every dedup/similarity pipeline keys on.
    *
    * Built on the codegen'd
    * [[org.apache.spark.sql.graft.WordShinglesExpr]] expression: the
    * whole shingle array materializes per document inside whole-stage
    * codegen and explodes in the same stage — ZERO shuffles until a
    * consumer aggregates (the earlier posexplode + lead-window form
    * shuffled and sorted every token of the corpus by doc_id first,
    * ~6 s of every dedup query at sf0.1). Docs shorter than one full
    * shingle emit nothing (mirrors the oracle's `len(toks) >= n`
    * guard).
    */
  /** PRECONDITION: `idCol` is unique in `docs` — with duplicate doc
    * ids, `distinct = true` dedups shingles within each ROW, not
    * across the id (copies each emit their own postings and inflate
    * downstream sizes/signatures). Callers with possibly-repeated
    * ids must `dropDuplicates(idCol)` first. */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, distinct: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, WordShinglesExpr}
    val sh = ColumnBridge.column(
      WordShinglesExpr(ColumnBridge.expression(col(textCol)), n))
    // distinctness is PER DOCUMENT, so dedup inside the row before
    // exploding — array_distinct costs O(doc) map-side where a
    // dropDuplicates after the explode is a full corpus-wide shuffle
    val arr = if (distinct) array_distinct(sh) else sh
    docs.select(col(idCol).as("doc_id"), explode(arr).as("shingle"))
  }

  /** Corpus n-gram frequency table with a support floor (t05) — one
    * map-side-combining aggregate over the shingle stream. Accepts
    * the family [[graft.dedup.ShingleCache]] so a session running
    * several shingle consumers over the same corpus shares one
    * tokenize + shingle pass per (n, distinct) level. */
  def ngramFreq(docs: DataFrame, idCol: String, textCol: String,
                n: Int, minFreq: Long,
                cache: Option[graft.dedup.ShingleCache] = None)
    : DataFrame =
    cache.map(_.postings(n, distinct = false))
      .getOrElse(shinglePostings(docs, idCol, textCol, n,
        distinct = false))
      .groupBy("shingle")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)

  /** Cross-document BOILERPLATE share — the inter-document companion
    * of t07's intra-document repetition signal: the fraction of each
    * document's DISTINCT word n-gram shingles that also occur in at
    * least `minDf − 1` OTHER documents (document frequency ≥ minDf).
    * Headers, footers, templates and licence blocks repeated across a
    * crawl score high; original prose scores ~0. Emitted as HALF_UP
    * integer ppm (exact BIGINT division — a float ratio of two small
    * ints ties at the rounding digit systematically).
    *
    * Scale shape: the shingle stream aggregates to a
    * vocabulary-bounded (shingle, df) table (map-side combine — a
    * mega-common boilerplate shingle collapses to one row per map
    * task, so the hot key never concentrates raw postings), then the
    * postings join that table on the shingle key and fold back to one
    * row per document. Two shuffles beyond the postings scan, both
    * key-bounded. Docs shorter than one full shingle emit nothing
    * (the shinglePostings guard, mirrored by the oracle).
    *
    * Accepts the family [[graft.dedup.ShingleCache]] — the raw
    * (n, distinct) level d07/d10 already share.
    */
  def boilerplateShare(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Long,
                       cache: Option[graft.dedup.ShingleCache] = None)
    : DataFrame = {
    val post = cache.map(_.postings(n, distinct = true))
      .getOrElse(shinglePostings(docs, idCol, textCol, n,
        distinct = true))
    val dfTab = post.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
    post.join(dfTab, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L))
          .cast("long").as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        expr("CAST((2 * 1000000 * n_boiler + n_shingles)" +
          " DIV (2 * n_shingles) AS BIGINT)").as("boiler_ppm"))
  }
}
