package graft

import graft.multimodal.Multimodal

/** Integration safety net: every registered query runs at sf0.001 and
  * returns a sane result; the real value-level gate is the DuckDB
  * oracle parity (scripts/parity.py), which hash-matches 32/32.
  */
class QueriesSpec extends SparkSpec {

  private val mayBeEmpty = Set("q10_anti_join", "d04_simhash",
    "s03_ann_lsh", "d02_ngram_jaccard", "d03_minhash_lsh",
    "d05_embedding_dedup")

  Queries.all.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf("sf0.001"))
      val n = df.count()
      assert(n >= 0)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key exists in the query registry") {
    assert(Queries.oracles.keySet.subsetOf(Queries.all.keySet))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("multimodal frame sampling and chunking plumbing") {
    val media = Multimodal.asMedia(
      graft.sources.Tables(spark, sf("sf0.001"), "documents")
        .limit(10), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, everyN = 2)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq ==
      Seq("media_id", "n_frames", "frame_idx"))
    val chunks = Multimodal.chunkPayload(media, chunkBytes = 64)
    val r = chunks.filter("media_id = 0").collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Array[Byte]]("chunk").length).sum
    val nBytes = media.filter("media_id = 0")
      .selectExpr("meta.n_bytes").collect()(0).getLong(0)
    assert(total == nBytes, "chunks must reassemble the payload")
  }

  test("multimodal features are deterministic and fixed-width") {
    val media = Multimodal.asMedia(
      graft.sources.Tables(spark, sf("sf0.001"), "documents"),
      "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
    val row = feats.filter("media_id = 0").collect()(0)
    val f = row.getSeq[Double](row.fieldIndex("features")).toList
    assert(f.length == Multimodal.Decoder.featureDim)
    val r2 = Multimodal.extractFeatures(media)
      .filter("media_id = 0").collect()(0)
    assert(f == r2.getSeq[Double](r2.fieldIndex("features")).toList)
  }
}
