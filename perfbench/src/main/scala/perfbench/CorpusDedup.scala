package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{TextDedup, VectorSearch}
import graft.pipeline.Curation
import graft.source.Tables

/** A read-only batch of the pair kernels over the copy-and-mutate corpus:
  * curation, MinHash-LSH, winnowing matches and an ANN top-k, each written
  * to `noop`. The unit operation is one ANN query batch.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private val Text = "text"
  private val Id = "doc_id"
  private val AnnBits = 6
  private val AnnProbe = 1
  // a shingle posting cap the boilerplate header (a third of the corpus)
  // overflows at this corpus size, so the cap's pruning is exercised
  private val MaxPostings = 500L

  private def docs: DataFrame = Tables.documents(spark, ctx.inputs)
  private def vectors: DataFrame = Tables.embeddings(spark, ctx.inputs)
  private def queries: DataFrame =
    vectors.join(spark.read.parquet(s"${ctx.inputs}/queries.parquet"), Seq("vec_id"),
      "left_semi")

  val inputRows: Long =
    Inputs.truthSum(ctx.inputs, "docs") + Inputs.truthSum(ctx.inputs, "vectors")
  val inputBytes: Long = Seq("documents", "embeddings")
    .map(t => new File(s"${ctx.inputs}/$t.parquet").length).sum

  private def curate(d: DataFrame) = Curation.curate(d, Text, Id, maxPostings = MaxPostings)
  private def minhash(d: DataFrame) = TextDedup.minhashLsh(d, Text, Id)
  private def winnow(d: DataFrame) = TextDedup.winnowingMatches(d, Text, Id)
  private def ann(v: DataFrame, q: DataFrame) =
    VectorSearch.annTopK(v, q, "vec_id", "embedding", k = 10, bits = AnnBits,
      probeNeighbors = AnnProbe)

  /** The ANN queries in batches of 20, in id order. */
  private lazy val queryBatches: Seq[DataFrame] =
    spark.read.parquet(s"${ctx.inputs}/queries.parquet").orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq.grouped(20)
      .map(g => vectors.filter(col("vec_id").isin(g: _*))).toSeq

  /** One round; the unit operation is one ANN query batch. */
  def round(r: Int, samples: Samples): Unit = {
    val d = docs
    trace.span("pipeline.curate")(ctx.noop(curate(d)))
    trace.span("ext.minhash_lsh")(ctx.noop(minhash(d)))
    trace.span("ext.winnow")(ctx.noop(winnow(d)))
    queryBatches.foreach { q =>
      samples.timed("op")(trace.span("ext.ann_topk")(ctx.noop(ann(vectors, q))))
    }
  }

  /** Traced, the layer audits the round does not make: the exact n-gram
    * Jaccard stage curation runs inside, made alone, with its candidate
    * and verified pair counts, and the shingle-cap audit. They run after
    * the round, outside its timed and counted window.
    */
  override def afterRound(r: Int): Map[String, Double] =
    if (!trace.enabled) Map.empty
    else {
      val d = docs
      val (cand, verified) = trace.span("ext.ngram_jaccard") {
        val c = ctx.mat(TextDedup.candidatePairCounts(d, Text, Id, 3, MaxPostings))
        (c.count(), TextDedup.jaccardFromPairs(c, 0.3).count())
      }
      val overCap = TextDedup.overCapShingles(d, Text, Id, 3, MaxPostings).count()
      spark.catalog.clearCache()
      Map("ext.candidate_pairs" -> cand.toDouble, "ext.verified_pairs" -> verified.toDouble,
        "ext.over_cap_shingles" -> overCap.toDouble)
    }

  def check(): Map[String, String] = {
    val dir = s"${ctx.out}/check"
    curate(docs).write.mode("overwrite").parquet(s"$dir/survivors")
    minhash(docs).write.mode("overwrite").parquet(s"$dir/minhash_pairs")
    ann(vectors, queries).write.mode("overwrite").parquet(s"$dir/ann")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "curation.sql"),
      graft.OracleSql.all("ns_curation_pipeline"))
    Map("dir" -> Json.str(dir), "minhash_threshold" -> "0.5",
      "max_postings" -> MaxPostings.toString)
  }
}
