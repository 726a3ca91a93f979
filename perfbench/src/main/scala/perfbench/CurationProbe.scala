package perfbench

import org.apache.spark.sql.DataFrame

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}

/** The corpus-curation operators, probed on `backfill`'s traced run: one
  * pass of `Curation.run` (exact dedup, MinHash-LSH near-dup collapse,
  * quality floor, enrichment), `Dedup.simhashCandidates`,
  * `TextAnalysis.enrich` and `Similarity.semanticDedup` over a seeded
  * corpus with a recorded rate of planted duplicates, then
  * `Curation.run`'s stages called one by one. It runs after the traced
  * passes, so it counts in neither the end-to-end metrics nor
  * `trace.overhead`. */
final class CurationProbe {
  private val baseDocs = 250
  private val copies = 3
  private val exactRate = 0.02
  private val nearRate = 0.03
  private val vectors = 500
  private val vectorNearRate = 0.05
  private val nCells = 8
  private val cosine = 0.99

  private var docsPath: String = _
  private var embPath: String = _
  private var nDocs = 0L
  private var nVectors = 0L
  private var plantedVectors = 0

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (docs, st) = Gen.corpus(ctx.seed, baseDocs, copies, exactRate, nearRate)
    docsPath = ctx.work.resolve("documents.parquet").toString
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(docsPath)
    val (vs, planted) = Gen.embeddings(ctx.seed, vectors, 64, vectorNearRate)
    embPath = ctx.work.resolve("embeddings.parquet").toString
    vs.map { case (id, v, lbl) => (id, v.toSeq, lbl) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(embPath)
    nDocs = st.docs; nVectors = vs.size; plantedVectors = planted
    ctx.inputs ++= Seq("curation.docs" -> st.docs, "curation.base_docs" -> st.baseDocs,
      "curation.copies" -> st.copies, "curation.exact_dups" -> st.exactDups,
      "curation.near_dup_clusters" -> st.nearDupClusters,
      "curation.near_dup_docs" -> st.nearDupDocs, "curation.exact_rate" -> exactRate,
      "curation.near_rate" -> nearRate, "curation.vectors" -> vs.size,
      "curation.planted_vector_dups" -> planted,
      "curation.docs_bytes" -> Common.bytesUnder(java.nio.file.Paths.get(docsPath)))
  }

  /** One traced pass and the stage probe; fills the `cur.*` metrics. */
  def run(ctx: Ctx): Unit = {
    val t = new Tracer(true)
    val d: DataFrame = ctx.spark.read.parquet(docsPath)
    val e: DataFrame = ctx.spark.read.parquet(embPath)
    var summary: Seq[Long] = Nil
    ctx.attempt("curation pass") {
      summary = t.span("Curation.run") {
        val s = Curation.run(d).summary.collect()(0)
        (0 until 4).map(s.getLong)
      }
      t.span("Dedup.simhashCandidates")(Dedup.simhashCandidates(d, "text", "doc_id").count())
      t.span("TextAnalysis.enrich")(Common.materialize(TextAnalysis.enrich(d)))
      val kept = t.span("Similarity.semanticDedup")(Similarity.semanticDedup(e, nCells, cosine).count())
      // the planted vector duplicates must go (a tenth may straddle an IVF
      // cell boundary)
      ctx.check("curation pass", Seq(
        Option.when(summary(0) != nDocs)(s"n_input ${summary(0)} != $nDocs docs"),
        Option.when(kept > nVectors - plantedVectors * 9 / 10 || kept < nVectors - plantedVectors)(
          s"semantic dedup kept $kept of $nVectors with $plantedVectors planted duplicates")
      ).flatten)
    }
    if (summary.nonEmpty) ctx.duckChecks += Map("kind" -> "oracle", "name" -> "q74_curation_summary",
      "sql" -> graft.queries.Registry.byName("q74_curation_summary").oracle.get,
      "views" -> Map("documents" -> s"$docsPath/*.parquet"),
      "expected" -> Seq(Map("n_input" -> summary(0), "n_after_exact_dedup" -> summary(1),
        "n_after_near_dedup" -> summary(2), "n_curated" -> summary(3))))
    def secs(name: String) = t.named(name).map(_.seconds).sum
    ctx.l("cur.run_s", secs("Curation.run"), "s")
    ctx.l("cur.simhash_s", secs("Dedup.simhashCandidates"), "s")
    ctx.l("cur.enrich_s", secs("TextAnalysis.enrich"), "s")
    ctx.l("cur.semantic_s", secs("Similarity.semanticDedup"), "s")
    // Curation.run's stages, called one by one
    val exact = t.span("exact")(d.transform(Dedup.exact(_, "text", "doc_id")).cache())
    t.span("exact")(exact.count())
    val cands = t.span("minhash")(Dedup.minhashCandidates(exact, "text", "doc_id").count())
    val pairs = Dedup.minhashNearDups(exact, "text", "doc_id", 0.5).cache()
    val verified = t.span("minhash")(pairs.count())
    t.span("labels")(Dedup.canonicalLabels(pairs.select("doc_a", "doc_b")).count())
    pairs.unpersist(); exact.unpersist()
    ctx.l("cur.exact_s", secs("exact"), "s")
    ctx.l("cur.minhash_s", secs("minhash"), "s")
    ctx.l("cur.labels_s", secs("labels"), "s")
    ctx.l("cur.candidate_pairs", cands.toDouble, "count")
    ctx.l("cur.verified_pairs", verified.toDouble, "count")
    ctx.l("cur.pair_yield", if (cands > 0) verified.toDouble / cands else 0.0, "ratio")
    ctx.l("cur.docs_kept", summary.lift(3).getOrElse(0L).toDouble, "count")
    ctx.l("cur.docs_per_s", nDocs / secs("Curation.run"), "1/s")
  }
}
