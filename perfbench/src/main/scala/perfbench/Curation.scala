package perfbench

import org.apache.spark.sql.SaveMode

import graft.llm.CurationPipeline

/** `CurationPipeline.curate` with cluster-canonical near-dup removal over
  * a generated corpus, written to parquet: exact dedup, MinHash-LSH, the
  * iterative cluster loop and the quality/language gate. Timed cold, the
  * first curate in the process, like a batch curation job.
  */
object Curation extends Workload {
  def body(ctx: Ctx): Unit = {
    val docs = ctx.span("sources.read_corpus") {
      ctx.spark.read.parquet(s"${ctx.work}/corpus/corpus.parquet")
    }
    val kept = ctx.span("llm.curate") {
      CurationPipeline.curate(docs, "id", "text",
        CurationPipeline.Config(clusterCanonical = true))
    }
    ctx.span("llm.materialize") {
      kept.write.mode(SaveMode.Overwrite).parquet(s"${ctx.work}/curated")
    }
  }

  def check(ctx: Ctx): Map[String, Any] = {
    val ids = ctx.spark.read.parquet(s"${ctx.work}/curated").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    Map("kept_ids" -> ids)
  }
}
