package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ingest

/** The ingest path every workload uses: chunk, filter, entity id and
  * embed, with the document's metadata joined back onto its chunks.
  */
object Pipeline {

  /** Chunks per document are fewer than this, so `doc * 64 + chunk_idx`
    * is a unique chunk id.
    */
  val IdStride = 64

  /** Rows (id, `idCol`, chunk_idx, chunk_text, entity_id, n_chars,
    * `meta`..., vector); `n_chars` is the chunk's length.
    */
  def chunkEmbed(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, meta: Seq[String]): DataFrame = {
    val chunks = Ingest.narrativeFilter(Ingest.chunk(docs, idCol, sourceCol, textCol))
    val extra = meta.filterNot(m => m == sourceCol || m == "n_chars")
    val joined = chunks.join(docs.select((col(idCol) +: extra.map(col)): _*), idCol)
    Ingest.embed(joined
      .withColumn("id", col(idCol) * IdStride + col("chunk_idx"))
      .withColumn("entity_id", Ingest.withEntityId(joined, sourceCol, "chunk_text"))
      .withColumn("n_chars", length(col("chunk_text")).cast("long")), "chunk_text")
      .select((Seq("id", idCol, "chunk_idx", "chunk_text", "entity_id", "n_chars") ++
        meta.filterNot(_ == "n_chars") :+ "vector").map(col): _*)
  }
}
