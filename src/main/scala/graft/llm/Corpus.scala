package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composed corpus-preparation recipes — the batch entry a training-data
  * pipeline actually runs: quality floor, language selection, and
  * deduplication in one pass, shaped so nothing corpus-sized shuffles.
  */
object Corpus {

  /** Gate `docs` through `gates` (see [[Gates]] for each gate), then
    * exact-dedup the survivors. Per-document stats (token count, content
    * hash) are computed BEFORE grouping, so the aggregation shuffles only
    * 32-byte hashes and counters — documents themselves never shuffle.
    * Output: (rep_id, n_copies, n_tokens) per distinct surviving content.
    * Near-dup collapse beyond exact content is
    * [[Dedup.minhashRepresentatives]] composed downstream.
    *
    * The semantic floor needs `embeddings` (keyed by the same ids as
    * `idCol`, in `vec_id`/`embedding` columns) and `semCentroids` (`cell`,
    * `_cv`); both come with `gates.semantic` or not at all. Null-text
    * rows drop whether or not the quality floor is on. */
  def prepare(docs: DataFrame, idCol: String, textCol: String, gates: Gates,
      embeddings: Option[DataFrame] = None,
      semCentroids: Option[DataFrame] = None): DataFrame = {
    require(embeddings.isEmpty == semCentroids.isEmpty,
      "prepare: embeddings and semCentroids come together — pass both or neither")
    require(embeddings.isEmpty == gates.semantic.isEmpty,
      "prepare: the semantic floor needs gates.semantic AND embeddings — " +
        "pass both, or neither")
    val normalized = gates.normalized(docs, textCol)
    val source = gates.semantic.fold(normalized)(sem =>
      normalized.join(
        Similarity.semDedupDropped(embeddings.get, semCentroids.get,
            "vec_id", "embedding", sem.semMinCos)
          .select(col("_drop").as(idCol)),
        Seq(idCol), "left_anti"))
    val spanFloored = gates.span.fold(source)(span =>
      source.join(
        Dedup.spanDupStats(source, idCol, textCol, span.spanTokens)
          .filter(col("dup_frac") > span.maxDupFrac)
          .select(col("doc_id").as(idCol)),
        Seq(idCol), "left_anti"))
    val t: Column = col(textCol)
    gates.filter(spanFloored, idCol, textCol)
      .filter(t.isNotNull)
      .select(col(idCol), TextStats.tokenCount(t).as("_nt"),
        sha2(t, 256).as("_ch"))
      .groupBy("_ch")
      .agg(min(idCol).as("rep_id"), count(lit(1)).as("n_copies"),
        // all members of a hash group share the text, hence the count
        min("_nt").as("n_tokens"))
      .select("rep_id", "n_copies", "n_tokens")
  }
}
