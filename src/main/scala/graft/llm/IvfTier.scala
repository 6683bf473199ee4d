package graft.llm

import org.apache.spark.sql.DataFrame

/** The storage tier of a persisted IVF index: what [[Similarity.saveIvf]]
  * writes, recorded in each version's manifest as its [[IvfFlavor]], and
  * what [[Similarity.ivfServe]] reads back to pick the query side and the
  * score. The tier is a storage decision, not an API one: every tier shares
  * the version layout and commit protocol, appends, compaction, probed-cell
  * pruning, salt, the allowlist and [[IvfRefine]]. Lossy tiers are gated by
  * a recall floor in the specs, not an exactness oracle, and every tier
  * keeps the exact float-precision norm `_cn`, so only the dot of the
  * cosine is approximate. */
sealed trait IvfTier {
  /** The manifest flavor this tier writes. */
  private[graft] def flavor: IvfFlavor
}

object IvfTier {
  /** Float rows (neighbor_id, _cv, _cn, cell): exact cosine over the
    * probed cells, identical to the live [[Similarity.ivfTopK]] with the
    * stored centroids. */
  case object Float extends IvfTier {
    private[graft] def flavor: IvfFlavor = IvfFlavor.Float
  }

  /** 8-bit scalar quantization, ~4× smaller stored vectors: each row is
    * (offset o, step, bytes b) from its own min/max, so encoding needs
    * nothing from the stored corpus and appends stay delivery-sized. The
    * serve scores the exact query against the reconstruction v̂ = o +
    * step·b: `cos ≈ (o·Σqᵢ + step·dot(q, b)) / (‖q‖·‖v‖)`. A constant
    * vector (step 0) reconstructs exactly. */
  case object Sq8 extends IvfTier {
    private[graft] def flavor: IvfFlavor = IvfFlavor.Sq8
  }

  /** Product quantization, `m` one-byte codes per vector against `k ≤ 256`
    * sub-centroids per subspace (dim-64 float32 at m = 8: 32× smaller).
    * The serve is ADC: per query, one m×k table of partial dots against
    * the stored codebooks, then each candidate scores as m lookups,
    * `dot(q, v̂) = Σₘ lut[m][code_m]`.
    *
    *   - `residual` codes quantize v − c(cell) (the FAISS IVFPQ layout);
    *     the serve adds dot(q, c(cell)) back per probed cell.
    *   - `perCell` trains one codebook set per cell on its residuals, at
    *     most `maxTrainPerCell` rows each; it implies `residual`.
    *   - `rotation` (i, _rv), e.g. from [[Similarity.trainOpqRotation]]:
    *     codes quantize the rotated space (the OPQ layout) and the serve
    *     rotates the query, never the corpus.
    *   - `codebooks` injects trained codebooks and skips the fit.
    *
    * Appends encode against the stored codebooks (and rotation), so a
    * delivery's codes never depend on arrival order. */
  final case class Pq(m: Int = 8, k: Int = 256, residual: Boolean = false,
      perCell: Boolean = false, maxTrainPerCell: Int = 20000,
      codebooks: Option[DataFrame] = None,
      rotation: Option[DataFrame] = None) extends IvfTier {
    private[graft] def flavor: IvfFlavor.Pq =
      IvfFlavor.Pq(residual, perCell, rotation.nonEmpty)
  }
}

/** Exact REFINE for [[Similarity.ivfServe]], the remedy for lossy rank
  * scrambling among near-tied neighbors: the index proposes
  * `k·factor` candidates per query, and only those are re-scored exactly
  * against the full-precision `corpus` (idCol, vecCol), so the join touches
  * |queries|·k·factor rows, never the corpus scan (at scale, store `corpus`
  * bucketed by id so the join is a bucket-pruned lookup). The output gains a
  * `refined` flag. A candidate absent from `corpus` keeps its index score
  * with `refined = false` instead of being dropped (a delivery whose
  * full-precision rows have not landed yet must not shrink results below
  * k), and ranks after every exactly re-scored candidate. */
final case class IvfRefine(corpus: DataFrame, factor: Int = 4) {
  require(factor >= 1, s"refine factor must be >= 1, got $factor")
}
