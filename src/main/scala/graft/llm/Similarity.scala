package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers:
  *   - [[cosineTopK]]: brute-force exact top-k — broadcast the (small) query
  *     set against the full corpus; the reference answer and the baseline.
  *   - [[ivfTopK]]: IVF-style partitioned search — assign every corpus
  *     vector to its nearest coarse centroid once, probe only `nprobe` cells
  *     per query. At 100 TB the corpus-cell assignment is the partitioning
  *     key (each cell is a co-located shard); a query touches nprobe/С of
  *     the data instead of all of it.
  *
  * All math is double-precision column arithmetic in index order (zip_with +
  * aggregate), keeping results deterministic and differential-testable.
  */
// Serializable: the typed-pass closures reference the shared
// per-vector kernels (topCellsKernel / rotateKernel) as object methods,
// so task serialization captures the singleton — stateless by
// construction, it deserializes as the same module.
object Similarity extends Serializable {

  /** Double-precision dot product of two float arrays, summed in index
    * order (bit-exact reproducible). Higher-order-function form — correct
    * for any length but interpreted, so per-row cost is high. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Codegen'd native dot product (custom Catalyst expression) — the
    * declarative form with kernel-class throughput; identical index-order
    * double arithmetic as [[dot]]/[[dotKernel]]. */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Codegen'd float × int8 dot (SQ8 codes read in place — no per-pair
    * converted-array allocation in the scoring join). */
  def dotNativeByte(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.DotProductByte(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Primitive-array dot in index order with a double accumulator —
    * bit-identical to [[dot]], ~100× its throughput. Used inside the
    * mapPartitions scoring kernels where per-pair cost dominates; column
    * expressions (HOF or unrolled) evaluate interpreted per element and are
    * the wrong tool for all-pairs workloads. */
  @inline def dotKernel(a: Array[Float], b: Array[Float]): Double = {
    // mismatched dimensions → NaN (the JVM's `cos >= t` then drops the
    // pair): silently truncating to a.length would rank wrong similarities
    // where the null-returning native/HOF forms drop them — the three dot
    // implementations must not disagree (DotProduct contract)
    if (a.length != b.length) return Double.NaN
    var d = 0.0; var k = 0
    while (k < a.length) { d += a(k).toDouble * b(k).toDouble; k += 1 }
    d
  }

  /** Cosine similarity = dot / (‖a‖·‖b‖), all double, via the codegen'd
    * native dot. */
  def cosine(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * queries/corpus: (idCol numeric, vecCol). The query set is broadcast
    * (it must fit in executor memory — same contract as any broadcast side,
    * enforced by `maxBroadcastQueries`: the collect is capped, and exceeding
    * the cap fails fast instead of OOMing the driver) and scored against the
    * corpus in one mapPartitions pass over primitive arrays: no shuffle
    * before the per-query top-k, and the per-pair work is a tight JVM loop
    * instead of an interpreted expression. For a LARGE query side, use
    * [[ivfTopK]] (both sides stay distributed).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, maxBroadcastQueries: Int = 1 << 17): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val taken = queries.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])].take(maxBroadcastQueries + 1)
    require(taken.length <= maxBroadcastQueries,
      s"cosineTopK query side exceeds maxBroadcastQueries=$maxBroadcastQueries rows; " +
        "use ivfTopK for a distributed query side")
    // zero-norm vectors (padding / failed-encode artifacts) are EXCLUDED:
    // their cosine is 0/0 = NaN, and NaN sorts ABOVE every real similarity
    // in the descending top-k window, so one zero vector would displace
    // the true rank-1 neighbor of every query
    val qArr = taken
      .map { case (id, v) => (id, v, math.sqrt(dotKernel(v, v))) }
      .filter(_._3 > 0.0)
    val bc = spark.sparkContext.broadcast(qArr)
    // per-partition bounded k-heaps per query: the shuffle into the final
    // per-query window then carries numPartitions·k rows per query instead
    // of |corpus| rows per query — without this, one query against a 10⁹
    // corpus would sort 10⁹ rows on a single window task. Heap memory is
    // |queries|·k entries per task, the same order as the query broadcast.
    // Eviction order mirrors the final tie-break (cos desc, neighbor asc),
    // so the reduced set contains exactly the window's winners.
    val scored = corpus.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val qs = bc.value
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by((t: (Double, Long)) => (-t._1, t._2))))
        rows.foreach { case (cid, cv) =>
          val cn = math.sqrt(dotKernel(cv, cv))
          // `> 0.0` not `!= 0.0`: a NaN component gives cn = NaN, and a NaN
          // cosine would rank ABOVE every real similarity in the window
          if (cn > 0.0) {
            var i = 0
            while (i < qs.length) {
              val q = qs(i)
              if (q._1 != cid) {
                val cos = dotKernel(q._2, cv) / (q._3 * cn)
                val h = heaps(i)
                if (h.size < k) h.enqueue((cos, cid))
                else {
                  val worst = h.head
                  if (cos > worst._1 || (cos == worst._1 && cid < worst._2)) {
                    h.dequeue(); h.enqueue((cos, cid))
                  }
                }
              }
              i += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (cos, cid) => (qs(i)._1, cid, cos) }
        }
      }.toDF("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select("query_id", "neighbor_id", "cos")
  }

  /** Train IVF coarse centroids with MLlib k-means over a (sampled)
    * corpus — the scale path for [[ivfTopK]]'s cell table: at 100 TB, fit
    * on `sampleFraction` of the corpus (k-means quality needs only a
    * representative sample), then assign the full corpus to cells once.
    * Deterministic under the fixed seed. Output: (cell, _cv) — the
    * centroid table [[assignCells]]/[[ivfTopK]] expect.
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, k: Int,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val toVec = udf((a: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))
    val sampled =
      (if (sampleFraction < 1.0) corpus.sample(withReplacement = false, sampleFraction, seed)
       else corpus)
        // zero/NaN-norm vectors are excluded downstream (assignCells,
        // cosineTopK) — training on them could produce a (near-)zero or
        // NaN centroid whose NaN cosine would swallow the whole corpus
        // into one cell. The isnan guard is load-bearing: Spark SQL orders
        // NaN GREATER than any value, so `NaN > 0.0` alone is TRUE.
        // Projected once so the O(dim) dot runs once per row, not twice.
        .filter(col(vecCol).isNotNull)
        .withColumn("_n2", dotNative(col(vecCol), col(vecCol)))
        .filter(!isnan(col("_n2")) && col("_n2") > 0.0)
        .select(toVec(col(vecCol)).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(sampled)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("cell", "_cv")
  }

  /** Nearest-centroid cell id for every vector. Centroids are a small
    * DataFrame (cell, vec) — broadcast; at scale they come from a sampled
    * k-means ([[trainCentroids]]), here from any deterministic picker.
    * Zero-norm vectors are dropped (their cosine to every centroid is NaN,
    * which would rank them into an arbitrary cell — same exclusion as
    * [[cosineTopK]]). */
  def assignCells(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // Shuffle-FREE top-nprobe: the original form cross-joined every row
    // with the broadcast centroid table and ranked with a row_number
    // window PARTITIONED BY the row id — a corpus-wide exchange of
    // N×nlist rows just to take an argmax, and the dominant shuffle of
    // every index build/append at the 100 TB shape. Centroids are
    // driver-bounded by contract (they were already broadcast), so the
    // same result comes from one broadcast variable and a per-partition
    // JVM scan: zero exchanges, O(nlist·nprobe) per row, dotKernel uses
    // the same double arithmetic as the dotNative column form.
    // Tie semantics mirrored exactly: rank by (cosine DESC, cell ASC)
    // with java.lang.Double.compare — NaN GREATEST, like Spark SQL's
    // ordering (a zero-norm CENTROID still outranks all, unchanged;
    // zero/NaN-norm VECTORS are dropped, the guard below).
    val cents = collectCents(centroids)
    val bc = spark.sparkContext.broadcast(cents)
    val np = math.min(nprobe, cents.length)
    vectors.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, vec) =>
          val (vn, topC, filled) = topCellsKernel(vec, cs, np)
          if (vn.isNaN || vn <= 0.0) Iterator.empty
          else (0 until filled).iterator.map(r => (id, topC(r)))
        }
      }.toDF(idCol, "cell")
  }

  private def collectCents(
      centroids: DataFrame): Array[(Long, Array[Float], Double)] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids
      .select(col("cell").cast("long"), col("_cv"))
      // driver-bounded by contract; 1 task instead of one per source
      // partition (a 32-partition range costs 32 tiny collect tasks)
      .coalesce(1)
      .as[(Long, Array[Float])].collect()
      .sortBy(_._1)
      .map { case (c, v) => (c, v, math.sqrt(dotKernel(v, v))) }
  }

  /** The per-vector top-`np` cell scan behind [[assignCells]] (and the
    * inline probed-query pass): insertion top-np by (cosine DESC, cell
    * ASC) with java.lang.Double.compare — NaN GREATEST, like Spark SQL's
    * ordering. Returns (norm, cells, filled); a zero/NaN-norm vector
    * reports filled = 0 via the caller's norm guard. */
  private def topCellsKernel(vec: Array[Float],
      cs: Array[(Long, Array[Float], Double)],
      np: Int): (Double, Array[Long], Int) = {
    val vn = math.sqrt(dotKernel(vec, vec))
    if (vn.isNaN || vn <= 0.0) (vn, Array.empty[Long], 0)
    else {
      val topC = new Array[Long](np)
      val topD = new Array[Double](np)
      var filled = 0
      var i = 0
      while (i < cs.length) {
        val (cell, cv, cn) = cs(i)
        val d = dotKernel(vec, cv) / (vn * cn)
        var pos = filled
        while (pos > 0 && {
          val c = java.lang.Double.compare(d, topD(pos - 1))
          c > 0 || (c == 0 && cell < topC(pos - 1))
        }) pos -= 1
        if (pos < np) {
          val last = math.min(filled, np - 1)
          var m = last
          while (m > pos) {
            topC(m) = topC(m - 1); topD(m) = topD(m - 1); m -= 1
          }
          topC(pos) = cell; topD(pos) = d
          if (filled < np) filled += 1
        }
        i += 1
      }
      (vn, topC, filled)
    }
  }

  /** DISTRIBUTED deterministic Lloyd k-means over integer-fixed-point
    * vectors — the clustering primitive behind cluster-balanced
    * curation (SemDeDup-style cells, cluster-coverage sampling; Lloyd
    * 1982), hash-gated because every step is EXACT integer arithmetic
    * both engines compute bit-identically:
    *
    *   - vectors and seeds fix-point per dimension as
    *     `v_micro = HALF_UP(v · 1e6)` (half away from zero — DuckDB
    *     `round()`, `java.math.RoundingMode.HALF_UP`);
    *   - assignment: argmin of the exact integer squared L2 distance
    *     `Σ_j (v_j − c_j)²` (Long — |micro| ≤ ~2²¹ for unit-scale
    *     embeddings, squared·dim ≪ 2⁶³), ties to the LOWEST cell id;
    *   - update: per-dimension integer mean of the assigned vectors,
    *     HALF_UP away from zero, computed EXACTLY in arbitrary
    *     precision via the sign-split positive form
    *     `(2·|s| + n) quot (2·n)` (identical under truncating and
    *     floor integer division — what lets DuckDB replay it in
    *     HUGEINT); an empty cell keeps its previous centroid.
    *
    * Per iteration: ONE zero-shuffle scan producing per-partition
    * k×dim partial sums + counts, reduced to the driver (k·dim longs —
    * model-bounded, the trainTextClassifierGd collect contract). Seeds
    * are EXPLICIT (cell, _cv): deterministic clustering needs
    * deterministic starts — k-means++ quality seeding lives in
    * [[trainCentroids]] (Spark ML) for callers who want it, and its
    * centers can be fed here as seeds for a gated refinement.
    * Output: (cell, j, c_micro, n) exploded per dimension, `n` the
    * cell's final assignment count (repeated per j; j is 0-based). */
  def kmeansLloyd(vectors: DataFrame, vecCol: String, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 1000,
      s"iters must be in [1, 1000], got $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    val seedRows = seeds.select(col("cell").cast("long"), col("_cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(seedRows.nonEmpty, "kmeansLloyd: empty seed table")
    require(seedRows.map(_._1).distinct.length == seedRows.length,
      "kmeansLloyd: duplicate seed cell ids")
    val dim = seedRows.head._2.length
    require(dim >= 1 && seedRows.forall(_._2.length == dim),
      "kmeansLloyd: ragged seed vectors")
    val k = seedRows.length
    val cellIds = seedRows.map(_._1)
    def micro(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    // centroids as k×dim micro longs, row r ↔ cellIds(r)
    var cent: Array[Array[Long]] =
      seedRows.map(_._2.map(f => micro(f.toDouble * 1e6)))
    var counts = new Array[Long](k)
    val vecs = vectors.select(col(vecCol))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .as[Array[Float]]
    val sc = spark.sparkContext
    var it = 0
    while (it < iters) {
      val bcC = sc.broadcast(cent)
      val (sums, ns) = vecs.rdd.mapPartitions { rows =>
        val cs = bcC.value
        val s = Array.fill(cs.length)(new Array[Long](dim))
        val n = new Array[Long](cs.length)
        val vm = new Array[Long](dim)
        rows.foreach { v =>
          var j = 0
          while (j < dim) { vm(j) = micro(v(j).toDouble * 1e6); j += 1 }
          var best = Long.MaxValue; var bi = -1
          var r = 0
          while (r < cs.length) {
            val c = cs(r); var d = 0L; var jj = 0
            while (jj < dim) {
              val diff = vm(jj) - c(jj); d += diff * diff; jj += 1
            }
            if (d < best) { best = d; bi = r }
            r += 1
          }
          n(bi) += 1L
          val sr = s(bi)
          var jj = 0
          while (jj < dim) { sr(jj) += vm(jj); jj += 1 }
        }
        Iterator.single((s, n))
      }.reduce { (a, b) =>
        var r = 0
        while (r < k) {
          var j = 0
          while (j < dim) { a._1(r)(j) += b._1(r)(j); j += 1 }
          a._2(r) += b._2(r); r += 1
        }
        a
      }
      bcC.destroy()
      // exact half-away mean; sums fit Long at any realistic scale but
      // the 2·s doubling runs in BigInt so the formula never wraps
      cent = Array.tabulate(k) { r =>
        if (ns(r) == 0L) cent(r)
        else {
          val n2 = BigInt(2L * ns(r))
          Array.tabulate(dim) { j =>
            val s = BigInt(sums(r)(j))
            val q = (s.abs * 2 + BigInt(ns(r))) / n2
            (if (s.signum < 0) -q else q).toLong
          }
        }
      }
      counts = ns
      it += 1
    }
    val out = for {
      r <- 0 until k
      j <- 0 until dim
    } yield (cellIds(r), j, cent(r)(j), counts(r))
    out.toDF("cell", "j", "c_micro", "n")
  }

  /** Serve-side assignment against [[kmeansLloyd]] centroids — the same
    * exact integer squared-L2 argmin the trainer runs (micro fix-point
    * HALF_UP, ties to the LOWEST cell id), one zero-shuffle typed pass
    * against the driver-bounded (cell, j, c_micro) table. Rows with a
    * null id/vector or the wrong dimensionality drop (the oracle's
    * length predicate); non-finite components fail LOUDLY, like
    * training. Output: (idCol, cell). */
  def kmeansAssign(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = centroids.select(col("cell").cast("long"),
      col("j").cast("int"), col("c_micro").cast("long")).collect()
    require(rows.nonEmpty, "kmeansAssign: empty centroid table")
    val cellIds = rows.map(_.getLong(0)).distinct.sorted
    val dim = rows.map(_.getInt(1)).max + 1
    val byCell = rows.groupBy(_.getLong(0))
    require(byCell.values.forall(rs =>
      rs.length == dim && rs.map(_.getInt(1)).distinct.length == dim),
      s"kmeansAssign: centroid table is not a complete cell × $dim matrix")
    val cent: Array[Array[Long]] = cellIds.map { c =>
      val a = new Array[Long](dim)
      byCell(c).foreach(r => a(r.getInt(1)) = r.getLong(2))
      a
    }
    def micro(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val bcC = spark.sparkContext.broadcast(cent)
    val bcIds = spark.sparkContext.broadcast(cellIds)
    vectors
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"))
      .filter(col("_1").isNotNull && col("_2").isNotNull &&
        size(col("_2")) === dim)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        val ids = bcIds.value
        val vm = new Array[Long](dim)
        it.map { case (id, v) =>
          var j = 0
          while (j < dim) { vm(j) = micro(v(j).toDouble * 1e6); j += 1 }
          var best = Long.MaxValue; var bi = -1
          var r = 0
          while (r < cs.length) {
            val c = cs(r); var d = 0L; var jj = 0
            while (jj < dim) {
              val diff = vm(jj) - c(jj); d += diff * diff; jj += 1
            }
            if (d < best) { best = d; bi = r }
            r += 1
          }
          (id, ids(bi))
        }
      }.toDF(idCol, "cell")
  }

  /** Per-cell occupancy of an IVF corpus assignment — the skew diagnostic
    * for [[ivfTopK]]'s scoring join. Input: any (…, cell) assignment
    * (e.g. [[assignCells]] output); output: one row per cell
    * (cell, n, frac), frac descending. Cells are few (the centroid count),
    * so the result is driver-scale; a deployment should alert when
    * `max(frac)` approaches 1 — a 90 %-one-cell corpus makes that cell's
    * scoring-join task a straggler unless [[ivfTopK]] is salted (or AQE
    * skew-join splits it). */
  def cellStats(cells: DataFrame): DataFrame =
    cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .withColumn("frac", round(col("n") / sum(col("n")).over(), 4))
      .orderBy(col("frac").desc, col("cell"))

  /** IVF top-k: corpus sharded by nearest cell (1 cell each), queries probe
    * their `nprobe` nearest cells; exact re-scoring within probed cells.
    *
    * `salt` > 1 splits each cell's corpus rows into `salt` deterministic
    * sub-buckets and replicates each (query, probed cell) row across them,
    * so a dominant cell's scoring work spreads over `salt` tasks instead
    * of one straggler — exactness is unchanged (every corpus row lands in
    * exactly one sub-bucket, so each (query, neighbor) pair is still
    * scored exactly once; cost = query-side fan-out ×salt, which is the
    * small side). The default 1 keeps the plan identical to the unsalted
    * form. Diagnose first with [[cellStats]]; AQE's skew-join split covers
    * moderate skew at runtime, the salt covers the degenerate
    * nearly-all-one-cell corpus where one reducer would hold most of the
    * table. */
  /** Id columns must be NUMERIC (cast to long in the output) — same
    * contract as [[cosineTopK]]; the scoring tail's per-partition top-k
    * pre-reduce runs over typed (long, long, double) rows. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      salt: Int = 1): DataFrame = {
    val corpusCells = assignCells(corpus, centroids, idCol, vecCol, 1)
      .withColumnRenamed(idCol, "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        sqrt(dotNative(col(vecCol), col(vecCol))).as("_cn"))
      .join(corpusCells, "neighbor_id")
    ivfScore(probedQueries(queries, centroids, idCol, vecCol, nprobe),
      c, k, salt)
  }

  /** Query side of the IVF scoring join: (query_id, _qv, _qn, cell) with
    * one row per probed cell. ONE typed pass — the earlier form joined
    * [[assignCells]]' output back to a second scan of the same query
    * table (two exchanges per serve for columns the assignment pass
    * already held); the kernel's double norm is bit-identical to the
    * `sqrt(dotNative(v,v))` column form it replaces. */
  private def probedQueries(queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = collectCents(centroids)
    val bc = spark.sparkContext.broadcast(cents)
    val np = math.min(nprobe, cents.length)
    queries.select(col(idCol).cast("long").as("query_id"), col(vecCol))
      .filter(col("query_id").isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, vec) =>
          val (vn, topC, filled) = topCellsKernel(vec, cs, np)
          if (vn.isNaN || vn <= 0.0) Iterator.empty
          else (0 until filled).iterator.map(r => (id, vec, vn, topC(r)))
        }
      }.toDF("query_id", "_qv", "_qn", "cell")
  }

  /** Shared IVF scoring tail over a prepared query side (query_id, _qv,
    * _qn, cell) and corpus side (neighbor_id, _cv, _cn, cell) — the
    * optionally-salted cell equi-join, the cosine `dot / (_qn·_cn)` with
    * the tier's `dot` (exact by default), then per-query
    * top-k with a per-partition bounded k-heap PRE-REDUCE (same contract
    * as [[cosineTopK]]'s): the shuffle into the final per-query window
    * carries ≤ partitions·k rows per query instead of every scored pair —
    * at a probed-cell population of millions, the window would otherwise
    * sort the entire scoring join output. Heap memory is (queries seen in
    * the partition)·k entries, the same order as the query batch itself;
    * eviction mirrors the window tie-break (cos desc, neighbor asc), so
    * the reduced set contains exactly the window's winners. NaN cosines
    * cannot occur here: both sides pass [[assignCells]], which drops
    * zero/NaN-norm vectors by contract. */
  private def ivfScore(q: DataFrame, c: DataFrame, k: Int, salt: Int,
      dot: Column = dotNative(col("_qv"), col("_cv"))): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val spark = q.sparkSession
    import spark.implicits._
    val scored = (if (salt == 1) q.join(c, "cell")
      else {
        val qs = q.withColumn("_salt",
          explode(array((0 until salt).map(lit): _*)))
        val cs = c.withColumn("_salt",
          pmod(hash(col("neighbor_id")), lit(salt)))
        qs.join(cs, Seq("cell", "_salt"))
      })
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot / (col("_qn") * col("_cn"))).as("cos"))
      // a NULL score (dimension-mismatched query/corpus pair — DotProduct
      // returns null by contract) is DROPPED, matching what the
      // descending-order window did before the heap pre-reduce existed;
      // unfiltered it would NPE inside the typed encoder below
      .filter(col("cos").isNotNull)
    val reduced = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (qid, nid, cos) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by((t: (Double, Long)) => (-t._1, t._2))))
        if (h.size < k) h.enqueue((cos, nid))
        else {
          val worst = h.head
          if (cos > worst._1 || (cos == worst._1 && nid < worst._2)) {
            h.dequeue(); h.enqueue((cos, nid))
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (cos, nid) => (qid, nid, cos) }
      }
    }.toDF("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    reduced.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select("query_id", "neighbor_id", "cos")
  }

  /** Train-once IVF index PERSISTENCE — the 100 TB operating mode: k-means
    * training and corpus cell assignment are the expensive, corpus-wide
    * passes, and a serving workload must not repeat them per query batch
    * (the live [[ivfTopK]] replays both every call). `saveIvf` runs
    * them once and writes a VERSION directory `dir/v<n>/` in the storage
    * `tier` ([[IvfTier]]: float, SQ8 or PQ):
    *
    *   - `v<n>/corpus`: the tier's rows, e.g. (neighbor_id, _cv, _cn,
    *     cell) for float, PARTITIONED BY
    *     `cell` — a query batch probing `nprobe` cells then reads ONLY
    *     those cells' files: the broadcast query side drives dynamic
    *     partition pruning on the scoring join, which is the IVF promise
    *     (scan the probed fraction of the corpus, not all of it) realized
    *     at the FILE level;
    *   - `v<n>/centroids`: (cell, _cv);
    *   - `v<n>/codebooks` and `v<n>/rotation`: the PQ tier's tables;
    *   - `v<n>/_MANIFEST`: the version's flavor and folded-delta ledger
    *     ([[IvfManifest]]), closed before `_COMMIT` is created, so a
    *     reader that sees `_COMMIT` always sees a complete manifest;
    *   - `v<n>/_COMMIT`: created LAST — readers resolve the HIGHEST
    *     committed version, so a rebuild is never visible half-done: a
    *     crash mid-save leaves an uncommitted v-dir that readers skip and
    *     the next successful save sweeps, and the old version keeps
    *     serving consistent centroids+corpus throughout (an in-place
    *     overwrite would pair old committed centroids with new corpus
    *     partitions — wrong cells probed, silent recall loss).
    *
    * [[ivfServe]] then serves any query batch against the directory:
    * assign query cells against the tiny centroid table, join the
    * cell-partitioned corpus; on the float tier the results are identical
    * to the live path (spec-pinned, salted included). Retrain cadence vs
    * corpus drift is the operator's call, exactly as in any IVF serving
    * system.
    *
    * `centroids` (cell, _cv) injects an externally-trained codebook —
    * offline training on a sample, or a deterministic picker a
    * differential oracle can replay — and skips the k-means fit
    * (`nlist`/`sampleFraction`/`seed`/`maxIter` then only train the PQ
    * codebooks, if any). Over an empty `corpus` it seeds an index that
    * grows purely by appends.
    *
    * `retain` keeps that many previous COMMITTED versions on disk after
    * the new version commits (default 0 = sweep all) — the same in-flight-
    * reader contract as [[compactIvfIndex]]: a serving deployment rebuilds
    * with `retain = 1` so a query batch that resolved its version just
    * before the swap finishes its scan; the retained version is swept by
    * the NEXT save/compaction. Uncommitted (crashed) versions are always
    * swept. */
  def saveIvf(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, tier: IvfTier, nlist: Int, sampleFraction: Double = 1.0,
      seed: Long = 42L, maxIter: Int = 20,
      centroids: Option[DataFrame] = None, retain: Int = 0): Unit = {
    val cents = centroids.getOrElse(
      trainCentroids(corpus, vecCol, nlist, sampleFraction, seed, maxIter))
    val assigned = assignedRows(corpus, cents, idCol, vecCol)
    val (rows, extra) = tier match {
      case IvfTier.Float => (assigned, Nil)
      case IvfTier.Sq8 => (quantizeProjection(assigned), Nil)
      case pq: IvfTier.Pq =>
        pqEncode(corpus, vecCol, assigned, cents, pq, sampleFraction, seed,
          maxIter)
    }
    commitVersion(corpus.sparkSession, dir, IvfManifest(tier.flavor), retain,
      rows, cents, extra: _*)
  }

  /** The float serving projection WITH its cell assignment —
    * (neighbor_id, _cv, _cn, cell) in ONE typed pass: the corpus-side
    * twin of [[probedQueries]] (nprobe = 1). Every save/append flavor
    * previously joined [[assignCells]]' output back to a SECOND scan of
    * the same vectors — two exchanges per index write for columns the
    * assignment pass already held. Norms are [[dotKernel]] doubles,
    * bit-identical to the sqrt(dotNative) column form they replace
    * (the DotProduct contract); zero/NaN-norm and null rows drop
    * exactly as the join against [[assignCells]] output did. */
  private def assignedRows(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    probedQueries(vectors, centroids, idCol, vecCol, 1)
      .toDF("neighbor_id", "_cv", "_cn", "cell")

  /** The SQ8 serving projection (neighbor_id, _qoff, _qstep, _cq, _cn,
    * cell) over an [[assignedRows]] input — shared by the SQ8 branches of
    * [[saveIvf]] and [[appendIvfIndex]] (the [[IvfTier.Sq8]] contract).
    * Quantization params are PER ROW, so encoding a delivery needs
    * nothing from the stored corpus — what makes quantized append
    * delivery-proportional. Bytes are CENTERED: b = round((x −
    * lo)/step) − 128 ∈ [−128, 127] (tinyint cannot hold 0..255),
    * reconstructed as v̂ = o + step·b with offset o = lo + 128·step. A
    * constant vector (step 0) stores b = 0 and o = lo — exact
    * reconstruction. Pure column math — stays in codegen. */
  private def quantizeProjection(assigned: DataFrame): DataFrame = {
    val v = col("_cv")
    val lo = array_min(v)
    val step = ((array_max(v) - array_min(v)) / lit(255.0f)).cast("float")
    assigned.select(col("neighbor_id"),
      (lo + lit(128.0f) * step).as("_qoff"), step.as("_qstep"),
      transform(v, x => when(step === 0.0f, lit(0))
        .otherwise(round((x - lo) / step) - lit(128))
        .cast("tinyint")).as("_cq"),
      col("_cn"), col("cell"))
  }

  /** The version commit protocol, the one tail of every version writer
    * ([[saveIvf]], [[rewriteIvfIndex]], [[compactIvfIndex]]): the tables
    * land in the next `v<n>` dir (`corpus` partitioned by cell, `centroids` and each
    * of `extra` as one file), then the manifest, then `_COMMIT`; then
    * versions older than `n` are swept, keeping the newest `retain`
    * COMMITTED ones (uncommitted/crashed versions are always swept).
    *
    * The table writes run CONCURRENTLY (guide §2.6 — overlap independent
    * jobs): each is a separate job whose scheduling latency would
    * serialize with the others; submitted together, the tiny metadata
    * writes back-fill the corpus write's straggler tail. Every write
    * completes (or this throws) BEFORE the manifest and `_COMMIT`, so a
    * failed write leaves an uncommitted version dir readers skip. */
  // CALLER CONTRACT: every DataFrame passed in must be FULLY CONSTRUCTED
  // (hence analyzed) on the calling thread — Dataset construction on a
  // pool thread runs the analyzer there, and an SQL entry point that
  // mutates an index during function resolution (GraftSql's table-function
  // plans) holds the SessionCatalog monitor while awaiting, so a
  // foreign-thread UnresolvedFunction lookup deadlocks. The futures below
  // only EXECUTE pre-analyzed write plans.
  private def commitVersion(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifest: IvfManifest, retain: Int, corpus: DataFrame,
      centroids: DataFrame, extra: (String, DataFrame)*): Unit = {
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = ivfVersions(spark, dir).map(_._1).maxOption.getOrElse(0L) + 1
    val vdir = s"$dir/v$n"
    val tables = ("centroids" -> centroids.select(col("cell"), col("_cv"))) +:
      extra
    val writes = (() => corpus.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$vdir/corpus")) +:
      tables.map { case (name, df) =>
        val one = df.coalesce(1)
        () => one.write.mode("overwrite").parquet(s"$vdir/$name")
      }
    Await.result(Future.sequence(writes.map(w => Future(w()))),
      scala.concurrent.duration.Duration.Inf)
    IvfManifest.write(spark, vdir, manifest)
    f.create(new org.apache.hadoop.fs.Path(vdir, "_COMMIT"), true).close()
    val keep = ivfVersions(spark, dir)
      .filter(v => v._1 < n &&
        f.exists(new org.apache.hadoop.fs.Path(v._2, "_COMMIT")))
      .sortBy(-_._1).take(retain).map(_._1).toSet
    ivfVersions(spark, dir).filter(v => v._1 < n && !keep(v._1))
      .foreach(v => f.delete(new org.apache.hadoop.fs.Path(v._2), true))
  }

  /** A PQ version's codebooks (and rotation) as tables for a successor
    * version: appends must keep encoding against the SAME codebooks after
    * a fold or rewrite. Nothing for the other flavors. */
  private def carryFlavor(spark: org.apache.spark.sql.SparkSession,
      vold: String, flavor: IvfFlavor): Seq[(String, DataFrame)] =
    flavor match {
      case pq: IvfFlavor.Pq =>
        (Seq("codebooks") ++ (if (pq.rotated) Seq("rotation") else Nil))
          .map(t => t -> readParquetDir(spark, s"$vold/$t"))
      case _ => Nil
    }

  /** The flavor of a version that must be PQ, or an error naming `op`. */
  private def pqFlavor(spark: org.apache.spark.sql.SparkSession,
      vdir: String, op: String): IvfFlavor.Pq =
    IvfManifest.read(spark, vdir).flavor match {
      case pq: IvfFlavor.Pq => pq
      case other => throw new IllegalArgumentException(
        s"$vdir is a $other index, not PQ-flavored — $op")
    }

  /** The stored rotation of a version dir as a dense row-major matrix —
    * d×d floats, driver-bounded by the same budget as the broadcast
    * codebooks. */
  private def readRotation(spark: org.apache.spark.sql.SparkSession,
      vdir: String): Array[Array[Float]] =
    rotationMatrix(readParquetDir(spark, s"$vdir/rotation"))

  private def rotationMatrix(rotation: DataFrame): Array[Array[Float]] = {
    val rows =
      rotation.select(col("i").cast("int"), col("_rv")).coalesce(1).collect()
    require(rows.nonEmpty, "empty rotation table")
    val d = rows.map(_.getInt(0)).max + 1
    val r = new Array[Array[Float]](d)
    rows.foreach(x => r(x.getInt(0)) = x.getSeq[Float](1).toArray)
    require(r.forall(x => x != null && x.length == d),
      s"rotation table is not a complete $d×$d matrix")
    r
  }

  /** Rotate `vecCol` IN PLACE through a broadcast matrix — one narrow
    * typed pass (id, vec, …passthrough float-array columns), used on the
    * encode side (residuals / raw vectors) and the query side (LUT
    * input). The input must be (longCol, vecCol[, extra array<float>
    * columns…]); output schema mirrors the input. */
  private def rotateVecCol(df: DataFrame, longCol: String, vecCol: String,
      rot: Array[Array[Float]], extraVec: Option[String] = None,
      extraLong: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rot)
    @inline def rotate(r: Array[Array[Float]], x: Array[Float]) =
      rotateKernel(r, x)
    (extraVec, extraLong) match {
      case (Some(ev), Some(el)) =>
        df.select(col(longCol).cast("long"), col(vecCol), col(ev),
            col(el).cast("long"))
          .as[(Long, Array[Float], Array[Float], Long)]
          .mapPartitions { it =>
            val r = bc.value
            it.map { case (id, v, o, x) => (id, rotate(r, v), o, x) }
          }.toDF(longCol, vecCol, ev, el)
      case (Some(ev), None) =>
        df.select(col(longCol).cast("long"), col(vecCol), col(ev))
          .as[(Long, Array[Float], Array[Float])]
          .mapPartitions { it =>
            val r = bc.value
            it.map { case (id, v, o) => (id, rotate(r, v), o) }
          }.toDF(longCol, vecCol, ev)
      case (None, Some(el)) =>
        df.select(col(longCol).cast("long"), col(vecCol),
            col(el).cast("long"))
          .as[(Long, Array[Float], Long)]
          .mapPartitions { it =>
            val r = bc.value
            it.map { case (id, v, x) => (id, rotate(r, v), x) }
          }.toDF(longCol, vecCol, el)
      case (None, None) =>
        df.select(col(longCol).cast("long"), col(vecCol))
          .as[(Long, Array[Float])]
          .mapPartitions { it =>
            val r = bc.value
            it.map { case (id, v) => (id, rotate(r, v)) }
          }.toDF(longCol, vecCol)
    }
  }

  /** Dense row-major rotation of one vector — float output, double
    * accumulate. The single rotation kernel behind [[rotateVecCol]] and
    * the fused PQ query pass: both sides of an OPQ index MUST rotate
    * with bit-identical arithmetic. */
  private def rotateKernel(r: Array[Array[Float]],
      x: Array[Float]): Array[Float] = {
    val d = r.length
    val y = new Array[Float](d)
    var i = 0
    while (i < d) {
      val ri = r(i); var s = 0.0; var j = 0
      while (j < d) { s += ri(j).toDouble * x(j); j += 1 }
      y(i) = s.toFloat; i += 1
    }
    y
  }

  /** (neighbor_id, _rv, _ov, cell) for residual encoding over an
    * [[assignedRows]] input (which already carries the cell — the
    * earlier form joined the raw vectors to a separate assignment pass):
    * each row joined to its cell's centroid (broadcast — nlist rows),
    * `_rv` = v − c elementwise, `_ov` the original vector (norm source —
    * the cosine denominator and the `_qerr` scale stay relative to v,
    * never to the residual). The zip_with lambda is interpreted, but it
    * is consumed exactly once, by the typed encode pass right behind
    * it. */
  private def residualVectors(assigned: DataFrame,
      cents: DataFrame): DataFrame =
    assigned
      .select(col("neighbor_id"), col("_cv").as("_ov"), col("cell"))
      .join(broadcast(cents.select(col("cell"), col("_cv").as("_ccv"))),
        "cell")
      .withColumn("_rv", zip_with(col("_ov"), col("_ccv"), (a, b) => a - b))
      .select(col("neighbor_id"), col("_rv"), col("_ov"), col("cell"))

  /** All `v<n>` version dirs under an index root (committed or not). */
  private def ivfVersions(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Nil
    else f.listStatus(root).filter(_.isDirectory).toSeq.flatMap { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("v")) nm.drop(1).toLongOption.map(_ -> s.getPath.toString)
      else None
    }
  }

  /** Highest COMMITTED version dir of a [[saveIvf]] root. */
  private def latestIvfVersion(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ivfVersions(spark, dir)
      .filter(v => f.exists(new org.apache.hadoop.fs.Path(v._2, "_COMMIT")))
      .sortBy(_._1).lastOption.map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed IVF index under $dir — run saveIvf first"))
  }

  /** The flavor of an index root's highest committed version. */
  private[graft] def ivfFlavor(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): IvfFlavor =
    IvfManifest.read(spark, latestIvfVersion(spark, indexDir)).flavor

  /** The saved centroid table (cell, _cv) of an index root's highest
    * committed version. */
  def ivfCentroids(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    readParquetDir(spark, s"${latestIvfVersion(spark, indexDir)}/centroids")

  /** Per-cell occupancy of a persisted index's SERVING corpus (base +
    * committed deltas) — [[cellStats]] over what queries actually scan.
    * The centroid-drift / hot-cell diagnostic for a long-running
    * append-grown index: alert when `max(frac)` approaches 1 (salt the
    * serve or rebuild), or when occupancy shifts far from the trained
    * distribution (rebuild). */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    cellStats(ivfCorpus(spark, latestIvfVersion(spark, indexDir)))

  /** IVF top-k against a [[saveIvf]] directory (highest committed
    * version): no training, no corpus assignment, and the scoring join
    * scans only the probed cells' partitions (dynamic partition pruning
    * from the broadcast query side). The version's manifest, read once,
    * picks the query side and score of its [[IvfTier]]; the allowlist and
    * `refine` ([[IvfRefine]]) then apply the same way to every tier. Same
    * contract as [[ivfTopK]] otherwise, `salt` included.
    *
    * `allow` switches on FILTERED search — the vector-database "search
    * within a predicate" feature: candidates are restricted to the ids in
    * `allow`'s `allowIdCol` column BEFORE ranking, so the result is the
    * true top-k of the allowed subset (filtering a plain top-k result
    * AFTER the fact returns fewer than k and silently loses the allowed
    * neighbors ranked below the global winners — different semantics).
    * Scale shape: one left-semi join between the probed-cells scan and
    * the allowlist — Spark broadcasts a small list (tag/ACL filters) and
    * shuffles on the uniform id key when the list is corpus-scale (e.g.
    * "only documents surviving the latest prepare"); no skew exists on
    * either side by the unique-id contract. */
  def ivfServe(queries: DataFrame, dir: String, idCol: String,
      vecCol: String, k: Int, nprobe: Int, salt: Int = 1,
      refine: Option[IvfRefine] = None, allow: Option[DataFrame] = None,
      allowIdCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val vdir = latestIvfVersion(spark, dir)
    val cents = readParquetDir(spark, s"$vdir/centroids")
    def probed = probedQueries(queries, cents, idCol, vecCol, nprobe)
    val (q, dot) = IvfManifest.read(spark, vdir).flavor match {
      case IvfFlavor.Float => (probed, dotNative(col("_qv"), col("_cv")))
      case IvfFlavor.Sq8 =>
        (probed.withColumn("_qs", aggregate(col("_qv"), lit(0.0d),
            (acc, x) => acc + x.cast("double"))),
          col("_qoff").cast("double") * col("_qs") + col("_qstep")
            .cast("double") * dotNativeByte(col("_qv"), col("_cq")))
      case pq: IvfFlavor.Pq =>
        pqQueries(queries, vdir, pq, cents, idCol, vecCol, nprobe)
    }
    val corpus = allow match {
      case Some(a) => ivfCorpus(spark, vdir).join(
        a.select(col(allowIdCol).as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      case None => ivfCorpus(spark, vdir)
    }
    val candidates = ivfScore(q, corpus, refine.fold(k)(k * _.factor), salt,
      dot)
    refine.fold(candidates)(r =>
      refineCandidates(candidates, queries, r.corpus, idCol, vecCol, k))
  }

  /** Explicit schema of a parquet dir written by this module, read from
    * ONE footer on the driver: every schema-inferring
    * `spark.read.parquet` schedules a one-task footer job, and a refined
    * serve paid five of them (centroids, codebooks, rotation, base
    * corpus, each delta) before any data moved — the footer holds the
    * same information and reads in sub-millisecond driver time (guide
    * §6: supply explicit schemas). Cell-partitioned dirs get the `cell`
    * partition column appended, typed as discovery infers it. Types are
    * deep-nullabled to match what inference reports for Spark-written
    * files. NO caching: index dirs mutate by append/replay/compaction,
    * and this re-reads the current footer every call — metadata only,
    * never results. Throws (like inference) when the dir holds no
    * parquet file. */
  private[graft] def parquetDirSchema(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val f = root.getFileSystem(conf)
    def firstLeaf(p: org.apache.hadoop.fs.Path)
        : Option[org.apache.hadoop.fs.FileStatus] = {
      val kids = f.listStatus(p).sortBy(_.getPath.getName)
      kids.find(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          s.getLen > 0)
        .orElse(kids.filter(_.isDirectory).iterator
          .map(d => firstLeaf(d.getPath))
          .collectFirst { case Some(s) => s })
    }
    val leaf = firstLeaf(root).getOrElse(throw new IllegalArgumentException(
      s"parquetDirSchema: no parquet data file under $dir"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(leaf, conf))
    val msg =
      try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    def asNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(fd =>
        fd.copy(dataType = asNullable(fd.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = asNullable(m.valueType),
        valueContainsNull = true)
      case x => x
    }
    val base = asNullable(new org.apache.spark.sql.execution.datasources
      .parquet.ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get).convert(msg))
      .asInstanceOf[StructType]
    // the module's only partition layout is cell=<int>; discovery would
    // append the column after the file fields, typed integer
    if (leaf.getPath.getParent.getName.startsWith("cell="))
      base.add(StructField("cell", IntegerType, nullable = true))
    else base
  }

  /** `spark.read` of a module-written parquet dir with the footer schema
    * imposed — same rows, no inference job (see [[parquetDirSchema]]). */
  private def readParquetDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.schema(parquetDirSchema(spark, dir)).parquet(dir)

  /** The serving corpus of a version dir: the base cell-partitioned
    * corpus unioned with every COMMITTED delta (see [[appendIvfIndex]]).
    * Each path is read as its OWN partition-discovery root (one
    * multi-path read would fail on "conflicting directory structures":
    * base and delta leaves sit at different depths under their common
    * ancestor) — probed-cell partition pruning applies per branch of the
    * union, so the probed-fraction file-scan promise holds for base and
    * deltas alike. */
  private def ivfCorpus(spark: org.apache.spark.sql.SparkSession,
      vdir: String): DataFrame = {
    val paths = s"$vdir/corpus" +:
      committedDeltas(spark, vdir).map(d => s"${d._2}/corpus")
    // an index seeded EMPTY with external centroids, to be grown purely
    // by appends, is legal: skip corpus paths without rows
    val readable = paths.filter(hasCells(spark, _))
    if (readable.isEmpty) {
      import org.apache.spark.sql.types._
      // empty-seeded index: the schema comes from the version's recorded
      // flavor, matching what appends will write
      val payload = IvfManifest.read(spark, vdir).flavor match {
        case _: IvfFlavor.Pq => Seq(StructField("_pq", ArrayType(ByteType)))
        case IvfFlavor.Sq8 => Seq(
          StructField("_qoff", FloatType), StructField("_qstep", FloatType),
          StructField("_cq", ArrayType(ByteType)))
        case IvfFlavor.Float => Seq(StructField("_cv", ArrayType(FloatType)))
      }
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(StructField("neighbor_id", LongType) +: payload :+
          StructField("_cn", DoubleType) :+ StructField("cell", IntegerType)))
    }
    // allowMissingColumns: a LEGACY PQ base (written before `_qerr` was
    // stamped at encode time) unions with post-upgrade deltas that carry
    // it — the missing column nulls out, serving scans prune it anyway,
    // and compaction's rewrite preserves the mix verbatim
    else readable.map(readParquetDir(spark, _))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** All `delta<name>` dirs of a version dir (committed or not), as
    * (name, path). Anonymous appends use numeric names; streaming appends
    * use their micro-batch id (`b<id>`) so replays are idempotent. */
  private def deltaDirs(spark: org.apache.spark.sql.SparkSession,
      vdir: String): Seq[(String, String)] = {
    val root = new org.apache.hadoop.fs.Path(vdir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Nil
    else f.listStatus(root).filter(_.isDirectory).toSeq.flatMap { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("delta") && nm.length > 5)
        Some(nm.drop(5) -> s.getPath.toString)
      else None
    }
  }

  private def committedDeltas(spark: org.apache.spark.sql.SparkSession,
      vdir: String): Seq[(String, String)] = {
    val f = new org.apache.hadoop.fs.Path(vdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    deltaDirs(spark, vdir)
      .filter(d => f.exists(new org.apache.hadoop.fs.Path(d._2, "_COMMIT")))
      .sortBy(_._1)
  }

  /** Whether a cell-partitioned corpus dir holds rows: a write of zero
    * rows leaves no `cell=` children, and no schema parquet can read. */
  private def hasCells(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p) && f.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
  }

  /** Incremental corpus growth for a persisted index — the serving-time
    * complement of [[saveIvf]]: a 100 TB corpus grows continuously,
    * and re-running k-means + full corpus assignment per delivery would
    * make index freshness cost corpus-proportional work. `appendIvfIndex`
    * assigns ONLY the new vectors against the stored centroids (no
    * retraining, no base rewrite) and lands them as a cell-partitioned
    * `delta<d>/` dir inside the current version, `_COMMIT`-gated like the
    * versions themselves: a crashed append is invisible to readers and is
    * swept by the next successful append. Readers union base + committed
    * deltas with identical probed-cell pruning, so served results after an
    * append are exactly the live [[ivfTopK]] over the grown corpus with
    * the stored centroids (spec-pinned).
    *
    * Contracts: ids in `newVectors` must be new to the index (the reader
    * does not dedup — same as appending to any corpus table); writers are
    * single-threaded (same as [[saveIvf]]); centroids go stale as the
    * appended distribution drifts from the trained one — [[cellStats]]
    * over the served corpus diagnoses drift, a [[saveIvf]] rebuild
    * (full retrain, version-swap, old version serves throughout) repairs
    * it. Delta-dir count is bounded by [[compactIvfIndex]] cadence.
    *
    * `deltaName` keys the delta for IDEMPOTENT replay (streaming pollers
    * pass their micro-batch id): re-appending an existing name rewrites
    * the same dir from the same deterministic input, and a name already
    * folded into the version by [[compactIvfIndex]] (the manifest's
    * ledger) is a no-op — without either, a crash-replay straddling an
    * append or a compaction would land the delivery's rows twice.
    * Anonymous appends are auto-numbered and never no-op.
    *
    * The delta's row format FOLLOWS THE INDEX FLAVOR (the version's
    * manifest): on an SQ8 index the delivery is quantized
    * per-row before landing — quantization params are per-row
    * ([[quantizeProjection]]), so nothing corpus-proportional happens and the
    * cheapest serving tier stays fresh by the same delivery-proportional
    * appends as the float tier. Served results after a quantized append
    * are exactly an SQ8 [[saveIvf]] over the grown corpus with the
    * stored centroids (spec-pinned across compaction and crash replay):
    * per-row encoding cannot depend on arrival order. */
  def appendIvfIndex(newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, deltaName: Option[String] = None): Unit = {
    val spark = newVectors.sparkSession
    val vdir = latestIvfVersion(spark, indexDir)
    val manifest = IvfManifest.read(spark, vdir)
    if (!deltaName.exists(manifest.folded)) {
      val f = new org.apache.hadoop.fs.Path(vdir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cents = readParquetDir(spark, s"$vdir/centroids")
      val d = deltaName.getOrElse(
        (deltaDirs(spark, vdir).flatMap(_._1.toLongOption)
          .maxOption.getOrElse(0L) + 1).toString)
      val ddir = s"$vdir/delta$d"
      // a replayed named delta may already be committed: drop the marker
      // FIRST, so a crash mid-rewrite cannot leave half-written files
      // behind a stale commit
      f.delete(new org.apache.hadoop.fs.Path(ddir, "_COMMIT"), false)
      // ONE assignment pass carrying (_cv, _cn, cell) — every encode
      // branch consumes the cell from here (the earlier shape joined a
      // separate assignCells output back to the delivery, checkpointed
      // on the residual path because that join read it twice)
      val assigned = assignedRows(newVectors, cents, idCol, vecCol)
      val rows = manifest.flavor match {
        case pq: IvfFlavor.Pq =>
          val cbs = readParquetDir(spark, s"$vdir/codebooks")
          // the delivery follows the version's FULL flavor stack: rotate
          // into the stored space first, then encode residual / per-cell /
          // plain exactly as the base was
          val rotM =
            if (pq.rotated) Some(readRotation(spark, vdir))
            else None
          def residualRows() = {
            val r = residualVectors(assigned, cents)
            rotM match {
              case Some(rm) => rotateVecCol(r, "neighbor_id", "_rv", rm,
                extraVec = Some("_ov"), extraLong = Some("cell"))
              case None => r
            }
          }
          if (pq.perCell)
            pqRowsLocal(residualRows(), "neighbor_id", "_rv", cbs,
              Some("_ov"))
          else if (pq.residual)
            pqRows(residualRows(), "neighbor_id", "_rv", cbs, Some("_ov"))
          else rotM match {
            case Some(rm) =>
              pqRows(rotateVecCol(
                assigned.select(col("neighbor_id"), col("_cv").as("_rot"),
                  col("_cv").as("_ov"), col("cell")),
                "neighbor_id", "_rot", rm, extraVec = Some("_ov"),
                extraLong = Some("cell")),
                "neighbor_id", "_rot", cbs, Some("_ov"))
            case None => pqRows(assigned, "neighbor_id", "_cv", cbs)
          }
        case IvfFlavor.Sq8 => quantizeProjection(assigned)
        case IvfFlavor.Float => assigned
      }
      rows.write.mode("overwrite").partitionBy("cell").parquet(s"$ddir/corpus")
      // an all-rows-excluded delivery (empty batch, or every vector
      // zero/NaN-norm — assignCells drops those by contract) writes a
      // partitioned dir with NO cell= children, which would poison every
      // union read: leave NO delta rather than an unreadable one (replays
      // converge to the same nothing)
      if (!hasCells(spark, s"$ddir/corpus"))
        f.delete(new org.apache.hadoop.fs.Path(ddir), true)
      else f.create(new org.apache.hadoop.fs.Path(ddir, "_COMMIT"), true).close()
      // sweep crashed (uncommitted) other deltas — unreadable leftovers
      // (single-writer contract: no concurrent append can be mid-write)
      val committed = committedDeltas(spark, vdir).map(_._1).toSet
      deltaDirs(spark, vdir).filter(x => x._1 != d && !committed(x._1))
        .foreach(x => f.delete(new org.apache.hadoop.fs.Path(x._2), true))
    }
  }

  /** The refine tail of [[ivfServe]] (the [[IvfRefine]] contract): exact
    * rescoring of the index's candidate set against a full-precision
    * corpus, index-score fallback + `refined` flag for candidates absent
    * from it, exact rows ranked ahead. */
  private def refineCandidates(candidates: DataFrame, queries: DataFrame,
      refineCorpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val cand = candidates
      .select(col("query_id"), col("neighbor_id"), col("cos").as("_qcos"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_rqv"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_rqn"))
    val cv = refineCorpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("_rcv"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_rcn"))
    val rescored = cand.join(qv, "query_id")
      .join(cv, Seq("neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"),
        coalesce(
          dotNative(col("_rqv"), col("_rcv")) / (col("_rqn") * col("_rcn")),
          col("_qcos")).as("cos"),
        col("_rcv").isNotNull.as("refined"))
    // per-partition bounded k-heap PRE-REDUCE before the final window
    // (the [[ivfScore]] contract): at full refine width the candidate
    // set is corpus-sized per query, and the window would otherwise
    // shuffle and sort every rescored pair — the reduced shuffle
    // carries ≤ partitions·k rows per query. Eviction mirrors the
    // window tie-break (refined desc, cos desc, neighbor asc) exactly,
    // so the reduced set contains the window's winners. cos is non-null
    // here by construction (exact falls back to the candidate's own
    // score, which [[ivfScore]] null-filtered).
    val spark = rescored.sparkSession
    import spark.implicits._
    val reduced = rescored.as[(Long, Long, Double, Boolean)]
      .mapPartitions { it =>
        type E = (Boolean, Double, Long)
        val heaps = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.PriorityQueue[E]]
        def better(a: E, b: E): Boolean =
          a._1 != b._1 && a._1 ||
            (a._1 == b._1 && (a._2 > b._2 ||
              (a._2 == b._2 && a._3 < b._3)))
        it.foreach { case (qid, nid, cos, ref) =>
          val h = heaps.getOrElseUpdate(qid,
            scala.collection.mutable.PriorityQueue.empty[E](
              Ordering.fromLessThan[E]((x, y) => better(x, y))))
          val e = (ref, cos, nid)
          if (h.size < k) h.enqueue(e)
          else if (better(e, h.head)) { h.dequeue(); h.enqueue(e) }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (ref, cos, nid) => (qid, nid, cos, ref) }
        }
      }.toDF("query_id", "neighbor_id", "cos", "refined")
    val w = Window.partitionBy("query_id")
      .orderBy(col("refined").desc, col("cos").desc, col("neighbor_id"))
    reduced.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select("query_id", "neighbor_id", "cos", "refined")
  }

  /** Per-subspace PRODUCT-QUANTIZATION codebooks (Jégou et al.'s PQ):
    * the dim-D vector splits into `m` equal D/m-dim subvectors, and each
    * subspace trains `k ≤ 256` centroids with the same seeded k-means
    * engine as [[trainCentroids]] (seed offset per subspace). Output
    * (m, code, _cbv) with codes DENSE 0..k_m−1 per subspace — k_m may
    * fall below `k` when a subspace has fewer distinct points. NaN
    * subvectors are excluded from training (a NaN centroid poisons every
    * distance); zero subvectors are legal PQ training data (L2 metric,
    * unlike the cosine cell assignment) and are kept. An all-excluded
    * subspace falls back to one zero centroid so encoding always has a
    * target. D must divide by m; an empty corpus cannot train — seed
    * empty indexes with explicit `codebooks`. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int, k: Int,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= 256, s"k must be in [1, 256], got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val nonNull = corpus.filter(col(vecCol).isNotNull)
    val dim = nonNull.select(size(col(vecCol)).as("_d")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
        "cannot train PQ codebooks on an empty corpus — pass codebooks " +
          "explicitly to seed an empty index"))
    require(dim % m == 0, s"dim $dim is not divisible by m $m")
    val sub = dim / m
    val toVec = udf((a: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))
    val sampled =
      if (sampleFraction < 1.0)
        nonNull.sample(withReplacement = false, sampleFraction, seed)
      else nonNull
    (0 until m).map { mi =>
      val sliced = sampled
        .select(slice(col(vecCol), mi * sub + 1, sub).as("_sv"))
        .filter(size(col("_sv")) === sub &&
          !exists(col("_sv"), x => isnan(x)))
        .select(toVec(col("_sv")).as("features"))
      if (sliced.isEmpty)
        Seq((mi, 0, Array.fill(sub)(0.0f))).toDF("m", "code", "_cbv")
      else {
        val model = new org.apache.spark.ml.clustering.KMeans()
          .setK(k).setSeed(seed + mi).setMaxIter(maxIter).fit(sliced)
        model.clusterCenters.zipWithIndex.toSeq
          .map { case (c, i) => (mi, i, c.toArray.map(_.toFloat)) }
          .toDF("m", "code", "_cbv")
      }
    }.reduce(_.unionByName(_))
  }

  /** Deterministic in-memory k-means (k-means++ seeding + Lloyd's) over
    * a BOUNDED point set — the per-group trainer behind
    * [[trainPqCodebooksLocal]]. Pure sequential Scala: given the same
    * point order, seed, k, and iteration count it returns bit-identical
    * centroids on any executor (MLlib's distributed fit sums partials in
    * partition order and cannot promise that). k collapses to the
    * DISTINCT point count when points repeat (the dense-codes contract
    * of [[trainPqCodebooks]]); empty clusters keep their previous
    * centroid; assignment ties go to the lowest centroid index. */
  private[llm] def kmeansKernel(points: Array[Array[Float]], k: Int,
      seed: Long, maxIter: Int): Array[Array[Float]] = {
    val distinct = scala.collection.mutable.LinkedHashSet
      .empty[scala.collection.immutable.ArraySeq[Float]]
    points.foreach(p =>
      distinct += scala.collection.immutable.ArraySeq.unsafeWrapArray(p))
    val kk = math.min(k, distinct.size)
    if (kk == 0) return Array(Array.fill(
      points.headOption.map(_.length).getOrElse(0))(0.0f))
    val rnd = new java.util.Random(seed)
    @inline def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i); s += d * d; i += 1
      }
      s
    }
    // k-means++ over the distinct set (sampling the duplicated set would
    // just re-weight by multiplicity — fine either way; distinct keeps
    // the seeding from wasting draws on copies of an already-chosen point)
    val pool = distinct.iterator.map(_.unsafeArray
      .asInstanceOf[Array[Float]]).toArray
    val centers = new Array[Array[Float]](kk)
    centers(0) = pool(rnd.nextInt(pool.length))
    val best = pool.map(p => d2(p, centers(0)))
    var c = 1
    while (c < kk) {
      val total = best.sum
      val pick =
        if (total <= 0.0) {
          // all remaining mass at distance 0 can only happen when every
          // pool point is already a center — unreachable at c < kk, but
          // fall back to the first unchosen point rather than divide by 0
          pool.indexWhere(p => !centers.take(c).exists(_.sameElements(p)))
        } else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < pool.length - 1 && r >= best(i)) { r -= best(i); i += 1 }
          i
        }
      centers(c) = pool(pick)
      var i = 0
      while (i < pool.length) {
        val d = d2(pool(i), centers(c))
        if (d < best(i)) best(i) = d
        i += 1
      }
      c += 1
    }
    // Lloyd's over the FULL (duplicated) set — multiplicity must weight
    // the means
    val dim = points.head.length
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Long](kk)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var bi = 0; var bd = Double.MaxValue; var ci = 0
        while (ci < kk) {
          val d = d2(p, centers(ci))
          if (d < bd) { bd = d; bi = ci }
          ci += 1
        }
        counts(bi) += 1
        var j = 0
        while (j < dim) { sums(bi)(j) += p(j); j += 1 }
        i += 1
      }
      moved = false
      var ci = 0
      while (ci < kk) {
        if (counts(ci) > 0) {
          val nc = new Array[Float](dim)
          var j = 0
          while (j < dim) {
            nc(j) = (sums(ci)(j) / counts(ci)).toFloat; j += 1
          }
          if (!nc.sameElements(centers(ci))) { moved = true; centers(ci) = nc }
        }
        ci += 1
      }
      iter += 1
    }
    centers
  }

  /** Orthogonal-Procrustes solution R = U·Vᵀ from the SVD of `m` —
    * the rotation-update step of OPQ training (Ge et al. 2013, public
    * algorithm). One-sided Jacobi SVD in pure sequential Scala:
    * deterministic on any machine (LAPACK/netlib would be
    * machine-dependent), cubic in d — d is an embedding dimension
    * (tens to a few thousand), driver-trivial. Rank-deficient inputs
    * complete the null column space by Gram-Schmidt over the identity
    * basis, keeping R exactly orthogonal. */
  private[llm] def procrustesRotation(m: Array[Array[Double]])
      : Array[Array[Double]] = {
    val d = m.length
    // a = working copy, columns become U·Σ; v accumulates the right
    // rotations (so m = a₀ = (final a with orthogonal columns)·vᵀ)
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val eps = 1e-12
    var sweep = 0
    var rotated = true
    while (sweep < 60 && rotated) {
      rotated = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < d) {
            app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
            apq += a(i)(p) * a(i)(q)
            i += 1
          }
          if (math.abs(apq) > eps * math.sqrt(app * aqq)) {
            rotated = true
            val tau = (aqq - app) / (2.0 * apq)
            // sign(0) must be 1, not 0 — equal-norm columns (tau = 0)
            // need the full 45° turn, and signum would freeze them
            val t = (if (tau >= 0) 1.0 else -1.0) /
              (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            i = 0
            while (i < d) {
              val ap = a(i)(p); val aq = a(i)(q)
              a(i)(p) = c * ap - s * aq; a(i)(q) = s * ap + c * aq
              val vp = v(i)(p); val vq = v(i)(q)
              v(i)(p) = c * vp - s * vq; v(i)(q) = s * vp + c * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // U columns = normalized a columns. Two passes: normalize every
    // nonzero-σ column first, THEN complete each null column by
    // Gram-Schmidt against ALL columns built so far (a rank-deficient M
    // interleaves zero columns among real ones — a one-pass completion
    // would only orthogonalize against the earlier ones and leave RᵀR
    // off-identity).
    val u = Array.ofDim[Double](d, d)
    val isNull = new Array[Boolean](d)
    var j = 0
    while (j < d) {
      var n2 = 0.0; var i = 0
      while (i < d) { n2 += a(i)(j) * a(i)(j); i += 1 }
      val n = math.sqrt(n2)
      if (n > 1e-9) {
        i = 0
        while (i < d) { u(i)(j) = a(i)(j) / n; i += 1 }
      } else isNull(j) = true
      j += 1
    }
    j = 0
    while (j < d) {
      if (isNull(j)) {
        // complete from the identity basis, orthogonal to every column
        // already in place (real and previously-completed alike)
        var e = 0
        var done = false
        while (e < d && !done) {
          val cand = new Array[Double](d)
          cand(e) = 1.0
          var jj = 0
          while (jj < d) {
            if (jj != j && !(isNull(jj) && jj > j)) {
              var dp = 0.0; var ii = 0
              while (ii < d) { dp += cand(ii) * u(ii)(jj); ii += 1 }
              ii = 0
              while (ii < d) { cand(ii) -= dp * u(ii)(jj); ii += 1 }
            }
            jj += 1
          }
          var cn2 = 0.0; var ii = 0
          while (ii < d) { cn2 += cand(ii) * cand(ii); ii += 1 }
          if (cn2 > 1e-6) {
            val cn = math.sqrt(cn2)
            ii = 0
            while (ii < d) { u(ii)(j) = cand(ii) / cn; ii += 1 }
            done = true
          }
          e += 1
        }
        isNull(j) = false
      }
      j += 1
    }
    // R = U·Vᵀ
    Array.tabulate(d, d) { (i, k) =>
      var s = 0.0; var t = 0
      while (t < d) { s += u(i)(t) * v(k)(t); t += 1 }
      s
    }
  }

  /** Train an OPQ rotation (Ge et al. 2013's non-parametric alternation)
    * as a DRIVER KERNEL on a require-bounded vector sample — the
    * BpeKernel split again: the rotation is a d×d matrix learned from a
    * sample, while ENCODING under it is the corpus-scale pass. Each
    * iteration (a) PQ-encodes the rotated sample against
    * [[kmeansKernel]]-trained per-subspace codebooks and (b) solves the
    * orthogonal Procrustes problem R = U·Vᵀ of SVD(Σ ŷᵢxᵢᵀ) — rotating
    * the space so quantization error concentrates where the codebooks
    * can spend their codes. Deterministic end to end (sorted collect,
    * sequential kernels, Jacobi SVD).
    *
    * Input rows must carry (`idCol`, `vecCol`); train on the RESIDUAL
    * sample when the index is residual-encoded (the space the codes
    * actually quantize). Output: (i, _rv) — row i of R as float, the
    * table [[IvfTier.Pq]] accepts as its `rotation`. */
  def trainOpqRotation(sample: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 256, iters: Int = 8, seed: Long = 42L,
      maxTrainRows: Int = 100000, kmeansIters: Int = 10): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = sample.sparkSession
    import spark.implicits._
    val rows = sample
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        !exists(col(vecCol), x => isnan(x)))
      .select(xxhash64(col(idCol)).as("_h"),
        col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .sort("_h", "_id")
      .limit(maxTrainRows)
      .select("_v").as[Array[Float]].collect()
    require(rows.nonEmpty, "trainOpqRotation: no trainable vectors")
    val d = rows.head.length
    require(d % m == 0, s"dim $d is not divisible by m $m")
    val sub = d / m
    val x = rows.map(_.map(_.toDouble))
    // the alternation runs from TWO starts and the lower-error rotation
    // wins: identity (data whose structure is already mostly
    // subspace-aligned — a random start scrambles it and a few
    // iterations cannot climb back, measured as a qerr REGRESSION on a
    // near-aligned corpus) and a seeded random orthogonal (symmetric
    // data stalls the identity start — the first codebooks inherit the
    // subspace symmetry and Procrustes has no gradient to rotate along).
    // Both deterministic; the tracked error is the sample's relative
    // squared reconstruction error under that iteration's own codebooks.
    def alternate(r0: Array[Array[Double]]): (Array[Array[Double]], Double) = {
      var r = r0
      var bestR = r0
      var bestErr = Double.MaxValue
      var it = 0
      while (it < iters) {
        // y = R·x per row
        val y = x.map { xi =>
          val yi = new Array[Double](d)
          var i = 0
          while (i < d) {
            var s = 0.0; var j = 0
            while (j < d) { s += r(i)(j) * xi(j); j += 1 }
            yi(i) = s; i += 1
          }
          yi
        }
        // per-subspace codebooks on the rotated sample, then reconstruct
        val yhat = Array.fill(y.length)(new Array[Double](d))
        var mi = 0
        while (mi < m) {
          val pts = y.map { yi =>
            val a = new Array[Float](sub)
            var j = 0
            while (j < sub) { a(j) = yi(mi * sub + j).toFloat; j += 1 }
            a
          }
          val cents = kmeansKernel(pts, k, seed * 7919L + it * 131L + mi,
            kmeansIters)
          var ri = 0
          while (ri < pts.length) {
            val p = pts(ri)
            var best = Double.MaxValue; var bc = 0; var c = 0
            while (c < cents.length) {
              var dd = 0.0; var j = 0
              while (j < sub) {
                val df = p(j).toDouble - cents(c)(j); dd += df * df; j += 1
              }
              if (dd < best) { best = dd; bc = c }
              c += 1
            }
            var j = 0
            while (j < sub) {
              yhat(ri)(mi * sub + j) = cents(bc)(j); j += 1
            }
            ri += 1
          }
          mi += 1
        }
        // this iteration's error: Σ‖R·x − x̂‖² / Σ‖x‖² with ITS codebooks
        var errN = 0.0; var errD = 0.0
        var ri = 0
        while (ri < x.length) {
          val yi = y(ri); val hi = yhat(ri)
          var i = 0
          while (i < d) {
            val df = yi(i) - hi(i); errN += df * df
            errD += yi(i) * yi(i)
            i += 1
          }
          ri += 1
        }
        val err = if (errD > 0) errN / errD else 0.0
        if (err < bestErr) { bestErr = err; bestR = r }
        // Procrustes update: M = Σ ŷᵢ·xᵢᵀ, R = U·Vᵀ of SVD(M)
        val cross = Array.ofDim[Double](d, d)
        ri = 0
        while (ri < x.length) {
          val xi = x(ri); val yi = yhat(ri)
          var i = 0
          while (i < d) {
            val yv = yi(i)
            if (yv != 0.0) {
              var j = 0
              while (j < d) { cross(i)(j) += yv * xi(j); j += 1 }
            }
            i += 1
          }
          ri += 1
        }
        r = procrustesRotation(cross)
        it += 1
      }
      (bestR, bestErr)
    }
    val eye = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val rand = {
      val rnd = new java.util.Random(seed)
      procrustesRotation(Array.fill(d, d)(rnd.nextGaussian()))
    }
    val (rI, eI) = alternate(eye)
    val (rR, eR) = alternate(rand)
    val r = if (eI <= eR) rI else rR
    r.zipWithIndex.map { case (row, i) => (i, row.map(_.toFloat)) }
      .toSeq.toDF("i", "_rv")
  }

  /** PER-CELL (local) PQ codebooks — the [[trainPqCodebooks]] variant
    * behind `IvfTier.Pq(perCell = true)`: each coarse cell trains its
    * OWN m×k codebook table on ITS residuals, so total quantizer capacity
    * (and total training data) grows with `nlist` while each k-means
    * stays sample-bounded. The shape that makes it distributed: ONE
    * shuffle of the (sampled) residuals keyed by cell, a per-partition
    * sort by (cell, xxhash64(id), id) so every group sees a DETERMINISTIC
    * point order, then [[kmeansKernel]] per (cell, subspace) run inside
    * the partition — nlist×m independent k-means execute as one job, no
    * driver loop of MLlib fits (the shared trainer's shape), no
    * per-group collect. Per-task memory is bounded by
    * `maxTrainPerCell`·dim floats: rows past the cap are DROPPED in sort
    * order (a deterministic per-cell sample), so a skewed cell costs its
    * reader a capped buffer, not the cell's population.
    *
    * Input must carry (cell, `vecCol`, `idCol`); NaN subvectors are
    * excluded from training and an all-excluded (cell, m) falls back to
    * one zero centroid — the [[trainPqCodebooks]] contracts per cell.
    * Output (cell, m, code, _cbv), codes dense 0..k_m−1 per (cell, m). */
  private[llm] def trainPqCodebooksLocal(residuals: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int,
      maxTrainPerCell: Int = 20000, seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= 256, s"k must be in [1, 256], got $k")
    require(maxTrainPerCell >= 1,
      s"maxTrainPerCell must be >= 1, got $maxTrainPerCell")
    val spark = residuals.sparkSession
    import spark.implicits._
    residuals
      .filter(col(vecCol).isNotNull)
      .select(col("cell").cast("int").as("_1"),
        xxhash64(col(idCol)).as("_h"), col(idCol).cast("long").as("_id"),
        col(vecCol).as("_2"))
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_h"), col("_id"))
      .select(col("_1"), col("_2")).as[(Int, Array[Float])]
      .mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Array[Float])]
        var cur = Int.MinValue
        var dim = -1
        val cellBuf = scala.collection.mutable.ArrayBuffer
          .empty[Array[Float]]
        def flush(): Unit = if (cellBuf.nonEmpty) {
          val sub = dim / m
          var mi = 0
          while (mi < m) {
            val pts = cellBuf.iterator.map { v =>
              val a = new Array[Float](sub)
              System.arraycopy(v, mi * sub, a, 0, sub); a
            }.filter(a => !a.exists(_.isNaN)).toArray
            val cents =
              if (pts.isEmpty) Array(Array.fill(sub)(0.0f))
              else kmeansKernel(pts, k,
                seed * 1000003L + cur.toLong * 131L + mi, maxIter)
            var code = 0
            while (code < cents.length) {
              buf += ((cur, mi, code, cents(code)))
              code += 1
            }
            mi += 1
          }
          cellBuf.clear()
        }
        it.foreach { case (cell, v) =>
          if (cell != cur) { flush(); cur = cell }
          if (dim < 0) {
            dim = v.length
            require(dim % m == 0, s"dim $dim is not divisible by m $m")
          }
          if (cellBuf.length < maxTrainPerCell) cellBuf += v
        }
        flush()
        buf.iterator
      }
      .toDF("cell", "m", "code", "_cbv")
  }

  /** PQ-encode against PER-CELL codebooks — [[pqRows]] with the codebook
    * picked by the row's own cell. The full (cell → m×k×sub) codebook set
    * broadcasts once; the budget is nlist·m·k·sub floats and is
    * `require`-guarded (beyond it, shard the encode by cell ranges — the
    * per-row loop is otherwise identical). Input must carry `cell`;
    * output schema matches [[pqRows]] exactly (cell is NOT carried — the
    * callers' cells-join contract stays shared with every other flavor). */
  private def pqRowsLocal(vectors: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame,
      normVecCol: Option[String] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbRows = codebooks
      .select(col("cell").cast("int"), col("m"), col("code"), col("_cbv"))
      .collect()
    require(cbRows.nonEmpty, "empty per-cell codebook table")
    val sub = cbRows.head.getSeq[Float](3).length
    require(cbRows.length.toLong * sub <= 64L * 1024 * 1024,
      s"per-cell codebook set too large to broadcast (${cbRows.length} " +
        s"codes × $sub floats) — shard the encode by cell ranges")
    val cbMap: Map[Int, Array[Array[Array[Float]]]] =
      cbRows.groupBy(_.getInt(0)).map { case (cell, rs) =>
        val mk = rs.map(_.getInt(1)).max + 1
        val a = Array.fill(mk)(Array.empty[Array[Float]])
        rs.groupBy(_.getInt(1)).foreach { case (mi, ms) =>
          a(mi) = ms.sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray)
        }
        cell -> a
      }
    val bc = spark.sparkContext.broadcast(cbMap)
    vectors
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"),
        col(normVecCol.getOrElse(vecCol)).as("_3"),
        col("cell").cast("int").as("_4"))
      .as[(Long, Array[Float], Array[Float], Int)]
      .mapPartitions { rows =>
        val cbs = bc.value
        rows.flatMap { case (id, v, ov, cell) =>
          var n2 = 0.0; var i = 0
          while (i < ov.length) { n2 += ov(i).toDouble * ov(i); i += 1 }
          if (n2.isNaN || n2 <= 0.0) None
          else {
            // LOUD on a missing cell: the save path materializes a
            // codebook for every centroid cell (zero fallback included),
            // so a miss means an explicit-codebook caller under-covered
            // the cell space — a silent drop here would also make the
            // cell unservable (its ADC lookup join has no rows)
            val cb = cbs.getOrElse(cell, throw new IllegalArgumentException(
              s"per-cell PQ codebooks cover no cell $cell — explicit " +
                "codebooks must cover every assigned cell"))
            val codes = new Array[Byte](cb.length)
            var errSum = 0.0
            var m = 0
            while (m < cb.length) {
              val off = m * sub
              var best = Double.MaxValue; var bcode = 0
              var c = 0
              while (c < cb(m).length) {
                val cv = cb(m)(c); var d = 0.0; var j = 0
                while (j < sub) {
                  val diff = v(off + j).toDouble - cv(j); d += diff * diff
                  j += 1
                }
                if (d < best) { best = d; bcode = c }
                c += 1
              }
              codes(m) = (bcode - 128).toByte
              errSum += best
              m += 1
            }
            Some((id, codes.toSeq, math.sqrt(n2),
              math.sqrt(errSum / n2).toFloat, cell.toLong))
          }
        }
      }.toDF("neighbor_id", "_pq", "_cn", "_qerr", "cell")
  }

  /** PQ-encode rows for the serving corpus: (neighbor_id, _pq, _cn,
    * _qerr, cell) — the input must carry its cell assignment (an
    * [[assignedRows]]/[[residualVectors]] shape), which passes through
    * to the write untouched. `_pq` is the m-byte code array (codes centered at −128,
    * tinyint cannot hold 0..255), `_cn` the EXACT float-precision norm so
    * the cosine denominator never degrades. Nearest sub-centroid by L2
    * (the PQ metric; lowest code wins a distance tie — deterministic):
    * zero subvectors encode fine, unlike a
    * cosine assignment. Per-row encoding depends only on the STORED
    * codebooks — what makes PQ appends delivery-proportional, exactly
    * like the SQ8 per-row parameters. Zero/NaN-norm rows are excluded
    * (the [[assignCells]] contract shared by every tier).
    *
    * `_qerr` is the row's RELATIVE reconstruction error
    * ‖v − v̂‖ / ‖v‖ (v̂ = the chosen sub-centroids concatenated) —
    * stamped at encode time, when the full-precision vector is last in
    * hand, because the lossy corpus cannot recompute it later. It is the
    * raw signal behind [[pqIndexStats]]'s codebook-drift diagnostic and
    * costs 4 bytes/row next to the codes (pruned from every serving
    * scan). The error sum falls out of the nearest-centroid search for
    * free: the winning distance IS the subspace's squared error. */
  private def pqRows(vectors: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, normVecCol: Option[String] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // codebooks to the driver once — m×k×(D/m) floats, ≤ a few hundred
    // KB by the k ≤ 256 contract — then encoding is ONE narrow typed
    // pass (tight primitive loops, broadcast codebook, no explode, no
    // join, no shuffle): the DataFrame-composed form spent more wall in
    // its four exchange boundaries than in the arithmetic
    val cbRows = codebooks.select(col("m"), col("code"), col("_cbv"))
      .collect()
    val mk = cbRows.map(_.getInt(0)).max + 1
    val cbArr: Array[Array[Array[Float]]] = {
      val a = Array.fill(mk)(Array.empty[Array[Float]])
      cbRows.groupBy(_.getInt(0)).foreach { case (m, rs) =>
        a(m) = rs.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }
      a
    }
    val sub = cbArr.head.head.length
    val bc = spark.sparkContext.broadcast(cbArr)
    // `normVecCol` (the residual path): codes quantize `vecCol` (the
    // residual) but the stored norm, the exclusion rule, and the `_qerr`
    // scale all follow the ORIGINAL vector — the serving cosine and the
    // drift diagnostic are about v, not about v − c
    vectors
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"),
        col(normVecCol.getOrElse(vecCol)).as("_3"),
        col("cell").cast("long").as("_4"))
      .as[(Long, Array[Float], Array[Float], Long)]
      .mapPartitions { rows =>
        val cb = bc.value
        rows.flatMap { case (id, v, ov, cell) =>
          var n2 = 0.0; var i = 0
          while (i < ov.length) { n2 += ov(i).toDouble * ov(i); i += 1 }
          // zero/NaN-norm rows are excluded — the assignCells contract
          // shared by every tier
          if (n2.isNaN || n2 <= 0.0) None
          else {
            val codes = new Array[Byte](cb.length)
            var errSum = 0.0
            var m = 0
            while (m < cb.length) {
              val off = m * sub
              var best = Double.MaxValue; var bcode = 0
              var c = 0
              while (c < cb(m).length) {
                val cv = cb(m)(c); var d = 0.0; var j = 0
                while (j < sub) {
                  val diff = v(off + j).toDouble - cv(j); d += diff * diff
                  j += 1
                }
                if (d < best) { best = d; bcode = c }
                c += 1
              }
              codes(m) = (bcode - 128).toByte
              errSum += best
              m += 1
            }
            Some((id, codes.toSeq, math.sqrt(n2),
              math.sqrt(errSum / n2).toFloat, cell))
          }
        }
      }.toDF("neighbor_id", "_pq", "_cn", "_qerr", "cell")
  }

  /** (subspace count, subspace dim) of a codebook table — ONE driver
    * job, not two. */
  private def pqShape(codebooks: DataFrame): (Int, Int) = {
    val r = codebooks.agg(max("m"), max(size(col("_cbv")))).head
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** The [[IvfTier.Pq]] branch of [[saveIvf]]: codebooks (trained unless
    * injected) and the PQ rows over an [[assignedRows]] input, plus the
    * version's extra tables — `codebooks` (carried by compaction and
    * rewrite, so appends keep encoding against them) and `rotation`. */
  private def pqEncode(corpus: DataFrame, vecCol: String,
      assigned: DataFrame, cents: DataFrame, tier: IvfTier.Pq,
      sampleFraction: Double, seed: Long,
      maxIter: Int): (DataFrame, Seq[(String, DataFrame)]) = {
    val IvfTier.Pq(pqM, pqK, _, perCell, maxTrainPerCell, codebooks,
      rotation) = tier
    // per-cell codebooks always quantize residuals: k-means is
    // translation-invariant, so per-cell-on-raw would learn the same
    // codebooks translated by the centroid (the flavor sets `residual`
    // whenever `perCell` is set). Residuals spend the same m bytes on the
    // fine structure the cell id does not carry; the rotation is
    // orthogonal, so stored norms and the `_qerr` scale keep their
    // meaning. The serving side of both is on [[IvfTier.Pq]].
    val flavor = tier.flavor
    val rotM = rotation.map(rotationMatrix)
    val res0 =
      if (flavor.residual) Some(residualVectors(assigned, cents))
      else None
    // the residual table is consumed by every k-means action in
    // trainPqCodebooks (~2 per subspace) plus the encode pass —
    // checkpoint it when TRAINING happens; with explicit codebooks the
    // encode pass is the only consumer and the materialization job
    // would be pure overhead
    val res = res0.map { r =>
      val rr = rotM match {
        case Some(rm) =>
          rotateVecCol(r, "neighbor_id", "_rv", rm, extraVec = Some("_ov"),
            extraLong = Some("cell"))
        case None => r
      }
      if (codebooks.isEmpty) rr.localCheckpoint() else rr
    }
    val sampledRes = res.map { r =>
      if (perCell && sampleFraction < 1.0)
        r.sample(withReplacement = false, sampleFraction, seed)
      else r
    }
    // plain-path rotation: (neighbor_id, _rot = R·v, _ov = v, cell) —
    // codes quantize the rotated vector, norms stay on the original;
    // consumed by training (~2 actions per subspace) and encode →
    // checkpoint when training happens (explicit codebooks: encode is
    // the only consumer)
    val plainRot: Option[DataFrame] =
      if (flavor.residual) None
      else rotM.map { rm =>
        val rp = rotateVecCol(
          assigned.select(col("neighbor_id"), col("_cv").as("_rot"),
            col("_cv").as("_ov"), col("cell")),
          "neighbor_id", "_rot", rm, extraVec = Some("_ov"),
          extraLong = Some("cell"))
        if (codebooks.isEmpty) rp.localCheckpoint() else rp
      }
    val cbs = codebooks.getOrElse {
      if (perCell) {
        val trained = trainPqCodebooksLocal(sampledRes.get, "neighbor_id",
          "_rv", pqM, pqK, maxTrainPerCell, seed, maxIter)
        // EVERY centroid cell gets a codebook, even one whose rows were
        // all sampled away (or that is simply empty at save time but
        // will receive appends): m zero-centroid rows — its residuals
        // encode as code 0 with qerr 1 (coarse-centroid-only score,
        // refine recovers exact ranks), never a silently dropped row or
        // an unservable cell. cents is nlist-rows, driver-bounded.
        val spark2 = corpus.sparkSession
        val sub = {
          val dim = cents.select(size(col("_cv"))).head.getInt(0)
          require(dim % pqM == 0, s"dim $dim is not divisible by m $pqM")
          dim / pqM
        }
        trained.unionByName(
          cents.select(col("cell").cast("int").as("cell"))
            .join(trained.select(col("cell")).distinct(),
              Seq("cell"), "left_anti")
            .crossJoin(spark2.range(pqM)
              .select(col("id").cast("int").as("m")))
            .select(col("cell"), col("m"), lit(0).as("code"),
              array_repeat(lit(0.0f), sub).as("_cbv")))
          .localCheckpoint()
      }
      else res match {
        case Some(r) =>
          trainPqCodebooks(r, "_rv", pqM, pqK, sampleFraction, seed, maxIter)
        case None => plainRot match {
          case Some(rp) =>
            trainPqCodebooks(rp, "_rot", pqM, pqK, sampleFraction, seed,
              maxIter)
          case None =>
            trainPqCodebooks(corpus, vecCol, pqM, pqK, sampleFraction,
              seed, maxIter)
        }
      }
    }
    val rows =
      if (perCell) pqRowsLocal(res.get, "neighbor_id", "_rv", cbs, Some("_ov"))
      else res match {
        case Some(r) => pqRows(r, "neighbor_id", "_rv", cbs, Some("_ov"))
        case None => plainRot match {
          case Some(rp) => pqRows(rp, "neighbor_id", "_rot", cbs, Some("_ov"))
          case None => pqRows(assigned, "neighbor_id", "_cv", cbs)
        }
      }
    val cbCols =
      if (perCell) Seq(col("cell"), col("m"), col("code"), col("_cbv"))
      else Seq(col("m"), col("code"), col("_cbv"))
    (rows, Seq("codebooks" -> cbs.select(cbCols: _*)) ++
      rotation.map(r => "rotation" ->
        r.select(col("i").cast("int").as("i"), col("_rv"))))
  }

  /** CODEBOOK-DRIFT diagnostic for a PQ index — the [[ivfIndexStats]]
    * analogue for the quantizer instead of the coarse cells: one row per
    * storage unit of the current version (`base`, then each committed
    * `delta<name>` in fold order) with the unit's row count and the
    * mean/max of the encode-time relative reconstruction error `_qerr`
    * (see [[pqRows]]). Codebooks are trained ONCE on the corpus the base
    * save (or the training `sampleFraction` of it) saw; append-grown
    * deliveries from a shifted distribution encode against those frozen
    * codebooks and their `_qerr` rises — so `mean_qerr(deltaN) ≫
    * mean_qerr(base)` is the drift alarm that raw ADC recall is
    * degrading, measurable WITHOUT ground-truth queries. Remedy:
    * [[refreshPqCodebooks]] (or serve with an [[IvfRefine]], which is
    * drift-immune but pays a full-precision rescore per query).
    *
    * Each unit aggregates separately (a handful of tiny driver-composed
    * jobs — units are bounded by the compaction cadence, and each agg is
    * a column-pruned scan of codes-sized rows). A legacy unit written
    * before `_qerr` existed reports null error stats rather than failing
    * the whole diagnostic. */
  def pqIndexStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val vdir = latestIvfVersion(spark, indexDir)
    pqFlavor(spark, vdir,
      "pqIndexStats reads the encode-time _qerr only PQ rows carry")
    val units = ("base", s"$vdir/corpus") +:
      committedDeltas(spark, vdir).map { case (nm, p) =>
        (s"delta$nm", s"$p/corpus") }
    val readable = units.filter { case (_, p) => hasCells(spark, p) }
    val empty = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("source", StringType, nullable = false),
          StructField("rows", LongType),
          StructField("mean_qerr", DoubleType),
          StructField("max_qerr", DoubleType))))
    }
    readable.map { case (src, p) =>
      val df = readParquetDir(spark, p)
      val qe =
        if (df.columns.contains("_qerr")) col("_qerr").cast("double")
        else lit(null).cast("double")
      df.agg(count(lit(1)).as("rows"),
          round(avg(qe), 6).as("mean_qerr"),
          round(max(qe), 6).as("max_qerr"))
        .select(lit(src).as("source"), col("rows"),
          col("mean_qerr"), col("max_qerr"))
    }.foldLeft(empty)(_.unionByName(_))
  }

  /** Retrain a PQ index's codebooks against `corpus` (the full-precision
    * source of truth — the stored corpus is lossy and cannot retrain
    * itself) and rewrite ONE new committed version: the STORED coarse
    * centroids are reused (cell assignments are not what drifted; see
    * [[ivfIndexStats]] for that axis), the subspace count is read from
    * the stored codebooks so the layout is preserved, and the whole
    * re-encode rides [[saveIvf]]'s version-swap protocol —
    * `retain = 1` (the default here, unlike the save paths) keeps the
    * previous committed version serving concurrent readers until the
    * next rebuild/compaction sweeps it. The operational loop:
    * [[pqIndexStats]] fires on delta `mean_qerr` drift → refresh →
    * the new version's stats return to the trained floor. */
  def refreshPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, pqK: Int = 256, sampleFraction: Double = 1.0,
      seed: Long = 42L, maxIter: Int = 20, retain: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val vdir = latestIvfVersion(spark, indexDir)
    val pq = pqFlavor(spark, vdir, "refresh retrains PQ codebooks only")
    val cents = readParquetDir(spark, s"$vdir/centroids")
    val (m, _) = pqShape(readParquetDir(spark, s"$vdir/codebooks"))
    val tier = IvfTier.Pq(m, pqK, pq.residual, pq.perCell, rotation =
      Option.when(pq.rotated)(readParquetDir(spark, s"$vdir/rotation")))
    // nlist: the stored cell count (the centroids are injected, not trained)
    saveIvf(corpus, idCol, vecCol, indexDir, tier, cents.count().toInt,
      sampleFraction, seed, maxIter, Some(cents), retain)
  }

  /** The [[IvfTier.Pq]] query side of [[ivfServe]]: (query_id, _qv, _qn,
    * cell, _qc, _lut) and the ADC dot over it — per query the m×k
    * partial-dot lookup table against the stored codebooks, plus dot(q,
    * c(cell)) per probed cell on a residual index. */
  private def pqQueries(queries: DataFrame, vdir: String, pq: IvfFlavor.Pq,
      cents: DataFrame, idCol: String, vecCol: String,
      nprobe: Int): (DataFrame, Column) = {
    val spark = queries.sparkSession
    val cbs = readParquetDir(spark, s"$vdir/codebooks")
    val (mk, sub) = pqShape(cbs)
    // the per-query LUT is a NESTED DENSE array — lut[m][code] (codes
    // dense 0..k_m−1 per subspace by the trainer's construction). Earlier
    // forms paid dearly for being clever: a map column's element_at is a
    // LINEAR scan of its entries (O(m·k) per scored candidate), and even
    // scattering that map into a flat array costs O((m·k)²) map probes
    // per query — both measured ~25× slower than this shape at a 200 k
    // corpus.
    //
    // The WHOLE query side is ONE typed pass: cell probe, OPQ rotation,
    // LUT build, and the residual add-back all evaluate per query row
    // against DRIVER-BOUNDED tables the serve already collected or
    // broadcast (centroids and rotation by the assignCells/rotateVecCol
    // contract; codebooks were broadcast into every earlier join form).
    // The previous shape paid a join of the probed rows back to the LUT
    // rows (both derived from the same query scan), a localCheckpoint on
    // the per-cell branch, and a broadcast centroid join for the
    // residual dot — five-plus exchanges per serve for per-row math.
    // Per-row work is O(nlist + m·k·(dim/m)); kernels are the shared
    // bit-identical ones (topCellsKernel / rotateKernel / dotKernel —
    // the DotProduct contract).
    val local = pq.perCell
    val residual = pq.residual
    val rotOpt: Option[Array[Array[Float]]] =
      if (pq.rotated) Some(readRotation(spark, vdir))
      else None
    val centArr = collectCents(cents)
    // per-cell lookup for the residual add-back (cells are the probe
    // output, so every probed cell resolves)
    val centByCell: Map[Long, Array[Float]] =
      centArr.iterator.map { case (c, v, _) => (c, v) }.toMap
    // codebooks as [m][code] → subvector; the per-cell flavor keys by
    // cell first. A probed cell with no codebook rows is unservable and
    // its probed row is dropped — the inner LUT join's behavior.
    val cbL: Map[Long, Array[Array[Array[Float]]]] =
      if (!local) Map.empty
      else cbs.select(col("cell").cast("long"), col("m").cast("int"),
          col("code").cast("int"), col("_cbv")).collect()
        .groupBy(_.getLong(0)).map { case (cell, rows) =>
          cell -> Array.tabulate(mk) { mi =>
            rows.filter(_.getInt(1) == mi).sortBy(_.getInt(2))
              .map(_.getSeq[Float](3).toArray)
          }
        }
    val cbG: Array[Array[Array[Float]]] =
      if (local) Array.empty
      else {
        val rows = cbs.select(col("m").cast("int"), col("code").cast("int"),
          col("_cbv")).collect()
        Array.tabulate(mk) { mi =>
          rows.filter(_.getInt(0) == mi).sortBy(_.getInt(1))
            .map(_.getSeq[Float](2).toArray)
        }
      }
    val sc = spark.sparkContext
    val bcCents = sc.broadcast(centArr)
    val bcCentMap = sc.broadcast(centByCell)
    val bcCbL = sc.broadcast(cbL)
    val bcCbG = sc.broadcast(cbG)
    val bcRot = sc.broadcast(rotOpt)
    val np = math.min(nprobe, centArr.length)
    import spark.implicits._
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol))
      .filter(col("query_id").isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCents.value
        val cMap = bcCentMap.value
        val rm = bcRot.value
        // lut[m][code] for one (possibly rotated) query vector; a
        // codebook row of the wrong width or a dimension-mismatched
        // query made every candidate score NULL in the column form —
        // the query served no results, so returning None here drops it
        // identically (NaN would instead sort GREATEST and leak in)
        def buildLut(cb: Array[Array[Array[Float]]],
            lv: Array[Float]): Option[Array[Array[Double]]] = {
          if (lv.length != cb.length * sub) return None
          val lut = new Array[Array[Double]](cb.length)
          var mi = 0
          while (mi < cb.length) {
            val codes = cb(mi)
            val row = new Array[Double](codes.length)
            var c = 0
            val off = mi * sub
            while (c < codes.length) {
              val cbv = codes(c)
              if (cbv.length != sub) return None
              var s = 0.0; var j = 0
              while (j < sub) { s += lv(off + j).toDouble * cbv(j); j += 1 }
              row(c) = s; c += 1
            }
            lut(mi) = row; mi += 1
          }
          Some(lut)
        }
        it.flatMap { case (id, vec) =>
          val (vn, topC, filled) = topCellsKernel(vec, cs, np)
          if (vn.isNaN || vn <= 0.0) Iterator.empty
          else {
            val lv = rm.map(rotateKernel(_, vec)).getOrElse(vec)
            val lutG =
              if (local) None
              else buildLut(bcCbG.value, lv)
            (0 until filled).iterator.flatMap { r =>
              val cell = topC(r)
              val lut =
                if (local) bcCbL.value.get(cell).flatMap(buildLut(_, lv))
                else lutG
              lut.iterator.map { l =>
                val qc = if (residual) dotKernel(vec, cMap(cell)) else 0.0
                (id, vec, vn, cell, qc, l)
              }
            }
          }
        }
      }.toDF("query_id", "_qv", "_qn", "cell", "_qc", "_lut")
    // the per-candidate ADC sum is UNROLLED (m is known at plan time):
    // a higher-order aggregate would interpret its lambda per scored
    // pair, m steps each — the unrolled element_at chain stays inside
    // whole-stage codegen, each lookup an O(1) array read
    val adc = (0 until mk).map(mm =>
        element_at(element_at(col("_lut"), lit(mm + 1)),
          element_at(col("_pq"), lit(mm + 1)).cast("int") + lit(128 + 1)))
      .reduce(_ + _)
    (q, if (residual) col("_qc") + adc else adc)
  }

  /** Rewrite the serving corpus of an index through `f` (a filter /
    * projection over the version's serving columns — (neighbor_id, _cv,
    * _cn, cell) float / (neighbor_id, _qoff, _qstep, _cq, _cn, cell)
    * SQ8, flavor carried forward — cell assignments and
    * vector payloads must be preserved) into ONE new committed version
    * with the SAME centroids, riding the version-swap protocol: a crashed
    * rewrite leaves an uncommitted v-dir readers skip, and the old
    * version serves throughout. The folded-delta ledger is carried
    * forward, so streaming replays of folded batches still no-op afterwards.
    * Single-writer, like every index mutation here. The load-bearing use:
    * pruning absorbed ex-representatives after an offline
    * [[graft.streaming.DedupStream.repairMerges]]. */
  def rewriteIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, retain: Int = 0)(f: DataFrame => DataFrame): Unit =
    foldInto(spark, indexDir, retain, latestIvfVersion(spark, indexDir), f)

  /** Fold base + committed deltas into ONE new committed version with the
    * SAME centroids (no retrain — compaction changes file layout, never
    * results): long-running append cadence would otherwise accumulate one
    * dir + one file-listing round per append forever. Rides the version
    * commit protocol, so a crashed compaction leaves an uncommitted v-dir
    * that readers skip and the next save/compaction sweeps, while the old
    * version (its deltas included) serves throughout. No-op when the
    * current version has no committed deltas.
    *
    * `retain` keeps that many previous COMMITTED versions on disk
    * (default 0 = sweep all): a serving deployment sets `retain = 1` so a
    * query batch that resolved the version just before the fold finishes
    * its scan against files that still exist — the retained version is
    * swept by the NEXT compaction, by which time in-flight readers of it
    * are long gone. Uncommitted (crashed) versions are always swept. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, retain: Int = 0): Unit = {
    val vdir = latestIvfVersion(spark, indexDir)
    if (committedDeltas(spark, vdir).nonEmpty)
      foldInto(spark, indexDir, retain, vdir, identity)
  }

  /** Write `vdir`'s serving corpus (base + committed deltas) through `f`
    * as the next version, with the same centroids and flavor, and a
    * ledger extended by the deltas it folds — every delta name ever
    * folded, carried across versions, so a replayed streaming append of
    * a long-folded batch stays a no-op. */
  private def foldInto(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, retain: Int, vdir: String,
      f: DataFrame => DataFrame): Unit = {
    val m = IvfManifest.read(spark, vdir)
    commitVersion(spark, indexDir,
      m.copy(folded = m.folded ++ committedDeltas(spark, vdir).map(_._1)),
      retain, f(ivfCorpus(spark, vdir)),
      readParquetDir(spark, s"$vdir/centroids"),
      carryFlavor(spark, vdir, m.flavor): _*)
  }

  /** Embedding near-duplicate pairs: all (i < j) with cosine ≥ minCos —
    * EXACT, fully distributed block-triangle all-pairs. No driver collect,
    * no full-corpus broadcast: each vector is routed to the block-pair
    * tasks its block participates in (G replicas for G blocks), and every
    * task compares two bounded blocks in a tight primitive-array loop.
    *
    * Scale contract: per-task memory is O(2·n/G · dim); total shuffle is
    * n·G vectors; compute is the inherent O(n²·dim) of an exact low-threshold
    * scan, spread over G·(G+1)/2 independent tasks. `numBlocks` = 0 picks
    * G from the corpus size so a block stays ≤ `maxRowsPerBlock` rows and
    * there are at least ~1× defaultParallelism tasks (G = ⌈√(2P)⌉ gives
    * G(G+1)/2 ≈ P; raise `numBlocks` for finer straggler mitigation). For
    * thresholds high
    * enough to imply true near-duplicates (≳0.8), prefer
    * [[lshNearDupPairs]], which prunes candidates sub-quadratically.
    */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minCos: Double, numBlocks: Int = 0,
      maxRowsPerBlock: Int = 1 << 16): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
    val g =
      if (numBlocks > 0) numBlocks
      else {
        val n = v.count()
        val byPar = math.ceil(math.sqrt(
          2.0 * spark.sparkContext.defaultParallelism)).toInt
        val byMem = math.ceil(n.toDouble / maxRowsPerBlock).toInt
        math.max(2, math.max(byPar, byMem))
      }
    // (task, isRight, id, vec): block b is the LEFT side of tasks (b, b..G-1)
    // — including the diagonal, compared i<j within — and the RIGHT side of
    // tasks (0..b-1, b). Golden-ratio mixing spreads sequential ids evenly.
    val reps = v.flatMap { case (id, vec) =>
      val b = (((id * 0x9E3779B97F4A7C15L) >>> 33) % g).toInt
      (b until g).iterator.map(o => (b * g + o, false, id, vec)) ++
        (0 until b).iterator.map(a => (a * g + b, true, id, vec))
    }
    reps.groupByKey(_._1).flatMapGroups { (task, rows) =>
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      rows.foreach { case (_, isRight, id, vec) =>
        val e = (id, vec, math.sqrt(dotKernel(vec, vec)))
        if (isRight) right += e else left += e
      }
      val diagonal = task / g == task % g
      val out = Iterator.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < left.length) {
        val (ia, va, na) = left(i)
        val other = if (diagonal) left else right
        var j = if (diagonal) i + 1 else 0
        while (j < other.length) {
          val (ib, vb, nb) = other(j)
          val cos = dotKernel(va, vb) / (na * nb)
          if (cos >= minCos)
            out += (if (ia < ib) (ia, ib, cos) else (ib, ia, cos))
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("i", "j", "cos")
  }

  /** Deterministic Rademacher (±1) hyperplane component for (dim j, bit k):
    * one bit of a murmur-style mix — public-domain constants. */
  @inline private def radSign(j: Int, k: Int): Float = {
    var x = (j.toLong << 32 | (k & 0xffffffffL)) * 0x9E3779B97F4A7C15L
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29
    if ((x & 1L) == 0L) 1.0f else -1.0f
  }

  /** Approximate near-duplicate pairs via random-hyperplane LSH with exact
    * verification — the sub-quadratic scale tier for genuinely-near
    * duplicates (minCos ≳ 0.8, where sign-bit collision probability
    * 1 − θ/π is high enough for banding to recall reliably).
    *
    * Shape (the same id-only candidate discipline as
    * [[Dedup.minhashDedupPairs]]): one typed pass computes `numBits`
    * sign-bits per vector from deterministic Rademacher hyperplanes and
    * folds them into `bands` band digests → band equi-join on (band,
    * digest) yields id-only candidate pairs → candidates join the vector
    * table twice and are verified with the exact codegen'd dot, so every
    * emitted pair truly has cosine ≥ minCos (banding can only lose recall,
    * never precision). Nothing wider than (id, band, digest) or a
    * candidate's two vectors ever shuffles.
    *
    * Miss probability for a pair at cosine c: (1 − p^r)^bands with
    * p = 1 − arccos(c)/π, r = numBits/bands — at the defaults (128, 16)
    * and c = 0.95, < 1e-8.
    */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minCos: Double, numBits: Int = 128, bands: Int = 16,
      maxBandBucket: Long = 0L): DataFrame = {
    require(numBits % bands == 0, "bands must divide numBits")
    require(numBits % 64 == 0, "numBits must be a multiple of 64")
    val r = numBits / bands
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .filter(col("_id").isNotNull && col("_v").isNotNull)
    // Exact-duplicate pre-collapse (the hot-bucket guard, same discipline
    // as Dedup.minhashDedupPairs): duplicate documents produce
    // byte-identical embeddings, and B identical vectors would collide in
    // every band and feed B² rows through the band self-join. Group by the
    // VECTOR VALUE itself (exact — no fingerprint-collision risk; one
    // window shuffle keyed by vector), band one representative per
    // distinct vector, and re-expand member pairs afterwards — cross-group
    // cosine is a pure function of the two vectors, so member pairs
    // inherit their rep pair's cosine verbatim.
    // The window shuffles the FULL vector column; its (id, rid) projection
    // is consumed four times downstream (both expandMemberPairs sides, the
    // rep filter, and transitively every reps consumer) — localCheckpoint
    // the 16-byte projection so the vector-keyed shuffle runs ONCE, then
    // recover rep vectors with a cheap id-only semi-join against the
    // source. (Same lifecycle discipline as Dedup: no CacheManager entry.)
    val m = v.withColumn("_rid",
        min(col("_id")).over(Window.partitionBy(col("_v"))))
      .select(col("_id"), col("_rid"))
      .localCheckpoint()
    val reps = v.join(m.filter(col("_id") === col("_rid")).select("_id"),
        Seq("_id"), "left_semi")
    val bandTable = reps.as[(Long, Array[Float])].flatMap { case (id, vec) =>
      val bits = new Array[Boolean](numBits)
      var k = 0
      while (k < numBits) {
        var s = 0.0; var j = 0
        while (j < vec.length) { s += radSign(j, k) * vec(j); j += 1 }
        bits(k) = s >= 0
        k += 1
      }
      (0 until bands).iterator.map { b =>
        var digest = 1125899906842597L
        var k2 = b * r
        while (k2 < (b + 1) * r) {
          digest = 31 * digest + (if (bits(k2)) 1 else 0); k2 += 1
        }
        (id, b, digest)
      }
    }.toDF("_id", "band", "digest")
    val capped = Dedup.capBandBuckets(bandTable, Seq("band", "digest"),
      maxBandBucket, "lshNearDupPairs")
    val cand = capped.alias("a").join(capped.alias("b"), Seq("band", "digest"))
      .filter(col("a._id") < col("b._id"))
      .select(col("a._id").as("i"), col("b._id").as("j")).distinct()
    val repPairs = cand
      .join(reps.toDF("i", "_vi"), "i")
      .join(reps.toDF("j", "_vj"), "j")
      .withColumn("cos", dotNative(col("_vi"), col("_vj")) /
        (sqrt(dotNative(col("_vi"), col("_vi"))) * sqrt(dotNative(col("_vj"), col("_vj")))))
      // !isnan is load-bearing: Spark orders NaN greatest, so two
      // NaN-component embeddings (identical all-zero sign bits → collide
      // in every band) would pass a bare >= and emit a SPURIOUS pair,
      // breaking the every-emitted-pair-truly-≥-minCos contract (the exact
      // tier's JVM comparison drops the same pair)
      .filter(!isnan(col("cos")) && col("cos") >= minCos)
      .select("i", "j", "cos")
    // within-group pairs: identical vectors, cosine computed by the SAME
    // exact formula on (v, v) — NaN for zero/NaN-component vectors (pair
    // dropped, matching the verification filter above), ≈1.0 otherwise
    val withinGroups = reps
      .withColumn("cos", dotNative(col("_v"), col("_v")) /
        (sqrt(dotNative(col("_v"), col("_v"))) * sqrt(dotNative(col("_v"), col("_v")))))
      .filter(!isnan(col("cos")) && col("cos") >= minCos)
      .select(col("_id").as("_rid"), col("cos"))
    Dedup.expandMemberPairs(repPairs, m, withinGroups, Seq("cos"))
  }

  /** Mean recall@k of `approx` against `exact` (both (query_id, neighbor_id)
    * top-k tables). One row: (n_queries, avg_recall).
    */
  def recallAgainst(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    // the exact table feeds BOTH the hit join and the per-query counts —
    // unmaterialized it would run the full brute-force top-k scan twice.
    // localCheckpoint, not cache(): no CacheManager entry to leak — blocks
    // are freed by the ContextCleaner once the plan is unreachable
    val exactC = exact.localCheckpoint()
    val hits = exactC.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("_hits"))
    // denominator = the query's ACTUAL exact-neighbor count (≤ k): a query
    // with fewer than k exact neighbors (small corpus/cell) can still score
    // recall 1.0 when the index returns all of them
    val perQuery = exactC.groupBy("query_id").agg(count(lit(1)).as("_nEx"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("_recall", coalesce(col("_hits"), lit(0L)).cast("double") /
        least(col("_nEx"), lit(k.toLong)))
    perQuery.agg(count(lit(1)).as("n_queries"),
      round(avg(col("_recall")), 4).as("avg_recall"))
  }

  /** SemDeDup-style cluster-scoped semantic near-duplicate pairs (Abbas
    * et al. 2023, arXiv:2303.09540 — public recipe): every vector is
    * assigned to its nearest coarse centroid ([[assignCells]] at
    * nprobe = 1) and exact cosine pairs are emitted WITHIN each cell
    * only. That scoping is the defining approximation that makes
    * semantic dedup tractable at corpus scale: the quadratic term is
    * bounded per cell (you size it by choosing the centroid count),
    * never corpus-wide, and cross-cell near-pairs are deliberately out
    * of contract — a pair the coarse quantizer separates is a pair the
    * recipe accepts losing.
    *
    * Scale shape: within-cell all-pairs runs on [[cosineNearDupPairs]]'
    * block-triangle replication keyed by (cell, block-pair), with each
    * cell's block count g sized from ITS OWN row count (per-cell counts
    * are centroid-scale — driver-bounded by construction, same
    * adjudication as the broadcast centroids). Per-task memory is
    * bounded by ~2·`maxRowsPerBlock` vectors even when one cell
    * dominates the corpus — a skewed cell spreads over its own g·(g+1)/2
    * tasks instead of funnelling into one, and small cells pay nothing
    * for a big cell's split (g = 1 → one task, no replication). Nothing
    * wider than (cell, id, vec) ever shuffles.
    *
    * Output: (i, j, cos) with i < j, cos ≥ `minCos`, both ids in the
    * same cell. Zero/NaN-norm vectors are excluded by [[assignCells]]'
    * guard and emit no pairs (they trivially survive [[semDedup]]).
    */
  def semDedupPairs(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, minCos: Double, numBlocksPerCell: Int = 0,
      maxRowsPerBlock: Int = 1 << 16): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // consumed TWICE (the per-cell sizing aggregation and the vector
    // join) — localCheckpoint the 16-byte projection so the assignment
    // pass over the corpus runs once (the lshNearDupPairs discipline;
    // no CacheManager entry to leak)
    val cells = assignCells(vectors, centroids, idCol, vecCol, nprobe = 1)
      .select(col(idCol).cast("long").as("_id"), col("cell").cast("long"))
      .localCheckpoint()
    val v = vectors
      .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .filter(col("_id").isNotNull && col("_v").isNotNull)
      .join(cells, "_id")
      .select(col("cell"), col("_id"), col("_v"))
      .as[(Long, Long, Array[Float])]
    // per-cell block count: one centroid-scale aggregation (rows = cell
    // count, driver-bounded like the centroids themselves)
    val gByCell: Map[Long, Int] =
      if (numBlocksPerCell > 0)
        cells.select("cell").distinct().as[Long].collect()
          .map(_ -> numBlocksPerCell).toMap
      else
        cells.groupBy("cell").agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect()
          .map { case (c, n) =>
            c -> math.max(1, math.ceil(n.toDouble / maxRowsPerBlock).toInt)
          }.toMap
    val gB = spark.sparkContext.broadcast(gByCell)
    // block b of cell c is the LEFT side of tasks (b, b..g-1) — diagonal
    // included, compared i<j within — and the RIGHT side of (0..b-1, b);
    // golden-ratio mixing spreads sequential ids across blocks evenly
    val reps = v.flatMap { case (cell, id, vec) =>
      val g = gB.value(cell)
      val b = (((id * 0x9E3779B97F4A7C15L) >>> 33) % g).toInt
      (b until g).iterator.map(o => (cell, b * g + o, false, id, vec)) ++
        (0 until b).iterator.map(a => (cell, a * g + b, true, id, vec))
    }
    reps.groupByKey(r => (r._1, r._2)).flatMapGroups { (key, rows) =>
      val g = gB.value(key._1)
      val task = key._2
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      rows.foreach { case (_, _, isRight, id, vec) =>
        val e = (id, vec, math.sqrt(dotKernel(vec, vec)))
        if (isRight) right += e else left += e
      }
      val diagonal = task / g == task % g
      val out = Iterator.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < left.length) {
        val (ia, va, na) = left(i)
        val other = if (diagonal) left else right
        var j = if (diagonal) i + 1 else 0
        while (j < other.length) {
          val (ib, vb, nb) = other(j)
          val cos = dotKernel(va, vb) / (na * nb)
          if (cos >= minCos)
            out += (if (ia < ib) (ia, ib, cos) else (ib, ia, cos))
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("i", "j", "cos")
  }

  /** SemDeDup survivors: [[semDedupPairs]] → connected components → keep
    * each component's MINIMUM id, return the input rows filtered to the
    * kept set. Documented deviation from the paper's survivor choice
    * (lowest cosine to the cluster centroid): min-id is the engine-wide
    * representative convention (every dedup tier here keeps min id), is
    * content-stable under re-partitioning, and the paper itself reports
    * the choice barely matters (random ≈ worst ≈ best within noise).
    * Vectors the cell assignment excludes (zero/NaN norm) pair with
    * nothing and always survive — semantic dedup must not silently drop
    * rows it could not score.
    */
  def semDedup(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, minCos: Double, numBlocksPerCell: Int = 0,
      maxRowsPerBlock: Int = 1 << 16): DataFrame = {
    val dropped = semDedupDropped(vectors, centroids, idCol, vecCol, minCos,
      numBlocksPerCell, maxRowsPerBlock)
    vectors.join(dropped,
      vectors(idCol).cast("long") === dropped("_drop"), "left_anti")
  }

  /** The ids [[semDedup]] REMOVES — every non-min member of a within-cell
    * near-dup component, as a single-column (`_drop`) table. Exposed so a
    * corpus-preparation pipeline keyed by document id can floor its OWN
    * row set (documents without an embedding row are unscorable and must
    * pass through — a semi-join on survivors would silently drop them). */
  def semDedupDropped(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, minCos: Double,
      numBlocksPerCell: Int = 0, maxRowsPerBlock: Int = 1 << 16): DataFrame = {
    val pairs = semDedupPairs(vectors, centroids, idCol, vecCol, minCos,
      numBlocksPerCell, maxRowsPerBlock)
    // the dropped set IS the star fixed point's u side: component labels
    // are only needed to NAME survivors, and reading the checkpointed
    // edge table directly keeps the block-triangle pair pass out of the
    // consumer's lazy plan — connectedComponentsStar's id-side join would
    // re-execute semDedupPairs once per plan branch that anti-joins this
    // (prepare's gate stack replayed it up to 5×)
    Dedup.starEdges(pairs).select(col("u").as("_drop"))
  }
}
