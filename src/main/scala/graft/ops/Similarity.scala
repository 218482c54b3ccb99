package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Hashing

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — queries are broadcast, the scan is
  * one map-side pass over the corpus (BroadcastNestedLoopJoin), and the
  * top-k cut is a per-query window. Scale path: random-hyperplane LSH —
  * each vector gets a compact bit-signature bucket in one map pass, and
  * search touches only the query's bucket (+ optional multi-probe), turning
  * the O(N·Q) scan into a bucket-local join.
  */
object Similarity {

  /** Cosine similarity between two float-array columns — a NATIVE codegen
    * expression (graft.functions.CosineSimExpr: one static call inside
    * WholeStageCodegen, primitive float reads, float64 accumulation in
    * element order). Bit-identical to the zip_with/aggregate higher-order
    * formulation it replaced (pinned by [[cosineReference]] spec and the
    * q21 bitwise DuckDB oracle) — and ~50× faster per pair, which is what
    * the multi-million-pair dedup joins are bound by.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr.cosine_sim(a, b)

  /** The original higher-order-function formulation, kept as the parity
    * reference for the spec that pins [[cosine]] bit-identical to it.
    */
  private[graft] def cosineReference(a: Column, b: Column): Column = {
    // elements are float32; upcast BEFORE multiplying so the arithmetic is
    // pure float64 (parity with reference implementations that work in f64)
    val dot = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * the k nearest corpus vectors. Deterministic tie-break on id.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"
  ): DataFrame = {
    val scored = corpus
      .join(broadcast(queries))
      .filter(col(idCol) =!= col(qIdCol)) // a query is not its own neighbour
      .withColumn("score", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("score").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"), col("rank"),
        round(col("score"), 4).as("score"))
  }

  // ------------------------------------------------------------------
  // Random-hyperplane LSH (signed projections)
  // ------------------------------------------------------------------
  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  @inline private def planeComponent(plane: Int, dim: Int): Double = {
    val h = Hashing.splitmix64(plane.toLong * 1000003L + dim)
    // map to [-1, 1)
    (h >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** One bucket id per LSH table: the sign pattern of the vector under that
    * table's hyperplanes. Multi-table LSH (OR-amplification): a pair is a
    * candidate if it collides in ANY of the `nTables` tables — the standard
    * recall/cost dial (more tables → higher recall, more candidates).
    */
  def lshBucketIds(vec: Seq[Float], nTables: Int, planesPerTable: Int): Array[Long] = {
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var p = 0
      while (p < planesPerTable) {
        val plane = t * planesPerTable + p
        var dot = 0.0
        var d = 0
        while (d < vec.length) { dot += vec(d) * planeComponent(plane, d); d += 1 }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      out(t) = (t.toLong << 32) | sig // table id folded into the bucket key
      t += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer + probed buckets
  // ------------------------------------------------------------------
  /** Deterministic mini k-means over a driver-side sample (Lloyd, fixed
    * iterations, seeded farthest-point init). The centroid table is tiny
    * (k × dim floats) and is broadcast; training cost is O(sample · k · it)
    * once per index build, independent of corpus size.
    */
  def trainCentroids(sample: Array[Array[Float]], k: Int, iters: Int = 8): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    val n = sample.length
    // farthest-point init from a fixed start — deterministic, spreads seeds.
    // Incremental k-center greedy: keep each sample's distance to its
    // NEAREST chosen centroid and fold in only the newest centroid per
    // round — O(k·n·dim), not O(k²·n·dim); the running min is the same
    // sequential min the naive rescan computes, so the chosen centroids
    // are bit-identical (pinned by the Python crosscheck port).
    val centroids = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    centroids += sample(0).map(_.toDouble)
    val minDist = new Array[Double](n)
    java.util.Arrays.fill(minDist, Double.MaxValue)
    while (centroids.length < math.min(k, n)) {
      val newest = centroids.last
      var bestIdx = 0; var bestDist = -1.0
      var i = 0
      while (i < n) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = sample(i)(j) - newest(j); d += t * t; j += 1 }
        if (d < minDist(i)) minDist(i) = d
        if (minDist(i) > bestDist) { bestDist = minDist(i); bestIdx = i }
        i += 1
      }
      centroids += sample(bestIdx).map(_.toDouble)
    }
    var cents = centroids.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < n) {
        val a = nearestCentroid(sample(i), cents)
        var j = 0
        while (j < dim) { sums(a)(j) += sample(i)(j); j += 1 }
        counts(a) += 1
        i += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    cents
  }

  def nearestCentroid(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def nearestCentroids(v: Array[Float], cents: Array[Array[Double]], nProbe: Int): Seq[Int] = {
    cents.indices.map { c =>
      var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
      (c, d)
    }.sortBy(_._2).take(nProbe).map(_._1)
  }

  /** Deterministic hash-spread training sample: the `n` corpus rows with the
    * smallest `xxhash64(id)` — a uniform draw across ALL partitions (plain
    * `limit(n)` would pull from the first partition only and bias the
    * centroids on data sorted/partitioned by source). Plans as
    * TakeOrderedAndProject: bounded driver memory, one map-side top-n per
    * partition, no full sort.
    */
  def hashSpreadSample(
      corpus: DataFrame, n: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Float]] =
    corpus.select(col(vecCol), xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h").asc)
      .limit(n)
      .collect().map(_.getSeq[Float](0).toArray)

  /** Index build: deterministic k-means centroids from a hash-spread
    * corpus sample. Train ONCE, persist via
    * `graft.io.ModelArtifacts.saveCentroids`, and serve many query batches
    * with [[ivfTopKWithCentroids]] — retraining per call re-scans the
    * sample and re-runs Lloyd every time (the round-2 waste).
    */
  def trainIvfCentroids(corpus: DataFrame, nCentroids: Int = 16,
      sampleSize: Int = 2000, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] =
    trainCentroids(hashSpreadSample(corpus, sampleSize, idCol, vecCol), nCentroids)

  /** IVF ANN serve path: corpus rows live in exactly ONE centroid bucket
    * (one map pass); each query probes its `nProbe` nearest buckets; exact
    * cosine ranks within the probed cells. At 10^9+ vectors this turns the
    * scan into `corpusSize · nProbe / k` with a broadcast-joined probe
    * table. `centroids` come from [[trainIvfCentroids]] (fresh or loaded
    * via `ModelArtifacts.loadCentroids`).
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"
  ): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      if (v == null) -1 else nearestCentroid(v.toArray, bc.value)
    }
    val probeUdf = udf { (v: Seq[Float]) =>
      if (v == null) Seq.empty[Int] else nearestCentroids(v.toArray, bc.value, nProbe)
    }
    val c = corpus.withColumn("cell", assignUdf(col(vecCol)))
    val q = queries.withColumn("cell", explode(probeUdf(col(qVecCol))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("score", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"), col("rank"),
        round(col("score"), 4).as("score"))
  }

  /** One-shot convenience: train + serve in a single call. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 2, sampleSize: Int = 2000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"
  ): DataFrame =
    ivfTopKWithCentroids(corpus, queries, k,
      trainIvfCentroids(corpus, nCentroids, sampleSize, idCol, vecCol),
      nProbe, idCol, vecCol, qIdCol, qVecCol)

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ minCosine) —
    * dedup by embedding: candidates from sign-LSH bucket collisions in any
    * table (never a cross join), exact cosine verifies. Same oversized-
    * bucket guard as the text dedup ops (identical/constant embeddings are
    * the degenerate class).
    *
    * SIZE THE BUCKET SPACE to the corpus: expected bucket width is
    * N / 2^planesPerTable, so planesPerTable must grow with N (aim for
    * width ≲ 10²; at the 8-plane default a 10⁶-vector corpus puts every
    * bucket over the width cap — nothing pairs, and nothing useful runs).
    * [[embeddingNearDupsAuto]] derives the plane count from a corpus
    * count so the footgun needs no manual tuning.
    * Candidates stay id-only through the cross-table dedupe; vectors join
    * back only for the exact verify (measured: the vector-carrying pair
    * shuffle spilled >90 GB at 1M vectors where this shape moves 17.5 GB —
    * BENCH.md round 4).
    */
  def embeddingNearDups(
      emb: DataFrame, minCosine: Double,
      nTables: Int = 8, planesPerTable: Int = 8,
      maxBucketWidth: Int = graft.ops.Dedup.DefaultMaxBucketWidth,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    // native LshBucketsExpr (was a Scala UDF boxing Seq[Float] per vector
    // and re-deriving every plane component per vector) — bit-identical
    // bucket ids, spec-pinned
    val buckets = emb.select(col(idCol), explode(graft.functions.LshBucketsExpr
      .lsh_buckets(col(vecCol), nTables, planesPerTable)).as("bucket"))
    // one-PASS id-only candidate generation (round 5, same shape as the
    // text LSH): bounded_collect returns each bucket's exact width and
    // (iff within the cap) its members in one aggregation — cap-bounded
    // agg state, the projection pass runs once. Candidates stay 16-byte
    // (a, b) rows through the cross-table dedupe — an earlier variant
    // carried both vectors through it and a measured worst case (1.1M
    // random vectors, 13 planes: ~10² members per bucket, OR-amplified
    // over 8 tables) spilled 67 GB on the pair shuffle; with id-only
    // pairs the same regime shuffles GB-order. The exact-cosine verify
    // joins the two vectors back afterwards (AQE broadcasts the pair
    // table when small — the common case).
    buckets.groupBy(col("bucket"))
      .agg(graft.functions.BoundedCollectAgg
        .bounded_collect(col(idCol), maxBucketWidth).as("__s"))
      .filter(col("__s.n").between(2, maxBucketWidth))
      .select(explode(graft.ops.Dedup.pairCombinations(
        sort_array(col("__s.items")))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .dropDuplicates("a", "b")
      .join(emb.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(emb.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
  }

  /** planesPerTable sized from the corpus: expected bucket width is
    * N / 2^planes, so planes = ceil(log2(N / targetWidth)), clamped to
    * [4, 32] — the bucket key packs the sign pattern into the low 32 bits,
    * and past 2^32 buckets the residual expected width (N / 2^32) is
    * absorbed by the width cap.
    */
  def derivePlanesPerTable(n: Long, targetWidth: Int = 100): Int = {
    require(targetWidth >= 1, s"targetWidth must be >= 1: $targetWidth")
    val raw = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetWidth)) / math.log(2.0)).toInt
    math.min(32, math.max(4, raw))
  }

  /** [[embeddingNearDups]] with the bucket space SELF-SIZED from a corpus
    * count (one cheap count job — on a parquet-backed table it reads
    * footers only): the 8-plane default does no useful work at 10⁶ vectors
    * because every bucket blows the width cap, and hand-tuning the
    * parameter law was the documented footgun. `targetWidth ≲ 10²` keeps
    * per-bucket pair cost bounded while leaving enough collisions to
    * propose candidates.
    */
  def embeddingNearDupsAuto(
      emb: DataFrame, minCosine: Double,
      nTables: Int = 8, targetWidth: Int = 100,
      maxBucketWidth: Int = graft.ops.Dedup.DefaultMaxBucketWidth,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val n = emb.count()
    val planes = derivePlanesPerTable(n, targetWidth)
    org.slf4j.LoggerFactory.getLogger("graft.ops.Similarity").info(
      s"embeddingNearDupsAuto: n=$n targetWidth=$targetWidth -> planesPerTable=$planes")
    embeddingNearDups(emb, minCosine, nTables, planes, maxBucketWidth, idCol, vecCol)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    * clusters the embedding space, then ONLY within each cluster are
    * pairwise cosines computed and near-identical vectors dropped (keep the
    * smallest id, same keeper policy as the text dedup ops). The clustering
    * is what makes this tractable at corpus scale: candidate pairs are
    * m²-per-cell instead of N², and cells shrink as nCentroids grows
    * (production guidance: nCentroids ≈ N / desired-cell-size; the paper
    * uses ~50k clusters for LAION-scale).
    *
    * Scale shape: centroids train once on a hash-spread sample and
    * broadcast; assignment is one map pass; the only shuffle keys by cell.
    * Cells wider than `maxCellWidth` are recursively SPLIT with per-cell
    * sub-centroids (see [[semanticDedupWithCentroids]]); pass
    * `splitOversized = false` for the round-3 exemption guard instead.
    *
    * NOTE the centroid training triggers a sample collect over `emb` before
    * the lazy dedup plan is built — at scale persist `emb` (or train once
    * via [[trainIvfCentroids]] + `ModelArtifacts.saveCentroids` and call
    * [[semanticDedupWithCentroids]]).
    */
  def semanticDedup(emb: DataFrame, minCosine: Double,
      nCentroids: Int = 16, sampleSize: Int = 2000, maxCellWidth: Int = 4096,
      nProbe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      splitOversized: Boolean = true): DataFrame =
    semanticDedupWithCentroids(emb, minCosine,
      trainIvfCentroids(emb, nCentroids, sampleSize, idCol, vecCol),
      maxCellWidth, nProbe, idCol, vecCol, splitOversized)

  /** Semantic dedup against a pre-trained (or loaded) centroid table.
    *
    * `nProbe` is the recall dial: each vector is indexed under its
    * `nProbe` nearest cells (explode into the same one cell-keyed
    * shuffle), so two near-identical vectors split by a cell boundary
    * still become a candidate pair when any probed cell is shared. The
    * drop set is MONOTONE in nProbe (more probes → superset of candidate
    * pairs, deduped by the pair-level distinct; pinned by spec). Cost is
    * ≥nProbe² in pair cosines — and MORE under cell skew, since doubling
    * every cell's membership amplifies the big cells quadratically:
    * measured at 1.1M vectors (BENCH.md), p2 buys recall 0.804 → 0.854
    * at 8.6× the time. nProbe=1 is the SemDeDup paper's single-assignment
    * form and the right default; for recall beyond ~0.85 prefer
    * [[embeddingNearDups]] (OR-amplified sign-LSH) over raising nProbe.
    *
    * Oversized cells (width > `maxCellWidth`, the m²-pair guard) are
    * handled by RECURSIVE SPLIT when `splitOversized` (the default): each
    * oversized cell trains its own sub-centroids from a hash-spread sample
    * of ITS members and re-assigns them, repeating up to `maxSplitDepth`
    * levels — so a degenerate embedding class (boilerplate, all-zero
    * vectors: exactly where dups concentrate) is still deduplicated
    * instead of silently exempted. A cell that no further split can
    * separate (near-identical mass — sub-centroids collapse or depth is
    * exhausted) falls back to ONE-VS-REPRESENTATIVE: every member within
    * `minCosine` of the cell's smallest-id member is dropped. The fallback
    * is linear in the cell, SOUND (only true near-dups of the rep drop —
    * never a false drop) and exactly right for the identical-mass case;
    * members far from the rep survive (bounded recall loss, logged).
    * `splitOversized = false` restores the round-3 exemption semantics.
    */
  def semanticDedupWithCentroids(emb: DataFrame, minCosine: Double,
      centroids: Array[Array[Double]], maxCellWidth: Int = 4096,
      nProbe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      splitOversized: Boolean = true, maxSplitDepth: Int = 4,
      subCentroids: Int = 8, subSampleSize: Int = 512,
      maxSampleVectorsPerDepth: Long = MaxSampleVectorsPerDepth): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    val spark = emb.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      if (v == null) Seq.empty[String]
      else if (nProbe == 1) Seq(nearestCentroid(v.toArray, bc.value).toString)
      else nearestCentroids(v.toArray, bc.value, nProbe).map(_.toString)
    }
    val cells0 = emb.select(col(idCol), col(vecCol),
      explode(assignUdf(col(vecCol))).as("cell"))
    val cells =
      if (!splitOversized) cells0
      else splitOversizedCells(cells0, maxCellWidth, maxSplitDepth,
        subCentroids, subSampleSize, idCol, vecCol, maxSampleVectorsPerDepth)
    // cell width via window count over the same shuffle the self-join
    // reuses. NOTE this window is deliberate, unlike the ones removed from
    // the LSH candidate paths: the pair join co-locates each cell on one
    // task anyway (join key = cell), so the window adds no skew exposure
    // the join doesn't already have, and it rides the join's own exchange
    // — the hash-agg + broadcast alternative was MEASURED 1.2× slower at
    // 1.1M vectors (extra width pass; BENCH.md round 5).
    val w = Window.partitionBy(col("cell"))
    val withW = cells.withColumn("__w", count(lit(1)).over(w))
    val pruned = withW.filter(col("__w") <= maxCellWidth)
    val l = pruned.select(col("cell"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = pruned.select(col("cell"), col(idCol).as("b"), col(vecCol).as("vb"))
    val pairDrops = l.join(r, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= minCosine)
      .select(col("b").as(idCol))
    val dropIds =
      if (!splitOversized) pairDrops.distinct()
      else {
        // unsplittable leftovers: drop members near the cell's min-id rep
        val over = withW.filter(col("__w") > maxCellWidth)
        val repIds = over.groupBy(col("cell")).agg(min(col(idCol)).as("__repId"))
        val repVecs = over
          .select(col("cell").as("__c2"), col(idCol).as("__id2"),
            col(vecCol).as("__repVec"))
          .join(broadcast(repIds),
            col("__c2") === col("cell") && col("__id2") === col("__repId"))
          .select(col("cell"), col("__repId"), col("__repVec"))
        val repDrops = over.join(broadcast(repVecs), Seq("cell"))
          .filter(col(idCol) =!= col("__repId") &&
            cosine(col(vecCol), col("__repVec")) >= minCosine)
          .select(col(idCol))
        pairDrops.unionByName(repDrops).distinct()
      }
    emb.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Per-depth bound on the batched sample collect: with badly sized
    * nCentroids the number of oversized cells can be large, and
    * #oversized × subSampleSize vectors land on the driver in one job —
    * the only driver-side collect in the op whose size isn't structurally
    * tiny. At most `MaxSampleVectorsPerDepth / subSampleSize` cells are
    * split per depth, WIDEST FIRST (deterministic (width desc, cell asc)
    * order); truncation is logged and the deferred cells are retried at
    * the next depth, so the guard trades rounds — never correctness (a
    * cell left oversized when depth runs out falls to the caller's
    * representative fallback, same as any unsplittable cell).
    */
  val MaxSampleVectorsPerDepth: Long = 1L << 18

  /** Iterative oversized-cell splitting: per depth, ONE tiny width
    * aggregation finds cells past the cap, ONE batched sampling job pulls
    * a hash-spread sample per oversized cell (window top-n — bounded by
    * #oversized · subSampleSize rows and by [[MaxSampleVectorsPerDepth]],
    * widest-first with a warning when the bound truncates), sub-centroids
    * train driver-side (k-means over ≤ subSampleSize vectors per cell) and
    * broadcast back, and members re-assign to `cell.sub` path keys in one
    * map pass. Cells whose sub-centroids collapse (identical sample —
    * nothing separates) stop splitting and are left for the caller's
    * representative fallback. Each round is localCheckpoint-cut so lineage
    * stays flat. Everything is a pure function of (ids, vectors) —
    * deterministic at any parallelism.
    */
  private def splitOversizedCells(cells0: DataFrame, maxCellWidth: Int,
      maxSplitDepth: Int, subCentroids: Int, subSampleSize: Int,
      idCol: String, vecCol: String,
      maxSampleVectors: Long = MaxSampleVectorsPerDepth): DataFrame = {
    val spark = cells0.sparkSession
    var cells = cells0
    var depth = 0
    var done = Set.empty[String] // cells that refused to split (degenerate)
    var continue = maxSplitDepth > 0
    val cellCap = math.max(1L, maxSampleVectors / subSampleSize).toInt
    while (continue) {
      val allOver = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCellWidth)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .filterNot { case (c, _) => done(c) }
      val widths = allOver.sortBy { case (c, n) => (-n, c) }
        .take(cellCap).map(_._1).toSet
      if (widths.size < allOver.length)
        org.slf4j.LoggerFactory.getLogger("graft.ops.Similarity").warn(
          s"splitOversizedCells: depth $depth splits ${widths.size} of " +
            s"${allOver.length} oversized cells (driver sample bound " +
            s"$maxSampleVectors vectors); the rest retry next depth")
      if (widths.isEmpty || depth >= maxSplitDepth) continue = false
      else {
        val overB = spark.sparkContext.broadcast(widths)
        val wRank = Window.partitionBy(col("cell")).orderBy(col("__h").asc)
        val samples = cells
          .filter(udf((c: String) => overB.value.contains(c)).apply(col("cell")))
          .select(col("cell"), col(vecCol).as("__v"), xxhash64(col(idCol)).as("__h"))
          .withColumn("__r", row_number().over(wRank))
          .filter(col("__r") <= subSampleSize)
          .select(col("cell"), col("__v"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (c, rows) =>
            c -> rows.map(_.getSeq[Float](1).toArray)
          }
        val subCents: Map[String, Array[Array[Double]]] = samples.map { case (c, vs) =>
          c -> trainCentroids(vs, subCentroids)
        }
        // a collapsed centroid set (all equal) cannot separate the cell
        val (splittable, degenerate) = subCents.partition { case (_, cs) =>
          cs.exists(c => !java.util.Arrays.equals(c, cs.head))
        }
        done ++= degenerate.keys
        if (splittable.isEmpty) continue = false
        else {
          val centsB = spark.sparkContext.broadcast(splittable)
          val reassignUdf = udf { (c: String, v: Seq[Float]) =>
            centsB.value.get(c) match {
              case Some(cs) if v != null => c + "." + nearestCentroid(v.toArray, cs)
              case _ => c
            }
          }
          cells = cells
            .withColumn("cell", reassignUdf(col("cell"), col(vecCol)))
            .localCheckpoint()
          depth += 1
        }
      }
    }
    cells
  }

  /** Bucketed ANN: candidates = bucket collisions in any table; rank by
    * exact cosine over the (deduplicated) candidate set. The scan touches
    * only colliding buckets — never a full cross join.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 8, planesPerTable: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"
  ): DataFrame = {
    def bkt(c: Column) =
      graft.functions.LshBucketsExpr.lsh_buckets(c, nTables, planesPerTable)
    val c = corpus.withColumn("bucket", explode(bkt(col(vecCol))))
    val q = queries.withColumn("bucket", explode(bkt(col(qVecCol))))
    val candidates = c.join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(idCol), col(vecCol), col(qIdCol), col(qVecCol))
      .dropDuplicates(idCol, qIdCol)
    val scored = candidates.withColumn("score", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"), col("rank"),
        round(col("score"), 4).as("score"))
  }
}
