package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det.{halfUp, round4}
import graft.util.{FanOut, PayloadJoin}
import graft.functions.VectorFunctions.cosine

/** Similarity search over an embedding column (Array[Float]).
  *
  * Exact paths use `aggregate`/`zip_with` (codegen'd, left-to-right fold →
  * deterministic sums). Scale path is LSH bucketing: random-hyperplane sign
  * bits shrink the candidate set so the n×n cosine becomes a per-bucket
  * join. Ordering/thresholding always happens on values rounded to 4dp with
  * id tiebreaks, so float dust can't flip results across partitionings.
  */
object Similarity {

  /** Dot product via higher-order functions — used only for LSH bucket
    * signs, where the plane is a literal array. The hot cosine path uses the
    * fused native expression [[graft.functions.CosineSimilarity]]. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)

  /** cosine(e, q) for every vector vs one query vector (vec_id = qId),
    * thresholded on the rounded value. The 1-row query side is broadcast —
    * no shuffle at all; the scan streams once. */
  def cosineToQuery(embeddings: DataFrame, qId: Long = 0L,
                    minCos: Double = 0.2): DataFrame = {
    val q = embeddings.filter(col("vec_id") === qId)
      .select(col("embedding").as("q"))
    embeddings
      .join(broadcast(q))
      .filter(col("vec_id") =!= qId)
      .select(col("vec_id"), col("label"),
        round4(cosine(col("embedding"), col("q"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Exact top-K neighbors for a set of query vectors: broadcast the query
    * side, then the custom [[graft.plans.TopKPerKey]] bounded-heap operator
    * — O(n log k) per partition with no full per-group sort, and a partial
    * pass before the one query_id exchange, so it ships at most
    * partitions × queries × k rows; the rank window reuses that exchange
    * and runs only on the surviving k·|queries| rows. */
  def topK(embeddings: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
           k: Int = 10): DataFrame = {
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = embeddings.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("q"))).as("cos_sim"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq("cos_sim" -> false, "vec_id" -> true), k)
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Embedding-cosine (semantic) dedup, SemDeDup-style greedy survivor
    * selection: enumerate pairs above the similarity threshold, drop the
    * higher id of every pair — survivors are vectors with no more-senior
    * near-twin.
    *
    * EXACT all-pairs, enumerated as a block-pair EQUI-join (the distributed
    * "triangle" scheme): each vector hashes into one of `blocks` buckets; a
    * vector in bucket b streams into every bucket pair (b, q≥b) on the left
    * and (p≤b, b) on the right, and the join key is the (p, q) pair — so the
    * plan is a hash/sort-merge join with per-task memory bounded by one
    * bucket, never a BroadcastNestedLoopJoin over n² rows. Compare work is
    * still inherently O(n²) — that is what EXACT all-pairs means — but it
    * distributes evenly over B(B+1)/2 tasks; raise `blocks` with corpus
    * size. When O(n²) compute itself is the wall (the 100 TB case), use
    * [[semanticDedupApprox]], which prunes pairs with LSH buckets first. */
  def semanticDedup(embeddings: DataFrame, minCos: Double = 0.35,
                    blocks: Int = 8): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    // pin the compare stage's task count: the n² compare work dwarfs the
    // input bytes, so AQE/scan partitioning must not serialize it
    val left = FanOut.pin(
      e.withColumn("q", explode(sequence(col("blk"), lit(blocks - 1))))
        .withColumnRenamed("blk", "p"), col("p"), col("q"))
    val right = e.withColumn("p", explode(sequence(lit(0), col("blk"))))
      .withColumnRenamed("blk", "q")
    val removed = left.as("x").join(right.as("y"),
        col("x.p") === col("y.p") && col("x.q") === col("y.q"))
      // diagonal bucket pairs see both orderings + self-pairs: keep id< only
      .filter(col("x.p") =!= col("x.q") || col("x.vec_id") < col("y.vec_id"))
      .filter(round4(cosine(col("x.embedding"), col("y.embedding"))) >= minCos)
      .select(greatest(col("x.vec_id"), col("y.vec_id")).as("vec_id")).distinct()
    embeddings.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Approximate SemDeDup for corpora where exact O(n²) compare work is the
    * wall: the pair source is [[lshCandidates]] (bucketed equi-join over
    * random-hyperplane buckets, candidates ≈ O(near-dups)) with exact cosine
    * verify on candidates only. Recall vs [[semanticDedup]] is spec-bounded;
    * raise nTables (or lower planesPerTable) for recall, the reverse for
    * pruning, matched to the corpus similarity profile. */
  def semanticDedupApprox(embeddings: DataFrame, minCos: Double = 0.35,
                          nTables: Int = 16, planesPerTable: Int = 4,
                          payloadJoin: PayloadJoin = PayloadJoin.Auto,
                          precomputedCandidates: Option[DataFrame] = None): DataFrame = {
    // precomputedCandidates: a cached [[lshCandidates]] frame (thresholded
    // at or below this minCos) shared with other LSH consumers — the pair
    // generation is the dominant cost and the re-filter is free
    val removed = precomputedCandidates
      .getOrElse(lshCandidates(embeddings, nTables, planesPerTable,
        minCos = minCos, payloadJoin = payloadJoin))
      .filter(col("cos_sim") >= minCos)
      .select(col("vec_b").as("vec_id")).distinct()
    embeddings.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** IVF-Flat ANN: k-means centroids partition the vector space (the
    * "inverted file"); each vector is assigned to its nearest centroid and
    * a query searches only the `nProbe` closest cells. The scan per query
    * drops from n to ~n*nProbe/k — the classic disk-friendly ANN layout;
    * recall vs [[topK]] is spec-bounded. */
  /** Offline half of IVF: k-means cell per vector + the tiny centroid
    * list as literal columns. At 100 TB this builds ONCE and persists
    * (cell is just another table column); both the float and the
    * quantized searchers consume it. */
  final case class IvfIndex(assigned: DataFrame,
                            centroidValues: Seq[Array[Double]],
                            buildMeanDist: Double = Double.NaN) {
    /** Every centroid as ONE nested-array literal — a single Catalyst
      * node. The former per-entry `array(lit, …)` trees put thousands of
      * expression nodes into every search plan, and the DRIVER paid
      * seconds of analysis + codegen per query while executors idled
      * (bench: ann_pq 2.6 s wall vs 0.18 s CPU). Constant tables are
      * data, not syntax. */
    def centroidsLit: Column = typedlit(centroidValues.map(_.toSeq))
  }

  def buildIvfIndex(embeddings: DataFrame, nCells: Int = 16): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = embeddings.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10)
      .fit(withVec.select("features"))
    val assigned = model.transform(withVec)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    // build-time mean assigned distance: trainingCost is the k-means
    // objective (sum of squared distances to the assigned centroid) the
    // fit already computed — one count job turns it into the per-vector
    // mean that [[ivfDrift]] compares future corpus states against.
    val meanDist = model.summary.trainingCost / math.max(1L, assigned.count())
    IvfIndex(assigned, model.clusterCenters.map(_.toArray).toSeq, meanDist)
  }

  // ---- incremental index maintenance (the growing-corpus path) ----
  //
  // A 100 TB corpus does not refit k-means per ingest batch: new vectors
  // are ASSIGNED to their nearest existing cell (one scan of the batch
  // against the tiny centroid table — no shuffle, no fit), and a cheap
  // drift statistic decides when the centroids have decayed enough to pay
  // for a re-train. This is FAISS's add-vs-train split made incremental.

  /** Nearest-existing-cell assignment for a batch of vectors
    * (vec_id, embedding) → (vec_id, embedding, cell, cell_dist).
    * Scan-bound and shuffle-free: the per-centroid distances compute as
    * one array expression per row and the argmin resolves inside the row
    * (first minimal cell — the same tie-break k-means transform uses).
    * `cell_dist` rides along so callers can fold the batch into the
    * running drift statistic without a second pass. */
  def assignToCells(index: IvfIndex, vectors: DataFrame): DataFrame = {
    val dists = transform(index.centroidsLit,
      c => sqDist(col("embedding"), c))
    vectors.select(col("vec_id"), col("embedding"),
      (array_position(dists, array_min(dists)) - 1).cast("int").as("cell"),
      array_min(dists).as("cell_dist"))
  }

  /** Deterministic zero-iteration "index": the centroids are literally
    * the first `nCells` vectors by vec_id and every vector assigns to
    * its nearest seed — no Lloyd iterations, so the entire structure is
    * a closed form plain SQL can state (nearest-of-k-constants argmin).
    * The exact-regime twin base for [[corpusClusters]]: the k-means FIT
    * is the only piece SQL cannot express, and this removes exactly
    * that piece while keeping the assignment + distance + aggregation
    * machinery identical to the production path. */
  def seededIvfIndex(embeddings: DataFrame, nCells: Int = 8): IvfIndex = {
    val seeds = embeddings.filter(col("vec_id") < nCells)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    require(seeds.size == nCells, s"need vec_ids 0..${nCells - 1} as seeds")
    val proto = IvfIndex(null, seeds)
    proto.copy(assigned = assignToCells(proto, embeddings).drop("cell_dist"))
  }

  /** Incremental index growth: assign `newVectors` to existing cells and
    * union them into the index. Centroids and the build-time drift
    * baseline are untouched — this is the cheap path between
    * re-trains. */
  def assignIncremental(index: IvfIndex, newVectors: DataFrame): IvfIndex =
    index.copy(assigned = index.assigned.unionByName(
      assignToCells(index, newVectors).drop("cell_dist")))

  /** Mean squared distance of the index's current contents to their
    * assigned centroids — the index-quality number. One scan; production
    * ingest loops maintain it as running (n, sum) instead (see
    * [[graft.streaming.StreamOps]]'s IVF ingest). */
  def meanAssignedDist(index: IvfIndex): Double =
    index.assigned.select(avg(sqDist(col("embedding"),
      element_at(index.centroidsLit, col("cell") + 1)))).head.getDouble(0)

  /** Drift ratio: current mean assigned distance over the build-time
    * mean. 1.0 = as tight as at build; grows as the corpus distribution
    * moves away from the trained centroids (recall decays with it). */
  def ivfDrift(index: IvfIndex): Double =
    driftRatio(meanAssignedDist(index), index.buildMeanDist)

  /** The drift ratio with the degenerate baselines made explicit: a
    * tiny/duplicate-heavy cold build can fit PERFECTLY (trainingCost 0 ⇒
    * baseline 0), where a naive mean/baseline is Inf (retrain every
    * batch forever) or NaN (gate silently disabled — `NaN > trigger` is
    * false). Policy: a still-perfect fit is no drift (1.0); any nonzero
    * mean against a perfect baseline is maximal drift (one retrain,
    * after which the baseline recomputes from the grown corpus and the
    * gate self-heals). */
  private[graft] def driftRatio(mean: Double, baseline: Double): Double =
    if (baseline > 0) mean / baseline
    else if (mean <= 0) 1.0
    else Double.PositiveInfinity

  /** The maintenance step an ingest loop calls per batch: grow the index
    * incrementally, then re-train from the full corpus when drift
    * exceeds `driftTrigger`. Returns the index to carry forward and
    * whether a re-train happened. The re-train consumes the GROWN
    * assignment set, so no vectors are lost across the rebuild. */
  def maintainIvf(index: IvfIndex, newVectors: DataFrame,
                  driftTrigger: Double = 1.5,
                  nCells: Int = 16): (IvfIndex, Boolean) = {
    val grown = assignIncremental(index, newVectors)
    if (ivfDrift(grown) > driftTrigger)
      (buildIvfIndex(grown.assigned.select("vec_id", "embedding"), nCells), true)
    else (grown, false)
  }

  /** Squared Euclidean distance — the SAME metric k-means assigned cells
    * with; ranking probes by cosine instead would mismatch the index
    * geometry and silently hurt recall on unnormalized embeddings. */
  private def sqDist(q: Column, c: Column): Column =
    aggregate(zip_with(q, c, (x, y) => {
      val d = x.cast("double") - y
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Online half of IVF cell selection: rank the index's centroids per
    * query, keep the nProbe nearest cells. Input (query_id, qv) →
    * (query_id, qv, cell). */
  private def probeCells(index: IvfIndex, queries: DataFrame,
                         nProbe: Int): DataFrame = {
    val cellSims = queries.select(col("query_id"), col("qv"),
      posexplode(transform(index.centroidsLit, c => sqDist(col("qv"), c)))
        .as(Seq("cell", "cell_dist")))
    val wCell = Window.partitionBy("query_id").orderBy(col("cell_dist").asc, col("cell"))
    cellSims.withColumn("r", row_number().over(wCell))
      .filter(col("r") <= nProbe).select("query_id", "qv", "cell")
  }

  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
              k: Int = 10, nCells: Int = 16, nProbe: Int = 8,
              precomputedIvf: Option[IvfIndex] = None): DataFrame = {
    // precomputedIvf: a persisted/shared index (offline build) — every
    // search consumer reuses ONE k-means fit, the production shape
    val index = precomputedIvf.getOrElse(buildIvfIndex(embeddings, nCells))
    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probed = probeCells(index, queries, nProbe)
    val scored = index.assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("qv"))).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** FILTERED ANN — the "vector search with a metadata predicate" shape
    * every retrieval deployment needs (and naive ANN gets wrong by
    * filtering AFTER the top-k, returning fewer than k rows): the
    * predicate prunes CANDIDATES before ranking, so the result is the
    * top-k among qualifying vectors. Runs against the SAME prebuilt
    * [[IvfIndex]] as every other searcher — one index serves every
    * predicate; nothing rebuilds per query. The predicate evaluates on
    * the base table's attribute columns and reaches candidates as a
    * vec_id semi-join (co-keyed at scale; a production index table
    * stores the filterable attributes alongside `cell`, making the
    * filter scan-bound — same plan, one join fewer). `nProbe = nCells`
    * probes exhaustively ⇒ exact filtered top-k by construction (the
    * ann_ivf_q adjudication pattern); selective configs trade recall
    * exactly as [[ivfTopK]] does. */
  def ivfTopKFiltered(embeddings: DataFrame, filter: Column,
                      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                      k: Int = 10, nCells: Int = 16, nProbe: Int = 8,
                      precomputedIvf: Option[IvfIndex] = None): DataFrame = {
    val index = precomputedIvf.getOrElse(buildIvfIndex(embeddings, nCells))
    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probed = probeCells(index, queries, nProbe)
    val qualifying = embeddings.filter(filter).select("vec_id")
    val scored = index.assigned.join(broadcast(probed), Seq("cell"))
      .join(qualifying, Seq("vec_id"), "left_semi")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("qv"))).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF search over the int8-QUANTIZED corpus with exact re-ranking — the
    * two-stage memory/IO shape every billion-vector ANN deployment uses
    * (FAISS IVF-SQ8): the probe scan reads 1 byte/dim instead of 4, scores
    * candidates on values reconstructed from the codes, keeps the top
    * `rerank` per query, and only those survivors ever load their float
    * vectors for the exact pass. At 100 TB the quantized table is the one
    * that gets scanned per query — a 4× IO cut on the dominant cost — and
    * the float fetch is a rerank-sized hash join, not a scan.
    *
    * Same cell assignment as [[ivfTopK]] (index build is offline; search
    * reads are what quantization saves). Rows-only in the driver; the spec
    * bounds recall against the exact [[topK]]. */
  def ivfTopKQuantized(embeddings: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                       k: Int = 10, nCells: Int = 16, nProbe: Int = 8,
                       rerank: Int = 30,
                       precomputedIvf: Option[IvfIndex] = None): DataFrame = {
    val index = precomputedIvf.getOrElse(buildIvfIndex(embeddings, nCells))
    // the scan-side table: codes + dequant params + cell, no floats
    val q8 = embeddingQuantize(embeddings)
      .select(col("vec_id"), col("qmin"), col("qmax"), col("q"))
      .join(index.assigned.select("vec_id", "cell"), "vec_id")
    // reconstructed value_j = qmin + code_j * (qmax - qmin)/255
    def dequant(codes: Column, mn: Column, mx: Column): Column =
      transform(codes, c => mn + c.cast("double") * (mx - mn) / 255.0)
        .cast("array<float>") // the fused cosine kernel is float-typed
    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probed = probeCells(index, queries, nProbe)
    // stage 1: approximate scores on the quantized scan only
    val approx = q8.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(dequant(col("q"), col("qmin"), col("qmax")), col("qv")).as("qcos"))
    val wA = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("vec_id"))
    val survivors = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= rerank).select("query_id", "vec_id")
    // stage 2: exact re-rank — floats load ONLY for the rerank survivors
    val exact = survivors
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("qv"))).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Offline half of IVF-PQ (FAISS's IVFPQ, the billion-vector workhorse):
    * the embedding splits into `m` subvectors and each subspace gets its
    * own k-means codebook of `subK` centroids — a vector's code is m
    * small ints (m bytes at subK≤256), a 32× storage cut vs floats at
    * m=8 on 64 float dims. Codebooks are trained on the corpus (m
    * distributed k-means fits over n×(dim/m) slices — offline, once per
    * index generation, like [[buildIvfIndex]]); encoding is a scan-bound
    * argmin over literal centroid arrays. Two codings:
    *  - raw (`residual = false`): codebooks quantize the vector itself;
    *  - residual (`residual = true`, the FAISS IVFPQ default): codebooks
    *    quantize x − c(cell) — the residual after the coarse centroid —
    *    which concentrates the codebook's 16 cells on a far smaller
    *    value range, so the same m bytes carry more precision. The coarse
    *    part is recovered at search time from cross-term LOOKUP tables
    *    that are pure codebook/centroid functions (literals — nothing
    *    extra is scanned or shuffled). */
  final case class PqIndex(encoded: DataFrame,
                           codebooks: Array[Array[Array[Double]]],
                           ivf: IvfIndex, m: Int, subDim: Int,
                           residual: Boolean = false)

  def buildPqIndex(embeddings: DataFrame, nCells: Int = 16, m: Int = 8,
                   subK: Int = 16, dim: Int = 64,
                   residual: Boolean = false,
                   precomputedIvf: Option[IvfIndex] = None): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val ivf = precomputedIvf.getOrElse(buildIvfIndex(embeddings, nCells))
    require(!residual || ivf.centroidValues.nonEmpty,
      "residual PQ needs IvfIndex.centroidValues — an empty centroid list " +
        "would null-propagate through every residual/ADC term silently")
    val centsLit = ivf.centroidsLit
    def subSrc(i: Int): Column = pqSubSrc(centsLit, sub, residual)(i)
    // training + encoding read cell alongside the vector (residual needs
    // it; raw ignores it) — ivf.assigned carries both
    val base = ivf.assigned
    val codebooks = (0 until m).map { i =>
      val sliced = base.select(array_to_vector(subSrc(i)).as("features"))
      new KMeans().setK(subK).setSeed(42L + i).setMaxIter(10)
        .fit(sliced).clusterCenters.map(_.toArray)
    }.toArray
    PqIndex(
      base.select(col("vec_id"), col("cell"),
        array(pqEncodeCols(codebooks, centsLit, sub, residual): _*).as("codes")),
      codebooks, ivf, m, sub, residual)
  }

  /** The subvector the codebooks see for subspace `i`: the raw slice, or
    * the slice of the residual x − c(cell) (per-row coarse centroid via
    * element_at). Shared by codebook training, the build-time encode,
    * and [[encodePqIncremental]] — one definition, so the incremental
    * path can never drift from the trained coding. */
  private def pqSubSrc(centsLit: Column, sub: Int, residual: Boolean)
                      (i: Int): Column = {
    val raw = slice(col("embedding"), i * sub + 1, sub).cast("array<double>")
    if (!residual) raw
    else zip_with(raw,
      slice(element_at(centsLit, col("cell") + 1), i * sub + 1, sub),
      (a, b) => a - b)
  }

  /** Per-subspace code columns: argmin over the literal codebook —
    * array_position(min) is deterministic (first index) on ties. */
  private def pqEncodeCols(codebooks: Array[Array[Array[Double]]],
                           centsLit: Column, sub: Int,
                           residual: Boolean): Seq[Column] =
    codebooks.indices.map { i =>
      val dists = transform(typedlit(codebooks(i).map(_.toSeq).toSeq),
        c => sqDist(pqSubSrc(centsLit, sub, residual)(i), c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }

  /** Incremental PQ growth — [[assignIncremental]] for the CODED index:
    * new vectors take their nearest EXISTING coarse cell and encode with
    * the EXISTING codebooks (scan-bound argmins, shuffle-free, no refit),
    * exactly FAISS's `add` after `train`. The coarse assignments grow the
    * inner [[IvfIndex]] too, so [[ivfDrift]] keeps measuring decay over
    * the full corpus and [[maintainIvf]]-style retrain triggers compose;
    * codebook retrain = [[buildPqIndex]] over the grown set. */
  def encodePqIncremental(index: PqIndex, newVectors: DataFrame): PqIndex = {
    val assigned = assignToCells(index.ivf, newVectors).drop("cell_dist")
    val centsLit = index.ivf.centroidsLit
    val encodedNew = assigned.select(col("vec_id"), col("cell"),
      array(pqEncodeCols(index.codebooks, centsLit, index.subDim,
        index.residual): _*).as("codes"))
    index.copy(
      encoded = index.encoded.unionByName(encodedNew),
      ivf = index.ivf.copy(
        assigned = index.ivf.assigned.unionByName(assigned)))
  }

  /** IVF-PQ search with exact re-ranking: stage 1 scans ONLY (cell,
    * codes) — m bytes/vector instead of 4·dim — and scores candidates by
    * asymmetric distance computation (ADC): per query, a lookup table
    * lut[i][c] = dot(q_i, centroid_{i,c}) is computed once (m·subK dots,
    * rides the KB-scale probed frame), and a candidate's approximate dot
    * is m table lookups — `element_at` chains, fully codegen, no float
    * vector touched. The approximate norm comes from a LITERAL per-code
    * norm table (pure codebook function, computed at build). Stage 2
    * re-ranks the top `rerank` survivors on exact cosine via a
    * rerank-sized hash join, exactly like [[ivfTopKQuantized]].
    *
    * At the exhaustive config (nProbe = nCells, rerank = ∞) stage 2 ranks
    * every candidate exactly, so the output ≡ [[topK]] BY CONSTRUCTION —
    * the oracle-adjudicated `ann_pq_q` driver config; the selective
    * config's recall is spec-bounded. */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                k: Int = 10, nCells: Int = 16, nProbe: Int = 8,
                m: Int = 8, subK: Int = 16, dim: Int = 64,
                rerank: Int = 30, residual: Boolean = false,
                precomputedPq: Option[PqIndex] = None): DataFrame = {
    val idx = precomputedPq.getOrElse(
      buildPqIndex(embeddings, nCells, m, subK, dim, residual))
    val sub = idx.subDim
    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // codebooks/norm/cross tables are CONSTANTS: ship each as one
    // typedlit node (data), not per-entry lit trees (syntax) — the
    // thousands-of-nodes plans cost the driver seconds of analysis +
    // codegen per search while executors idled
    val cbLit = typedlit(idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val probed0 = probeCells(idx.ivf, queries, nProbe)
      // ADC tables ride the probed frame: lut (per-query dots) + qnorm —
      // evaluated once per (query, cell) row, broadcast with it
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), i =>
        transform(element_at(cbLit, i + 1), c =>
          dot(slice(col("qv"), i * lit(sub) + 1, lit(sub)), c))))
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv"))))
    // residual coding recovers the coarse part per (query, cell):
    // dot(q, x) = dot(q, c_cell) + Σ lut[i][code_i] — dot(q, c_cell)
    // rides the probed frame too (one dot per probe row)
    val probed = if (!idx.residual) probed0.withColumn("qdotc", lit(0.0))
      else probed0.withColumn("qdotc", dot(col("qv"),
        element_at(idx.ivf.centroidsLit, col("cell") + 1)))
    // ||x̂||²: raw coding — Σ_i ||cb_{i,code_i}||² (codebook literal);
    // residual — ||c_cell||² + 2·Σ_i <c_cell,i , cb_{i,code_i}> + Σ‖cb‖²,
    // where the cross terms are a PURE (cell, i, code) literal table
    val normLit = typedlit(idx.codebooks.map(
      _.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    def lookup(tbl: Column, i: Int): Column =
      element_at(element_at(tbl, i + 1), element_at(col("codes"), i + 1) + 1)
    val adot0 = (0 until m).map(lookup(col("lut"), _)).reduce(_ + _)
    val rnorm2 = (0 until m).map(lookup(normLit, _)).reduce(_ + _)
    val adot = col("qdotc") + adot0
    val anorm2 =
      if (!idx.residual) rnorm2
      else {
        val cv = idx.ivf.centroidValues
        val cellNormLit = typedlit(cv.map(c => c.map(x => x * x).sum))
        val crossLit = typedlit(cv.map { cc =>
          (0 until m).map { i =>
            val cSub = cc.slice(i * sub, i * sub + sub)
            idx.codebooks(i).map(cb =>
              cSub.zip(cb).map { case (a, b) => a * b }.sum).toSeq
          }
        })
        val cross = (0 until m).map(i =>
          lookup(element_at(crossLit, col("cell") + 1), i)).reduce(_ + _)
        element_at(cellNormLit, col("cell") + 1) + lit(2.0) * cross + rnorm2
      }
    val approx = idx.encoded.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (adot / (col("qnorm") * sqrt(anorm2))).as("qcos"))
    val wA = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("vec_id"))
    val survivors = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= rerank).select("query_id", "vec_id")
    val exact = survivors
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("qv"))).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Corpus clustering for curation: the k-means cells [[buildIvfIndex]]
    * already computes, surfaced as an analysis table — per cluster, its
    * size, corpus share, and cohesion (mean Euclidean distance to the
    * centroid). This is the front half of cluster-balanced curation:
    * feed `assigned`'s `cell` column to `sample_per_group` for a
    * diversity-balanced subsample, or weight `source_mix` by cluster.
    * At this k the per-row distance evaluates all centroids inline (tiny
    * literal array); at 100 TB with k in the tens of thousands you'd
    * broadcast-join the centroid table on `cell` instead — same plan
    * shape as the probe scan. Rows-only in the driver (k-means is not
    * SQL-expressible); the spec pins determinism and size conservation. */
  def corpusClusters(embeddings: DataFrame, nCells: Int = 16,
                     precomputedIvf: Option[IvfIndex] = None): DataFrame = {
    val index = precomputedIvf.getOrElse(buildIvfIndex(embeddings, nCells))
    val dists = transform(index.centroidsLit, c =>
      sqDist(col("embedding"), c))
    val total = embeddings.count()
    index.assigned
      .withColumn("dist", sqrt(element_at(dists, col("cell") + 1)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        graft.util.Det.round4(avg(col("dist"))).as("cohesion"))
      .withColumn("share", graft.util.Det.round4(col("n_vecs") / lit(total.toDouble)))
  }

  /** Multi-table LSH ANN: per table, sign bits against `planesPerTable`
    * fixed pseudo-random hyperplanes (deterministic LCG) form a bucket id;
    * docs sharing a bucket in ANY table are candidates (recall for cos≥0.4
    * with 16×4 bits ≈ 1-(1-0.63^4)^16 ≈ 0.94, spec-tested vs the exact
    * path; tune planesPerTable up for higher-similarity corpora).
    * At 100 TB the (table, bucket) pair is the shuffle key — candidate
    * generation is a hash join, never n², and a hot bucket can be salted. */
  /** (vec_id, bks, table_idx, bucket) — every vector's per-table
    * sign-bucket rows under the FIXED seeded hyperplanes, shared by
    * [[lshCandidates]] and the incremental screen ([[incrementalLsh
    * Candidates]]): determinism of the planes is what lets a PERSISTED
    * index built in one ingest generation be probed by every later
    * batch. The nTables bucket ids ride as `bks` so exactly-once pair
    * emission stays a map-side first-agreeing-table filter. */
  private[graft] def lshBuckets(embeddings: DataFrame, nTables: Int,
                                planesPerTable: Int, dim: Int): DataFrame = {
    // Fixed hyperplanes from a seeded LCG — reproducible across runs/engines.
    var state = 42L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    val planes = Array.fill(nTables, planesPerTable, dim)(next())
    // one typedlit for ALL hyperplanes ((t·planesPerTable + i)-indexed):
    // per-plane array(lit…) trees put nTables·planes·dim nodes in the plan
    val planesLit = typedlit(
      planes.flatten.map(_.toSeq).toSeq) // (nTables·planesPerTable) × dim
    val buckets = (0 until nTables).map { t =>
      (0 until planesPerTable).map { i =>
        when(dot(col("embedding"),
            element_at(planesLit, t * planesPerTable + i + 1)) >= 0,
          shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
    }
    embeddings.select(col("vec_id"), array(buckets: _*).as("bks"))
      .select(col("vec_id"), col("bks"),
        posexplode(col("bks")).as(Seq("table_idx", "bucket")))
  }

  def lshCandidates(embeddings: DataFrame, nTables: Int = 16,
                    planesPerTable: Int = 4, dim: Int = 64,
                    minCos: Double = 0.4,
                    payloadJoin: PayloadJoin = PayloadJoin.Auto): DataFrame = {
    // Candidate generation on (vec_id, bucket-id array, table, bucket) —
    // embeddings never ride the pair shuffle; they re-attach only for the
    // exactly-once pairs. The nTables bucket ids (8 B each) ride the hashed
    // frame so a pair colliding in k tables keeps exactly ONE row via the
    // first-agreeing-table filter (FirstEqualBand with width 1) — the
    // former dropDuplicates re-shuffled the RAW pair set (see
    // Dedup.minhashLsh, same finding).
    // pin the emit stage's task count (see Dedup.minhashLsh: AQE
    // byte-based coalescing is blind to join-output amplification)
    val hashed = FanOut.pin(lshBuckets(embeddings, nTables, planesPerTable, dim),
      col("table_idx"), col("bucket"))
    // stage barrier before the verify: fused into the bucket-join emit
    // stage, the payload probes + cosine ran inside the pair-amplifying
    // iterator (see Dedup.minhashLsh — 3x measured there)
    val cand = FanOut.pin(hashed.as("x").hint("shuffle_hash").join(hashed.as("y"),
        col("x.table_idx") === col("y.table_idx") &&
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .filter(graft.functions.VectorFunctions.firstEqualBand(
        col("x.bks"), col("y.bks"), 1) === col("x.table_idx"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b")),
      col("vec_a"))
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(payloadJoin.hint(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))), "vec_a")
      .join(payloadJoin.hint(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round4(cosine(col("ea"), col("eb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Asymmetric LSH probe — a batch of vectors against the PERSISTED
    * bucket index (the incrementalMinhash/incrementalHammingPairs shape
    * for the SEMANTIC family): `corpusIndex` = the [[lshBuckets]] rows
    * ever ingested (vec_id, bks, table_idx, bucket), `corpusVecs` =
    * (vec_id, embedding). The batch's distinct (table_idx, bucket)
    * values broadcast as a semi-join prune, so the corpus index is only
    * SCANNED; surviving rows (candidate-density-sized) join the batch's
    * bucket rows, exactly-once per pair via the first-agreeing-table
    * filter (both `bks` arrays ride), and corpus embeddings load ONLY
    * for candidates (a vec_id join sized by dup density). Output
    * (vec_c, vec_b, cos_sim) at cos ≥ minCos — recall is the LSH
    * table/plane trade exactly as in [[lshCandidates]]; at the
    * recall-1 config (1 plane × many tables) the probe is exhaustive
    * and the ingest loop's cold run becomes a closed form. */
  def incrementalLshCandidates(batch: DataFrame, corpusIndex: DataFrame,
                               corpusVecs: DataFrame,
                               nTables: Int = 16, planesPerTable: Int = 4,
                               dim: Int = 64, minCos: Double = 0.4): DataFrame = {
    val bb = FanOut.pin(lshBuckets(batch, nTables, planesPerTable, dim)
      .select(col("vec_id").as("vec_b"), col("bks").as("bks_b"),
        col("table_idx"), col("bucket")), col("table_idx"), col("bucket"))
    val probeKeys = bb.select("table_idx", "bucket").distinct()
    val hits = corpusIndex
      .join(broadcast(probeKeys), Seq("table_idx", "bucket"), "left_semi")
      .select(col("vec_id").as("vec_c"), col("bks").as("bks_c"),
        col("table_idx"), col("bucket"))
    // stage barrier before the verify (the lshCandidates finding); the
    // lazy checkpoint stops the probe join re-executing for the
    // corpus-prune reference below
    val cand = FanOut.pin(
      bb.hint("shuffle_hash").join(hits, Seq("table_idx", "bucket"))
        .filter(graft.functions.VectorFunctions.firstEqualBand(
          col("bks_c"), col("bks_b"), 1) === col("table_idx"))
        .select(col("vec_c"), col("vec_b")), col("vec_b"))
      .localCheckpoint(false)
    // STRUCTURALLY corpus-free embedding attach (the r12 containment
    // finding): prune the corpus vectors to the candidate-linked ids
    // through a broadcast semi-probe — the corpus table is only SCANNED,
    // never enters a shuffle join, by plan shape rather than AQE's mood
    val vecsPruned = corpusVecs
      .join(broadcast(cand.select(col("vec_c").as("vec_id")).distinct()),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("vec_c"), col("embedding").as("ec"))
    cand
      .join(batch.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        "vec_b")
      .join(broadcast(vecsPruned), "vec_c")
      .select(col("vec_c"), col("vec_b"),
        round4(cosine(col("ec"), col("eb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Per-vector int8 scalar quantization — the storage/bandwidth lever for
    * a 100 TB ANN index (4 bytes/dim → 1, plus two floats of metadata).
    * Pure per-row arithmetic (array_min/max + a transform lambda): scan
    * bound, no shuffle. Quantized code q reconstructs as mn + q·(mx−mn)/255
    * with error ≤ half a step (spec-bounded); constant vectors quantize to
    * all-zeros with scale 0. rows-only for the driver (the q codes hinge on
    * float division at bucket boundaries — engine-honest but not
    * hash-portable). */
  def embeddingQuantize(embeddings: DataFrame): DataFrame = {
    val e = col("embedding")
    embeddings
      .withColumn("mn", array_min(e).cast("double"))
      .withColumn("mx", array_max(e).cast("double"))
      .withColumn("scale",
        when(col("mx") > col("mn"), (col("mx") - col("mn")) / 255.0).otherwise(lit(0.0)))
      .select(col("vec_id"), col("label"),
        round4(col("mn")).as("qmin"), round4(col("mx")).as("qmax"),
        when(col("scale") > 0,
          transform(e, x => halfUp((x.cast("double") - col("mn")) / col("scale")).cast("int")))
          .otherwise(transform(e, _ => lit(0)))
          .as("q"))
  }

  /** PCA dimensionality reduction over the embedding column — the standard
    * pre-clustering / pre-index compression stage of an embedding corpus.
    *
    * Scale shape (d = embedding dim ≪ n = corpus size): the fit is one
    * distributed treeAggregate of the d×d Gramian over the vectors (MLlib
    * `ml.feature.PCA`), the d×d eigendecomposition happens once on the
    * driver (trivial for d ≤ a few thousand), and the projection is a
    * broadcast matrix multiply per row — scan-bound, no shuffle. Nothing
    * driver-side scales with n.
    *
    * Output is rows-only for the driver (component SIGNS are
    * eigensolver-conventional and float sums are partition-ordered); the
    * spec pins the invariants that matter: k dims, orthonormal loadings,
    * non-increasing captured variance, distance preservation on exact-dup
    * vectors. */
  def embeddingPca(embeddings: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val vecs = embeddings.select(col("vec_id"), col("label"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pc")
      .setK(k).fit(vecs)
    model.transform(vecs)
      .select(col("vec_id"), col("label"),
        transform(vector_to_array(col("pc")), round4(_)).as("pc"))
  }

  /** Exact-regime twin base for [[embeddingPca]]: at k = full dimension
    * the principal-component matrix is a complete ORTHONORMAL basis, so
    * the projection is an isometry and ‖Vᵀx‖² = ‖x‖² for every vector —
    * an identity plain SQL states from the RAW embeddings (MLlib's PCA
    * transform deliberately does not center, so the identity holds on x
    * itself, not x − μ). The eigendecomposition, basis assembly, and
    * matrix-multiply projection are the rows-only pieces (sign/order of
    * eigenvectors is implementation-defined); the norm they must
    * conserve is not. Squared norms computed on the UNROUNDED projection
    * (the display rounding in [[embeddingPca]] would poison the sum),
    * rounded once at the end. */
  def embeddingPcaNorms(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    val vecs = embeddings.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pc")
      .setK(dim).fit(vecs)
    model.transform(vecs)
      .select(col("vec_id"),
        round4(aggregate(vector_to_array(col("pc")), lit(0.0),
          (acc, x) => acc + x * x)).as("sq_norm"))
  }
}
