package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ (IVFADC, Jégou et al. 2011 §IV): coarse inverted-file clustering prunes the
  * candidate set, product quantization over RESIDUALS (vector − its coarse centroid)
  * compresses what remains. The production-scale ANN composition: [[Ivf]] alone still
  * scans raw vectors inside probed clusters; [[Pq]] alone scans every code; together a
  * query touches `nprobe/nlist` of the corpus at m bytes per vector.
  *
  * All L2 (the PQ-native metric). The coarse quantizer is full-vector k-means — run
  * through [[Pq.trainCodebooks]] with m = 1, whose single "subspace" IS the whole
  * vector, so one Lloyd implementation serves both tiers.
  *
  * Scale shapes: training shuffles centroid-keyed means only (train both tiers on a
  * sample); encoding is a pure map against two broadcast codebook rows; search is an
  * EQUALITY join of the narrow codes table against broadcast (query, probe) rows —
  * per-candidate cost is m lookup-table reads.
  */
object IvfPq {

  /** Coarse centroids as a (cluster, cv) table: full-vector L2 k-means via the
    * m = 1 product quantizer.
    */
  def trainCoarse(embeddings: DataFrame, nlist: Int, iters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Pq.trainCodebooks(embeddings, m = 1, ksub = nlist, iters = iters, idCol, vecCol)
      .select(col("code").as("cluster"), col("cw"))

  /** Residual rows `(vec_id, cluster, rv)`: each vector minus its own coarse
    * centroid — what the PQ tier trains on and encodes. Assignment is the map-side
    * argmin against one broadcast centroid row.
    */
  def residuals(embeddings: DataFrame, coarse: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asCb = coarse.select(lit(0).as("subspace"), col("cluster").as("code"),
      col("cw"))
    val sub = Pq.subVecs(Pq.baseVecs(embeddings, idCol, vecCol), 1)
    val cents = coarse.select(col("cluster").as("r_cluster"), col("cw"))
    Pq.assignCodes(sub, asCb)
      .join(broadcast(cents), col("code") === col("r_cluster"))
      .select(col("vec_id"), col("code").as("cluster"),
        zip_with(col("sv"), col("cw"), (x, y) => x - y).as("rv"))
  }

  /** Train the residual PQ codebooks given trained coarse centroids. */
  def trainResidualPq(embeddings: DataFrame, coarse: DataFrame, m: Int, ksub: Int,
      iters: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Pq.trainCodebooks(residuals(embeddings, coarse, idCol, vecCol),
      m, ksub, iters, idCol = "vec_id", vecCol = "rv")

  /** DETERMINISTIC residual-codebook seeds (no Lloyd averaging — the
    * [[Ivf.seedCentroids]] convention on the residual tier): codeword `q` of
    * every subspace is the residual slice of vector `skip + q`. `skip` must
    * jump past the vectors the coarse table itself was seeded from — when
    * coarse centroid `c` IS vector `c`, vector `c`'s residual is exactly
    * zero, and seeding from it would collapse every subspace codebook to
    * indistinguishable zero codewords. Fixture/bootstrap path; production
    * refines with [[trainResidualPq]], whose float averaging is not
    * cross-engine-replayable.
    */
  def seedResidualCodebooks(embeddings: DataFrame, coarse: DataFrame, m: Int,
      ksub: Int, skip: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Pq.seedCodebooks(
      residuals(embeddings, coarse, idCol, vecCol)
        .select((col("vec_id") - skip).as("vec_id"), col("rv"))
        .filter(col("vec_id") >= 0),
      m, ksub, idCol = "vec_id", vecCol = "rv")

  /** The persisted index rows: `(vec_id, cluster, codes)` — cluster id plus m
    * residual codes. Pure map over two broadcast codebook rows; the cluster id
    * rides through the PQ encode as a passthrough column, so the corpus is
    * scanned exactly once.
    */
  def encode(embeddings: DataFrame, coarse: DataFrame, pqCodebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Pq.encode(residuals(embeddings, coarse, idCol, vecCol), pqCodebooks,
        idCol = "vec_id", vecCol = "rv", passthrough = Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("codes"))

  /** IVFADC search: queries (vec_id < numQueries) rank their `nprobe` nearest
    * coarse clusters, build ONE residual lookup table per (query, probe) — the
    * residual differs per probed centroid, so each probe carries its own m×ksub
    * table — then ADC-scan only the probed clusters' codes via an equality join.
    * Approximate squared-L2 ascending, vec_id tiebreak.
    */
  def search(embeddings: DataFrame, coarse: DataFrame, pqCodebooks: DataFrame,
      numQueries: Int = 10, k: Int = 5, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = encode(embeddings, coarse, pqCodebooks, idCol, vecCol)
    searchCodes(codes, Pq.baseVecs(embeddings, idCol, vecCol)
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv")),
      coarse, pqCodebooks, k, nprobe)
  }

  /** Search a PRE-ENCODED index (`codes` from [[encode]], e.g. read back from
    * parquet) with an explicit query table `(query_id, qv)` — the repeated-query
    * path where the corpus is never re-encoded.
    */
  def searchCodes(codes: DataFrame, queries: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, k: Int = 5, nprobe: Int = 4,
      pruneScan: Boolean = false, excludeSelf: Boolean = true): DataFrame = {
    val centRow = coarse
      .agg(collect_list(struct(col("cluster"), col("cw"))).as("cents"))
    val cbRow = pqCodebooks
      .agg(collect_list(struct(col("subspace"), col("code"), col("cw"))).as("cbs"))

    // nprobe nearest clusters per query (tiny: queries × nlist)
    val probed = queries.crossJoin(broadcast(centRow))
      .select(col("query_id"), col("qv"), explode(col("cents")).as("c"))
      .select(col("query_id"), col("qv"),
        col("c.cluster").as("cluster"),
        Pq.sqDist(col("qv"), col("c.cw")).as("cdist"),
        col("c.cw").as("ccw"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("cluster"))
    val probes = probed.withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)

    // per-(query, probe) residual LUT: distances from (qv − centroid)'s subvectors
    // to every residual codeword
    val mCol = size(array_distinct(transform(col("cbs"), c => c.getField("subspace"))))
    val luts = probes.crossJoin(broadcast(cbRow))
      .select(col("query_id"), col("cluster"),
        map_from_entries(transform(col("cbs"), c => {
          val dsub = (size(col("qv")) / mCol).cast("int")
          val qrSub = zip_with(
            slice(col("qv"), c.getField("subspace") * dsub + 1, dsub),
            slice(col("ccw"), c.getField("subspace") * dsub + 1, dsub),
            (x, y) => x - y)
          struct(Pq.cbKey(c.getField("subspace"), c.getField("code")),
            Pq.sqDist(qrSub, c.getField("cw")))
        })).as("lut"),
        mCol.as("m"))

    // candidates: ONLY probed clusters' codes, by equality join on cluster;
    // with pruneScan the bounded probed set (<= queries x nprobe ids) also
    // collects driver-side and pushes into the scan as isin, so row-group
    // stats on a cluster-clustered codes table PRUNE the read (the
    // Ivf.serveFromIndex pattern) instead of the join filtering post-read
    // NO input spread on the pruned code scan: tried r16 (Tables.spread by
    // vec_id), interleaved A/B REJECTED it — q_ivfpq_topk 0.95 s unspread vs
    // 1.13 s spread (1.20×), q_hybrid_pq 1.13× — the probed clusters' code
    // rows are too few for the exchange to buy back its stage
    // (tools/adc_ab_r16.json)
    val scanned =
      if (!pruneScan) codes
      else {
        val probedSet = probes.select("cluster").distinct().collect()
          .map(_.get(0))
        if (probedSet.isEmpty) codes.filter(lit(false))
        else codes.filter(col("cluster").isin(probedSet: _*))
      }
    // self-exclusion only for INTERNAL queries drawn from the corpus id space;
    // an external query whose id happens to collide with a corpus vec_id must
    // NOT silently drop that vector (typically its nearest neighbor)
    val noSelf =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    // adist lands on the 4-dp grid BEFORE ranking (the convention every other
    // tier follows — Ivf/Similarity round cosine pre-rank): quantization
    // distances that agree to 4 dp tie-break on vec_id identically in any
    // engine, so the ranking is replayable where last-ulp drift in the float
    // chain would otherwise flip near-tied ranks
    val cands = scanned.join(broadcast(luts), Seq("cluster"))
      .filter(noSelf)
      .withColumn("adist",
        round(aggregate(sequence(lit(0), col("m") - 1), lit(0.0),
          (acc, j) => acc + element_at(col("lut"),
            Pq.cbKey(j, element_at(col("codes"), j + 1)))), 4))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id"))
    cands.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("adist").as("approx_sq_dist"))
  }

  /** Persisted IVF-PQ lifecycle over [[graft.catalog.VersionedTable]] —
    * the fourth and last retrieval tier to get the incremental-maintenance
    * pattern (BM25 / IVF-Flat / BQ already have it): BOTH codebooks (the
    * coarse centroids and the residual product quantizer) FREEZE at build
    * time — like [[Ivf]]'s centroids, a retrain is a rebuild — and each
    * arriving batch encodes map-side against the two broadcast codebook
    * tables and appends as pure O(batch) writes; prior vectors and prior
    * codes are never rescanned.
    *
    * Layout under `dir`: `coarse` (cluster, cw), `pq` (subspace, code, cw) —
    * both metadata-scale — `codes` (vec_id, cluster, codes) landed
    * CLUSTER-CLUSTERED (range-partitioned + sorted within files) so
    * [[searchIndex]]'s probed-cluster `isin` prunes parquet row groups, the
    * [[Ivf.ivfTopKFromIndex]] pattern applied to the m-bytes-per-vector
    * codes table — and `quality`, one (batch, cluster, n_vecs, sum_qerr4)
    * row per batch×cluster recording CODEBOOK FIT at landing time (qerr4 =
    * round(qerr·10⁴) summed as BIGINT — exact integers, order-independent),
    * the [[pqDrift]] feed for the frozen-codebook retrain decision, exactly
    * [[Ivf]]'s quality convention on the PQ tier.
    *
    * Contract: batches carry NOVEL vec_ids (same ledger/novelty routing as
    * the other index lifecycles). Pass distinct `batchLabel`s to keep
    * per-batch drift resolution.
    */
  def writePqIndex(embeddings: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchLabel: String = "base"): Unit = {
    val cwType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = true)
    graft.catalog.VersionedTable.write(
      coarse.select(col("cluster"), col("cw").cast(cwType).as("cw")),
      s"$dir/coarse", "overwrite")
    graft.catalog.VersionedTable.write(
      pqCodebooks.select(col("subspace"), col("code"),
        col("cw").cast(cwType).as("cw")),
      s"$dir/pq", "overwrite")
    landBatch(embeddings, coarse, pqCodebooks, dir, "overwrite", batchLabel,
      idCol, vecCol)
  }

  /** Append one vector batch: ONE map-side encode of the batch against the
    * persisted (frozen) codebooks, then a batch-sized clustered write plus
    * its codebook-fit quality row(s).
    */
  def appendToPqIndex(batch: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchLabel: String = "batch"): Unit = {
    val spark = batch.sparkSession
    // one pins read → BOTH codebooks come from the same epoch (encoding a
    // batch against one epoch's coarse and another's pq would corrupt codes)
    val p = graft.catalog.IndexManifest.pins(spark, dir)
    landBatch(batch,
      graft.catalog.IndexManifest.readArtifact(spark, dir, "coarse", p),
      graft.catalog.IndexManifest.readArtifact(spark, dir, "pq", p),
      dir, "append", batchLabel, idCol, vecCol)
  }

  /** The index's artifact tables, in landing order; the
    * [[graft.catalog.IndexManifest]] pins all four so readers resolve one
    * consistent epoch across them.
    */
  private[graft] val IndexArtifacts = Seq("coarse", "pq", "codes", "quality")

  private def landBatch(batch: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, dir: String, operation: String,
      batchLabel: String, idCol: String, vecCol: String): Unit = {
    landArtifacts(batch, coarse, pqCodebooks, batchLabel, idCol, vecCol) {
      (df, artifact) =>
        graft.catalog.VersionedTable.write(df, s"$dir/$artifact", operation); ()
    }
    // publish point: ONE atomic manifest publish pins the artifacts' new
    // heads — readers see the whole mutation or none of it
    graft.catalog.IndexManifest.refresh(batch.sparkSession, dir,
      IndexArtifacts)
  }

  /** Build the batch's two index artifacts from ONE persisted encode scan and
    * hand each to `land(df, artifact)` (artifact ∈ "codes" | "quality") —
    * without the persist the two landing jobs would each re-run the
    * broadcast-codebook argmin over the batch. Shared by the batch append
    * path and the streaming maintainer ([[graft.streaming.PqIngest]]),
    * exactly [[Ivf.landArtifacts]]'s shape.
    */
  private[graft] def landArtifacts(batch: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, batchLabel: String, idCol: String,
      vecCol: String)(land: (DataFrame, String) => Unit): Unit = {
    val encoded = encodeWithError(batch, coarse, pqCodebooks, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      land(clusteredOf(encoded), "codes")
      land(qualityOf(encoded, batchLabel), "quality")
    } finally { encoded.unpersist(); () }
  }

  /** [[encode]] plus the per-vector residual quantization error (the
    * [[Pq.encode]] `withError` path riding the IVF-PQ residual pipeline).
    */
  private def encodeWithError(embeddings: DataFrame, coarse: DataFrame,
      pqCodebooks: DataFrame, idCol: String, vecCol: String): DataFrame =
    Pq.encode(residuals(embeddings, coarse, idCol, vecCol), pqCodebooks,
        idCol = "vec_id", vecCol = "rv", passthrough = Seq("cluster"),
        withError = true)
      .select(col("vec_id"), col("cluster"), col("codes"), col("qerr"))

  /** The encode in the index table's layout — cluster-clustered so the
    * probed-cluster isin of [[searchIndex]] prunes row groups.
    */
  private def clusteredOf(encoded: DataFrame): DataFrame = {
    // pin element nullability: parquet reads carry nullable elements, typed
    // in-memory encoders don't, and the versioned table rightly refuses an
    // append that flips a type's nullability
    val codesType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = true)
    encoded
      .select(col("vec_id"), col("cluster"),
        col("codes").cast(codesType).as("codes"))
      .repartitionByRange(col("cluster"))
      .sortWithinPartitions("cluster", "vec_id")
  }

  /** Per-cluster codebook fit of one batch on an exact-integer grid so any
    * engine replays it: qerr4 = round(qerr·10⁴) summed as BIGINT (sums of
    * integers are order-independent; the mean is recovered at read).
    */
  private def qualityOf(encoded: DataFrame, batchLabel: String): DataFrame =
    encoded
      .select(col("cluster"),
        round(col("qerr") * 10000).cast("bigint").as("qerr4"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum(col("qerr4")).as("sum_qerr4"))
      .select(lit(batchLabel).as("batch"), col("cluster"), col("n_vecs"),
        col("sum_qerr4"))
      // ≤ nlist rows per batch — land as ONE file instead of one per
      // post-aggregation shuffle partition
      .coalesce(1)

  /** Codebook-staleness signal for the frozen-codebook contract — the PQ twin
    * of [[Ivf.ivfDrift]]: one row per recorded batch with
    *
    *   - `n_vecs` — vectors landed,
    *   - `mean_qerr` — mean residual quantization error (RISES as arriving
    *     data drifts off the frozen codebooks; the retrain trigger),
    *   - `psi` — population-stability index of the batch's coarse-cluster
    *     occupancy vs `baseBatch`'s (identical convention to [[Ivf.ivfDrift]]:
    *     epsilon-floored fractions, 8-dp-grid terms, 6-dp total).
    *
    * Cost: reads only the metadata-scale `quality` table (batches × nlist
    * rows) and the coarse centroid ids — never the codes. Report rows order
    * numerically when the label parses as a number (the streaming
    * maintainer's txnId labels), non-numeric labels first.
    */
  def pqDrift(spark: org.apache.spark.sql.SparkSession, dir: String,
      baseBatch: String = "base", epsilon: Double = 1e-6): DataFrame = {
    require(epsilon > 0 && epsilon < 1, "epsilon must be in (0, 1)")
    val p = graft.catalog.IndexManifest.pins(spark, dir)
    val quality = graft.catalog.IndexManifest
      .readArtifact(spark, dir, "quality", p)
    val clusters = graft.catalog.IndexManifest
      .readArtifact(spark, dir, "coarse", p)
      .select(col("cluster"))
    // dense (batch × cluster) grid so zero-occupancy clusters still
    // contribute through the epsilon floor — both frames are metadata-scale
    val grid = quality.select("batch").distinct()
      .crossJoin(broadcast(clusters))
      .join(quality, Seq("batch", "cluster"), "left")
      .select(col("batch"), col("cluster"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("sum_qerr4"), lit(0L)).as("sum_qerr4"))
    val withTot = grid.withColumn("tot",
      sum(col("n_vecs")).over(Window.partitionBy(col("batch"))))
    val cur = withTot.withColumn("frac",
      greatest(col("n_vecs").cast("double") / col("tot"), lit(epsilon)))
    val base = cur.filter(col("batch") === baseBatch)
      .select(col("cluster"), col("frac").as("base_frac"))
    cur.join(broadcast(base), Seq("cluster"))
      .withColumn("psi_term",
        round((col("frac") - col("base_frac")) *
          log(col("frac") / col("base_frac")), 8))
      .groupBy("batch")
      .agg(sum(col("n_vecs")).as("n_vecs"),
        round(sum(col("sum_qerr4")).cast("double") /
          (lit(10000.0) * sum(col("n_vecs"))), 6).as("mean_qerr"),
        round(sum(col("psi_term")), 6).as("psi"))
      .orderBy(expr("try_cast(batch AS BIGINT)").asc_nulls_first, col("batch"))
  }

  /** STALENESS ACTUATOR for the PQ tier — the consumer of [[pqDrift]]'s
    * retrain trigger, [[Ivf.rebuildIndex]]'s twin with one honest asymmetry:
    * PQ codes are LOSSY, so the index cannot reconstruct its own corpus — the
    * caller must pass the current base `embeddings` (the lake table the
    * stream lands into, or a training sample). Retrains BOTH codebooks from
    * them (coarse k-means + residual product quantizer, Lloyd's), re-encodes,
    * and lands all four artifacts as OVERWRITE commits; the quality history
    * resets to one `batchLabel` row. `nlist`/`m`/`ksub` default to the
    * persisted index's own geometry. Training ids are RELABELED densely (the
    * seed convention slices the ksub lowest ids; a maintained corpus may
    * carry any id space) — the relabel is one sort of the training frame, so
    * at 100 TB pass a sample, exactly like any k-means retrain. Per-artifact
    * atomicity caveat as [[Ivf.rebuildIndex]].
    */
  def rebuildPqIndex(embeddings: DataFrame, dir: String, nlist: Int = 0,
      m: Int = 0, ksub: Int = 0, iters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchLabel: String = "base"): Unit = {
    // Lloyd must run at least once: raw residual seeds include the coarse
    // seeds' own zero residuals, which would collapse the codebooks
    require(iters >= 1, s"rebuild needs iters >= 1 (got $iters)")
    val spark = embeddings.sparkSession
    // geometry comes from ONE pinned epoch (m/ksub from one epoch's pq with
    // nlist from another's coarse would rebuild a differently-shaped index)
    val pins = graft.catalog.IndexManifest.pins(spark, dir)
    val curPq = graft.catalog.IndexManifest.readArtifact(spark, dir, "pq",
      pins)
    val geom = curPq.agg(
      countDistinct(col("subspace")).cast("int").as("m"),
      countDistinct(col("code")).cast("int").as("ksub")).head()
    val k =
      if (nlist > 0) nlist
      else graft.catalog.IndexManifest.readArtifact(spark, dir, "coarse",
        pins).count().toInt
    val m0 = if (m > 0) m else geom.getInt(0)
    val ks = if (ksub > 0) ksub else geom.getInt(1)
    // Dense contiguous train ids in __orig order WITHOUT a global window
    // (`row_number().over(Window.orderBy(...))` pulls the whole corpus into
    // ONE partition — fine for a harness corpus, a single-task sort at real
    // scale): range-partition + in-partition sort IS the global order, and
    // zipWithIndex stamps per-partition offsets (one extra count job). Ids
    // are unique, so the mapping is identical to the window's. Materialized
    // once (localCheckpoint, as LakeWriter.rateProducer does): both trainers
    // read it, and every action would otherwise re-run the stamping.
    val trainFrame = {
      val base = embeddings
        .select(col(idCol).as("__orig"), col(vecCol).as("embedding"))
      val sorted = base.repartitionByRange(col("__orig"))
        .sortWithinPartitions("__orig")
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        base.schema("embedding")))
      spark.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(i, r.get(1))
        }, outSchema).localCheckpoint()
    }
    val coarse = trainCoarse(trainFrame, k, iters)
    val pq = trainResidualPq(trainFrame, coarse, m0, ks, iters)
    writePqIndex(embeddings, coarse, pq, dir, idCol, vecCol, batchLabel)
  }

  final case class PqIndex(coarse: DataFrame, codebooks: DataFrame,
      codes: DataFrame)

  /** Resolve the index at one consistent epoch: the manifest pins are read
    * ONCE, then all three artifacts resolve AS OF their pinned versions — a
    * concurrent [[rebuildPqIndex]] (which overwrites all four artifacts in
    * separate commits) can never hand this reader one epoch's codebooks with
    * another's codes, which would decode to garbage ADC distances.
    * Pre-manifest indexes fall back to head reads.
    */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex = {
    import graft.catalog.IndexManifest
    val p = IndexManifest.pins(spark, dir)
    PqIndex(IndexManifest.readArtifact(spark, dir, "coarse", p),
      IndexManifest.readArtifact(spark, dir, "pq", p),
      IndexManifest.readArtifact(spark, dir, "codes", p))
  }

  /** Register a persisted index's artifact tables as TEMP VIEWS so the
    * pure-SQL serving recipe ([[SqlRecipes.ivfPqForQueriesSql]]) runs
    * end-to-end against named tables. Returns (codesView, coarseView,
    * pqView); same snapshot semantics as [[Bm25.registerIndexViews]]
    * (re-register to pick up later appends).
    */
  def registerIndexViews(spark: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String = "pq_idx"): (String, String, String) = {
    import graft.catalog.IndexManifest
    val names = (s"${prefix}_codes", s"${prefix}_coarse", s"${prefix}_pq")
    val p = IndexManifest.pins(spark, dir)
    IndexManifest.readArtifact(spark, dir, "codes", p)
      .createOrReplaceTempView(names._1)
    IndexManifest.readArtifact(spark, dir, "coarse", p)
      .createOrReplaceTempView(names._2)
    IndexManifest.readArtifact(spark, dir, "pq", p)
      .createOrReplaceTempView(names._3)
    names
  }

  /** Register the index artifacts as PERMANENT catalog tables over their
    * versioned-table locations ([[graft.sources.table.GraftCatalog]]'s
    * external registration) so [[SqlRecipes.ivfPqForQueriesSql]] serves LIVE:
    * a catalog entry re-resolves the commit log per query, so the same SQL
    * statement tracks appends with no re-registration — completing the live
    * SQL serving symmetry across all four index tiers (BM25, IVF, BQ,
    * IVFADC). Returns (codesTable, coarseTable, pqTable) as fully-qualified
    * names.
    *
    * Appends are safe on the live route (each batch publishes whole through
    * the manifest, and a statement that resolves mid-append at worst misses
    * the in-flight batch). A REBUILD is not: live SQL resolves each catalog
    * table independently, so a statement racing [[rebuildPqIndex]] can mix
    * codebook epochs — serve rebuild windows through [[registerIndexViews]]
    * (manifest-pinned) or quiesce SQL for the rebuild.
    */
  def registerIndexTables(spark: org.apache.spark.sql.SparkSession,
      dir: String, catalog: String, namespace: String,
      prefix: String = "pq_idx"): (String, String, String) = {
    def reg(artifact: String): String = {
      val t = s"$catalog.$namespace.${prefix}_$artifact"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t LOCATION '$dir/$artifact'")
      t
    }
    (reg("codes"), reg("coarse"), reg("pq"))
  }

  /** IVFADC search off a persisted index with EXTERNAL queries
    * `(query_id, qv)` — identical results to [[searchCodes]] over the same
    * artifacts (encode is deterministic given frozen codebooks), with the
    * probed-cluster set pushed into the codes scan as `isin`, so parquet
    * row-group stats on the cluster-clustered layout prune the ADC scan to
    * the probed clusters' row groups. No self-exclusion: the query id space
    * is unrelated to corpus ids (matching [[Ivf.ivfTopKForQueries]] and the
    * other external serving paths), so an id collision cannot silently drop
    * a corpus vector from the candidates.
    */
  def searchIndex(index: PqIndex, queries: DataFrame, k: Int = 5,
      nprobe: Int = 4): DataFrame =
    searchCodes(index.codes, queries, index.coarse, index.codebooks, k,
      nprobe, pruneScan = true, excludeSelf = false)
}
