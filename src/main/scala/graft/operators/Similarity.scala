package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.sources.{ParquetSource, Tables, Warehouse}

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * `bruteForce` is the correctness baseline: query-set × corpus with a
  * codegen'd cosine kernel, top-k per query via ranking window. The
  * corpus side streams; only `nQueries × corpus` rows exist transiently
  * and the window shuffles `nQueries × k`-ish data after AQE.
  *
  * `ivf` is the scale path: Lloyd's k-means over deterministic seeds
  * (assign → integer-sum centroid rounds, see [[kmeansCentroids]]),
  * centroids broadcast, each query probes only its `nprobe` nearest
  * clusters. At 100 TB the corpus is bucketed by cluster id on disk and
  * a probe reads `nprobe/nlist` of the data.
  */
object Similarity {

  private[operators] def querySet(t: Tables, nQueries: Int): DataFrame =
    t.embeddings
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))

  /** s1: exact top-k per query by cosine. */
  def bruteForce(t: Tables, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val corpus = t.embeddings.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    querySet(t, nQueries)
      .crossJoin(corpus)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("query_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s8: RANGE (radius) search — every corpus vector within cosine ≥
    * `minCos` of each query, the THRESHOLD-query twin of s1's top-k:
    * dedup sweeps, recall audits and "everything this similar" retrieval
    * want the full admissible set, not a fixed k. Exact by construction
    * (the s1 kernel with the rank window replaced by the threshold
    * filter), so the oracle is a direct cosine replay; per-query hit
    * counts vary and a `rank` would hide that — matches order by score
    * under each query instead.
    *
    * Scale shape: s1's — the tiny query set broadcasts, the corpus
    * STREAMS through the codegen'd cosine kernel map-side and only
    * threshold survivors (plus the per-query presentation sort of that
    * survivor set) ever shuffle. At 100 TB the same threshold probe
    * runs against the s2 IVF cells (radius-bounded probe set) — the
    * exact form here is also that path's verify stage.
    */
  def rangeSearch(t: Tables, nQueries: Int = 10, minCos: Double = 0.2): DataFrame = {
    val embAll = t.embeddings
    val corpus = embAll.select(col("vec_id").as("match_id"), col("embedding"))
    embAll.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
      .crossJoin(corpus)
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("cos", cosine_sim(col("query_emb"), col("embedding")))
      .filter(col("cos") >= minCos)
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("match_id"))
  }

  /** Quantization scale for centroid arithmetic: 2^12 (power of two, so
    * the float→scaled-long mapping is exact IEEE and engine-portable).
    * Chosen so every cosine intermediate in the k-means build is an
    * integer-valued double below 2^53 — worst case dim·(N·S·M)² with
    * dim=64, component bound M≈0.6 and corpus N ≤ ~4.8k — which makes
    * double addition EXACT and therefore order-independent: any engine
    * summing the same integers in any order gets the identical value,
    * so the whole assign→sum cascade is replayable in plain SQL. Past
    * that N the JVM result stays deterministic (Long sums, per-row
    * sequential loops) but cross-engine bit-replay is best-effort.
    */
  val KmeansQuantScale: Double = (1L << 12).toDouble

  /** Lloyd's k-means over the embedding column: deterministic seeds
    * (first `nlist` vectors), then `iters` assign→sum rounds. Each
    * round is one broadcast cross-score + one groupBy; lineage is cut
    * per round so the plan stays flat.
    *
    * Centroids are per-dimension SUMS of the members' quantized
    * (scaled-integer) embeddings, not float means: cosine is invariant
    * to positive scaling, so sum ≡ mean for every cosine this operator
    * takes, while Long addition is associative — the build is
    * bit-deterministic regardless of partitioning AND exactly
    * replayable by the DuckDB oracle (float avg is neither). Returned
    * `centroid` is array<double> of exactly-representable integers
    * (|sum| ≪ 2^53).
    */
  def kmeansCentroids(emb: DataFrame, nlist: Int, iters: Int = 2): DataFrame = {
    val seeds = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("cid"),
        quantize_vec(col("embedding"), KmeansQuantScale).cast("array<double>").as("centroid"))
    // per-dimension sum via posexplode + partial-agg: (cid, dim) keyed
    // shuffle of scalars — never a row holding a whole cluster's
    // vectors (a collect_list there blows a single row past executor
    // memory at corpus scale). Reassembly is nlist×dim tiny structs.
    Loop("kmeans", seeds, iters) { centroids =>
      assignNearest(emb, centroids)
        .select(col("cid"), posexplode(quantize_vec(col("embedding"), KmeansQuantScale)))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("sumv"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sumv")))),
          s => s.getField("sumv").cast("double")).as("centroid"))
    }._1
  }

  /** s2: IVF probe. Multi-iteration k-means over `nlist` deterministic
    * seeds; queries search the union of their `nprobe` closest clusters.
    */
  def ivf(t: Tables, nQueries: Int = 10, k: Int = 5, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    ivfAdmitted(emb, kmeansCentroids(emb, nlist), nQueries, nprobe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s9: IVF RANGE search — s8's threshold semantics through s2's
    * cell-pruned probe: candidates come only from each query's nprobe
    * cells, and every admitted candidate with cosine ≥ `minCos` is
    * returned (no fixed k). The production radius query at scale — the
    * probe reads nprobe/nlist of the corpus (the persisted-index form
    * prunes the same cells at directory level), while s8's exact scan is
    * the verify stage (the s8/s9 scale figures are in SURVEY.md,
    * "Measured design decisions"). An out-of-probed-cell vector within the radius is
    * deliberately absent (IVF's recall trade); the ORACLE replays the
    * same cell pruning, so the gate pins the exact admitted set.
    */
  def ivfRange(t: Tables, nQueries: Int = 10, minCos: Double = 0.2,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    ivfAdmitted(emb, kmeansCentroids(emb, nlist), nQueries, nprobe)
      .filter(col("cos") >= minCos)
      .select(col("query_id"), col("neighbor_id").as("match_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("match_id"))
  }

  /** The shared s2/s9 probe core: per-query nprobe cell admission over
    * a built centroid table, exact cosine on the admitted (query,
    * candidate) pairs — (query_id, neighbor_id, cos) with the UNROUNDED
    * cosine, tail (top-k rank vs radius threshold) chosen by the
    * caller.
    */
  private def ivfAdmitted(emb: DataFrame, refined: DataFrame,
      nQueries: Int, nprobe: Int): DataFrame = {
    val assigned = assignNearest(emb, refined)
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("cid"))

    // probe lists per query: nprobe nearest refined centroids
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(refined))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("query_emb"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("query_emb"), col("cid"))

    // the probe set (queries × nprobe) broadcasts; without the hint the
    // planner sort-merge-joins and SHUFFLES THE CORPUS on cid — the
    // exact cost IVF exists to avoid
    broadcast(probes)
      .join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("query_emb"), col("embedding")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** Persist the IVF layout: cluster assignments written
    * `partitionBy(cid)`, so a probe's scan prunes to its nprobe cluster
    * directories — at 100 TB a top-k search reads nprobe/nlist of the
    * corpus from disk, not all of it. The index is GENERATION-VERSIONED
    * with the dedup stores' claim/publish protocol, as a path store
    * ([[graft.sources.Warehouse.pathStore]]): data lands at
    * `<path>/g<gen>` (centroids beside it at
    * [[graft.sources.Warehouse.pathGenModel]], so a probe always pairs
    * centroids with their exact assignments) and
    * becomes visible only on publish — a rebuild racing live probes
    * clobbers nothing, and old generations are reclaimed by
    * [[vacuumIvfIndex]]. Returns the
    * centroid table.
    */
  def buildIvfIndex(t: Tables, path: String, nlist: Int = 16): DataFrame =
    buildIvfIndexOf(t.embeddings.select(col("vec_id"), col("embedding")), path, nlist)

  /** [[buildIvfIndex]] over any (vec_id, embedding) frame. */
  def buildIvfIndexOf(emb: DataFrame, path: String, nlist: Int = 16): DataFrame = {
    val refined = kmeansCentroids(emb, nlist)
    Warehouse.build(Warehouse.pathStore(path)) { gen =>
      assignNearest(emb, refined)
        .write.mode("overwrite").partitionBy("cid").parquet(Warehouse.pathGenData(path, gen))
      refined.write.mode("overwrite").parquet(Warehouse.pathGenModel(path, gen))
    }
    refined
  }

  /** s11: INCREMENTAL index ingest — append a batch of new vectors to a
    * published IVF index WITHOUT rebuilding it. The batch is assigned to
    * the live base generation's FIXED centroids and published as a
    * SEGMENT generation (the Lucene/FAISS segment model): a cid-
    * partitioned directory whose chain entry (see
    * [[graft.sources.Warehouse.appendSegmentWith]]) names the base
    * whose centroids routed it. Probes read base ∪ segments — at 100 TB
    * the corpus is k-means-assigned ONCE per rebuild and every ingest
    * batch costs only its own assignment (one broadcast cross-score over
    * the increment) plus a directory-sized write; nothing corpus-sized
    * moves. Quantization error accumulates as the data drifts from the
    * frozen centroids, so periodic rebuilds supersede segments (a new
    * base orphans them; [[vacuumIvfIndex]] reclaims).
    *
    * The declared contract (spec- and gate-pinned): probing after
    * append ≡ probing a one-shot index over the union corpus whose
    * k-means trained only on the base rows. Same claim/publish
    * protocol as the build — a failed append burns its claim and a
    * racing probe never sees a partial segment.
    */
  def appendToIvfIndex(inc: DataFrame, path: String,
      dedupeTag: Option[String] = None): Option[Long] =
    appendToIvfIndexHooked(inc, path, dedupeTag)

  /** [[appendToIvfIndex]] with a test seam: `beforePublish` runs after
    * the segment's data is written, immediately before the atomic
    * publish — specs inject a racing rebuild there to exercise the
    * lost-race path deterministically.
    */
  private[graft] def appendToIvfIndexHooked(inc: DataFrame, path: String,
      dedupeTag: Option[String] = None,
      beforePublish: () => Unit = () => ()): Option[Long] = {
    val spark = inc.sparkSession
    // the whole retry/cleanup protocol lives ONCE in
    // [[graft.sources.Warehouse.appendSegmentWith]] (committed-tag
    // skip, empty-increment guard — the raw increment's rows, counted by
    // the segment write itself since assignNearest is row-preserving —
    // atomic publish-or-refuse, and the provably-unpublished
    // cleanup guard). This wrapper contributes the IVF specifics: the
    // batch is assigned against the LIVE base's frozen centroids, per
    // attempt, so a re-append after a lost race routes against the
    // winner's centroids.
    Warehouse.appendSegmentWith[(DataFrame, () => Long)](Warehouse.pathStore(path),
      dedupeTag,
      prepare = base => {
        val (input, rows) = counted(inc)
        val centroids = ParquetSource.readImmutable(spark, Seq(Warehouse.pathGenModel(path, base)))
        (assignNearest(input, centroids), rows)
      },
      writeData = { case (gen, (assigned, rows)) =>
        assigned.write.mode("overwrite").partitionBy("cid").parquet(Warehouse.pathGenData(path, gen))
        rows()
      },
      beforePublish = beforePublish)
  }

  /** TAKEDOWN at the ANN layer: drop the removed vec_ids from base ∪
    * segments and publish the filtered assignments as the next full
    * generation, KEEPING the base's centroids verbatim — removal does
    * not re-train (k-means on the filtered corpus would move every
    * centroid and re-route every probe; re-training stays the periodic
    * REBUILD's job, exactly like [[appendToIvfIndex]]'s frozen-centroid
    * contract). The declared contract (spec-pinned): the published
    * index holds exactly the prior live read set's rows minus the
    * removed ids, with identical cid routing — so no probe can ever
    * return a removed vector, and every surviving result is unchanged.
    * Conditional publish: a segment landing mid-removal refuses the
    * commit and the removal re-folds.
    */
  def removeFromIvfIndex(vecIds: DataFrame, path: String): Unit = {
    val spark = vecIds.sparkSession
    val ids = vecIds.select(col("vec_id")).distinct().localCheckpoint(true)
    Warehouse.fold(Warehouse.pathStore(path))((base, segs) => Some((
      (base +: segs)
        .map(g => ParquetSource.readImmutable(spark, Seq(Warehouse.pathGenData(path, g))))
        .reduce(_ unionAll _),
      ParquetSource.readImmutable(spark, Seq(Warehouse.pathGenModel(path, base))))))(
      write = { case (gen, (index, centroids)) =>
        index.join(broadcast(ids), Seq("vec_id"), "left_anti")
          .write.mode("overwrite").partitionBy("cid").parquet(Warehouse.pathGenData(path, gen))
        centroids.write.mode("overwrite").parquet(Warehouse.pathGenModel(path, gen))
      },
      beforePublish = () => ())
  }

  /** Reclaim superseded IVF generations — the fixed-floor segmented
    * vacuum ([[graft.sources.Warehouse.vacuumSegmented]]): prior
    * bases and their segments go, the live base + its segments +
    * in-flight claims survive, and a racing segment publish can never
    * shift the live base into the dropped window.
    */
  def vacuumIvfIndex(path: String, minAgeMs: Long = 3600_000L): Unit =
    Warehouse.vacuumSegmented(Warehouse.pathStore(path), minAgeMs)

  /** Probe the persisted index: nearest `nprobe` centroids per query,
    * then search ONLY those cluster partitions (`cid IN (...)` prunes at
    * the directory level — verified via PartitionFilters in the plan).
    * The probe resolves the latest PUBLISHED generation at plan time and
    * stays pinned to it: a concurrent rebuild+publish changes nothing
    * this plan reads (re-plan to pick up the new generation).
    */
  def searchIvfIndex(t: Tables, path: String,
      nQueries: Int = 10, k: Int = 5, nprobe: Int = 4): DataFrame =
    searchIvfIndexWith(querySet(t, nQueries), path, k, nprobe)

  /** [[searchIvfIndex]]'s core over an ARBITRARY query frame
    * (query_id, query_emb) — also the streaming probe's per-micro-batch
    * body ([[graft.streaming.DocPipelines.ivfProbeStream]]): an online
    * query feed probes the same pinned published generation a batch
    * caller would.
    */
  def searchIvfIndexWith(q: DataFrame, path: String,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    indexAdmitted(q, path, nprobe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s9 against the PERSISTED index: radius search where the probe
    * reads ONLY the nprobe admitted cluster directories (partition
    * pruning at the parquet layout level) — the at-scale form of
    * [[ivfRange]], whose in-job variant must re-assign the corpus per
    * run. Same cell-admission semantics, threshold tail.
    */
  def searchIvfIndexRange(q: DataFrame, path: String,
      minCos: Double = 0.2, nprobe: Int = 4): DataFrame =
    indexAdmitted(q, path, nprobe)
      .filter(col("cos") >= minCos)
      .select(col("query_id"), col("neighbor_id").as("match_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("match_id"))

  /** Shared persisted-index probe core: centroid routing, directory
    * pruning to the admitted cells, exact cosine on admitted pairs —
    * (query_id, neighbor_id, cos) with the UNROUNDED cosine.
    */
  private def indexAdmitted(q: DataFrame, path: String, nprobe: Int): DataFrame = {
    val spark = q.sparkSession
    // segment-aware resolve: the live base build plus its published
    // append segments ([[appendToIvfIndex]]). Each generation dir is
    // read as its OWN partition-discovery root and the scans union —
    // one multi-root read trips Spark's conflicting-directory check
    // (sibling g<N> dirs under one inferred base path), while the union
    // pushes the cid IN-list into EACH scan's PartitionFilters, so
    // directory pruning holds across segments. A no-append index reads
    // exactly its base as before; the set is pinned at plan time — a
    // concurrent rebuild/append changes nothing this plan reads.
    val (baseGen, segs) = Warehouse.pathStore(path).resolveSegmented()
    val centroids = ParquetSource.readImmutable(spark, Seq(Warehouse.pathGenModel(path, baseGen)))
    val index = (baseGen +: segs)
      .map(g => ParquetSource.readImmutable(spark, Seq(Warehouse.pathGenData(path, g))))
      .reduce(_ unionAll _)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("query_emb"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("query_emb"), col("cid"))
      .localCheckpoint(true) // probes feed both the cid collect and the join
    val neededClusters = probes.select(col("cid")).distinct().collect().map(_.getInt(0))
    val pruned = index.filter(col("cid").isin(neededClusters.map(_.asInstanceOf[Any]).toSeq: _*))
    // probes broadcast: the pruned index partitions are read in place,
    // never shuffled on cid
    broadcast(probes)
      .join(pruned.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cid")), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("query_emb"), col("embedding")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** s3: LSH-bucketed ANN — the deterministic scale path that the DuckDB
    * oracle CAN verify end-to-end (unlike s2's floating-point k-means).
    * Same random-hyperplane sign sketch as d5 (16 bits, 4×4-bit bands):
    * a corpus vector is a candidate for a query iff they collide on at
    * least one band; exact cosine reranks candidates; top-k per query.
    *
    * Scale shape: sketches and band keys are computed map-side; the tiny
    * query band set broadcasts, so the corpus NEVER shuffles — each scan
    * row either matches a broadcast band key or dies in place. Candidate
    * attach is a second corpus scan filtered by the (small) candidate id
    * set; the ranking window runs on queries × candidates, not queries ×
    * corpus (brute force's cost).
    */
  def lshTopK(t: Tables, nQueries: Int = 10, k: Int = 5, nbits: Int = 0, seed: Long = 7L,
      bandBits: Int = 0): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    // geometry derived scale-safe from the corpus count by default
    // ([[graft.operators.scaleSafeLsh]] — d5/s4's r15 contract): a fixed
    // 4-bit band admits ~n/16 corpus rows PER query band at any n, so
    // the candidate rerank grows linearly with a corpus-sized constant;
    // the derived width keeps expected bucket occupancy flat instead.
    // Plain column expressions, not a transform() lambda: higher-order
    // functions run on the interpreted path per corpus row.
    val (nb, bb) = resolveLshGeometry(emb, nbits, bandBits)
    val mask = (1L << bb) - 1
    val bandCols = (0 until nb / bb).map(b =>
      shiftright(col("sketch"), b * bb).bitwiseAND(lit(mask)))
    val banded = emb
      .select(col("vec_id"), sign_sketch(col("embedding"), nb, seed).as("sketch"))
      .select(col("vec_id"), posexplode(array(bandCols: _*)))
      .select(col("vec_id"), col("pos").as("band_idx"), col("col").as("band_val"))
    val qb = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band_idx"), col("band_val"))
    val cand = banded.join(broadcast(qb), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qe = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("query_id"))
      .withColumn("cos", cosine_sim(col("query_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s4: approximate k-nearest-neighbor GRAPH over the whole corpus —
    * every vector's top-k neighbors, the precursor structure for
    * SemDeDup-style clustering, graph-based dedup (d6 consumes pair
    * graphs) and diversity sampling. Same deterministic sign-sketch LSH
    * as d5/s3: candidate pairs form ONLY on a shared 4-bit band
    * (undirected, `id_a < id_b`, computed once), exact cosine reranks,
    * and each undirected pair then feeds BOTH endpoints' top-k lists.
    *
    * Scale shape: the self-join shuffles (band_idx, band_val, vec_id)
    * keys — never embeddings; candidate cardinality ∝ band collisions
    * (d2's bucketed LSH argument, not n²). Embeddings attach to the
    * (small) candidate pair set via plain shuffle joins AQE can promote
    * to broadcasts; the per-node ranking window runs on candidates × 2,
    * not corpus².
    *
    * `maxBucketSize` defaults ON at [[QuadraticGuardDefault]] — a
    * degenerate one-bucket corpus fails loudly unless the caller
    * explicitly opts out with `None`.
    */
  def knnGraph(t: Tables, k: Int = 3, nbits: Int = 0, seed: Long = 7L,
      maxBucketSize: Option[Long] = Some(QuadraticGuardDefault),
      bandBits: Int = 0): DataFrame = {
    // band WIDTH is the scale lever, not band count: a band collapses
    // the corpus into 2^bandBits buckets, so candidates grow
    // ~bands · N²/2^bandBits for uncorrelated vectors — adding more
    // 4-bit bands only multiplies the quadratic. The DEFAULT derives
    // the geometry from the corpus count ([[graft.operators.
    // scaleSafeLsh]] — occupancy-capped, candidates linear in n);
    // SCALECHECK measures the fixed configs at sf1.
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val (nb, bb) = resolveLshGeometry(emb, nbits, bandBits)
    val mask = (1L << bb) - 1
    val bandCols = (0 until nb / bb).map(b =>
      shiftright(col("sketch"), b * bb).bitwiseAND(lit(mask)))
    val banded = emb
      .select(col("vec_id"), sign_sketch(col("embedding"), nb, seed).as("sketch"))
      .select(col("vec_id"), posexplode(array(bandCols: _*)))
      .select(col("vec_id"), col("pos").as("band_idx"), col("col").as("band_val"))
    // same fail-loudly philosophy as d8's maxClusterSize: a band bucket
    // holding B vectors yields B² candidate pairs — healthy sketches
    // spread buckets geometrically, but a degenerate corpus (constant
    // embeddings, a broken upstream normalizer) collapses into one
    // bucket and silently goes quadratic. The EAGER count runs before
    // the self-join is built; bucket keys are tiny (nbits/4 × ids).
    maxBucketSize.foreach { m =>
      val worst = banded.groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).limit(1).collect()
      worst.headOption.foreach { r =>
        throw new IllegalStateException(
          s"s4 band bucket exceeds maxBucketSize=$m: band ${r.get(0)} value ${r.get(1)} " +
            s"holds ${r.getAs[Long]("n")} vectors — the self-join would be quadratic; " +
            "widen the sketch (nbits) or fix the upstream embedding distribution")
      }
    }
    val pairs = banded.as("a")
      .join(banded.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val scored = pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), Seq("id_b"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .select(col("id_a"), col("id_b"), col("cos"))
    val directed = scored.select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"), col("cos"))
      .unionByName(scored.select(col("id_b").as("vec_id"), col("id_a").as("neighbor_id"), col("cos")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    directed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Assign each vector to its nearest centroid (centroids broadcast).
    * Arg-max via `max_by` partial aggregation, not a ranking window: the
    * n×nlist scored rows combine map-side to one row per vector, so only
    * n rows shuffle — a window would shuffle and sort the full cross
    * product. Tie-break (-cid in the ordering struct) matches
    * `orderBy(ccos.desc, cid)` exactly. The score is cosine of the
    * QUANTIZED vector vs the integer-sum centroid: both inputs are exact
    * integers in any engine, so the assignment is deterministic and
    * oracle-replayable.
    */
  /** Probe sets exactly as the operators compute them (quantized query
    * × centroid ranking) — exposed so specs can assert candidate
    * provenance without duplicating the formula.
    */
  private[graft] def ivfProbesForSpec(t: Tables, centroids: DataFrame,
      nQueries: Int, nprobe: Int): Map[Long, Set[Int]] = {
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid"))
    querySet(t, nQueries).crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("query_emb"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cid"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
  }

  private[graft] def assignNearest(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("embedding"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("embedding"), col("cid")),
        struct(col("ccos"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"), col("m.cid").as("cid"))

  /** s7: hybrid retrieval via reciprocal-rank fusion (Cormack 2009) —
    * the keyword leg (t17's BM25 ranking over the pinned query terms)
    * and the vector leg (cosine vs a pinned query embedding) fuse as
    * rrf = Σ 1/(60 + rank_leg); a doc ranked by only one modality
    * contributes that leg alone. Rank fusion beats score fusion here
    * because BM25 and cosine live on incomparable scales — ranks are
    * scale-free AND integer, which makes the whole fusion
    * engine-exact (each 1/(60+r) term rounds at 8 dp; sums of two
    * identical doubles are order-free).
    *
    * Scale shape: each leg ranks with the distributed range-partitioned
    * row-number (never a single global window); the two rank tables are
    * compact (id, int) rows, the join is co-keyed on doc_id, and only
    * the fused top-k surfaces. The documents and embeddings corpora are
    * scanned once each.
    */
  def hybridRrf(t: Tables, queryVecId: Long = 0L, topK: Int = 10, rrfK: Int = 60): DataFrame = {
    val qv = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("query_emb"))
    val cosRanks = Ranking.globalRowNumber(
      t.embeddings.filter(col("vec_id") =!= queryVecId)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(cosine_sim(col("embedding"), col("query_emb")), 6).as("cos")),
      Seq(col("cos").desc, col("doc_id")), "r_vec")
      .select(col("doc_id"), col("r_vec"))
    val textRanks = TextAnalysis.bm25Ranks(t, excludeDocId = queryVecId)
    val w = Window.orderBy(col("rrf").desc, col("doc_id"))
    cosRanks
      .join(textRanks, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(round(lit(1.0) / (lit(rrfK) + col("r_vec")), 8), lit(0.0)) +
          coalesce(round(lit(1.0) / (lit(rrfK) + col("r_text")), 8), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
      // presentation rank over topK rows only, after the cut
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("rrf"), col("r_vec"), col("r_text"))
      .orderBy(col("rank"))
  }
}
