package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.sources.Tables

/** s5: product-quantization ANN — the memory-compression scale path.
  *
  * IVF (s2) prunes WHICH vectors a probe reads; PQ shrinks WHAT each
  * vector costs: the corpus is encoded as `m` small cluster codes (one
  * per embedding subspace), so candidate scoring touches `m` integers
  * per vector instead of `dim` floats — at 100 TB of float32 embeddings
  * the code table is ~1/32nd the size and fits page-cache tiers the raw
  * vectors never could. Scoring is the classic asymmetric-distance
  * computation (ADC): each query precomputes a (sub, code) → partial-dot
  * lookup table against the codebooks; a corpus vector's approximate
  * score is the sum of its `m` table hits; the top `nCandidates` rerank
  * by exact cosine on the raw vectors (s3's candidate-rerank pattern).
  *
  * Determinism/oracle: the per-subspace codebooks come from the same
  * quantized integer-sum Lloyd's iterations as s2 ([[Similarity
  * .kmeansCentroids]]'s arithmetic with a `sub` key): embeddings
  * quantize to scaled longs, centroids are per-dimension integer SUMS
  * (cosine is scale-invariant, so sum ≡ mean), every score is an
  * integer-valued double < 2^53 — exact in any engine, so assignment
  * argmaxes, ADC sums and tie-breaks replay bit-for-bit in DuckDB.
  *
  * Scale shape: codebooks (m·nlist rows) and the per-query LUT
  * (nQueries·m·nlist rows) broadcast; the corpus-side ADC is a
  * broadcast-hash join + map-side partial aggregate keyed
  * (query_id, vec_id) — raw embeddings enter exactly two places (the
  * one-scan encode, the nCandidates-sized rerank attach) and never an
  * exchange keyed by anything but their own id.
  */
object ProductQuant {

  import Similarity.KmeansQuantScale

  /** (vec_id, sub, q): quantized subvectors, one row per subspace. */
  private[graft] def subvectors(emb: DataFrame, m: Int, subDim: Int): DataFrame = {
    val subCols = (0 until m).map(s =>
      quantize_vec(slice(col("embedding"), s * subDim + 1, subDim), KmeansQuantScale)
        .cast("array<double>"))
    emb.select(col("vec_id"), posexplode(array(subCols: _*)))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("q"))
  }

  /** [[subvectors]] over an ALREADY-integer vector column (the residual
    * path's input — residuals are integer-exact by construction, so no
    * re-quantization).
    */
  private def splitSubs(df: DataFrame, vecCol: String, m: Int, subDim: Int): DataFrame = {
    val subCols = (0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim))
    df.select(col("vec_id"), posexplode(array(subCols: _*)))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("q"))
  }

  /** Per-subspace codebooks via s2's integer-sum Lloyd's rounds, all `m`
    * subspaces trained in the same jobs (`sub` rides in every key) — and
    * only over the `trainSize`-bounded sample: codebook TRAINING is the
    * one stage whose joins shuffle subvector payloads, so it must never
    * scale with the corpus (the universal PQ practice — codebooks from a
    * bounded sample, full corpus only ENCODED, map-side, against the
    * broadcast books). The id-prefix sample is deterministic and
    * oracle-replayable (`WHERE vec_id < trainSize` in the SQL twin).
    * Returns (sub, cid, centroid: array<double> of exact integers).
    */
  private[graft] def codebooks(sv: DataFrame, nlist: Int, iters: Int,
      trainSize: Long): DataFrame = {
    val tv = sv.filter(col("vec_id") < trainSize)
    val seeds = tv.filter(col("vec_id") < nlist)
      .select(col("sub"), col("vec_id").cast("int").as("cid"), col("q").as("centroid"),
        lit(1L).as("pop"))
    // `pop` = the training members whose coordinates formed this sum —
    // the divisor that turns the integer-sum centroid into a mean.
    // Cosine consumers (assignment, the raw ADC) ignore it; the
    // residual ADC divides by it so codes with different populations
    // score on the same scale.
    Loop("codebooks", seeds, iters) { centroids =>
      assignCodes(tv, centroids)
        .join(tv, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"), posexplode(col("q")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("col")).as("sumv"), count(lit(1)).as("npos"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sumv")))),
          s => s.getField("sumv")).as("centroid"),
          max(col("npos")).as("pop"))
    }._1
  }

  /** Nearest codebook entry per (vec_id, sub): cosine argmax via map-side
    * `max_by` partials (s2's assignNearest shape), tie → lowest cid. The
    * centroid join keys on `sub`, an equi-join against a broadcast-sized
    * codebook — no cross join anywhere in the encode.
    */
  private[operators] def assignCodes(sv: DataFrame, centroids: DataFrame): DataFrame =
    sv.join(broadcast(centroids), Seq("sub"))
      .withColumn("ccos", cosine_sim(col("q"), col("centroid")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("ncid"))).as("cid"))

  /** Exact integer dot of two exact-integer double arrays (the ADC LUT
    * entry). Positional zip keeps both engines' summation order moot:
    * every partial is an integer-valued double < 2^53.
    */
  private def intDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** s5: PQ-ADC top-k. Defaults sized to the test corpus (dim 64 → m=4
    * 16-dim subspaces, 16 codes each, 64-candidate rerank).
    */
  def pqTopK(t: Tables, nQueries: Int = 10, k: Int = 5, m: Int = 4,
      nlist: Int = 16, iters: Int = 2, nCandidates: Int = 64,
      trainSize: Long = 1024L): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sv = subvectors(emb, m, dim / m)
    val books = codebooks(sv, nlist, iters, trainSize)
    val codes = assignCodes(sv, books)

    val lut = adcLut(sv, books, nQueries)

    // ADC: each corpus code row hits the broadcast LUT; m scalar rows
    // combine map-side into one (query_id, vec_id, adc) row
    val wC = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"), count(lit(1)).as("nsub"))
      // a vector scores only if ALL m subspace codes hit the LUT —
      // partial sums of fewer subspaces are not comparable
      .filter(col("nsub") === m)
      .withColumn("cr", row_number().over(wC))
      .filter(col("cr") <= nCandidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    rerankExact(cand, emb, nQueries, k)
  }

  /** Per-query ADC lookup table: (query_id, sub, cid) → exact-integer
    * partial dot against the codebooks. nQueries·m·nlist rows —
    * broadcast-sized by construction.
    */
  private def adcLut(sv: DataFrame, books: DataFrame, nQueries: Int): DataFrame =
    sv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("q"))
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        intDot(col("q"), col("centroid")).as("pdot"))

  /** Exact-cosine rerank of a (query_id, neighbor_id) candidate set —
    * s3's tail, shared by s5 and s6 so the two ANN paths cannot diverge
    * in their final ranking semantics.
    */
  private def rerankExact(cand: DataFrame, emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
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

  /** s6: IVF-PQ — the production ANN composition (FAISS's IVFPQ shape):
    * IVF prunes WHICH cells a probe reads (nprobe/nlist of the corpus),
    * PQ shrinks WHAT each candidate costs (m codes summed through a
    * broadcast ADC LUT), and the top-`nCandidates` rerank by exact
    * cosine. This variant encodes RAW vectors, not residuals — the
    * trade that keeps every stage integer-exact, so the s2 coarse
    * replica and the s5 fine replica COMPOSE into one fully-replayed
    * DuckDB oracle (a residual encode would break the shared-arithmetic
    * determinism both replicas depend on).
    *
    * Scale shape: the ADC scan touches ONLY probed cells' code rows —
    * the candidate-pair set joins the code table then the broadcast
    * LUT, (query, candidate)·m scalar rows total; raw embeddings appear
    * in the one-scan encode and the candidate-sized rerank attach,
    * nowhere else. With the persisted IVF layout
    * ([[Similarity.buildIvfIndex]]) the same probe reads nprobe/nlist
    * of the corpus from disk; this operator is the in-job form.
    */
  def ivfPqTopK(t: Tables, nQueries: Int = 10, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 4, pqNlist: Int = 16, iters: Int = 2,
      nCandidates: Int = 64, trainSize: Long = 1024L): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")

    // coarse routing: s2's full-dimension quantized k-means, corpus
    // assigned once, queries probe their nprobe best cells
    val coarse = Similarity.kmeansCentroids(emb, nlist, iters)
    val assigned = Similarity.assignNearest(emb, coarse).select(col("vec_id"), col("cid"))
    val q = Similarity.querySet(t, nQueries)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(coarse))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("query_emb"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cid"))
    val candPairs = broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))

    // fine scoring: s5's codebooks/codes/LUT, restricted to the pairs
    // the coarse stage admitted
    val sv = subvectors(emb, m, dim / m)
    val books = codebooks(sv, pqNlist, iters, trainSize)
    val codes = assignCodes(sv, books)
    val lut = adcLut(sv, books, nQueries)
    val wC = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = candPairs
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"), count(lit(1)).as("nsub"))
      .filter(col("nsub") === m)
      .withColumn("cr", row_number().over(wC))
      .filter(col("cr") <= nCandidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    rerankExact(cand, emb, nQueries, k)
  }

  /** s12: IVF-PQ with RESIDUAL encoding — the FAISS-default refinement
    * [[ivfPqTopK]] deliberately skipped. PQ codes quantize the vector's
    * OFFSET from its coarse cell instead of the raw vector: residuals
    * cluster tighter than raw vectors (the coarse stage already explains
    * the between-cell variance), so the same code budget approximates
    * the true dot product better and the candidate ranking improves —
    * ProductQuantSpec measures the recall lift against the raw path on
    * the same corpus.
    *
    * The r14 verdict's determinism objection ("a residual encode would
    * break the shared-arithmetic determinism") is dissolved by keeping
    * the residual IN the scaled-integer domain: with q the quantized
    * vector, c its cell, cnt_c the cell population and s_c the cell's
    * integer coordinate SUMS (what [[Similarity.kmeansCentroids]]
    * already produces — sum ≡ mean for cosine), the residual is
    *
    *   r = q·cnt_c − s_c            (exact integers; v ≡ (s_c + r)/cnt_c)
    *
    * so codebook training, encoding and ADC all replay in DuckDB
    * exactly like the raw path. The candidate score recomposes the dot
    * estimate: dot(q', v) = (dot(q', s_c) + dot(q', r_v)) / cnt_c with
    * dot(q', r_v) ≈ the residual-ADC sum — every term an integer-valued
    * double < 2^53 (bound: dim·q_max²·cnt·train ≈ 2^44 at gate scale),
    * and the single final division is one IEEE op both engines perform
    * identically. Scale shape is [[ivfPqTopK]]'s: per-cell scalars
    * (cnt, coarse dot) broadcast; only the residual LUT join replaces
    * the raw LUT join.
    *
    * `refineFactor` (FAISS's IndexRefineFlat stage, 0 = off): with a
    * TIGHT shortlist (nCandidates close to k) the ADC estimate decides
    * which vectors ever reach the exact rerank, and its within-cell
    * noise costs recall (the STRICT clustered spec measures 0.38 at
    * nCandidates = 8). refineFactor = c widens the exact-cosine pool to
    * max(nCandidates, c·k): the ADC still prunes the cell population,
    * but the final ranking is exact over c·k vectors — the candidates
    * are already fetched for the probed cells, so the extra cost is
    * c·k − nCandidates exact dot products per query, traded directly
    * for recall (spec: strictly above the unrefined path; measured in
    * SURVEY.md, "Measured design decisions").
    */
  def ivfPqResidualTopK(t: Tables, nQueries: Int = 10, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 4, pqNlist: Int = 16, iters: Int = 2,
      nCandidates: Int = 64, trainSize: Long = 1024L, refineFactor: Int = 0): DataFrame = {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")

    // coarse routing — identical to the raw path
    val coarse = Similarity.kmeansCentroids(emb, nlist, iters)
    val assigned = Similarity.assignNearest(emb, coarse).select(col("vec_id"), col("cid"))
    val q = Similarity.querySet(t, nQueries)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(coarse))
      .withColumn("ccos", cosine_sim(
        quantize_vec(col("query_emb"), KmeansQuantScale).cast("array<double>"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cid"))
    val candPairs = broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))

    // integer residuals: r = q·cnt − s_c, one corpus scan, cell scalars
    // and centroid sums broadcast
    val cellCnt = assigned.groupBy(col("cid")).agg(count(lit(1)).as("cnt"))
    val qint = emb.select(col("vec_id"),
      quantize_vec(col("embedding"), KmeansQuantScale).cast("array<double>").as("qv"))
    val resid = qint.join(assigned, Seq("vec_id"))
      .join(broadcast(cellCnt), Seq("cid"))
      .join(broadcast(coarse), Seq("cid"))
      .select(col("vec_id"),
        zip_with(col("qv"), col("centroid"), (x, s) => x * col("cnt") - s).as("rv"))
    val rsv = splitSubs(resid, "rv", m, dim / m)

    // residual codebooks/codes (same integer k-means), LUT from the PLAIN
    // query ints against the residual books. The entry is the MEAN-level
    // partial dot: dot(q'_sub, rsum_code) / pop_code — one IEEE division
    // over integer-valued operands (deterministic, replayed verbatim);
    // without the division the entry is scaled by the code's training
    // population, which varies per code and wrecks within-cell ranking
    // (measured: recall 0.66 vs the raw path's 0.84 before this fix).
    val rbooks = codebooks(rsv, pqNlist, iters, trainSize)
    val rcodes = assignCodes(rsv, rbooks)
    val qsv = subvectors(emb, m, dim / m)
    val lutR = qsv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("q"))
      .join(broadcast(rbooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        (intDot(col("q"), col("centroid")) / col("pop")).as("pdot"))

    // per-(query, cell) coarse dot — nQueries·nlist scalars, broadcast
    val coarseDot = qint.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv"))
      .crossJoin(broadcast(coarse))
      .select(col("query_id"), col("cid"), intDot(col("qv"), col("centroid")).as("cdot"))

    // pdot entries are no longer integer-valued, so their sum's FP
    // association must be pinned: one column per subspace, folded left
    // to right — both engines add (((p0+p1)+p2)+p3), bit-identically
    val subCols = (0 until m).map(i =>
      max(when(col("sub") === i, col("pdot"))).as(s"p$i"))
    val radcSum = (0 until m).map(i => col(s"p$i")).reduce(_ + _)
    val wC = Window.partitionBy(col("query_id")).orderBy(col("sc").desc, col("vec_id"))
    val cand = candPairs
      .join(rcodes, Seq("vec_id"))
      .join(broadcast(lutR), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(subCols.head, (subCols.tail :+ count(lit(1)).as("nsub")): _*)
      .filter(col("nsub") === m)
      .withColumn("radc", radcSum)
      .join(assigned, Seq("vec_id"))
      .join(broadcast(cellCnt), Seq("cid"))
      .join(broadcast(coarseDot), Seq("query_id", "cid"))
      // dot estimate of the candidate: dot(q', v) = (dot(q', s_c) +
      // dot(q', r_v)) / cnt_c — r is cnt-scaled by construction, so BOTH
      // terms divide by the candidate's cell population; one addition
      // then one division, the same two IEEE ops the oracle runs
      .withColumn("sc", (col("cdot") + col("radc")) / col("cnt"))
      .withColumn("cr", row_number().over(wC))
      .filter(col("cr") <= (if (refineFactor > 0)
        math.max(nCandidates, refineFactor * k) else nCandidates))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    rerankExact(cand, emb, nQueries, k)
  }
}
