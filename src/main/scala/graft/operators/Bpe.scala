package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSparkInterop, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.sources.Tables

/** t13: BPE merge training (Sennrich et al. 2016) — the tokenizer-training
  * step of an LM data pipeline, run the way production BPE trainers run it:
  * ONE corpus scan builds the word-frequency dictionary, then every merge
  * round operates on the vocabulary-sized dict only (cached; the corpus is
  * never rescanned). Re-expresses the reference's "derive compact lookup
  * structures once, reuse per row" shape
  * (/root/reference/loaders/base_loader.py:176-211) at tokenizer scale.
  *
  * Scale contract (100 TB corpus):
  *  - the corpus-sized stage is the single word-count scan (explode of the
  *    subword pre-tokenizer, map-side partial agg, one (word) exchange);
  *    the dict that survives is vocabulary-sized (millions of rows, ~50 B
  *    each) and is persisted across rounds;
  *  - each merge round is one map-side pair explode over the dict + a
  *    (pair) aggregation, followed by a 1-row `limit(1).collect()` (the
  *    bounded two-action pattern dc5/t11 use) and a map-side rewrite of
  *    the symbol arrays — no round touches the corpus;
  *  - the merge itself is pure array arithmetic (codegen'd higher-order
  *    functions), no UDF.
  *
  * Greedy-merge semantics are pinned so the DuckDB oracle can replay them
  * exactly: pair counts are SLIDING adjacent pairs (overlapping runs count
  * each adjacency, the classic dict-BPE convention), the best pair is
  * (count DESC, lhs ASC, rhs ASC) — a total order, so `limit(1)` is
  * deterministic — and a merge rewrites leftmost-first non-overlapping
  * occurrences. Overlap only arises for lhs == rhs runs ("a a a a"); the
  * accumulator in [[mergePair]] skips a match that starts where the
  * previous selected match ended, which is exactly leftmost-first.
  */
object Bpe {

  val EndMark = "</w>"

  /** The t3 subword pre-tokenizer — ONE definition shared with
    * TextAnalysis (and, via interpolation, the SQL replicas).
    */
  private val PreTokenRegex = TextAnalysis.SubwordRegex

  /** One corpus scan → (word, freq). The only corpus-sized stage. */
  private[graft] def wordFreq(t: Tables): DataFrame =
    t.documents
      .select(explode(regexp_extract_all(lower(col("text")), lit(PreTokenRegex), lit(0))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** word → initial symbol sequence: its characters plus the end-of-word
    * marker (so word-final merges stay distinct from word-internal ones).
    */
  private def initialSymbols(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(EndMark)))

  /** Sliding adjacent pairs of a symbol array as (l, r) structs; empty for
    * single-symbol words (explode then drops the row).
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Rewrite one merge into a symbol array: leftmost-first non-overlapping
    * occurrences of (a, b) become a+b. Pure codegen'd array ops:
    * match positions → greedy selection via `aggregate` (skip a match
    * starting where the previous selected one ended) → rebuild.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column = {
    val n = size(syms)
    // 0-based positions p with syms[p]==a && syms[p+1]==b. Words always
    // have n >= 2 (a character plus the end marker), but guard n < 2
    // anyway: sequence(0, n-2) would DESCEND for n = 1.
    val matches = when(n >= 2,
      filter(sequence(lit(0), n - 2),
        p => element_at(syms, p + 1) === lit(a) && element_at(syms, p + 2) === lit(b)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val sel = aggregate(
      matches,
      struct(array().cast(ArrayType(IntegerType)).as("sel"), lit(-2).cast(IntegerType).as("last")),
      (acc, p) =>
        when(p === acc.getField("last") + 1, acc)
          .otherwise(struct(concat(acc.getField("sel"), array(p)).as("sel"), p.cast(IntegerType).as("last"))),
      acc => acc.getField("sel"))
    // drop the position right after a selected match, substitute the
    // merged symbol at selected positions, keep the rest
    transform(
      filter(sequence(lit(0), n - 1), i => !array_contains(sel, i - 1)),
      i => when(array_contains(sel, i), lit(a + b)).otherwise(element_at(syms, i + 1)))
  }

  /** Run the training loop: returns the merge steps (in order) and the
    * post-merge dict (word, syms, freq) STILL PERSISTED and already
    * materialized — the caller consumes it (one action or a small
    * projection) and unpersists; recomputing the whole chain here just
    * to drop the cache would pay the corpus-sized word-count stage a
    * second time. A failed round unpersists before rethrowing.
    */
  private[graft] def train(t: Tables, numMerges: Int): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val spark = t.documents.sparkSession
    // the session-wide wide-start shuffle (AQE initialPartitionNum,
    // GraftSession) exists for corpus-sized partial aggregations; this
    // loop persists a VOCABULARY-sized cache and runs 2 actions x
    // numMerges sequential rounds over it. A cached plan does NOT apply
    // AQE output coalescing (canChangeCachedPlanOutputPartitioning is
    // off), so under the wide start every round iterates 256 mostly-
    // empty cached partitions — measured t13 2.44 s -> 6.04 s quiet at
    // sf0.1. The chain is built and iterated in a child session whose
    // wide start is the coalesce floor (the session's fan-out,
    // GraftSession.fanOut — never SQLConf's numShufflePartitions getter,
    // which returns initialPartitionNum itself while coalescing is on):
    // persist() bakes the cached plan's conf at call time, and the
    // caller's conf is never touched. The dict returns to the caller's
    // session, where the cache manager both sessions share still serves
    // and unpersists it.
    val scoped = GraftSession.scoped(spark, Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        GraftSession.fanOut(spark).toString))
    var cached = GraftSparkInterop.ofRows(scoped, wordFreq(t))
      .withColumn("syms", initialSymbols(col("word")))
      .select(col("word"), col("syms"), col("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    // ONE action per merge round: the round's best-pair collect is the
    // action that materializes the round's cache (computed FROM the
    // still-cached parent), and the parent unpersists only after that
    // collect returns — the former explicit count() per round was a
    // second sequential job whose only purpose the collect already
    // serves, and the loop's cost is its sequential job count.
    var parent: Option[DataFrame] = None
    try {
      for (step <- 1 to numMerges) graft.Phase("bpe.round") {
        val best = cached
          .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
          .agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("lhs"), col("rhs"))
          .limit(1)
          .collect() // 1 row by construction — the bounded-collect pattern
        parent.foreach(_.unpersist()) // this round's collect materialized `cached`
        parent = None
        if (best.nonEmpty) {
          val (a, bSym, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          steps += ((step.toLong, a, bSym, a + bSym, n))
          val next = cached.withColumn("syms", mergePair(col("syms"), a, bSym))
            .persist(StorageLevel.MEMORY_AND_DISK)
          parent = Some(cached)
          cached = next
        }
      }
      cached.count() // the contract: the returned dict is materialized
      parent.foreach(_.unpersist())
    } catch { case e: Throwable =>
      parent.foreach(_.unpersist()); cached.unpersist(); throw e
    }
    (steps.toSeq, GraftSparkInterop.ofRows(spark, cached))
  }

  /** The learned merge table: one row per merge step, in order. This is
    * the artifact a tokenizer trainer persists (merges.txt).
    */
  def bpeMerges(t: Tables, numMerges: Int = 8): DataFrame = {
    val spark = t.documents.sparkSession
    val (steps, dict) = train(t, numMerges)
    dict.unpersist() // only the merge table is consumed here
    spark.createDataFrame(steps)
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("step"))
  }

  /** t14: ENCODE the corpus with the learned tokenizer — the operation a
    * pipeline runs on every document forever after training once. A
    * word's BPE token count is the length of its fully-merged symbol
    * sequence, and the trained dict already holds exactly that — so
    * encoding is the (doc, word) explode joined against the
    * vocabulary-sized dict (un-hinted, t6's contract: AQE broadcasts
    * the dict when it measures small) and a per-doc sum. Text dies at
    * the explode; only (doc_id, word) rows shuffle.
    *
    * The trained (word → count) map is snapshotted off the training
    * cache via an eager localCheckpoint (vocabulary-sized, ~16 B/row)
    * so the corpus-scale word-count stage is NOT recomputed when the
    * returned plan executes; at 100 TB prefer [[buildDictStore]] +
    * [[bpeEncodeAgainstStore]] (train once, encode forever).
    */
  def bpeEncode(t: Tables, numMerges: Int = 8): DataFrame = {
    val (_, dict) = train(t, numMerges)
    val wordTokens = dict
      .select(col("word"), size(col("syms")).cast(LongType).as("word_bpe"))
      .localCheckpoint(true)
    dict.unpersist()
    encodeAgainst(t, wordTokens)
  }

  private def corpusWords(t: Tables): DataFrame = docWords(t.documents)

  private def docWords(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(PreTokenRegex), lit(0))).as("word"))
      .filter(col("word") =!= "")

  private def encodeAgainst(t: Tables, wordTokens: DataFrame): DataFrame =
    corpusWords(t)
      .join(wordTokens, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("word_bpe")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Persist the trained tokenizer as a warehouse store — the 100 TB
    * train-once/encode-forever shape [[bpeEncode]]'s scaladoc promises,
    * implemented with the dedup stores' generation protocol:
    * `<name>_merges` (the merges.txt artifact) and `<name>_dict`
    * (word → BPE token count, bucketed on `word` for shuffle-free
    * probes) publish atomically; a failed build drops its half-written
    * tables and burns its claim, leaving the prior generation live.
    */
  def buildDictStore(t: Tables, name: String, numMerges: Int = 8, buckets: Int = 0): Unit = {
    import graft.sources.Warehouse
    val spark = t.documents.sparkSession
    Warehouse.build(Warehouse.tableStore(spark, name, Seq("dict", "merges"))) { gen =>
      val (steps, dict) = train(t, numMerges)
      try
        Warehouse.writeBucketed(
          dict.select(col("word"), size(col("syms")).cast(LongType).as("word_bpe")),
          Warehouse.storeTableName(name, gen, "dict"), "word", buckets)
      finally dict.unpersist()
      spark.createDataFrame(steps)
        .toDF("step", "lhs", "rhs", "merged", "pair_count")
        .write.format("parquet").saveAsTable(Warehouse.storeTableName(name, gen, "merges"))
    }: Unit
  }

  /** t14 against the persisted store: the corpus is tokenized once, the
    * probe side repartitions its (word) keys to the store's bucket
    * layout, and the dict side never shuffles (the d7 ingest shape).
    * On the training corpus the output equals [[bpeEncode]] exactly
    * (spec-asserted). Out-of-vocabulary words — the point of
    * encode-forever is encoding corpora the store was NOT trained on —
    * fall back to true BPE: the stored merge list (≤ numMerges rows,
    * collected bounded) is applied in rank order to the unseen word's
    * characters map-side, so nothing is silently dropped or
    * undercounted (spec-asserted on an unseen-word corpus). The probe's
    * bucket count derives from the dict table's catalog metadata (pass
    * 0, the default); a nonzero value is validated against it.
    */
  def bpeEncodeAgainstStore(t: Tables, name: String, buckets: Int = 0): DataFrame =
    encodeDocsAgainstStore(t.documents, name, buckets)

  /** [[bpeEncodeAgainstStore]] over any (doc_id, text) frame — shared
    * with the streaming twin, whose micro-batches are not a Tables.
    */
  def encodeDocsAgainstStore(docs: DataFrame, name: String, buckets: Int = 0): DataFrame = {
    import graft.sources.Warehouse
    val spark = docs.sparkSession
    // resolve ONCE so dict and merges pin to the same generation even
    // if a rebuild publishes mid-plan
    val gen = Warehouse.resolveGeneration(spark, name)
    val dict = Warehouse.table(spark, Warehouse.storeTableName(name, gen, "dict"))
    val storeBuckets = Warehouse.storeLayout(spark, "BPE dict", name, gen, "dict", buckets).buckets
    val merges = Warehouse.table(spark, Warehouse.storeTableName(name, gen, "merges"))
      .orderBy(col("step")).collect() // ≤ numMerges rows — bounded
    // probe keys carry a distinct name so the plan (and its spec) can
    // tell the batch-side exchange from a store-side one (d7's idiom)
    var joined = docWords(docs)
      .withColumnRenamed("word", "pword")
      .repartition(storeBuckets, col("pword"))
      .join(dict, col("pword") === col("word"), "left")
      .withColumn("oov_syms", initialSymbols(col("pword")))
    // one withColumn PER merge, not one folded Column: each rewrite
    // references the previous round as an attribute, so the expression
    // tree stays linear in numMerges (a nested fold references the
    // child ~5× per level and the Column tree grows 5^N)
    merges.foreach { m =>
      joined = joined.withColumn("oov_syms",
        when(col("word_bpe").isNull,
          mergePair(col("oov_syms"), m.getString(1), m.getString(2)))
          .otherwise(col("oov_syms")))
    }
    joined
      .withColumn("word_bpe", coalesce(col("word_bpe"), size(col("oov_syms")).cast(LongType)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("word_bpe")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }
}
