package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed warehouse tables — the co-located-join layout. Writing both
  * sides of a frequently-joined pair `bucketBy(n, key)` pins an
  * identical hash partitioning on disk, so every subsequent join reads
  * co-bucketed files and skips the shuffle entirely (plan shows no
  * Exchange on either side). At 100 TB this converts the nightly
  * fact⋈fact join from a full-network shuffle into a local merge.
  *
  * Bucketed tables live in the session catalog (`saveAsTable`). The
  * bucket count follows one rule: a build writes the session's fan-out
  * ([[graft.GraftSession.fanOut]], `spark.sql.shuffle.partitions`)
  * unless the caller passes an explicit count, and every append, fold
  * and probe derives the count from the store's own catalog metadata
  * ([[storedBuckets]]), never from a caller default.
  */
object Warehouse {

  /** Write `df` as a bucketed+sorted catalog table.
    *
    * The input is hash-repartitioned onto the bucket layout first: a
    * bucketed write from N upstream partitions otherwise opens a writer
    * per (task, bucket) and the table lands as up to N × buckets files
    * (measured: 32-bucket band/shingle tables written from ~32-task
    * upstreams produced ~1,000 files each), which taxes the write (file
    * opens + commits) and EVERY subsequent probe read (listing + footer
    * per file). With the aligned exchange each bucket is exactly one
    * task → one file. This is the write-side hash distribution the
    * Iceberg `write.distribution-mode=hash` pattern names; the exchange
    * it adds moves the compact store rows once. `buckets = 0` writes
    * the session's fan-out ([[graft.GraftSession.fanOut]]), sized with
    * the cluster once per deployment; appends and folds pass the count
    * their base was built with, so every generation of a store shares
    * one layout.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val n = if (buckets > 0) buckets else graft.GraftSession.fanOut(df.sparkSession)
    df.repartition(n, org.apache.spark.sql.functions.col(bucketCol))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(n, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Run independent bucketed table writes CONCURRENTLY (guide §2.6 —
    * overlap independent jobs): a store generation publishes 2+ tables
    * whose write jobs are each mostly fixed cost (exchange, file
    * commit, catalog update) at ingest-batch sizes, and the scheduler
    * back-fills one write's idle tail with the other's tasks. Callers
    * must pass writes with NO data dependency (each side's frame built
    * from inputs that exist before the call — e.g. a checkpointed
    * signature frame, never a read-back of a sibling write). All
    * writes are awaited; the first failure rethrows after both sides
    * settle, so the caller's unpublish/cleanup path sees a stable
    * state.
    */
  private[graft] def writeBucketedConcurrently(
      writes: Seq[(DataFrame, String, String, Int)]): Unit =
    runConcurrently(writes.map { case (df, t, c, n) => () => writeBucketed(df, t, c, n) })

  /** The thread mechanics behind [[writeBucketedConcurrently]], for
    * publishes whose sides are not both bucketed (e.g. the BM25
    * postings table + its one-row stats table). Every task is awaited;
    * the first failure rethrows after all settle, carrying every other
    * task's failure as a suppressed exception.
    */
  private[graft] def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = tasks.map { t =>
        val th = new Thread(() =>
          try t() catch { case e: Throwable => errs.add(e) })
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      if (!errs.isEmpty) {
        val first = errs.poll()
        errs.forEach(e => if (e ne first) first.addSuppressed(e))
        throw first
      }
    }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** The bucket count a table was written with, from catalog metadata
    * (None for unbucketed/unknown) — appenders derive the base build's
    * layout from this instead of trusting a caller-repeated parameter.
    */
  def bucketCount(spark: SparkSession, name: String): Option[Int] =
    scala.util.Try(
      spark.sql(s"DESCRIBE EXTENDED $name")
        .filter(org.apache.spark.sql.functions.col("col_name") === "Num Buckets")
        .head().getString(1).trim.toInt).toOption

  /** The bucket count store table `<name>__g<gen>_<suffix>` was built
    * with, for every append, fold and probe that must match the store's
    * layout: `given == 0` derives it from catalog metadata (unreadable
    * metadata fails loudly — a guessed layout silently voids
    * co-partitioning); a nonzero `given` is validated against the
    * stored count, so caller-vs-store drift fails loudly too.
    */
  private[graft] def storedBuckets(spark: SparkSession, name: String, gen: Long,
      suffix: String, given: Int): Int = {
    val stored = bucketCount(spark, storeTableName(name, gen, suffix))
      .getOrElse(throw new IllegalStateException(
        s"store '$name' generation $gen has unreadable bucket metadata on " +
          s"'$suffix' — refusing an append, fold or probe whose partitioning could " +
          "diverge from the store (co-partitioned probing would silently void); " +
          "rebuild the store"))
    require(given == 0 || given == stored,
      s"probe buckets=$given differs from store '$name''s built layout " +
        s"($stored) — the probe side would join mis-partitioned; pass 0 " +
        "to derive the layout from the store")
    stored
  }

  // ---------------------------------------------------------------------
  // Store generations — atomic publish for multi-table bucketed stores.
  //
  // A persisted dedup store is a SET of bucketed tables rebuilt together
  // once per corpus generation. Rebuild-in-place (SaveMode.Overwrite +
  // drop) would let an ingest probe racing the rebuild read a dropped or
  // half-written table. Instead each build writes to fresh
  // generation-suffixed tables (`<store>__g<N>_<suffix>`) and publishes
  // through the store's [[GenerationChain]] — one versioned state chain
  // (at `_generations/<store>/`, committed via the [[StoreIO]]
  // create-new-or-fail primitive) holding every generation's lifecycle
  // plus the committed appender tags. Probes resolve a generation ONCE
  // at plan construction and read its immutable tables regardless of
  // concurrent rebuilds; old generations stay readable until vacuumed.
  //
  // Segments: an append publishes its generation as a SEGMENT of the
  // live full build (the Lucene-style incremental-ingest model) —
  // [[GenerationChain.publishSegment]] checks base liveness, publishes,
  // and commits the appender's idempotence tag in ONE atomic chain
  // commit, so a lost append-vs-rebuild race throws BEFORE anything is
  // visible and the appender just re-appends. The old marker-file
  // protocol's orphan segments, tag confirmation/withdrawal and retract
  // grace periods are unreachable states now and have no API.
  // ---------------------------------------------------------------------

  /** Scheme-aware chain-dir join: a remote-scheme root (`hdfs://`,
    * `abfss://`) keeps its scheme and joins by string — the chain lives
    * wherever the warehouse does, and its [[StoreIO]] comes from
    * [[StoreIO.forScheme]] — while local roots normalize through
    * `java.nio` exactly as before (so PosixStoreIO always sees plain
    * paths, never `file:` URIs).
    */
  private def chainDir(root: String, rel: String*): String =
    StoreIO.schemeOf(root) match {
      case None | Some("file") =>
        Paths.get(root.stripPrefix("file:"), rel: _*).toString
      case Some(_) =>
        (root.stripSuffix("/") +: rel).mkString("/")
    }

  private def genDir(spark: SparkSession, store: String): String =
    chainDir(spark.conf.get("spark.sql.warehouse.dir"),
      "_generations", store.toLowerCase(java.util.Locale.ROOT))

  /** The store's generation chain — package-visible so specs can assert
    * protocol state directly and sweep the chain against the
    * fault-injecting [[InMemoryStoreIO]]. The impl is selected per the
    * chain dir's scheme ([[StoreIO.forScheme]]): local dirs keep the
    * cross-process `link(2)` commit, HDFS-family dirs route to the
    * rename-without-overwrite impl, and schemes without a
    * create-new-or-fail primitive refuse loudly at construction.
    */
  private[graft] def chainOf(spark: SparkSession, store: String): GenerationChain = {
    val dir = genDir(spark, store)
    new GenerationChain(dir, StoreIO.forScheme(dir))
  }

  private[graft] def pathChainOf(root: String): GenerationChain = {
    val dir = pathGenDir(root)
    new GenerationChain(dir, StoreIO.forScheme(dir))
  }

  /** The generation-suffixed concrete table name. */
  def storeTableName(store: String, gen: Long, suffix: String): String =
    s"${store}__g${gen}_$suffix"

  /** Claim the next free generation number for `store` (an atomic chain
    * commit: of two racing builders each gets its own number). The
    * claimed generation is invisible to probes until published.
    */
  def claimGeneration(spark: SparkSession, store: String): Long =
    chainOf(spark, store).claim()

  /** Publish a claimed generation as a FULL build: after this, new
    * probes resolve to it. Probes constructed before the publish keep
    * reading their own (still-on-disk) generation — snapshot semantics
    * per probe plan.
    */
  def publishGeneration(spark: SparkSession, store: String, gen: Long): Unit =
    chainOf(spark, store).publishFull(gen)

  /** [[publishGeneration]] conditioned on the live read set a COMPACTION
    * resolved and folded: refuses with [[StaleFoldException]] when a
    * segment (or rebuild) published during the fold window — publishing
    * over it would supersede rows the fold never saw while their
    * committed dedupe tags make replays skip (silent permanent loss).
    * The folder drops its never-visible tables and re-folds.
    */
  def publishGenerationExpecting(spark: SparkSession, store: String, gen: Long,
      expectedBase: Long, expectedSegments: Seq[Long]): Unit =
    chainOf(spark, store).publishFullExpecting(gen, expectedBase, expectedSegments)

  /** Publish a claimed generation as an APPEND SEGMENT of `base`,
    * committing the appender's idempotence `tag` atomically with it.
    * Throws [[SupersededBaseException]] — publishing nothing — when a
    * rebuild superseded `base` first; the caller re-appends against the
    * winner (its just-written tables were never visible, so it drops
    * them and burns the claim immediately).
    */
  def publishSegment(spark: SparkSession, store: String, gen: Long, base: Long,
      tag: Option[String] = None): Unit =
    chainOf(spark, store).publishSegment(gen, base, tag)

  /** The latest PUBLISHED generation, if any. */
  def currentGeneration(spark: SparkSession, store: String): Option[Long] =
    chainOf(spark, store).state().current

  /** True iff `tag`'s batch committed — it rode a segment publish that
    * won its liveness race — the at-least-once replay check. Durable
    * through rebuilds and vacuums.
    */
  def segmentTagPublished(spark: SparkSession, store: String, tag: String): Boolean =
    chainOf(spark, store).tagCommitted(tag)

  /** The base generation `gen` is a segment of, or None for full
    * builds.
    */
  def segmentBase(spark: SparkSession, store: String, gen: Long): Option[Long] =
    chainOf(spark, store).segmentBase(gen)

  /** The live read set of a segment-aware table store: the latest
    * published FULL build plus every published segment that names it.
    * Fails with the build hint when nothing full is published.
    */
  def resolveSegmented(spark: SparkSession, store: String): (Long, Seq[Long]) =
    chainOf(spark, store).resolveSegmented(s"store '$store'")

  /** Resolve the latest published generation or fail with a build hint. */
  def resolveGeneration(spark: SparkSession, store: String): Long =
    currentGeneration(spark, store).getOrElse(throw new IllegalStateException(
      s"store '$store' has no published generation — run its build first"))

  /** Drop ALL generations of a store (tables + chain) plus any legacy
    * unversioned `<store>_<suffix>` tables — test/bench hygiene. The
    * generation set is the UNION of the chain's entries and a
    * warehouse-dir sweep for `<store>__g<N>_*` directories, so orphaned
    * leftovers from a prior JVM (whose chain is gone or predates this
    * protocol) are reclaimed too — `saveAsTable` refuses to overwrite
    * an orphaned location, so missing one would poison the next build.
    */
  def dropStore(spark: SparkSession, store: String, suffixes: Seq[String]): Unit = {
    val dir = genDir(spark, store)
    val chainGens = chainOf(spark, store).state().entries.map(_.gen)
    val prefix = s"${store.toLowerCase(java.util.Locale.ROOT)}__g"
    val diskGens = HadoopFs.listNames(spark.conf.get("spark.sql.warehouse.dir"))
      .filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).takeWhile(_.isDigit) match {
        case "" => None
        case d => Some(d.toLong)
      })
    for (g <- (chainGens ++ diskGens).distinct; s <- suffixes)
      drop(spark, storeTableName(store, g, s))
    suffixes.foreach(s => drop(spark, s"${store}_$s"))
    HadoopFs.deleteRecursive(dir): Unit
  }

  /** Remove a claimed-but-unpublished generation's chain entry (after
    * its tables are dropped) — the guard-trip/build-failure/lost-race
    * cleanup, so a refused build doesn't permanently burn its
    * generation number.
    */
  def burnClaim(spark: SparkSession, store: String, gen: Long): Unit =
    chainOf(spark, store).burn(gen)

  /** Drop published generations older than the newest `keep`, and dead
    * claims (a failed build's leftovers). Never touches the kept
    * generations or the live group, so probes resolved against them are
    * safe. The safety rules (the `minAgeMs` floor runs on the instant a
    * generation LEFT the live read set, claims are swept only below the
    * newest published generation and only once something is published,
    * reclaim is crash-safe two-phase) live on
    * [[GenerationChain.vacuum]]. Pass `minAgeMs = 0` only when no
    * builder can be active and no probe is pinned to an old generation.
    */
  def vacuumStoreGenerations(spark: SparkSession, store: String,
      suffixes: Seq[String], keep: Int = 1, minAgeMs: Long = 3600_000L): Unit =
    chainOf(spark, store).vacuum(keepCountSelect(keep), minAgeMs) { g =>
      suffixes.foreach(s => drop(spark, storeTableName(store, g, s)))
    }

  /** Vacuum a SEGMENT-AWARE table store: every published generation
    * STRICTLY OLDER than the live full build goes (superseded bases and
    * their segments); the live base, its published segments, and
    * in-flight claims survive. Selection runs against the FRESH chain
    * state inside the vacuum's own commit, so a racing publish can
    * widen but never corrupt the kept set.
    */
  def vacuumSegmentedStore(spark: SparkSession, store: String,
      suffixes: Seq[String], minAgeMs: Long = 3600_000L): Unit =
    chainOf(spark, store).vacuum(belowLiveBaseSelect, minAgeMs) { g =>
      suffixes.foreach(s => drop(spark, storeTableName(store, g, s)))
    }

  /** The shared at-least-once SEGMENT-APPEND protocol — one place for
    * the retry and cleanup rules both appenders (BM25 table store, IVF
    * path store) follow:
    *
    *   1. a committed `dedupeTag` means the batch already landed —
    *      skip (the tag commits atomically with its segment's publish);
    *   2. an empty increment publishes nothing;
    *   3. loop: resolve the live base → `prepare` the per-attempt
    *      context (bucket layout, centroids) → claim → `writeData` →
    *      `beforePublish` (test seam) → atomic publish;
    *   4. [[SupersededBaseException]] = lost the race BEFORE anything
    *      became visible: drop the never-published data, burn the
    *      claim, re-append against the winner (bounded at 5 attempts);
    *   5. any other failure cleans up ONLY when the chain PROVABLY
    *      shows the generation unpublished
    *      ([[GenerationChain.provablyUnpublished]]) — an ambiguous
    *      publish already self-verifies inside the chain, and a
    *      double-failure (commit AND verification both erroring) must
    *      LEAK a claim for the age-gated sweep, never delete data that
    *      may be in the live read set with a committed tag (that would
    *      be silent permanent loss: the replay would skip).
    */
  private[graft] def appendSegmentWith[C](chain: GenerationChain, what: String,
      dedupeTag: Option[String], isEmpty: => Boolean,
      prepare: Long => C,
      writeData: (Long, C) => Unit,
      dropData: Long => Unit,
      beforePublish: () => Unit = () => ()): Option[Long] = {
    if (dedupeTag.exists(chain.tagCommitted)) return None
    if (isEmpty) return None
    var attempt = 0
    while (true) {
      val (base, _) = chain.resolveSegmented(what)
      val ctx = prepare(base)
      val gen = chain.claim()
      try {
        writeData(gen, ctx)
        beforePublish()
        chain.publishSegment(gen, base, dedupeTag)
        return Some(gen)
      } catch {
        case _: SupersededBaseException =>
          reclaimUnpublished(chain, gen, dropData)
        case e: Throwable =>
          reclaimUnpublished(chain, gen, dropData)
          throw e
      }
      attempt += 1
      require(attempt < 5,
        s"$what lost to $attempt consecutive concurrent rebuilds — " +
          "aborting (the batch is safe to replay)")
    }
    None // unreachable
  }

  /** The shared guarded cleanup: drop data and burn the claim ONLY when
    * the chain provably shows `gen` unpublished (leak-beats-loss on any
    * ambiguity), and hand off to a vacuum that retires the expired
    * claim BETWEEN the guard check and the burn — vacuum's own reclaim
    * is then in flight (the data drop both sides run is idempotent),
    * so burn's refusal is the expected handoff, swallowed iff the
    * fresh chain no longer shows the generation unpublished. A burn
    * refusal while the generation IS still provably unpublished (or
    * the chain is unreadable) rethrows: that's a real protocol error,
    * not a handoff.
    */
  private def reclaimUnpublished(chain: GenerationChain, gen: Long,
      dropData: Long => Unit): Unit =
    if (chain.provablyUnpublished(gen)) {
      dropData(gen)
      try chain.burn(gen)
      catch { case e: IllegalStateException =>
        if (chain.provablyUnpublished(gen)) throw e
      }
    }

  /** Guarded FULL-BUILD failure cleanup: drop the half-written data and
    * burn the claim ONLY when the chain provably shows the generation
    * unpublished — the publish self-verifies ambiguous commits, so a
    * failure that reaches the caller is either pre-publish (write
    * failed, guard trips: clean) or a double-failure, which must leak
    * the claim for the age-gated sweep rather than delete a possibly
    * live generation's data. Same vacuum handoff as the appenders'
    * [[reclaimUnpublished]].
    */
  private[graft] def cleanupFailedBuild(chain: GenerationChain, gen: Long)(
      dropData: => Unit): Unit =
    reclaimUnpublished(chain, gen, _ => dropData)

  /** [[cleanupFailedBuild]] for table stores by name (per-table drops
    * Try-wrapped: a half-created table's drop may itself fail, and the
    * cleanup must still burn the claim and surface the ORIGINAL error).
    */
  def cleanupFailedBuild(spark: SparkSession, store: String, gen: Long,
      suffixes: Seq[String]): Unit =
    cleanupFailedBuild(chainOf(spark, store), gen) {
      suffixes.foreach(s =>
        scala.util.Try(drop(spark, storeTableName(store, gen, s))): Unit)
    }

  /** [[cleanupFailedBuild]] for path stores. */
  def cleanupFailedPathBuild(root: String, gen: Long): Unit =
    cleanupFailedBuild(pathChainOf(root), gen)(deletePathGenData(root, gen))

  /** Keep-count selection: all published generations but the newest
    * `keep` (the chain core protects the live group on top).
    */
  private def keepCountSelect(keep: Int)(s: GenerationChain.State): Seq[Long] =
    s.entries.filter(_.status == GenerationChain.Published).map(_.gen).sorted.dropRight(keep)

  /** Fixed-floor selection: published generations below the live base. */
  private def belowLiveBaseSelect(s: GenerationChain.State): Seq[Long] =
    s.liveBase.fold(Seq.empty[Long])(b =>
      s.entries.filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))

  // ---------------------------------------------------------------------
  // PATH-based generation stores: the same claim/ready protocol for
  // indexes that live as plain (partitioned) parquet DIRECTORIES rather
  // than warehouse tables — e.g. the IVF index, whose load-bearing scale
  // property is directory-level partition pruning on cid. Generation g's
  // data lives at `<root>/g<g>`; markers live at `<root>/_generations`
  // (underscore-prefixed: invisible to any parquet reader of the root).
  // Without this, racing rebuilds clobber one shared directory mid-probe.
  // ---------------------------------------------------------------------

  private def pathGenDir(root: String): String =
    chainDir(root, "_generations")

  /** Data directory of generation `gen` under a path store's root
    * (scheme-preserving: the data plane reads/writes it through Spark's
    * Hadoop layer, which speaks remote schemes directly).
    */
  def pathGenData(root: String, gen: Long): String =
    StoreIO.schemeOf(root) match {
      case None | Some("file") => s"${root.stripPrefix("file:")}/g$gen"
      case Some(_) => s"${root.stripSuffix("/")}/g$gen"
    }

  /** Claim the next free generation of a directory store (atomic chain
    * commit; racing builders get distinct numbers). Invisible to probes
    * until [[publishPathGeneration]].
    */
  def claimPathGeneration(root: String): Long = pathChainOf(root).claim()

  /** Publish a claimed directory-store generation as a FULL build. */
  def publishPathGeneration(root: String, gen: Long): Unit =
    pathChainOf(root).publishFull(gen)

  /** [[publishGenerationExpecting]] for path stores — the conditional
    * fold/removal publish on the directory-store chain.
    */
  def publishPathGenerationExpecting(root: String, gen: Long,
      expectedBase: Long, expectedSegments: Seq[Long]): Unit =
    pathChainOf(root).publishFullExpecting(gen, expectedBase, expectedSegments)

  /** [[publishSegment]] for path stores — the same atomic
    * liveness-check + publish + tag commit, one chain for both store
    * kinds so the protocol rules live once.
    */
  def publishPathSegment(root: String, gen: Long, base: Long,
      tag: Option[String] = None): Unit =
    pathChainOf(root).publishSegment(gen, base, tag)

  /** Latest PUBLISHED generation of a directory store, if any. */
  def currentPathGeneration(root: String): Option[Long] =
    pathChainOf(root).state().current

  /** True iff the appender tag committed on the directory store — the
    * at-least-once replay check.
    */
  def pathSegmentTagPublished(root: String, tag: String): Boolean =
    pathChainOf(root).tagCommitted(tag)

  /** The live read set of a segment-aware directory store — the
    * [[resolveSegmented]] rules on the path protocol.
    */
  def resolvePathSegmented(root: String): (Long, Seq[Long]) =
    pathChainOf(root).resolveSegmented(s"path store '$root'")

  /** Vacuum a SEGMENT-AWARE directory store — [[vacuumSegmentedStore]]'s
    * fixed-floor rules, deleting data directories.
    */
  def vacuumPathSegmented(root: String, minAgeMs: Long = 3600_000L): Unit =
    pathChainOf(root).vacuum(belowLiveBaseSelect, minAgeMs)(g => deletePathGenData(root, g))

  /** Remove a claimed-but-unpublished directory generation's chain entry
    * (after its data dir is removed via [[deletePathGenData]]) —
    * build-failure cleanup.
    */
  def burnPathClaim(root: String, gen: Long): Unit = pathChainOf(root).burn(gen)

  /** Delete a directory generation's data dir (recursive). Builders call
    * this on failure BEFORE [[burnPathClaim]]: a marker-less partial dir
    * would be invisible to vacuum and could poison a re-issued
    * generation number under dynamic partition overwrite. Deletes ride
    * the Hadoop filesystem layer ([[HadoopFs]]) — the same connectors
    * Spark wrote the parquet through — so vacuum can reclaim on an
    * object store, not just a local disk.
    */
  def deletePathGenData(root: String, gen: Long): Unit =
    HadoopFs.deleteRecursive(pathGenData(root, gen)): Unit

  /** Vacuum a directory store: same safety rules as
    * [[vacuumStoreGenerations]] (shared [[GenerationChain.vacuum]]
    * core), deleting `g<gen>` data directories instead of tables.
    */
  def vacuumPathGenerations(root: String, keep: Int = 1,
      minAgeMs: Long = 3600_000L): Unit =
    pathChainOf(root).vacuum(keepCountSelect(keep), minAgeMs)(g => deletePathGenData(root, g))

  /** Drop a table AND its on-disk location: the in-memory catalog
    * forgets across JVMs but the warehouse dir persists, and
    * `saveAsTable` refuses to overwrite an orphaned location. The
    * location is resolved from the catalog while the table still
    * exists (covers external/custom-location tables); the fallback for
    * already-orphaned dirs uses the warehouse-dir convention with the
    * LOWERCASED name (the catalog lowercases managed-table dirs). The
    * delete dispatches on the location's scheme through the Hadoop
    * filesystem layer ([[HadoopFs]]) — a managed table on `s3a://` is
    * reclaimed through the same connector that wrote it, instead of
    * leaking forever behind a catalog-only drop.
    */
  def drop(spark: SparkSession, name: String): Unit = {
    val existed = spark.catalog.tableExists(name)
    // Location AND Type from the catalog while the table still exists —
    // the data delete below is restricted to tables the warehouse OWNS
    val described: Option[Map[String, String]] =
      if (existed)
        scala.util.Try(
          spark.sql(s"DESCRIBE EXTENDED $name").collect()
            .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse(""))
            .toMap).toOption
      else None
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val warehouseRoot = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/").stripPrefix("file:")
    def underWarehouse(p: String): Boolean = {
      val n = p.stripPrefix("file:")
      n == warehouseRoot || n.startsWith(warehouseRoot + "/")
    }
    val fallback = warehouseRoot + "/" + name.toLowerCase(java.util.Locale.ROOT)
    // The delete rules, ownership-scoped (an EXTERNAL table registered
    // at a shared remote path must survive its catalog drop — the
    // catalog never owned that data):
    //   - a resolved MANAGED location, or any location under OUR
    //     warehouse root, is warehouse-owned → recursive delete through
    //     the Hadoop FS layer (same connector that wrote it);
    //   - a resolved EXTERNAL/unknown-type location elsewhere →
    //     catalog-only drop, data untouched;
    //   - an existing table whose DESCRIBE failed → location AND
    //     ownership unknown → catalog-only drop (keep-on-unknown);
    //   - a table the catalog has already forgotten (orphaned dir from
    //     a prior JVM) → the managed-convention path under our root is
    //     the only candidate, and it is ours by construction.
    described match {
      case Some(d) =>
        val loc = d.get("Location").map(_.trim).filter(_.nonEmpty)
        val managed = d.get("Type").exists(_.trim.equalsIgnoreCase("MANAGED"))
        loc match {
          case Some(l) if managed || underWarehouse(l) =>
            HadoopFs.deleteRecursive(l): Unit
          case Some(_) => () // external data at a foreign location: keep
          case None =>
            if (managed) HadoopFs.deleteRecursive(fallback): Unit
        }
      case None if existed => () // DESCRIBE failed: ownership unknown, keep
      case None => HadoopFs.deleteRecursive(fallback): Unit
    }
  }
}
