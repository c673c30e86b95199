package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType, CatalogUtils}

/** Bucketed warehouse tables — the co-located-join layout. Writing both
  * sides of a frequently-joined pair `bucketBy(n, key)` pins an
  * identical hash partitioning on disk, so every subsequent join reads
  * co-bucketed files and skips the shuffle entirely (plan shows no
  * Exchange on either side). At 100 TB this converts the nightly
  * fact⋈fact join from a full-network shuffle into a local merge.
  *
  * Bucketed tables live in the session catalog (`saveAsTable`). A
  * store's layout is one record in each table's catalog entry: the
  * bucket spec holds the bucket count, and the store's build constants
  * (signature length and band count, shingle width, cluster threshold)
  * sit beside it as storage properties. A build writes the session's
  * fan-out ([[graft.GraftSession.fanOut]], `spark.sql.shuffle.partitions`)
  * unless the caller passes an explicit count, and every append, fold
  * and probe reads the whole record back with [[storeLayout]] — on the
  * driver, without a Spark job, and intact on a table a takedown
  * emptied — never from a caller default or from the rows.
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
    *
    * `constants` is the store's layout record: each build constant lands
    * as a storage property of the table's catalog entry, beside the
    * bucket spec, where [[storeLayout]] reads it back. Appends and folds
    * pass on the record they read, so it survives every generation,
    * including one with no rows.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
      constants: Map[String, String] = Map.empty): Unit = {
    val n = if (buckets > 0) buckets else graft.GraftSession.fanOut(df.sparkSession)
    df.repartition(n, org.apache.spark.sql.functions.col(bucketCol))
      .write
      .options(constants.map { case (k, v) => s"$LayoutPrefix$k" -> v })
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
  private[graft] def writeBucketedConcurrently(writes: Seq[(DataFrame, String, String)],
      buckets: Int, constants: Map[String, String] = Map.empty): Unit =
    runConcurrently(writes.map { case (df, t, c) =>
      () => writeBucketed(df, t, c, buckets, constants) })

  /** The thread mechanics behind [[writeBucketedConcurrently]], for
    * publishes whose sides are not both bucketed (e.g. the BM25
    * postings table + its one-row stats table). Each task thread tags
    * its jobs with a fresh job tag (a tag, unlike a job group, leaves a
    * caller's group in force) and inherits the caller's local
    * properties, so its jobs carry the caller's [[graft.Phase]]. The
    * first failure cancels the other tasks' running jobs through their
    * tags; every task is awaited, and the first failure rethrows
    * carrying every other task's failure as a suppressed exception.
    */
  private[graft] def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val sc = graft.Phase.activeContext
      val tags = tasks.map(_ => s"graft-concurrent-${java.util.UUID.randomUUID()}")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = tasks.zip(tags).map { case (t, tag) =>
        val th = new Thread(() =>
          try {
            sc.foreach(_.addJobTag(tag))
            t()
          } catch { case e: Throwable =>
            errs.add(e)
            if (failed.compareAndSet(false, true))
              for (c <- sc; other <- tags if other != tag)
                c.cancelJobsWithTag(other, s"a sibling task failed: ${e.getMessage}")
          })
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

  /** `name`'s entry in the session catalog, read on the driver without
    * a Spark job; None when the table is absent or its entry unreadable.
    */
  private def catalogEntry(spark: SparkSession, name: String): Option[CatalogTable] =
    scala.util.Try(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name))).toOption

  /** The storage-property prefix of a store's recorded build constants. */
  private val LayoutPrefix = "graft.layout."

  /** One store generation's layout: the bucket count of its catalog
    * bucket spec and the build constants [[writeBucketed]] recorded
    * beside it. `of` names the generation in a refusal: a constant the
    * record lacks cannot be derived, so reading it fails loudly.
    */
  final case class Layout(buckets: Int, constants: Map[String, String], of: String = "") {
    def apply(key: String): String = constants.getOrElse(key, throw new IllegalStateException(
      s"$of records no build '$key' — refusing an append, fold or probe whose layout " +
        "could diverge from the store; rebuild the store"))
    def int(key: String): Int = apply(key).toInt
    def double(key: String): Double = apply(key).toDouble
  }

  /** A caller's value for recorded build constant `key`. `what` names
    * the recorded value in a refusal, `why` says what a drift breaks.
    */
  final case class Given(key: String, value: Double, why: String,
      what: String = "built layout")

  /** The layout of `kind` store `store`'s generation `gen`, from the
    * catalog entry of its table `<store>__g<gen>_<suffix>`: one driver
    * read, no Spark job. One rule covers every value a caller passes
    * (`buckets` and each of `values`): 0 derives the recorded value, and
    * a nonzero one must equal it, so caller-vs-store drift fails loudly
    * instead of silently voiding co-partitioning or hash matching. A
    * table without a bucket spec, or without a record of a constant in
    * `values`, refuses with the rebuild hint.
    */
  private[graft] def storeLayout(spark: SparkSession, kind: String, store: String,
      gen: Long, suffix: String, buckets: Int = 0, values: Seq[Given] = Nil): Layout = {
    val of = s"$kind store '$store' generation $gen ('$suffix')"
    val entry = catalogEntry(spark, storeTableName(store, gen, suffix))
      .filter(_.bucketSpec.nonEmpty).getOrElse(throw new IllegalStateException(
        s"$of has unreadable bucket metadata — refusing an append, fold or probe whose " +
          "partitioning could diverge from the store (co-partitioned probing would " +
          "silently void); rebuild the store"))
    val layout = Layout(entry.bucketSpec.get.numBuckets, entry.storage.properties.collect {
      case (k, v) if k.startsWith(LayoutPrefix) => k.stripPrefix(LayoutPrefix) -> v
    }, of)
    (Given("buckets", buckets, "the probe side would join mis-partitioned") +: values)
      .foreach { g =>
        val rec = if (g.key == "buckets") layout.buckets.toString else layout(g.key)
        require(g.value == 0 || g.value == rec.toDouble,
          s"${g.key}=${shown(g.value)} differs from $kind store '$store''s ${g.what} " +
            s"($rec) — ${g.why}; pass 0 to derive the layout from the store")
      }
    layout
  }

  /** A given value as its caller wrote it: whole numbers without `.0`. */
  private def shown(v: Double): String = if (v.isWhole) v.toLong.toString else v.toString

  // ---------------------------------------------------------------------
  // Store generations — atomic publish for multi-table stores.
  //
  // A persisted store is a SET of tables (or directories) rebuilt
  // together once per corpus generation. Rebuild-in-place would let a
  // probe racing the rebuild read a dropped or half-written table.
  // Instead each build writes generation N's data fresh and publishes N
  // through the store's [[GenerationChain]] — one versioned state chain
  // (committed via the [[StoreIO]] create-new-or-fail primitive) holding
  // every generation's lifecycle plus the committed appender tags.
  // Probes resolve a generation ONCE at plan construction and read its
  // immutable data regardless of concurrent rebuilds; old generations
  // stay readable until vacuumed.
  //
  // Two store kinds share that one chain protocol and differ only in
  // where a generation's data lives, which a [[Store]] handle captures:
  // a TABLE store ([[tableStore]]) writes bucketed catalog tables
  // `<store>__g<N>_<suffix>` and keeps its chain under the warehouse
  // dir at `_generations/<store>/`; a PATH store ([[pathStore]]) writes
  // plain (partitioned) parquet directories `<root>/g<N>` — e.g. the IVF
  // index, whose load-bearing scale property is directory-level
  // partition pruning on cid — and keeps its chain at
  // `<root>/_generations` (underscore-prefixed: invisible to any parquet
  // reader of the root). Every full build ([[build]]), compaction or
  // takedown ([[fold]]) and segment append ([[appendSegmentWith]]) runs
  // its claim → write → publish → guarded-cleanup sequence through this
  // object over a handle, so the protocol rules live once.
  //
  // Segments: an append publishes its generation as a SEGMENT of the
  // live full build (the Lucene-style incremental-ingest model) —
  // [[GenerationChain.publishSegment]] checks base liveness, publishes,
  // and commits the appender's idempotence tag in ONE atomic chain
  // commit, so a lost append-vs-rebuild race throws BEFORE anything is
  // visible and the appender just re-appends.
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

  private def chainAt(dir: String): GenerationChain =
    new GenerationChain(dir, StoreIO.forScheme(dir))

  /** The store's generation chain — package-visible so specs can assert
    * protocol state directly and sweep the chain against the
    * fault-injecting [[InMemoryStoreIO]]. The impl is selected per the
    * chain dir's scheme ([[StoreIO.forScheme]]): local dirs keep the
    * cross-process `link(2)` commit, HDFS-family dirs route to the
    * rename-without-overwrite impl, and schemes without a
    * create-new-or-fail primitive refuse loudly at construction.
    */
  private[graft] def chainOf(spark: SparkSession, store: String): GenerationChain =
    chainAt(genDir(spark, store))

  /** One store's lifecycle handle: its chain, its name for error
    * messages, and how to delete one generation's data (idempotent —
    * cleanup and vacuum may both run it). Building one does no I/O.
    */
  final case class Store(chain: GenerationChain, what: String, dropGen: Long => Unit) {
    /** The live read set: the latest published FULL build plus every
      * published segment that names it. Fails with the build hint when
      * nothing full is published.
      */
    def resolveSegmented(): (Long, Seq[Long]) = chain.resolveSegmented(what)
  }

  /** The table store `name`, whose generation `g` is the catalog tables
    * `<name>__g<g>_<sfx>` for each of `suffixes`.
    */
  def tableStore(spark: SparkSession, name: String, suffixes: Seq[String]): Store =
    Store(chainOf(spark, name), s"store '$name'",
      g => suffixes.foreach(s => drop(spark, storeTableName(name, g, s))))

  /** The path store at `root`, whose generation `g` is the directory
    * [[pathGenData]]`(root, g)` plus, when its build wrote one,
    * [[pathGenModel]]`(root, g)`. Deletes ride the Hadoop filesystem
    * layer ([[HadoopFs]]) — the same connectors Spark wrote the parquet
    * through — so cleanup and vacuum reclaim on an object store too.
    */
  def pathStore(root: String): Store =
    Store(chainAt(chainDir(root, "_generations")), s"path store '$root'",
      g => Seq(pathGenData(root, g), pathGenModel(root, g)).foreach(HadoopFs.deleteRecursive))

  /** Data directory of generation `gen` under a path store's root
    * (scheme-preserving: the data plane reads/writes it through Spark's
    * Hadoop layer, which speaks remote schemes directly).
    */
  def pathGenData(root: String, gen: Long): String =
    StoreIO.schemeOf(root) match {
      case None | Some("file") => s"${root.stripPrefix("file:")}/g$gen"
      case Some(_) => s"${root.stripSuffix("/")}/g$gen"
    }

  /** The directory beside generation `gen`'s data for the model the
    * generation was built with (the IVF centroids). Beside, not inside:
    * a read of the data directory never sees it, and, not being
    * underscore-prefixed, Spark does not treat it as a hidden path.
    * Dropping the generation drops it too.
    */
  def pathGenModel(root: String, gen: Long): String = s"${pathGenData(root, gen)}-model"

  /** FULL BUILD: claim the next generation, `write` its data, publish it
    * — after which new probes resolve to it, while probes constructed
    * before keep reading their own generation. Any failure, including
    * a tripped guard inside `write` or a failed publish, runs the
    * guarded cleanup and rethrows; the prior generation stays live
    * untouched. Returns the published generation.
    */
  private[graft] def build(store: Store)(write: Long => Unit): Long =
    graft.Phase("store.build") {
      val gen = store.chain.claim()
      try {
        write(gen)
        store.chain.publishFull(gen)
        gen
      } catch { case e: Throwable => failed(store, gen, e) }
    }

  /** COMPACTION / TAKEDOWN: resolve the live (base, segments), let
    * `prepare` derive the per-attempt context from them (None = nothing
    * to fold, publish nothing), claim, `write` the folded generation,
    * run `beforePublish` (a test seam), and publish CONDITIONALLY on the
    * resolved set still being live. The fold window is corpus-sized, so
    * a segment published during it would otherwise be superseded
    * without its rows while its committed tag makes the replay skip
    * (silent permanent loss): the chain refuses atomically with
    * [[StaleFoldException]], the never-visible generation is reclaimed,
    * and the fold re-resolves and re-folds, absorbing the new segments
    * (bounded at 5 attempts).
    */
  private[graft] def fold[C](store: Store)(prepare: (Long, Seq[Long]) => Option[C])(
      write: (Long, C) => Unit, beforePublish: () => Unit): Unit =
    graft.Phase("store.fold") {
      var attempt = 0
      var done = false
      while (!done) {
        if (attempt == 5) throw new IllegalStateException(
          s"${store.what}: fold lost to 5 consecutive concurrent appends/rebuilds — " +
            "aborting (it is safe to replay)")
        val (base, segs) = store.resolveSegmented()
        prepare(base, segs) match {
          case None => done = true
          case Some(ctx) =>
            val gen = store.chain.claim()
            try {
              write(gen, ctx)
              beforePublish()
              store.chain.publishFullExpecting(gen, base, segs)
              done = true
            } catch {
              case _: StaleFoldException => reclaim(store, gen)
              case e: Throwable => failed(store, gen, e)
            }
        }
        attempt += 1
      }
    }

  /** The at-least-once SEGMENT-APPEND protocol:
    *
    *   1. a committed `dedupeTag` means the batch already landed —
    *      skip (the tag commits atomically with its segment's publish);
    *   2. an empty increment publishes nothing;
    *   3. loop: resolve the live base → `prepare` the per-attempt
    *      context (bucket layout, centroids) → claim → `writeData` →
    *      `beforePublish` (test seam) → atomic publish;
    *   4. [[SupersededBaseException]] = lost the race BEFORE anything
    *      became visible: reclaim the never-published generation and
    *      re-append against the winner (bounded at 5 attempts);
    *   5. any other failure runs the guarded cleanup and rethrows.
    */
  private[graft] def appendSegmentWith[C](store: Store,
      dedupeTag: Option[String], isEmpty: => Boolean,
      prepare: Long => C,
      writeData: (Long, C) => Unit,
      beforePublish: () => Unit = () => ()): Option[Long] =
    graft.Phase("store.append") {
      var published = Option.empty[Long]
      if (!dedupeTag.exists(store.chain.tagCommitted) && !isEmpty) {
        var attempt = 0
        while (published.isEmpty) {
          val (base, _) = store.resolveSegmented()
          val ctx = prepare(base)
          val gen = store.chain.claim()
          try {
            writeData(gen, ctx)
            beforePublish()
            store.chain.publishSegment(gen, base, dedupeTag)
            published = Some(gen)
          } catch {
            case _: SupersededBaseException =>
              reclaim(store, gen)
              attempt += 1
              require(attempt < 5,
                s"${store.what}: append lost to $attempt consecutive concurrent rebuilds — " +
                  "aborting (the batch is safe to replay)")
            case e: Throwable => failed(store, gen, e)
          }
        }
      }
      published
    }

  /** Reclaim a generation that never became visible: delete its data
    * and burn its claim ONLY when the chain provably shows `gen`
    * unpublished. A publish self-verifies ambiguous commits, so a
    * failure reaching here is pre-publish (clean) or a double failure,
    * which must LEAK the claim for the age-gated vacuum rather than
    * delete data that may be in the live read set. A throwing `dropGen`
    * propagates and skips the burn for the same reason: burning the top
    * claim lets the next claim re-issue its number over the leftover
    * data. A vacuum that retires the expired claim between the guard
    * and the burn is the expected handoff (its own reclaim is in
    * flight; the delete is idempotent), so burn's refusal is swallowed
    * iff the fresh chain no longer shows the generation unpublished.
    */
  private def reclaim(store: Store, gen: Long): Unit =
    if (store.chain.provablyUnpublished(gen)) {
      store.dropGen(gen)
      try store.chain.burn(gen)
      catch { case e: IllegalStateException =>
        if (store.chain.provablyUnpublished(gen)) throw e
      }
    }

  /** The failure exit of every build, fold and append: reclaim, attach
    * any cleanup failure to `cause` as suppressed, rethrow `cause`.
    */
  private def failed(store: Store, gen: Long, cause: Throwable): Nothing = {
    try reclaim(store, gen)
    catch { case e: Throwable => cause.addSuppressed(e) }
    throw cause
  }

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
  def vacuumGenerations(store: Store, keep: Int, minAgeMs: Long): Unit =
    store.chain.vacuum(keepCountSelect(keep), minAgeMs)(store.dropGen)

  /** Vacuum a SEGMENT-AWARE store: every published generation STRICTLY
    * OLDER than the live full build goes (superseded bases and their
    * segments); the live base, its published segments, and in-flight
    * claims survive. Selection runs against the FRESH chain state inside
    * the vacuum's own commit, so a racing publish can widen but never
    * corrupt the kept set.
    */
  def vacuumSegmented(store: Store, minAgeMs: Long): Unit =
    store.chain.vacuum(belowLiveBaseSelect, minAgeMs)(store.dropGen)

  /** Keep-count selection: all published generations but the newest
    * `keep` (the chain core protects the live group on top).
    */
  private def keepCountSelect(keep: Int)(s: GenerationChain.State): Seq[Long] =
    s.entries.filter(_.status == GenerationChain.Published).map(_.gen).sorted.dropRight(keep)

  /** Fixed-floor selection: published generations below the live base. */
  private def belowLiveBaseSelect(s: GenerationChain.State): Seq[Long] =
    s.liveBase.fold(Seq.empty[Long])(b =>
      s.entries.filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))

  // The catalog-keyed lookups: one-line calls on the chain of
  // [[tableStore]]. Everything else goes through the handle itself.

  /** The generation-suffixed concrete table name. */
  def storeTableName(store: String, gen: Long, suffix: String): String =
    s"${store}__g${gen}_$suffix"

  /** The latest PUBLISHED generation, if any. */
  def currentGeneration(spark: SparkSession, store: String): Option[Long] =
    chainOf(spark, store).state().current

  /** [[Store.resolveSegmented]] of the table store `store`. */
  def resolveSegmented(spark: SparkSession, store: String): (Long, Seq[Long]) =
    tableStore(spark, store, Nil).resolveSegmented()

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

  /** [[vacuumSegmented]] of the table store `store`. */
  def vacuumSegmentedStore(spark: SparkSession, store: String,
      suffixes: Seq[String], minAgeMs: Long = 3600_000L): Unit =
    vacuumSegmented(tableStore(spark, store, suffixes), minAgeMs)

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
    val described = if (existed) catalogEntry(spark, name) else None
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
    //   - an existing table whose catalog entry is unreadable →
    //     location AND ownership unknown → catalog-only drop
    //     (keep-on-unknown);
    //   - a table the catalog has already forgotten (orphaned dir from
    //     a prior JVM) → the managed-convention path under our root is
    //     the only candidate, and it is ours by construction.
    described match {
      case Some(t) =>
        val loc = t.storage.locationUri.map(CatalogUtils.URIToString).filter(_.nonEmpty)
        val managed = t.tableType == CatalogTableType.MANAGED
        loc match {
          case Some(l) if managed || underWarehouse(l) =>
            HadoopFs.deleteRecursive(l): Unit
          case Some(_) => () // external data at a foreign location: keep
          case None =>
            if (managed) HadoopFs.deleteRecursive(fallback): Unit
        }
      case None if existed => () // entry unreadable: ownership unknown, keep
      case None => HadoopFs.deleteRecursive(fallback): Unit
    }
  }
}
