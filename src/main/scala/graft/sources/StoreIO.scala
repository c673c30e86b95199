package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The minimal storage contract the METADATA planes commit through —
  * one [[CommitLog]] (under [[graft.etl.SnapshotTable]]'s manifests, a
  * store's [[GenerationChain]] and the ETL sync log) is the only caller
  * of [[putIfAbsent]], so porting the whole store layer to an object
  * store means implementing these six operations once:
  *
  *   - `putIfAbsent`  → S3/GCS conditional PUT (`If-None-Match: *`)
  *   - `put`          → plain PUT (single-object overwrite is atomic)
  *   - `get`/`list`/`delete`/`mtime` → GET / LIST / DELETE / HEAD
  *
  * The DATA plane (parquet directories) deliberately stays outside this
  * seam: Spark reads and writes it through the Hadoop filesystem layer,
  * which already speaks object stores — and the lifecycle DELETES
  * (vacuum reclaim, failure cleanup, staging sweeps) go through that
  * same layer ([[HadoopFs]]), so the data plane is Hadoop-FS end to
  * end. Only the small, frequently-raced metadata objects — manifests,
  * generation chains, sidecars — need the create-new-or-fail
  * primitive, and this trait is exactly that surface. Implementations:
  * [[PosixStoreIO]] (local/NFS `link(2)`), [[HadoopFsStoreIO]]
  * (HDFS-family rename-without-overwrite), [[InMemoryStoreIO]] (the
  * fault-injecting conformance twin); S3-native conditional PUT is a
  * fourth an SDK-backed deployment writes against this trait.
  *
  * WHICH IMPL PER DEPLOYMENT (encoded by [[StoreIO.forScheme]], which
  * refuses schemes it cannot serve rather than guessing atomicity):
  *   - local disk / NFS with writers in MULTIPLE OS processes →
  *     [[PosixStoreIO]]: `link(2)` is the only primitive here that is
  *     atomic across processes (spec-raced cross-JVM in StoreIOSpec);
  *   - `hdfs://` / `viewfs://` / `abfs(s)://` (hierarchical-namespace
  *     stores whose server-side rename refuses overwrite atomically) →
  *     [[HadoopFsStoreIO]]; note its RAW-LOCAL (`file://`) envelope is
  *     IN-PROCESS ONLY by design — the FileContext local rename is
  *     check-then-act cross-process, so multi-process `file://`
  *     writers belong on PosixStoreIO;
  *   - tests / fault injection → [[InMemoryStoreIO]] (constructed
  *     explicitly; a chooser-made fresh instance would hold no state
  *     the test could inject into);
  *   - `s3a://` AND `gs://` → the documented fourth impl (SDK
  *     conditional PUT: S3 `If-None-Match: *`, GCS
  *     `x-goog-if-generation-match: 0`): both connectors implement
  *     rename as client-side copy-then-delete, which does NOT provide
  *     create-new-or-fail, so HadoopFsStoreIO must not front either
  *     (the DATA plane on s3a/gs is fine — it never needs the
  *     primitive).
  *
  * Contract (every impl, spec-enforced by the shared conformance sweep):
  *   - [[putIfAbsent]] is ATOMIC for name AND content: of N racing
  *     writers to one path exactly one wins, and no reader ever
  *     observes a partial object;
  *   - [[put]] is atomic replace (readers see old or new, never torn);
  *   - [[delete]] is idempotent;
  *   - [[list]] of an absent directory is empty, not an error.
  */
trait StoreIO {
  /** Publish `bytes` at `path` iff nothing exists there. Returns false
    * (and writes nothing visible) when the path is already taken.
    */
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean

  /** Atomic overwrite — last writer wins, readers never see a torn mix. */
  def put(path: String, bytes: Array[Byte]): Unit

  def get(path: String): Option[Array[Byte]]

  /** Child object names directly under `dir` (empty when absent). */
  def list(dir: String): Seq[String]

  /** Idempotent; true iff something was removed. */
  def delete(path: String): Boolean

  /** Last-modified wall clock of `path`, if it exists. */
  def mtime(path: String): Option[Long]
}

object StoreIO {
  /** The URI scheme of `pathOrUri`, lowercase, when it has one
    * (`hdfs://nn/x`, `file:/x`); None for plain filesystem paths.
    * Package-visible so path layers can branch local-vs-remote joins
    * on the same rule the chooser uses.
    */
  private[graft] def schemeOf(pathOrUri: String): Option[String] = {
    val i = pathOrUri.indexOf(':')
    // require >= 2 leading letters so a degenerate one-letter prefix
    // (or a path containing ':' later) never reads as a scheme
    if (i < 2) None
    else {
      val head = pathOrUri.substring(0, i)
      if (head.forall(c => c.isLetter || c.isDigit || c == '+' || c == '-' || c == '.')
        && head.head.isLetter) Some(head.toLowerCase(java.util.Locale.ROOT))
      else None
    }
  }

  /** The one age-gated sweep: delete each object directly under `dir`
    * whose name `pick` accepts and whose mtime is at or before `cutoff`.
    * An unknown mtime KEEPS the object — a transient stat failure must
    * never age a live object to zero (leak-beats-loss; a kept orphan is
    * re-examined by the next sweep).
    */
  def sweepAged(io: StoreIO, dir: String, cutoff: Long)(pick: String => Boolean): Unit =
    io.list(dir).filter(pick)
      .filter(n => io.mtime(s"$dir/$n").exists(_ <= cutoff))
      .foreach(n => io.delete(s"$dir/$n"))

  /** Select the impl a deployment's scheme requires — the trait
    * header's impl-per-deployment table, encoded so a caller cannot
    * mispair scheme and primitive. Accepts a full URI/path (the scheme
    * is extracted; scheme-less strings are local paths) or a bare
    * scheme name.
    *
    * REFUSES loudly (IllegalArgumentException) for `s3`/`s3a`/`s3n`/
    * `gs`/`wasb(s)` — their connectors' rename is client-side
    * copy-then-delete, so no impl here can provide create-new-or-fail;
    * the honest answer is the documented SDK conditional-PUT impl, not
    * a silently-racy chain — and for any scheme it does not recognize
    * (guessing atomicity is how metadata planes corrupt). Callers
    * handing a `file:` URI to the returned [[PosixStoreIO]] must pass
    * it PLAIN paths (it speaks `java.nio`; the warehouse path layer
    * already strips the prefix).
    */
  def forScheme(pathOrScheme: String): StoreIO = {
    val scheme = schemeOf(pathOrScheme).getOrElse {
      if (pathOrScheme.isEmpty || pathOrScheme.exists(c => c == '/' || c == '.'))
        "file" // a path, not a scheme name
      else pathOrScheme.toLowerCase(java.util.Locale.ROOT)
    }
    scheme match {
      case "file" | "posix" | "nfs" => PosixStoreIO
      case "hdfs" | "viewfs" | "abfs" | "abfss" => new HadoopFsStoreIO()
      case "s3" | "s3a" | "s3n" | "gs" | "wasb" | "wasbs" =>
        throw new IllegalArgumentException(
          s"StoreIO.forScheme: '$scheme' cannot provide create-new-or-fail " +
            "(connector rename is client-side copy-then-delete) — the metadata " +
            "plane on this store needs the SDK conditional-PUT StoreIO " +
            "(S3 'If-None-Match: *' / GCS 'x-goog-if-generation-match: 0'); " +
            "see the StoreIO header. The parquet DATA plane on this scheme is " +
            "unaffected (it never needs the primitive).")
      case other =>
        throw new IllegalArgumentException(
          s"StoreIO.forScheme: unrecognized scheme '$other' — refusing to guess " +
            "whether its rename/link primitives are atomic; pick an impl " +
            "explicitly per the StoreIO header's table.")
    }
  }
}

/** The shared-filesystem implementation (local disk, NFS, HDFS mounts).
  * The create-new-or-fail primitive is POSIX `link(2)`: content is fully
  * written to a hidden sibling first, then hard-linked into its final
  * name — `link` fails with EEXIST if the name was taken, so both name
  * and content commit atomically and a reader never sees a partial
  * object. Reference analog: the conditional-PUT publish documented in
  * SnapshotTable's header, realized with filesystem primitives.
  */
object PosixStoreIO extends StoreIO {
  private def p(path: String): Path = Paths.get(path)

  override def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try { Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  override def put(path: String, bytes: Array[Byte]): Unit = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ABSENT maps to None; any other IOException (EACCES, a transient
  // NFS error, not-a-directory) PROPAGATES — conflating "unreadable"
  // with "absent" turns a transient fault into a protocol decision
  // (replay gates would re-append committed batches, deletion gates
  // would sweep live objects)
  override def get(path: String): Option[Array[Byte]] =
    try Some(Files.readAllBytes(p(path)))
    catch { case _: java.nio.file.NoSuchFileException => None }

  override def list(dir: String): Seq[String] = {
    val d = p(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  }

  override def delete(path: String): Boolean = Files.deleteIfExists(p(path))

  override def mtime(path: String): Option[Long] =
    try Some(Files.getLastModifiedTime(p(path)).toMillis)
    catch { case _: java.nio.file.NoSuchFileException => None }
}

/** In-memory implementation with FAULT INJECTION — the conformance twin
  * the protocol specs race against. Object-store semantics (a flat
  * key→bytes map, no directories, conditional-PUT commit) with two
  * injectable failure shapes:
  *
  *   - `loseRaces(n)`: the next `n` putIfAbsent calls observe a
  *     concurrent winner — the call fails AND the configured rival
  *     commit (if any) is applied first, so optimistic-retry loops are
  *     exercised against genuinely advancing state, not just spurious
  *     rejection;
  *   - `failAfterCommit(n)`: the n-th successful putIfAbsent APPLIES
  *     its write and then throws — the crash-after-commit shape whose
  *     recovery the protocols must survive.
  *
  * Thread-safe; `clock` is injectable so age-gate specs are
  * deterministic.
  */
final class InMemoryStoreIO(clock: () => Long = () => System.currentTimeMillis())
    extends StoreIO {
  private val objects = new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Long)]()
  private val racesToLose = new java.util.concurrent.atomic.AtomicInteger(0)
  private val crashAt = new java.util.concurrent.atomic.AtomicInteger(-1)
  private val commits = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var rival: () => Unit = () => ()
  // the rival's OWN commits are exempt from loss injection — without
  // this a rival that writes through the same store recurses into the
  // loss path and the injected race never resolves
  private val inRival = new ThreadLocal[Boolean] { override def initialValue = false }

  /** The next `n` putIfAbsent calls lose: `beforeEach` runs first (the
    * racing writer's commit), then the call returns false.
    */
  def loseRaces(n: Int, beforeEach: () => Unit = () => ()): Unit = {
    rival = beforeEach
    racesToLose.set(n)
  }

  /** The n-th successful putIfAbsent from now commits, then throws. */
  def failAfterCommit(n: Int): Unit = { commits.set(0); crashAt.set(n) }

  override def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    if (!inRival.get() && racesToLose.getAndUpdate(i => math.max(0, i - 1)) > 0) {
      inRival.set(true)
      try rival() // the rival's state lands first — the loser must re-read
      finally inRival.set(false)
      return false
    }
    val won = objects.putIfAbsent(path, (bytes.clone(), clock())) == null
    if (won && crashAt.get() > 0 && commits.incrementAndGet() == crashAt.get())
      throw new java.io.IOException(s"injected crash AFTER committing $path")
    won
  }

  override def put(path: String, bytes: Array[Byte]): Unit =
    objects.put(path, (bytes.clone(), clock())): Unit

  override def get(path: String): Option[Array[Byte]] =
    Option(objects.get(path)).map(_._1.clone())

  override def list(dir: String): Seq[String] = {
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    objects.keySet().asScala.iterator
      .filter(k => k.startsWith(prefix) && !k.stripPrefix(prefix).contains('/'))
      .map(_.stripPrefix(prefix)).toSeq
  }

  override def delete(path: String): Boolean = objects.remove(path) != null

  override def mtime(path: String): Option[Long] =
    Option(objects.get(path)).map(_._2)
}
