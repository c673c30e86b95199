package graft.sources

/** Segment-publish refusal: the base the appender built against was
  * superseded by a concurrent rebuild BEFORE the publish committed. The
  * segment is not published — no probe ever saw it — so the appender
  * simply drops its data, burns its claim and re-appends against the
  * winner. This exception replacing the old publish-then-recheck /
  * confirm / unconfirm / retract choreography is the whole point of the
  * chain: the liveness check and the publish are ONE atomic commit, so
  * the orphan-segment and committed-tag-on-dead-rows states cannot be
  * reached at all.
  */
final case class SupersededBaseException(base: Long, live: Option[Long])
  extends RuntimeException(
    s"segment publish refused: base generation $base was superseded " +
      s"(live base is now ${live.fold("<none>")(_.toString)}) — re-append against the winner")

/** Fold-publish refusal: the live read set a COMPACTION resolved and
  * folded (base + segments) changed before its full-build publish
  * committed — a segment published during the fold window holds rows
  * the fold never saw, and publishing over it would supersede the
  * segment WITHOUT its rows (its atomically-committed dedupe tag then
  * makes the at-least-once replay skip: silent permanent loss). Like
  * [[SupersededBaseException]] this is an ATOMIC refusal — nothing was
  * published — so the folder drops its never-visible tables, burns its
  * claim, and re-folds against the fresh live set (absorbing the new
  * segments).
  */
final case class StaleFoldException(expectedBase: Long, expectedSegments: Seq[Long],
    liveBase: Option[Long], liveSegments: Seq[Long])
  extends RuntimeException(
    s"fold publish refused: folded live set (base $expectedBase, segments " +
      s"${expectedSegments.mkString("[", ",", "]")}) is no longer current " +
      s"(live: base ${liveBase.fold("<none>")(_.toString)}, segments " +
      s"${liveSegments.mkString("[", ",", "]")}) — re-fold against the fresh set")

object GenerationChain {
  sealed abstract class Status(val wire: String)
  /** Claimed, unpublished — an in-flight (or crashed) build owns it. */
  case object Claimed extends Status("claimed")
  /** Published — visible to probes (live iff in the live group). */
  case object Published extends Status("published")
  /** Marked for data deletion by a vacuum pass; invisible to probes.
    * Survives a crash mid-vacuum so the next pass re-runs the
    * (idempotent) data delete and then removes the entry.
    */
  case object Retired extends Status("retired")

  private val statuses = Seq(Claimed, Published, Retired).map(s => s.wire -> s).toMap

  /** One generation's full lifecycle record. `base` is set for append
    * segments (the full build they were routed against); `tag` is the
    * appender's idempotence key, committed into the state's tag set
    * atomically with the segment's publish. Timestamps are writer wall
    * clocks: `supersededAt` (set when the entry leaves the live group)
    * drives the vacuum age gate, so a generation is reclaimable only
    * once it has been out of the live read set for the full floor —
    * under the old marker protocol the gate ran on PUBLISH time, which
    * let an hour-old generation be swept seconds after it was
    * superseded, out from under a probe that had just resolved it.
    * Writer clocks can skew across machines, but the marker protocol's
    * filesystem mtimes had the same exposure (whoever's clock stamps
    * the write) and NTP-grade skew is noise against the 1 h floor —
    * size `minAgeMs` to dominate worst-case skew plus the longest
    * probe, exactly as before.
    */
  final case class Entry(gen: Long, base: Option[Long], status: Status,
      claimedAt: Long, publishedAt: Long, supersededAt: Long, tag: Option[String])

  final case class State(version: Long, entries: Vector[Entry],
      tags: Set[String], tagFiles: Vector[String],
      /** Archives a fold UNREFERENCED, with the instant it happened —
        * their content lives on in the new archive, but a reader who
        * loaded the pre-fold state may still be about to `get` them, so
        * deletion age-gates on the UNREFERENCE instant (the same
        * supersededAt discipline generations follow; a creation-mtime
        * gate gives zero protection to an archive that was referenced
        * for days and unreferenced a millisecond ago).
        */
      retiredFiles: Vector[(String, Long)] = Vector.empty) {
    def entry(gen: Long): Option[Entry] = entries.find(_.gen == gen)
    /** The live FULL build: highest-numbered published full generation
      * (claim order, not publish order, ranks racing rebuilds — the
      * marker protocol's rule, preserved).
      */
    def liveBase: Option[Long] =
      entries.filter(e => e.status == Published && e.base.isEmpty).map(_.gen).maxOption
    def liveSegments: Seq[Long] = liveBase.fold(Seq.empty[Long])(b =>
      entries.filter(e => e.status == Published && e.base.contains(b)).map(_.gen).sorted)
    def liveGroup: Set[Long] = liveBase.fold(Set.empty[Long])(b => liveSegments.toSet + b)
    /** Highest published generation of ANY kind (non-segmented stores). */
    def current: Option[Long] = entries.filter(_.status == Published).map(_.gen).maxOption
    def maxGen: Long = entries.map(_.gen).maxOption.getOrElse(0L)
  }

  val empty: State = State(-1L, Vector.empty, Set.empty, Vector.empty)

  /** The chain's serialization FORMAT version, written as the first
    * record of every state file. The strict parser below refuses
    * unknown record types as corruption, so any format evolution an
    * old reader may encounter MUST ship as a format bump: a reader
    * seeing a higher version fails with an explicit upgrade message
    * instead of a misleading "corrupt line" — and a same-version state
    * is guaranteed fully parseable. States written before the record
    * existed carry no `v` line and parse as format 1 (their record set
    * is exactly format 1's).
    *
    * ROLLING-DEPLOYMENT NOTE: the `v` record itself was a new line type
    * when it shipped — a pre-version-record reader sees a newly-written
    * chain's `v 1` line as "corrupt generation-chain line", not an
    * upgrade message (nothing can be done retroactively; the record
    * exists so this is the LAST time that failure mode is possible).
    * Deployments mixing library versions must therefore upgrade ALL
    * readers before any post-record writer commits; the same rule
    * applies to any future format bump — readers first, writers after,
    * since a format-N writer makes the store unreadable (loudly, with
    * the upgrade message) to every format-<N reader.
    */
  val FormatVersion: Long = 1L

  private[sources] def serialize(s: State): Array[Byte] = {
    val g = s.entries.map(e => Seq("g", e.gen, e.base.getOrElse("-"), e.status.wire,
      e.claimedAt, e.publishedAt, e.supersededAt, e.tag.getOrElse("-")).mkString(" "))
    val t = s.tags.toSeq.sorted.map("t " + _)
    val tf = s.tagFiles.map("tf " + _)
    val rtf = s.retiredFiles.map { case (f, ts) => s"rtf $f $ts" }
    (s"v $FormatVersion" +: (g ++ t ++ tf ++ rtf)).mkString("\n").getBytes("UTF-8")
  }

  private[sources] def deserialize(version: Long, bytes: Array[Byte]): State = {
    var entries = Vector.empty[Entry]
    var tags = Set.empty[String]
    var tagFiles = Vector.empty[String]
    var retired = Vector.empty[(String, Long)]
    new String(bytes, "UTF-8").split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split(" ") match {
        case Array("v", fv) =>
          if (fv.toLong > FormatVersion) throw new IllegalStateException(
            s"generation-chain state is format ${fv.toLong}, newer than this " +
              s"reader's $FormatVersion — upgrade the library before reading this store")
        case Array("g", gen, base, st, ca, pa, sa, tag) =>
          entries :+= Entry(gen.toLong,
            if (base == "-") None else Some(base.toLong),
            statuses(st), ca.toLong, pa.toLong, sa.toLong,
            if (tag == "-") None else Some(tag))
        case Array("t", tag) => tags += tag
        case Array("tf", f) => tagFiles :+= f
        case Array("rtf", f, ts) => retired :+= (f -> ts.toLong)
        // strict by design: an unknown record type is treated as
        // corruption, not skipped — silently ignoring state a newer
        // writer depends on is how split-brain starts. Format
        // evolution that old readers may encounter ships behind the
        // `v` record above, which fails with an upgrade message first.
        case other => throw new IllegalStateException(
          s"corrupt generation-chain line: '${other.mkString(" ")}'")
      }
    }
    State(version, entries, tags, tagFiles, retired)
  }
}

/** The generation/segment/tag protocol as ONE versioned state chain: a
  * [[CommitLog]] (the log [[graft.etl.SnapshotTable]]'s manifests also
  * ride) whose every version holds the complete store state (generation
  * entries + committed appender tags) in the `v 1` text format below.
  * Every transition is an optimistic read-modify-write through
  * [[CommitLog.commit]], so of two racing writers exactly one wins and
  * the loser re-derives against the winner's state. The chain adds the
  * store's own rules on top: the lifecycle transitions, tag archives,
  * and its retention (16 versions behind the head, a one-minute floor).
  *
  * This replaces the marker-file choreography (claim-/ready-/segof-/
  * tagdone- files) that produced three consecutive rounds of race
  * findings. The states those races lived in are now unreachable:
  *
  *   - append-vs-rebuild: [[publishSegment]] verifies the base is live
  *     and publishes IN THE SAME COMMIT — a lost race throws
  *     [[SupersededBaseException]] before anything becomes visible, so
  *     published orphan segments do not exist;
  *   - tag-commitment TOCTOU: the idempotence tag joins the committed
  *     set in that same commit — a tag is durably committed exactly
  *     when its rows are in the live read set, with no window between;
  *   - withdrawal-vs-vacuum: there is nothing to withdraw — confirm/
  *     unconfirm/retract are gone, and vacuum transitions ride the same
  *     CAS as everything else.
  *
  * Scale shape: entries stay bounded (live group + in-flight claims +
  * retired-pending); committed tags accumulate one per ingested batch
  * and are folded into immutable `tags-*` archive files by vacuum, so
  * steady-state commits rewrite O(live state), not O(history).
  */
final class GenerationChain(dir: String, io: StoreIO,
    clock: () => Long = () => System.currentTimeMillis()) {
  import GenerationChain._

  private val log = new CommitLog[State](dir, io, serialize, deserialize)

  /** Read the latest committed state (empty before the first commit). */
  def state(): State = log.head().getOrElse(empty)

  /** Optimistic commit: `transition` maps the fresh state to the next
    * one (throwing to refuse — e.g. [[SupersededBaseException]] — is
    * the atomic-refusal path); on a version conflict the transition
    * re-runs against the winner's state. A transition that changes
    * nothing (an idempotent burn of an absent entry, a vacuum pass with
    * nothing eligible) publishes nothing — a chain version per no-op
    * call would be pure churn for the trimmer.
    */
  private def commit(transition: State => State): Unit =
    log.commit("generation-chain commit") { h =>
      val s = h.getOrElse(empty)
      Some(transition(s)).filter(_ != s)
    }: Unit

  /** Claim the next free generation number (atomic: racing builders get
    * distinct numbers). Invisible to probes until published.
    */
  def claim(): Long = {
    var claimed = 0L
    commit { s =>
      claimed = s.maxGen + 1
      s.copy(entries = s.entries :+ Entry(claimed, None, Claimed, clock(), 0L, 0L, None))
    }
    claimed
  }

  /** Resolve an AMBIGUOUS publish failure: the commit's `putIfAbsent`
    * threw (not refused) — on an object store a timed-out PUT may have
    * landed; on POSIX the post-link temp cleanup can fail after the
    * link succeeded. Nobody else can publish OUR claimed generation, so
    * a re-read settles it: published = the commit landed, treat the
    * publish as SUCCESS (swallowing the error — the durable state is
    * exactly what the caller asked for); otherwise rethrow. Without
    * this, every caller's failure cleanup would delete a LIVE
    * generation's data while (for segments) the atomically-committed
    * tag makes the replay skip — permanent loss. If the verifying
    * re-read itself fails, the original exception propagates with the
    * reader suppressed — and callers' cleanup must then LEAK, not
    * delete (the guarded-cleanup contract on [[Warehouse]]'s helpers).
    */
  private def verifyAmbiguousPublish(gen: Long, e: Throwable): Unit = {
    val published =
      try state().entry(gen).exists(_.status == Published)
      catch { case re: Throwable => e.addSuppressed(re); throw e }
    if (!published) throw e
  }

  /** Publish a claimed generation as a FULL build. Atomically recomputes
    * the live group: every published entry that leaves it (the previous
    * base, its segments, lower-numbered racing rebuilds — or this very
    * generation, if a higher-numbered rebuild already published) is
    * stamped `supersededAt` now, which starts its vacuum age-gate clock.
    */
  def publishFull(gen: Long): Unit = {
    try publishFullCommit(gen)
    catch {
      case e: IllegalStateException => throw e // pre-commit refusal
      case e: IllegalArgumentException => throw e
      case e: Throwable => verifyAmbiguousPublish(gen, e)
    }
  }

  /** [[publishFull]] CONDITIONED on the live read set: refuses with
    * [[StaleFoldException]] — publishing nothing — unless the live
    * (base, segments) group still equals the set the caller resolved
    * and folded. The compaction contract's other half: an append's
    * [[publishSegment]] refuses when a rebuild won; this refuses when
    * an APPEND won during the fold window, so a segment can never be
    * superseded without its rows having been folded in. The liveness
    * check and the publish are one atomic commit, exactly the
    * segment-publish discipline.
    */
  def publishFullExpecting(gen: Long, expectedBase: Long,
      expectedSegments: Seq[Long]): Unit = {
    try publishFullCommit(gen, Some((expectedBase, expectedSegments.sorted)))
    catch {
      case e: StaleFoldException => throw e // atomic refusal, nothing committed
      case e: IllegalStateException => throw e // pre-commit refusal
      case e: IllegalArgumentException => throw e
      case e: Throwable => verifyAmbiguousPublish(gen, e)
    }
  }

  private def publishFullCommit(gen: Long,
      expecting: Option[(Long, Seq[Long])] = None): Unit = {
    commit { s =>
      val e = s.entry(gen).getOrElse(throw new IllegalStateException(
        s"generation $gen is not claimed in $dir"))
      require(e.status == Claimed, s"generation $gen is ${e.status.wire}, not claimable-to-publish")
      expecting.foreach { case (eb, esegs) =>
        if (!s.liveBase.contains(eb) || s.liveSegments != esegs)
          throw StaleFoldException(eb, esegs, s.liveBase, s.liveSegments)
      }
      val now = clock()
      val published = s.entries.map(en =>
        if (en.gen == gen) en.copy(status = Published, publishedAt = now) else en)
      val live = s.copy(entries = published).liveGroup
      // stamp everything that just left (or never joined) the live
      // group — including THIS generation, if a higher-numbered racing
      // rebuild already published past it
      s.copy(entries = published.map(en =>
        if (en.status == Published && en.supersededAt == 0L && !live.contains(en.gen))
          en.copy(supersededAt = now)
        else en))
    }
    ()
  }

  /** Publish a claimed generation as an APPEND SEGMENT of `base`,
    * committing the appender's idempotence `tag` in the same commit.
    * Refuses with [[SupersededBaseException]] — publishing nothing —
    * when `base` is no longer the live full build; the at-least-once
    * commit point is exactly this commit, so [[tagCommitted]] is true
    * iff the batch's rows are durably in the live read set.
    */
  def publishSegment(gen: Long, base: Long, tag: Option[String]): Unit = {
    tag.foreach(t => require(t.nonEmpty && t.matches("[A-Za-z0-9._:-]+"),
      s"dedupe tag '$t' must match [A-Za-z0-9._:-]+"))
    try publishSegmentCommit(gen, base, tag)
    catch {
      case e: SupersededBaseException => throw e // atomic refusal, nothing committed
      case e: IllegalStateException => throw e
      case e: IllegalArgumentException => throw e
      case e: Throwable => verifyAmbiguousPublish(gen, e)
    }
  }

  private def publishSegmentCommit(gen: Long, base: Long, tag: Option[String]): Unit = {
    commit { s =>
      val e = s.entry(gen).getOrElse(throw new IllegalStateException(
        s"generation $gen is not claimed in $dir"))
      require(e.status == Claimed, s"generation $gen is ${e.status.wire}, not claimable-to-publish")
      if (!s.liveBase.contains(base)) throw SupersededBaseException(base, s.liveBase)
      val now = clock()
      s.copy(
        entries = s.entries.map(en =>
          if (en.gen == gen)
            en.copy(base = Some(base), status = Published, publishedAt = now, tag = tag)
          else en),
        tags = s.tags ++ tag)
    }
    ()
  }

  /** Remove a claimed-but-unpublished generation's entry (after its
    * data is dropped) — build-failure / lost-race cleanup. Idempotent;
    * refuses to burn a PUBLISHED generation (that is vacuum's job).
    */
  def burn(gen: Long): Unit = {
    commit { s =>
      s.entry(gen) match {
        case None => s
        case Some(e) if e.status == Claimed => s.copy(entries = s.entries.filterNot(_.gen == gen))
        case Some(e) => throw new IllegalStateException(
          s"cannot burn generation $gen: it is ${e.status.wire}")
      }
    }
    ()
  }

  /** True iff the chain PROVABLY shows `gen` unpublished (claimed or
    * absent) — the guard every failure-cleanup must pass before it
    * deletes a generation's data: a published generation is live (or
    * durably superseded) and its data belongs to probes/vacuum, and an
    * UNREADABLE chain answers false so an ambiguous double-failure
    * leaks a claim (reclaimed by the age-gated sweep) instead of
    * deleting data that may be in the live read set.
    */
  def provablyUnpublished(gen: Long): Boolean =
    try state().entry(gen).forall(_.status == Claimed)
    catch { case _: Throwable => false }

  /** True iff `tag`'s batch COMMITTED — it rode a segment publish that
    * won its liveness race. Durable forever (vacuum folds tags into
    * archive files, never drops them): the at-least-once replay check.
    *
    * A referenced archive that cannot be read FAILS the check loudly
    * instead of answering "not committed": a fresh state's `tagFiles`
    * entries must exist until retired past the age floor, so a miss is
    * corruption or transience — and a silent false here is exactly the
    * failure [[compactTags]]'s fold-abort guards against (an
    * at-least-once replay would re-append an already-committed batch,
    * duplicating rows). Loud failure is retryable; duplicate data is
    * not.
    */
  def tagCommitted(tag: String): Boolean = {
    val s = state()
    s.tags.contains(tag) || s.tagFiles.exists { f =>
      val bytes = io.get(s"$dir/$f").getOrElse(throw new IllegalStateException(
        s"tag archive $f unreadable at $dir — cannot decide whether the batch " +
          "already committed (answering 'no' would duplicate rows on replay); retry"))
      new String(bytes, "UTF-8").linesIterator.map(_.trim).contains(tag)
    }
  }

  /** The live read set: (live full build, its published segments).
    * Fails with the caller-supplied hint when nothing full is published.
    */
  def resolveSegmented(what: String): (Long, Seq[Long]) = {
    val s = state()
    val base = s.liveBase.getOrElse(throw new IllegalStateException(
      s"$what has no published full build — run its build first"))
    (base, s.liveSegments)
  }

  def segmentBase(gen: Long): Option[Long] = state().entry(gen).flatMap(_.base)

  /** Vacuum pass. `select` picks candidate PUBLISHED generations from
    * the fresh state (keep-count or below-live-base — the caller's
    * policy); the chain enforces the safety rules on top:
    *
    *  - the live group is never reclaimed, whatever `select` says;
    *  - a published candidate is eligible only once `supersededAt` is
    *    older than `minAgeMs` — i.e. it has been OUT of the live read
    *    set for the full floor (a probe pinned to it resolved before
    *    that instant);
    *  - dead claims (below the newest published generation, age-gated
    *    on claim time) are swept only when something IS published —
    *    before the first publish every claim may be an in-flight first
    *    build; claims at or above the newest published generation are
    *    never swept (in-flight builds/appends, however slow);
    *  - reclaim is crash-safe two-phase: entries flip to `retired` in
    *    one commit, data deletion (`deleteGen`, idempotent) runs
    *    outside it, and a second commit removes the entries — a crash
    *    between leaves `retired` entries the next pass re-processes.
    *
    * The pass also folds committed tags into an archive file once the
    * inline set grows, sweeps orphaned archives, and trims old chain
    * versions.
    */
  def vacuum(select: State => Seq[Long], minAgeMs: Long)(deleteGen: Long => Unit): Unit = {
    val now = clock()
    val cutoff = now - minAgeMs
    var toDelete = Seq.empty[Long]
    commit { s =>
      val live = s.liveGroup
      val newestPublished = s.current
      val selected = select(s).toSet
      val retirePub = s.entries.filter(e => e.status == Published &&
        selected.contains(e.gen) && !live.contains(e.gen) &&
        e.supersededAt > 0L && e.supersededAt <= cutoff).map(_.gen)
      val retireClaims = newestPublished match {
        case Some(np) => s.entries.filter(e => e.status == Claimed &&
          e.gen < np && e.claimedAt <= cutoff).map(_.gen)
        case None => Seq.empty
      }
      val already = s.entries.filter(_.status == Retired).map(_.gen)
      toDelete = (retirePub ++ retireClaims ++ already).distinct
      val flip = (retirePub ++ retireClaims).toSet
      s.copy(entries = s.entries.map(e =>
        if (flip.contains(e.gen)) e.copy(status = Retired) else e))
    }
    toDelete.foreach(deleteGen)
    if (toDelete.nonEmpty) {
      val gone = toDelete.toSet
      commit(s => s.copy(entries = s.entries.filterNot(e =>
        e.status == Retired && gone.contains(e.gen))))
    }
    compactTags()
    sweepArchives(now)
    // readers only ever load the head, so a 16-version margin (plus a
    // one-minute age floor against a reader mid list-then-get) is generous
    log.trim(16, now - 60_000L)
    log.sweepTmp(now)
  }

  /** Fold inline committed tags into one immutable archive file when
    * the inline set grows — so a long-lived streaming store's commits
    * rewrite O(live state), not one line per historical micro-batch.
    * Tags committed AFTER the fold snapshot stay inline (the transition
    * re-reads fresh state on every CAS attempt).
    */
  private def compactTags(threshold: Int = 64): Unit = {
    if (state().tags.size <= threshold) return
    commit { s =>
      if (s.tags.size <= threshold) s
      else {
        // a referenced archive that cannot be read ABORTS the fold: a
        // transient miss silently merged as empty would write a new
        // archive without its tags and retire-then-delete the only
        // copy — replays of those batches would re-append, duplicating
        // rows. Loud failure is retryable; silent tag loss is not.
        val all = (s.tags ++ s.tagFiles.flatMap { f =>
          val bytes = io.get(s"$dir/$f").getOrElse(throw new IllegalStateException(
            s"tag archive $f unreadable — aborting the fold (committed tags " +
              "must never be silently dropped); retry the vacuum"))
          new String(bytes, "UTF-8").linesIterator.map(_.trim).filter(_.nonEmpty)
        }).toSeq.sorted
        val name = s"tags-${java.util.UUID.randomUUID()}"
        io.put(s"$dir/$name", all.mkString("\n").getBytes("UTF-8"))
        // the folded-in archives RETIRE rather than vanish: a reader who
        // loaded the pre-fold state may still be about to read them, so
        // they are stamped with the unreference instant and swept only
        // past the age floor ([[State.retiredFiles]])
        val now = clock()
        s.copy(tags = Set.empty, tagFiles = Vector(name),
          retiredFiles = s.retiredFiles ++ s.tagFiles.map(_ -> now))
      }
    }
    ()
  }

  /** Delete retired archives an hour past their UNREFERENCE instant
    * (pre-fold readers have long resolved), plus never-referenced
    * orphans from lost fold races (mtime-gated — they were never in any
    * state, so no reader can hold them).
    */
  private def sweepArchives(now: Long): Unit = {
    val s = state()
    val ripe = s.retiredFiles.filter(_._2 <= now - 3600_000L)
    if (ripe.nonEmpty) {
      ripe.foreach { case (f, _) => io.delete(s"$dir/$f") }
      val gone = ripe.map(_._1).toSet
      commit(s2 => s2.copy(retiredFiles = s2.retiredFiles.filterNot(r => gone.contains(r._1))))
    }
    val held = state()
    val referenced = held.tagFiles.toSet ++ held.retiredFiles.map(_._1)
    // an UNREADABLE mtime keeps the archive ([[StoreIO.sweepAged]]): a
    // just-written fold archive whose stat transiently fails must not
    // be swept before the fold's CAS references it (deleting it would
    // commit a state whose archived tags all read uncommitted)
    StoreIO.sweepAged(io, dir, now - 3600_000L)(f =>
      f.startsWith("tags-") && !referenced.contains(f))
  }
}
