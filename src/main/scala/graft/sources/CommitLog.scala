package graft.sources

/** One versioned, optimistically committed state log over [[StoreIO]] —
  * the protocol under a store's [[GenerationChain]], a
  * [[graft.etl.SnapshotTable]]'s manifests and the ETL sync log
  * ([[graft.etl.MetadataStore]]). Version `N` is the object
  * `dir/v<N>` (twelve zero-padded digits) holding the complete state;
  * the head is the highest version. A commit publishes `head + 1`
  * through [[StoreIO.putIfAbsent]], so of two racing writers exactly one
  * wins and the loser re-reads the winner's state and re-derives its
  * own (Structured Streaming's offset/commit log has the same shape).
  * A version is never rewritten, so its object's mtime is its commit
  * instant. [[trim]] drops old versions by the caller's retention
  * policy; [[sweepTmp]] reclaims the temp siblings of a publish that
  * crashed before its cleanup.
  *
  * `decode` receives the version it reads; `encode` ignores any version
  * a state carries (the log assigns it at commit).
  */
final class CommitLog[S](dir: String, io: StoreIO,
    encode: S => Array[Byte], decode: (Long, Array[Byte]) => S) {
  import CommitLog._

  private def name(v: Long): String = f"v$v%012d"

  private def path(v: Long): String = s"$dir/${name(v)}"

  private def isVersion(n: String): Boolean =
    n.length == 13 && n.startsWith("v") && n.drop(1).forall(_.isDigit)

  /** Committed versions, ascending (other names in `dir` are ignored). */
  def versions(): Seq[Long] = io.list(dir).filter(isVersion).map(_.drop(1).toLong).sorted

  /** The state at version `v`; None when it was never committed or has
    * been trimmed.
    */
  def at(v: Long): Option[S] = io.get(path(v)).map(decode(v, _))

  /** Version `v`'s commit instant, if the version still exists. */
  def committedAt(v: Long): Option[Long] = io.mtime(path(v))

  /** The head's version (-1 before the first commit) and state. A rival
    * commit plus a trim can delete the listed head between the listing
    * and the read; a newer head then exists, so the read lists again.
    */
  private def latest(): (Long, Option[S]) = {
    var vanished = 0
    while (vanished < MaxHeadReads) {
      versions().lastOption match {
        case None => return (-1L, None)
        case Some(v) => at(v) match {
          case Some(s) => return (v, Some(s))
          case None => vanished += 1
        }
      }
    }
    throw new IllegalStateException(
      s"commit log at $dir is unreadable: its head vanished $MaxHeadReads times in a row")
  }

  /** The latest committed state (None before the first commit). */
  def head(): Option[S] = latest()._2

  /** Publish `s` as version `expected + 1` (`expected` = -1 for the first
    * commit). False, writing nothing visible, when a rival already took
    * that version.
    */
  def tryCommit(expected: Long, s: S): Boolean = io.putIfAbsent(path(expected + 1), encode(s))

  /** The optimistic commit loop. `transition` maps the head (None before
    * the first commit) to the next state, or to None for a no-op that
    * publishes nothing; throwing from it refuses the commit. A lost race
    * re-reads the winner's head and re-runs `transition`, up to
    * [[MaxLostRaces]] losses. Returns the committed version, or for a
    * no-op the head's (-1 when empty).
    */
  def commit(what: String)(transition: Option[S] => Option[S]): Long = {
    var lost = 0
    while (lost < MaxLostRaces) {
      val (v, cur) = latest()
      transition(cur) match {
        case None => return v
        case Some(next) => if (tryCommit(v, next)) return v + 1
      }
      lost += 1
    }
    throw new IllegalStateException(s"$what lost $MaxLostRaces races at $dir")
  }

  /** Delete every version but the newest `keep` whose commit instant is
    * at or before `cutoff` (`Long.MaxValue`: no age gate). Returns the
    * kept versions.
    */
  def trim(keep: Int, cutoff: Long): Seq[Long] = {
    val vs = versions()
    val old = vs.dropRight(keep).map(name).toSet
    StoreIO.sweepAged(io, dir, cutoff)(old)
    vs.takeRight(keep)
  }

  /** Reclaim orphaned `.tmp-*` siblings: the write half of a publish that
    * crashed between its temp write and its cleanup. No reader ever saw
    * one, so the only rule is the age floor (at least one hour, or the
    * caller's longer `minAgeMs`) against a publish in flight right now.
    */
  def sweepTmp(now: Long, minAgeMs: Long = 0L): Unit =
    StoreIO.sweepAged(io, dir, now - math.max(minAgeMs, TmpFloorMs))(_.startsWith(".tmp-"))
}

object CommitLog {
  /** Lost races one [[CommitLog.commit]] call tolerates before it fails. */
  val MaxLostRaces = 100

  private val MaxHeadReads = 10

  private val TmpFloorMs = 3600_000L
}
