package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command

/** Optimistic concurrency for graft-jsonl commits.
  *
  * The format's mutations publish through rename (append legs) and
  * delete-then-publish (COW swap, compaction swap). Through round 11 that
  * carried a documented single-writer assumption; two concurrent
  * committers racing on the same files could interleave DESTRUCTIVELY:
  * writer B's swap could delete files writer A's replacement had just
  * published around, a MOR delete could land its sidecar against a file
  * a compaction had just rewritten (the deletes silently never apply —
  * resurrected rows), and a MERGE could re-emit rows a concurrent DELETE
  * had erased. The MySQL reference got ACID upserts for free
  * (`metro.sql:42-59` PRIMARY KEY + `MeshJoin.java:354-376` ON DUPLICATE
  * KEY UPDATE); this is the lake equivalent: Iceberg-style
  * validate-at-commit with a short critical section.
  *
  * Protocol — every mutating commit runs as:
  *
  *  1. ACQUIRE the table's commit lock (`_commit.lock`, atomic
  *     create-if-absent — the filesystem CAS primitive; object stores
  *     without atomic create would swap in a conditional PUT).
  *  2. VALIDATE the operation's read snapshot against the now-frozen live
  *     state: every file it plans to remove/reference must still exist,
  *     and no delete-vector sidecar that appeared since the operation
  *     planned may reference those files (a concurrent MOR delete's
  *     verdicts would be silently lost in the rewrite).
  *  3. APPLY (delete + publish) and RELEASE.
  *
  * A failed validation is a LOUD abort naming the conflicting files —
  * the operation re-run against the current table state is the retry.
  * Validation is deliberately conservative at FILE granularity (two
  * merges touching disjoint rows of one file conflict — same trade
  * Iceberg makes) and treats a sidecar renamed by a concurrent sweep as
  * new (spurious abort, never a lost update).
  *
  * The lock bounds only the commit critical section (milliseconds: a
  * listing, a few renames), never scans or shuffles — writers of a 100 TB
  * table still overlap everywhere except the final swap.
  *
  * ISOLATION LEVEL: snapshot, not serializable. Validation aborts on
  * conflicts that would LOSE a committed write (files removed from under
  * a rewrite, fresh delete vectors on files a rewrite/merge consumed);
  * it deliberately does NOT abort a MERGE when a concurrent APPEND adds
  * rows matching the merge's ON condition after plan time — those rows
  * keep their appended values (write skew Iceberg's serializable mode
  * would reject via added-data-file validation). Opt in to that stricter
  * check per-JVM with [[serializableMerge]].
  *
  * LIVENESS (lease + steal): a holder's heartbeat refreshes the lock
  * file's mtime every [[leaseMs]]/4 from a daemon thread, so a lock held
  * across table-size-proportional work (clone's byte copy, vacuum,
  * compaction sweeps) always looks live. A lock whose mtime is older
  * than [[leaseMs]] means the holder JVM died mid-commit (its heartbeat
  * stopped); waiters reclaim it WITHOUT human intervention via a CAS
  * rename — exactly one contender wins `rename(lock, tombstone)`, and a
  * post-rename staleness re-check un-steals in the pathological window
  * where the dead lock was released-and-reacquired between stat and
  * rename. The remaining hole is the classic unfenced-lease one (a
  * holder paused longer than a full lease resumes believing it still
  * holds); closing it needs fencing tokens from the store, which a
  * filesystem cannot provide — same trade Delta's S3 lock clients make.
  * The MySQL reference leaned on the server's lock manager for this
  * (`metro.sql:42-59`); a lake gets the lease protocol instead. */
private[graft] object JsonlOcc {

  val LockName = "_commit.lock"

  /** Acquisition budget; tests shrink it to exercise the timeout path. */
  @volatile private[graft] var lockTimeoutMs: Long = 30000L

  /** Lease: a lock not heartbeat-refreshed for this long is abandoned
    * (holder died) and is stolen by the next waiter. Heartbeat period is
    * leaseMs/4, so a live holder survives three missed beats before
    * looking dead. Tests shrink it to exercise the steal path. */
  @volatile private[graft] var leaseMs: Long = 60000L

  /** Opt-in serializable validation for MERGE: abort when any DATA file
    * was appended to the table between the merge's plan and its commit
    * (the appended rows may match the merge's ON condition and would
    * silently miss the merge under snapshot isolation). File-granular
    * and condition-agnostic — conservative, like Iceberg's
    * added-data-file validation. */
  @volatile private[graft] var serializableMerge: Boolean = false

  /** Test seam: runs after an operation's plan but BEFORE its commit
    * lock acquisition — the deterministic two-writer interleaving hook
    * (CatalogSpec parks writer B here, lets writer A commit, then
    * releases B into its validation). */
  @volatile private[graft] var beforeLockHook: Option[String => Unit] = None

  /** Live delete-vector sidecar names (the validation baseline every
    * mutating write captures at plan time). */
  def liveVectorNames(fs: FileSystem, root: Path): Set[String] =
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).collect {
      case st if st.isFile && st.getPath.getName.startsWith("_deletes-") =>
        st.getPath.getName
    }.toSet

  /** The plan-time state a swap or delta commit validates against:
    * `vectors`, the delete-vector sidecars live when the write planned,
    * and `data`, the live data files, listed only for a MERGE under
    * [[serializableMerge]]. */
  final case class PlanBaseline(vectors: Set[String], data: Option[Set[String]])

  /** A row-level operation's [[PlanBaseline]], captured AT OPERATION
    * CONSTRUCTION (analysis time) — unambiguously BEFORE the operation's
    * scan loads the vectors it applies. Capturing it any later (the
    * batch write's constructor, whose ordering vs the scan shifts under
    * AQE) opens a window where a concurrent delete vector lands after the
    * scan read its row images but before the baseline listing — "not
    * new" to validation, absent from the images, silently resurrected on
    * commit. Early capture makes the baseline a SUBSET of what the scan
    * applied, so the race can only produce a spurious loud abort, never a
    * lost delete. The multi-writer fuzz caught the late-capture form.
    * Compaction lists its vectors the same way, before its rewrite scan,
    * and hands them to the write as the `compactVectorsAtPlan` option. */
  def baselineAtPlan(path: String, cmd: Command): PlanBaseline = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    PlanBaseline(liveVectorNames(fs, root),
      if (serializableMerge && cmd == Command.MERGE) Some(liveDataFileNames(fs, root))
      else None)
  }

  /** Live DATA file names (no `_`/`.` siblings) — the plan-time baseline
    * for [[serializableMerge]]'s added-data-file validation. */
  def liveDataFileNames(fs: FileSystem, root: Path): Set[String] =
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") =>
        st.getPath.getName
    }.toSet

  /** [[serializableMerge]]'s check, run under the commit lock BEFORE the
    * merge publishes its own files: any data file added to the table
    * since the merge planned may hold rows matching its ON condition
    * that the merge never saw — under snapshot isolation they silently
    * keep their appended values; serializable aborts instead (Iceberg's
    * added-data-file validation, file-granular and condition-agnostic). */
  def validateNoNewDataFiles(fs: FileSystem, root: Path,
      dataAtPlan: Set[String], opDesc: String): Unit = {
    val added = liveDataFileNames(fs, root) -- dataAtPlan
    require(added.isEmpty,
      s"graft-jsonl: $opDesc aborted under serializable validation — data " +
        s"file(s) ${added.toSeq.sorted.mkString(", ")} were appended after " +
        "the merge planned; their rows may match the merge condition and " +
        "would silently miss the merge. Re-run against the current state " +
        "(or accept snapshot isolation: JsonlOcc.serializableMerge = false).")
  }

  def withCommitLock[T](fs: FileSystem, root: Path, opDesc: String)(body: => T): T = {
    beforeLockHook.foreach(_(opDesc))
    val lock = new Path(root, LockName)
    // per-acquisition OWNER TOKEN, embedded in the lock file: the
    // heartbeat refreshes only while the content is still ours, and
    // release deletes only our own lock — so a holder paused past its
    // lease that was stolen from can neither keep the thief's lock
    // alive nor delete it out from under the thief
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
    while (!tryAcquire(fs, root, opDesc, token)) {
      stealIfExpired(fs, root, opDesc)
      if (System.nanoTime() > deadline) {
        val holder =
          try {
            val in = fs.open(lock)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: java.io.IOException => "<unreadable>" }
        val beatAge =
          try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
          catch { case _: java.io.IOException => -1L }
        throw new IllegalStateException(
          s"graft-jsonl: $opDesc could not acquire the commit lock on " +
            s"$root within ${lockTimeoutMs}ms — held by [$holder], last " +
            s"heartbeat ${beatAge}ms ago (lease ${leaseMs}ms), so the " +
            "holder is LIVE and mid-commit on a long operation. Do NOT " +
            s"remove $LockName: retry, raise the acquisition timeout, or " +
            "wait for the holder to finish. A crashed writer's lock stops " +
            "heartbeating and is reclaimed automatically after the lease.")
      }
      Thread.sleep(20)
    }
    val heartbeat = startHeartbeat(fs, lock, token)
    try body
    finally {
      heartbeat.cancel()
      releaseOwned(fs, lock, token, opDesc)
    }
  }

  private def readContent(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Token-checked release: delete the lock only while it is still OURS.
    * An empty/unreadable content is treated as ours (the diagnostic
    * write is best-effort — see [[tryAcquire]]); a FOREIGN token means a
    * waiter reclaimed the lock while this holder was paused past its
    * lease — leave the thief's lock alone and say so loudly. */
  private def releaseOwned(fs: FileSystem, lock: Path, token: String,
      opDesc: String): Unit = {
    val mine =
      try {
        val c = readContent(fs, lock)
        c.isEmpty || c.contains(token)
      } catch {
        case _: java.io.FileNotFoundException => return // already reclaimed
        case _: java.io.IOException => true // unreadable: best-effort ours
      }
    if (mine) fs.delete(lock, false)
    else System.err.println(
      s"graft-jsonl: $opDesc finished after its commit lock was reclaimed " +
        s"(lease expired while it was stalled) — leaving the current " +
        s"holder's lock in place; this commit may have raced its successor.")
  }

  /** Reclaim an abandoned lock: if the lock's mtime is a full lease old
    * (the holder's heartbeat stopped — its JVM died mid-commit), CAS it
    * away via rename. Exactly one contender wins the rename; a loser just
    * loops back to the acquire. The post-rename re-check closes the
    * stat→rename window: if the file we grabbed is FRESH, the stale lock
    * was released and re-acquired in that window and we put the live
    * holder's lock straight back. */
  private def stealIfExpired(fs: FileSystem, root: Path, opDesc: String): Unit = {
    val lock = new Path(root, LockName)
    try {
      val st = fs.getFileStatus(lock)
      if (System.currentTimeMillis() - st.getModificationTime <= leaseMs) return
      val tomb = new Path(root,
        s"$LockName.expired-${System.nanoTime()}-${ProcessHandle.current().pid()}")
      if (!fs.rename(lock, tomb)) return // another waiter won the steal
      val grabbed = fs.getFileStatus(tomb)
      if (System.currentTimeMillis() - grabbed.getModificationTime <= leaseMs) {
        // pathological window: we renamed a LIVE lock that replaced the
        // expired one between stat and rename — restore it, never steal
        if (!fs.rename(tomb, lock))
          throw new IllegalStateException(
            s"graft-jsonl: $opDesc could not restore a live commit lock it " +
              s"renamed by mistake on $root (a third writer re-created the " +
              s"lock first) — mutual exclusion is uncertain; resolve " +
              s"${tomb.getName} manually before writing.")
        return
      }
      val holder =
        try {
          val in = fs.open(tomb)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
      fs.delete(tomb, false)
      System.err.println(
        s"graft-jsonl: $opDesc reclaimed an expired commit lock on $root " +
          s"held by [$holder] — no heartbeat for ${leaseMs}ms, the holder " +
          "JVM died mid-commit.")
    } catch {
      case _: java.io.FileNotFoundException => () // released while we looked
      case _: java.io.IOException => ()
    }
  }

  /** Refresh the held lock's mtime every leaseMs/4 so waiters never
    * mistake a long critical section (clone, vacuum, compaction sweep)
    * for a dead holder. Daemon thread; cancel() is synchronous. */
  private def startHeartbeat(fs: FileSystem, lock: Path,
      token: String): Heartbeat = {
    val hb = new Heartbeat(fs, lock, token)
    hb.thread.setDaemon(true)
    hb.thread.setName(s"graft-jsonl-lock-heartbeat-${lock.getParent.getName}")
    hb.thread.start()
    hb
  }

  private[graft] final class Heartbeat(fs: FileSystem, lock: Path,
      token: String) {
    private val stop = new java.util.concurrent.CountDownLatch(1)
    val thread = new Thread(() => {
      var live = true
      while (live && !stop.await(math.max(leaseMs / 4, 10L),
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          // refresh only while the lock is still OURS: a foreign token
          // means a waiter legitimately reclaimed it (we stalled past the
          // lease) — beating on would keep the thief's lock alive with
          // OUR liveness, and deleting it at release would unlock a
          // third writer under the thief
          val content = readContent(fs, lock)
          if (content.nonEmpty && !content.contains(token)) {
            System.err.println(
              s"graft-jsonl: heartbeat found $lock held by a DIFFERENT " +
                "writer — this holder stalled past its lease and was " +
                "reclaimed; its commit may race the new holder's.")
            live = false
          } else fs.setTimes(lock, System.currentTimeMillis(), -1)
        } catch {
          // FileNotFound included: the lock may be mid-steal (renamed to
          // a tombstone and about to be restored by the re-check) —
          // KEEP BEATING; if it was genuinely stolen, the next beat sees
          // the thief's token and stops
          case _: java.io.IOException => ()
        }
      }
    })
    def cancel(): Unit = { stop.countDown(); thread.join(5000) }
  }

  /** One acquisition attempt. The `file://` scheme needs java.nio's
    * `Files.createFile` (true O_EXCL): Hadoop's RawLocalFileSystem
    * `create(path, overwrite = false)` is an exists() CHECK followed by a
    * plain stream open, so two racing local writers could both pass it —
    * the one deployment the bench and specs actually run on must not have
    * a weaker CAS than HDFS (whose exclusive create is server-side).
    * Holder info is diagnostic only and written best-effort: once the
    * create has succeeded the lock is OURS, and a failed diagnostic write
    * must not masquerade as contention (the writer would then spin out
    * the timeout against its own orphaned lock and wedge the table). */
  private def tryAcquire(fs: FileSystem, root: Path, opDesc: String,
      token: String): Boolean = {
    val holder = s"$opDesc @ ${System.currentTimeMillis()} token=$token"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val scheme = Option(root.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val dir = java.nio.file.Paths.get(root.toUri.getPath)
      try {
        java.nio.file.Files.createDirectories(dir)
        val lockFile = java.nio.file.Files.createFile(dir.resolve(LockName))
        try { java.nio.file.Files.write(lockFile, holder); () }
        catch { case _: java.io.IOException => () }
        true
      } catch { case _: java.io.IOException => false } // exists ⊂ IOException
    } else {
      try {
        val out = fs.create(new Path(root, LockName), false)
        try { out.write(holder); out.close() }
        catch {
          case _: java.io.IOException =>
            try out.close() catch { case _: java.io.IOException => () }
        }
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** The data-file names a delete-vector sidecar references (its JSON
    * field names) — one reader shared by commit validation and the
    * delta commit. */
  def vectorFileNames(fs: FileSystem, p: Path): Set[String] = {
    val in = fs.open(p)
    val tree = try JsonlV2.mapper.readTree(in) finally in.close()
    val it = tree.fieldNames()
    val names = Set.newBuilder[String]
    while (it.hasNext) names += it.next()
    names.result()
  }

  /** Validate a delete-then-publish swap (COW row-level op, compaction):
    * the files the operation will remove must all still exist, and no
    * sidecar published since `vectorsAtPlan` may reference them. */
  def validateSwap(fs: FileSystem, root: Path, swapNames: Seq[String],
      vectorsAtPlan: Set[String], opDesc: String): Unit = {
    val missing = swapNames.filterNot(n => fs.exists(new Path(root, n)))
    require(missing.isEmpty,
      s"graft-jsonl: $opDesc conflicts with a concurrent commit — " +
        s"file(s) it scanned were already rewritten or removed: " +
        s"${missing.sorted.mkString(", ")}. Re-run the operation against " +
        "the current table state.")
    requireNoNewVectorsOn(fs, root, swapNames.toSet, vectorsAtPlan, opDesc,
      "its rewrite would silently drop those row-level deletes")
  }

  /** Validate a delta (MOR) commit: every file the new sidecars/verdicts
    * reference must still exist (a rewritten file ignores old-named
    * sidecars — the deletes would silently never apply), and for MERGE no
    * concurrent sidecar may have landed on those files since plan time
    * (the merge's row images predate those deletes — re-emitting them
    * resurrects erased rows). */
  def validateDeltaRefs(fs: FileSystem, root: Path, referenced: Set[String],
      vectorsAtPlan: Option[Set[String]], opDesc: String): Unit = {
    val missing = referenced.filterNot(n => fs.exists(new Path(root, n)))
    require(missing.isEmpty,
      s"graft-jsonl: $opDesc conflicts with a concurrent commit — its " +
        s"row-level verdicts reference file(s) that were rewritten or " +
        s"removed: ${missing.toSeq.sorted.mkString(", ")}. The verdicts " +
        "would silently never apply; re-run against the current state.")
    vectorsAtPlan.foreach(baseline =>
      requireNoNewVectorsOn(fs, root, referenced, baseline, opDesc,
        "its row images predate those deletes and would resurrect them"))
  }

  private def requireNoNewVectorsOn(fs: FileSystem, root: Path,
      files: Set[String], vectorsAtPlan: Set[String], opDesc: String,
      consequence: String): Unit = {
    val fresh = liveVectorNames(fs, root) -- vectorsAtPlan
    val touching =
      fresh.filter(v => vectorFileNames(fs, new Path(root, v)).exists(files))
    require(touching.isEmpty,
      s"graft-jsonl: $opDesc conflicts with a concurrent commit — delete " +
        s"vector(s) ${touching.toSeq.sorted.mkString(", ")} landed on " +
        s"file(s) it read after it planned; $consequence. Re-run the " +
        "operation against the current table state.")
  }
}
