package graft

import org.apache.spark.sql.SparkSession

/** Per-JVM scratch root for materialized intermediates (memoized layouts,
  * edge/label checkpoints, signature tables, the media decode table).
  *
  * Placement: prefer `/dev/shm` (RAM-backed tmpfs) over `java.io.tmpdir`
  * when it offers comfortable headroom. Scratch artifacts are small
  * (tens of MB at the gate scale factors) but their WRITE PATTERN is
  * many-file — partitioned layouts commit hundreds of files, iterative
  * operators checkpoint every round — and on a disk-backed /tmp each
  * commit is a synchronous metadata op that multiplies under a loaded
  * host's I/O contention (the round-6 driver bench amplified exactly the
  * write-heavy entries 3–9× while CPU-bound entries stayed ~1.3×). On the
  * 1000-executor cluster this maps to what Spark already does: shuffle
  * and spill dirs belong on node-local fast storage, never on a
  * contended shared volume.
  *
  * `GRAFT_SCRATCH_DIR` overrides placement entirely (e.g. to force disk
  * when several graft JVMs share one host's tmpfs).
  *
  * Headroom is re-checked PER PATH, not once: the first artifact passing
  * a one-shot 16 GiB check says nothing about the corpus-sized layouts
  * that follow (yearLayout, s14's fragments, s20/s21), and two concurrent
  * JVMs can each pass the initial check then jointly exhaust tmpfs —
  * ENOSPC mid-commit plus host RAM pressure. When shm's usable space
  * drops below the low watermark, NEW artifacts route to the disk
  * fallback root; already-written paths keep scanning where they are
  * (every caller captures its path in a `val` before writing).
  *
  * Lifecycle: everything lives under per-JVM roots, deleted by shutdown
  * hooks — previous runs leaked thousands of
  * `/tmp/graft_*_<pid>_<nanos>` dirs with nothing to reclaim them. Roots
  * embed the pid+nanotime run tag, so concurrent JVMs (a gate run next to
  * a bench run) can never collide, and every [[path]] carries a
  * per-session tag, so two sessions in one JVM cannot either. */
object Scratch {
  private val runTag =
    s"${ProcessHandle.current().pid()}_${java.lang.Long.toHexString(System.nanoTime())}"

  /** Keep a wide margin: tmpfs pages are RAM, and a full /dev/shm fails
    * writes with ENOSPC mid-commit. Use shm only while it has 16 GiB
    * usable — far above any gate-SF artifact set. */
  private val MinShmUsable = 16L << 30

  private def mkRoot(base: java.io.File): String = {
    val dir = new java.io.File(base, s"graft_scratch_$runTag")
    dir.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir.getAbsolutePath
  }

  private val shmDir = new java.io.File("/dev/shm")

  private lazy val diskRoot: String =
    mkRoot(new java.io.File(System.getProperty("java.io.tmpdir", "/tmp")))

  private lazy val shmRoot: String = mkRoot(shmDir)

  private val envRoot: Option[String] =
    sys.env.get("GRAFT_SCRATCH_DIR").filter(_.nonEmpty)
      .map(d => mkRoot(new java.io.File(d)))

  /** The root NEW artifacts land under right now: the env override if
    * set, else shm while it has headroom, else the disk tmpdir. Evaluated
    * per call — see the headroom note in the object doc. */
  private[graft] def root: String = envRoot.getOrElse {
    if (shmDir.isDirectory && shmDir.canWrite &&
        shmDir.getUsableSpace > MinShmUsable) shmRoot
    else diskRoot
  }

  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(); ()
  }

  /** A scratch path unique to (kind, corpus dir, session) within this
    * JVM's run-tagged roots. A fixed shared path races when two JVMs run
    * over the same corpus (one `mode(overwrite)` deletes files the other's
    * memoized read-back frame is mid-scan on), and a plain character-class
    * sanitizer can collide distinct dirs (`/a/b` vs `/a_b`); the run tag
    * and the session tag rule both out. */
  def path(kind: String, d: String, s: SparkSession): String =
    s"$root/${kind}_${d.replaceAll("[^0-9a-zA-Z]", "_")}_s${sessionTag(s)}"

  /** Per-session name component: the artifact memos are (session, dir)-
    * keyed, so without it a SECOND session in the same JVM would
    * `overwrite` the very parquet files the first session's memoized
    * read-back frames are scanning. Tags are issued from a monotone
    * counter per session object (NOT identityHashCode, which the JVM does
    * not guarantee unique — two live sessions colliding would silently
    * share scratch paths), and are never reused, so evicting a dead
    * session's entry (the [[SessionMemo]] context-end lifecycle) cannot
    * recycle its scratch paths. */
  private val sessionTagSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val sessionTags = new SessionMemo[Unit, String]
  private[graft] def sessionTag(s: SparkSession): String =
    sessionTags.computeIfAbsent(s, (),
      _ => java.lang.Long.toHexString(sessionTagSeq.incrementAndGet()))

  /** Placement for `spark.local.dir` — Spark's shuffle blocks, spill
    * files, and broadcast disk store. Same policy as the artifact root
    * (shm while it has headroom, disk fallback, `GRAFT_SCRATCH_DIR`
    * override) because the failure mode is the same: shuffle files on a
    * disk-contended `/tmp` starve exactly the shuffle/write-heavy
    * operators — the r8 driver bench amplified ten such entries 7–33×
    * (266 s driver vs 35 s idle at the same HEAD) with `spark.local.dir`
    * unset while every artifact write was already shm-routed. On a real
    * cluster this is the node-local-SSD-for-shuffle rule; in local mode
    * the RAM-backed tmpfs stands in for it. Resolved ONCE per JVM
    * (SparkContext reads the conf at startup and never re-reads it), so
    * the headroom check here is the launch-time one; gate-SF shuffle
    * volume is tens of MB, far under the 16 GiB watermark. */
  lazy val localDir: String = {
    val d = new java.io.File(root, "spark_local")
    d.mkdirs()
    d.getAbsolutePath
  }
}
