package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.Identifier

/** ATOMIC MULTI-TABLE COMMIT for the governed jsonl lake — fact + dims
  * publish as ONE visible unit, the shape of the reference's FK'd star
  * load (`metro.sql:42-59`: customers + products + transactions must
  * agree or the FK constraints reject).
  *
  * Why single-table OCC is not enough: each table commits under its own
  * `_commit.lock`, so a pipeline appending a fact batch and its dim batch
  * as two commits has a window where a reader joins the NEW fact rows
  * against the OLD dim — exactly the torn-star state a warehouse load
  * must never serve. This is the lake-format answer (the same problem
  * Delta solves with coordinated commits and Iceberg with a shared
  * catalog pointer): a catalog-level TRANSACTION MANIFEST whose single
  * atomic rename is the commit point spanning every table in the group.
  *
  * Protocol (`CALL <cat>.system.transact(tables => …, views => …)`):
  *
  *  1. STAGE — each batch is written through the NORMAL graft-jsonl
  *     write path (task temps, stats sidecars, fresh writeId) into a
  *     scratch table under `<warehouse>/_txn_stage/<txnId>/<i>` on the
  *     SAME filesystem. Underscore prefix: structurally invisible to
  *     the catalog and every reader. All heavy work happens here,
  *     before any lock.
  *  2. LOCK every target table's `_commit.lock` in GLOBAL (sorted-path)
  *     order — deadlock-free, and composed with the existing
  *     lease/heartbeat/steal liveness protocol ([[JsonlOcc]]): a
  *     transact that dies mid-publish stops heartbeating and its locks
  *     are reclaimed like any crashed writer's.
  *  3. INTENT — write `_txn-<id>.inflight` in the warehouse root listing
  *     every (stage file → table file) rename.
  *  4. COMMIT POINT — one atomic `rename(.inflight → .committed)`.
  *     Before it, the transaction logically never happened; after it,
  *     it logically happened everywhere.
  *  5. PUBLISH — rename each staged data file and `_stats-`/`_bloom-`
  *     sidecar into its table dir (same-FS renames; file names embed the
  *     fresh writeId, so appends are collision-free and the name-keyed
  *     sidecars stay valid byte-for-byte). Delete the manifest + stage.
  *
  * CRASH ATOMICITY (the all-or-nothing proof, crash-injected in
  * CatalogSpec): a crash BEFORE the commit point leaves only invisible
  * staged files and an `.inflight` manifest — recovery rolls BACK
  * (age-gated delete, nothing was ever visible). A crash AFTER the
  * commit point leaves a `.committed` manifest — recovery rolls FORWARD
  * by completing the remaining renames (rename is idempotent under the
  * src-gone-and-dst-present check). Roll-forward is wired into
  * [[JsonlCatalog.loadTable]], so the next catalog access to ANY table
  * self-heals the group before serving — a reader can never be handed a
  * half-published transaction across a crash.
  *
  * In-flight visibility: the publish renames are a few metadata ops per
  * table under the table locks (milliseconds); a reader listing exactly
  * inside that window can observe table A's files before table B's —
  * the same bounded torn-listing window a SINGLE table's multi-file
  * commit already has in this format (and in Delta/Iceberg's
  * multi-file manifests below their pointer). The durable guarantee is
  * the crash-atomic one above; pipelines needing a pinned cross-table
  * read compose `CALL system.snapshot` per table after the transact.
  *
  * V1 scope: multi-table APPEND (the star-load shape). Appends introduce
  * only fresh file names, so no OCC swap validation is needed beyond the
  * locks; COW/MOR rewrites inside a transaction would need the full
  * validate-at-commit step replayed per table and are refused loudly. */
private[graft] object JsonlTransact {

  /** Stage area under the warehouse root — underscore-invisible. */
  val StageDirName = "_txn_stage"

  /** An `.inflight` manifest OLDER than this is a crashed stager's and
    * rolls back; younger ones may belong to a live transact between
    * intent and commit point (a sub-second window — the owner holds
    * every table lock throughout) and are left alone. Test seam. */
  @volatile private[graft] var intentRetentionMs: Long = 3600000L

  /** Test seams for crash injection (CatalogSpec): thrown exceptions
    * simulate a writer dying at the worst moments. */
  @volatile private[graft] var beforeCommitPointHook: Option[String => Unit] = None
  @volatile private[graft] var betweenPublishHook: Option[String => Unit] = None

  private def fsOf(p: Path): FileSystem =
    FileSystem.get(p.toUri, new Configuration())

  private def publishableName(n: String): Boolean =
    n.startsWith("part-") || n.startsWith("_stats-") || n.startsWith("_bloom-")

  /** Atomically append every (table, batch) as one transaction. Returns
    * (txnId, total files published). */
  def transact(catalog: JsonlCatalog,
      batches: Seq[(Identifier, DataFrame)]): (String, Long) = {
    require(batches.nonEmpty, "graft-jsonl transact: no batches")
    val idents = batches.map(_._1)
    require(idents.distinct.size == idents.size,
      s"graft-jsonl transact: duplicate target table in ${idents.mkString(", ")}")
    val root = catalog.warehousePath
    val fs = fsOf(root)
    // resolve + validate every target BEFORE staging anything
    val dirsAndNdv = batches.map { case (ident, df) =>
      val table = catalog.loadTable(ident) // throws NoSuchTableException
      require(table.partitioning().isEmpty,
        s"graft-jsonl transact: $ident is partitioned — v1 transacts " +
          "unpartitioned appends only (route-preserving staging is the " +
          "documented evolution path)")
      val want = table.schema().fields.map(f => (f.name, f.dataType)).toSeq
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      require(got == want,
        s"graft-jsonl transact: batch schema ${got.mkString(",")} does not " +
          s"match $ident schema ${want.mkString(",")}")
      // write-affecting table properties FOLLOW the rows into the stage:
      // a transact append without the table's ndv.columns sketches would
      // silently break the every-live-file NDV coverage gate on the
      // first transact (the broadcast/reorder rules and system.ndv all
      // refuse on partial coverage)
      (catalog.dirOf(ident),
        Option(table.properties().get("ndv.columns")).getOrElse(""))
    }
    val dirs = dirsAndNdv.map(_._1)
    val txnId = java.util.UUID.randomUUID().toString
    val stageRoot = new Path(new Path(root, StageDirName), txnId)
    // 1. STAGE — all the heavy lifting, outside every lock
    val staged: Seq[(Path, Path, Seq[String])] =
      batches.zip(dirsAndNdv).zipWithIndex.map {
        case (((_, df), (dir, ndvCols)), i) =>
          val stage = new Path(stageRoot, i.toString)
          val w = df.write.format("graft-jsonl").mode("overwrite")
          (if (ndvCols.nonEmpty) w.option("ndvFor", ndvCols) else w)
            .save(stage.toString)
          // an empty batch legitimately publishes nothing; anything the
          // stage write DID publish moves on commit
          val names = fs.listStatus(stage).toSeq.map(_.getPath.getName)
            .filter(publishableName).sorted
          (stage, dir, names)
      }
    // 2. LOCK all tables in global sorted order (deadlock-free), nested
    // so every lock heartbeats for the whole publish
    def underLocks[T](remaining: Seq[Path])(body: => T): T = remaining match {
      case Seq() => body
      case p +: rest =>
        JsonlOcc.withCommitLock(fs, p, s"transact $txnId")(underLocks(rest)(body))
    }
    val inflight = new Path(root, s"_txn-$txnId.inflight")
    val committed = new Path(root, s"_txn-$txnId.committed")
    val nFiles = underLocks(dirs.map(_.toString).sorted.distinct.map(new Path(_))) {
      // 3. INTENT
      val m = JsonlV2.mapper.createObjectNode()
      m.put("id", txnId)
      val arr = m.putArray("tables")
      staged.foreach { case (stage, dir, names) =>
        val t = arr.addObject()
        t.put("stage", stage.toString)
        t.put("dir", dir.toString)
        val ns = t.putArray("files")
        names.foreach(ns.add)
      }
      val out = fs.create(inflight, false) // atomic create-if-absent
      try out.write(m.toString.getBytes("UTF-8")) finally out.close()
      beforeCommitPointHook.foreach(_(txnId))
      // 4. COMMIT POINT — one atomic rename
      require(fs.rename(inflight, committed),
        s"graft-jsonl transact: commit-point rename failed for $txnId")
      invalidateCleanStamp(root) // same-process readers recover promptly
      // 5. PUBLISH
      var published = 0L
      staged.foreach { case (stage, dir, names) =>
        names.foreach { n =>
          val src = new Path(stage, n)
          val dst = new Path(dir, n)
          require(fs.rename(src, dst),
            s"graft-jsonl transact: publish rename $src -> $dst failed")
          published += 1
        }
        betweenPublishHook.foreach(_(dir.toString))
      }
      fs.delete(committed, false)
      fs.delete(stageRoot, true)
      published
    }
    (txnId, nFiles)
  }

  /** Self-healing: complete every `.committed` transaction (roll
    * forward) and reclaim aged `.inflight` ones (roll back). Wired into
    * [[JsonlCatalog.loadTable]] so any catalog access after a crash
    * restores all-or-nothing before a table is served; also callable
    * explicitly. Cheap when there is nothing to do: one listing of the
    * warehouse root. */
  /** Per-warehouse "known clean" stamp: loadTable runs on every table
    * resolution, and a warehouse that just proved itself manifest-free
    * need not be re-listed for every query in the next instant. A LOCAL
    * transact invalidates the stamp at its commit point, so same-process
    * readers always recover promptly; a transact crashed in ANOTHER
    * process is healed at most `recoverTtlMs` late — a bounded
    * staleness traded against one LIST per table resolution. */
  @volatile private[graft] var recoverTtlMs: Long = 2000L
  private val cleanUntil =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  private[graft] def invalidateCleanStamp(root: Path): Unit =
    cleanUntil.remove(root.toString)

  def recover(warehouseRoot: Path): Unit = {
    val now = System.currentTimeMillis()
    val stamp = cleanUntil.get(warehouseRoot.toString)
    if (stamp != null && now < stamp.longValue()) return
    val fs = fsOf(warehouseRoot)
    // a listing failure here must be LOUD: swallowing it would let a
    // reader past the roll-forward gate and hand them the exact
    // half-published cross-table state the .committed manifest exists
    // to prevent (the one soft case: the root genuinely absent — a
    // catalog nobody has written yet — is clean by construction)
    val entries =
      if (!fs.exists(warehouseRoot)) Seq.empty
      else fs.listStatus(warehouseRoot).toSeq
    entries.filter(_.getPath.getName.matches("_txn-.*\\.committed"))
      .foreach(st => rollForward(fs, warehouseRoot, st.getPath))
    val cutoff = now - intentRetentionMs
    entries.filter(st => st.getPath.getName.matches("_txn-.*\\.inflight") &&
        st.getModificationTime < cutoff)
      .foreach { st =>
        // crashed BEFORE the commit point: logically never happened —
        // nothing staged was ever visible, so reclaiming is pure GC
        val id = st.getPath.getName.stripPrefix("_txn-").stripSuffix(".inflight")
        fs.delete(st.getPath, false)
        fs.delete(new Path(new Path(warehouseRoot, StageDirName), id), true)
      }
    // orphan stage sweep: a per-txn stage dir with NO manifest (crash
    // between staging and intent, or between the finishing deletes) is
    // unreferenced garbage once past the same age gate
    val stageRoot = new Path(warehouseRoot, StageDirName)
    if (fs.exists(stageRoot)) {
      val live = entries.map(_.getPath.getName)
        .filter(_.startsWith("_txn-"))
        .map(_.stripPrefix("_txn-").replaceAll("\\.(inflight|committed)$", ""))
        .toSet
      fs.listStatus(stageRoot).foreach { st =>
        if (st.isDirectory && !live(st.getPath.getName) &&
          st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    }
    cleanUntil.put(warehouseRoot.toString,
      java.lang.Long.valueOf(System.currentTimeMillis() + recoverTtlMs))
  }

  /** Complete a committed transaction's remaining publishes, under each
    * table's commit lock (composes with a concurrent live publisher:
    * whoever acquires the lock re-checks the manifest and the per-file
    * src/dst state, and every step is idempotent). */
  private def rollForward(fs: FileSystem, root: Path, manifest: Path): Unit = {
    val tree =
      try {
        val in = fs.open(manifest)
        try JsonlV2.mapper.readTree(in) finally in.close()
      } catch {
        // the owner (or a racing recoverer) finished and deleted it —
        // benign; any OTHER I/O failure propagates: proceeding without
        // completing a committed transaction would serve the torn state
        case _: java.io.FileNotFoundException => return
      }
    val tables = tree.get("tables").elements()
    val work = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Seq[String])]
    while (tables.hasNext) {
      val t = tables.next()
      val names = t.get("files").elements()
      val ns = scala.collection.mutable.ArrayBuffer.empty[String]
      while (names.hasNext) ns += names.next().asText()
      work += ((t.get("stage").asText(), t.get("dir").asText(), ns.toSeq))
    }
    def underLocks[T](remaining: Seq[Path])(body: => T): T = remaining match {
      case Seq() => body
      case p +: rest =>
        JsonlOcc.withCommitLock(fs, p, "transact roll-forward")(
          underLocks(rest)(body))
    }
    underLocks(work.map(_._2).sorted.distinct.map(new Path(_)).toSeq) {
      if (fs.exists(manifest)) { // re-check under the locks
        work.foreach { case (stage, dir, names) =>
          names.foreach { n =>
            val src = new Path(stage, n)
            val dst = new Path(dir, n)
            if (fs.exists(src)) {
              require(fs.rename(src, dst) || fs.exists(dst),
                s"graft-jsonl transact roll-forward: $src -> $dst failed")
            } else require(fs.exists(dst),
              s"graft-jsonl transact roll-forward: staged file $src lost " +
                s"with $dst unpublished — the committed transaction " +
                "cannot be completed; restore the stage from backup " +
                "before serving this table")
          }
        }
        val id = manifest.getName.stripPrefix("_txn-").stripSuffix(".committed")
        fs.delete(manifest, false)
        fs.delete(new Path(new Path(root, StageDirName), id), true)
      }
    }
  }
}
