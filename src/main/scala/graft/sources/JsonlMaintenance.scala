package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{InputPartition, LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Table-maintenance operations over graft-jsonl directories. The only
  * entry so far is delete-vector COMPACTION — the second half of the
  * merge-on-read contract: MOR keeps DELETE cheap by deferring the
  * rewrite, and compaction is where the deferred cost is actually paid,
  * batched, off the query path.
  *
  * `compactDeletes` rewrites every live data file whose deleted-row
  * fraction reaches `minFraction` — the read is file-whitelisted (the
  * `files` read option: only the vectored files are opened, with their
  * vectors merged out), the replacement flows through the table's own
  * routed writer (layout, `_pvals`, stats sidecars all regenerate), and
  * the commit swaps exactly the candidate files before sweeping every
  * delete-vector entry whose referent no longer exists. Files below the
  * threshold keep their vectors — a partial compaction is exactly as
  * correct as none — and a FULL compaction leaves zero vectors, which
  * re-arms the metadata-only aggregation path MOR had vetoed.
  *
  * At 100 TB the fraction threshold is the whole point: erasures arrive
  * continuously, but a file is only worth rewriting once enough of it is
  * dead — `CALL cat.system.compact_deletes(table => 't', min_fraction
  * => 0.3)` from the nightly maintenance DAG rewrites the 3% of files
  * that crossed 30% dead and touches nothing else. */
object JsonlMaintenance {

  case class CompactionReport(
      rewrittenFiles: Long, skippedFiles: Long, rowsRemoved: Long,
      vectorSidecarsBefore: Long, vectorSidecarsAfter: Long)

  private def countVectorSidecars(dir: String): Long = {
    val root = new Path(dir)
    val fs = FileSystem.get(root.toUri, new Configuration())
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).count(s =>
      s.isFile && s.getPath.getName.startsWith("_deletes-")).toLong
  }

  /** Compact the delete vectors of table `ident` (loaded as `tbl`) in
    * `catalog`: rewrite live files whose deleted fraction ≥ `minFraction`
    * (a file with a vector but no stats row count is always compacted),
    * sweep vector entries left without a live referent. Single-writer
    * discipline — the caller owns the table for the duration, like every
    * other mutation of a graft-jsonl directory. */
  def compactDeletes(spark: SparkSession, catalog: JsonlCatalog,
      ident: Identifier, tbl: Table, minFraction: Double): CompactionReport = {
    require(minFraction >= 0.0 && minFraction <= 1.0,
      s"graft-jsonl compact_deletes: min_fraction must be in [0, 1], got $minFraction")
    val dir = catalog.dirOf(ident).toString
    val fullName = catalog.qualifiedName(ident)

    val before = countVectorSidecars(dir)
    val live = JsonlV2.listFiles(dir).map(_.name).toSet
    val vectors = JsonlV2.loadDeletes(dir).filter { case (n, _) => live(n) }
    val stats = JsonlV2.loadStats(dir)
    val (cands, skipped) = vectors.partition { case (n, offs) =>
      // no stats row count -> always compact (conservative: the fraction
      // is unknowable, the vector's cost is not)
      stats.get(n).map(_.rows).filter(_ > 0L)
        .forall(r => offs.length.toDouble / r >= minFraction)
    }
    if (cands.nonEmpty) {
      val names = cands.keys.toSeq.sorted.mkString(",")
      // vector baseline NOW, before the rewrite scan exists — a vector
      // landing after this instant is "new" at commit and aborts loudly
      // instead of being silently dropped by the rewrite
      val baseline = JsonlV2.listDeleteSidecars(dir).toSeq.sorted.mkString(",")
      // path-based read face: ONLY the candidate files are opened, their
      // vectors merged out by the ordinary reader; the write goes through
      // the CATALOG face so the manifest's routing shapes the replacement
      val df = spark.read.format("graft-jsonl").schema(tbl.schema())
        .option("files", names).load(dir)
      df.writeTo(fullName).option("compactFiles", names)
        .option("compactVectorsAtPlan", baseline).append()
    } else {
      // nothing crossed the threshold; still sweep fully-dead sidecars —
      // under the commit lock like every other sidecar rewrite (the sweep
      // publishes pruned replacements under fresh names)
      val root = new Path(dir)
      val fsys = FileSystem.get(root.toUri, new Configuration())
      JsonlOcc.withCommitLock(fsys, root, "vector sweep") {
        JsonlV2.sweepDeadVectors(fsys, root)
      }
    }
    CompactionReport(cands.size.toLong, skipped.size.toLong,
      cands.valuesIterator.map(_.length.toLong).sum, before,
      countVectorSidecars(dir))
  }
}

/** Z-ORDER clustering (`CALL cat.system.zorder(table => 't', columns =>
  * 'a,b', target_files => n)`): rewrite the whole table range-partitioned
  * on the bit-interleave of its columns' normalized values, so every
  * published file covers a tight RECTANGLE in (a, b, …) space and the
  * ordinary sidecar min/max skipping prunes on EVERY listed column at
  * once — the multi-dimensional layout game (Delta/Iceberg OPTIMIZE
  * ZORDER BY), on text. A linear sort buys pruning on one column and
  * destroys it on the rest; the z-curve buys it on all of them, paying
  * one rewrite.
  *
  * Mechanics: per-column min/max come from `df.agg` — metadata-answered
  * with ZERO data read when the sidecars are complete; each value is
  * normalized to a b-bit integer (b = min(16, 63/k)), the bits are
  * k-way interleaved into one z value with plain shift/mask arithmetic
  * (whole-stage-codegen'd, no UDF), and the table rewrites through
  * `repartitionByRange` on z + the same compact-swap commit the
  * delete-vector compaction uses. MOR delete vectors are merged out by
  * the rewrite's reader and swept by its commit — a z-order pass doubles
  * as a full compaction. Routed tables are REFUSED: identity/bucket
  * routing already fixes file membership, and silently un-routing a
  * table would break every layout proof its scans report. */
object JsonlZorder {

  case class ZorderReport(filesBefore: Long, filesAfter: Long, columns: String)

  def zorder(spark: SparkSession, catalog: JsonlCatalog, ident: Identifier,
      tbl: Table, columns: Seq[String], targetFiles: Int): ZorderReport = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    require(columns.size >= 2 && columns.size <= 4,
      s"graft-jsonl zorder: need 2-4 columns, got ${columns.mkString(",")}")
    require(targetFiles >= 0, "graft-jsonl zorder: target_files must be >= 0")
    require(tbl.partitioning().isEmpty,
      s"graft-jsonl zorder: refuse on a partitioned table — identity/bucket " +
        "routing fixes file membership and the z-rewrite would break its proofs")
    columns.foreach { c =>
      val f = tbl.schema().fields.find(_.name == c)
      require(f.exists(_.dataType == LongType),
        s"graft-jsonl zorder: column $c must exist with type bigint")
    }
    val dir = catalog.dirOf(ident).toString
    val fullName = catalog.qualifiedName(ident)

    val dataFiles = JsonlV2.listFiles(dir).map(_.name)
    if (dataFiles.isEmpty) return ZorderReport(0, 0, columns.mkString(","))

    // min/max per column: metadata-answered (zero data read) when the
    // sidecars are complete, a scan otherwise — either way exact.
    // PINNED to the listed files (the compact_deletes discipline): an
    // unpinned rewrite scan would also read a file APPENDED between the
    // listing and the rewrite — its rows would land in the replacement
    // while the swap deletes only the listed files, DUPLICATING the
    // append (the multi-writer fuzz caught exactly this)
    val read = () => spark.read.format("graft-jsonl").schema(tbl.schema())
      .option("files", dataFiles.mkString(",")).load(dir)
    val aggs = columns.flatMap(c => Seq(min(col(c)), max(col(c))))
    val mm = read().agg(aggs.head, aggs.tail: _*).collect().head
    val ranges = columns.indices.map { i =>
      (Option(mm.get(2 * i)).fold(0L)(_.asInstanceOf[Long]),
        Option(mm.get(2 * i + 1)).fold(0L)(_.asInstanceOf[Long]))
    }

    val k = columns.size
    val bits = math.min(16, 63 / k)
    val maxBucket = (1L << bits) - 1
    // Span and offset arithmetic in DOUBLE end to end: a bigint column
    // spanning more than Long range (lo very negative, hi very positive)
    // overflows both `hi - lo` and the per-row `col - lo` in Long,
    // degenerating every value into one clamped bucket — the data still
    // round-trips but the multi-dimensional layout (and any caller's skip
    // requires) silently collapses. Double loses low-bit precision on huge
    // spans, which is irrelevant for bucketing into at most 2^16 buckets.
    def normalized(c: String, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else least(lit(maxBucket), greatest(lit(0L),
        ((coalesce(col(c), lit(lo)).cast("double") - lit(lo.toDouble)) *
          lit(maxBucket.toDouble) / lit(hi.toDouble - lo.toDouble)).cast("long")))
    // move bit j of column i to interleaved position j*k + i
    def spread(c: Column, offset: Int): Column =
      (0 until bits).map { j =>
        shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * k + offset)
      }.reduce(_ bitwiseOR _)
    val z = columns.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = ranges(i)
      spread(normalized(c, lo, hi), i)
    }.reduce(_ bitwiseOR _)

    val n = if (targetFiles > 0) targetFiles else math.max(1, dataFiles.size)
    // analysis-time vector baseline, same discipline as compact_deletes
    val baseline = JsonlV2.listDeleteSidecars(dir).toSeq.sorted.mkString(",")
    read().withColumn("__graft_z", z)
      .repartitionByRange(n, col("__graft_z"))
      .drop("__graft_z")
      .writeTo(fullName).option("compactFiles", dataFiles.mkString(","))
      .option("compactVectorsAtPlan", baseline)
      .append()
    ZorderReport(dataFiles.size.toLong,
      JsonlV2.listFiles(dir).size.toLong, columns.mkString(","))
  }
}

/** VACUUM (`CALL cat.system.vacuum(table => 't')`): directory hygiene a
  * long-lived table accumulates the need for — all driver-side metadata
  * work, zero Spark jobs, zero data bytes read.
  *
  *  1. ORPHAN TEMPS: `_tmp-*` / `.tmp-*` files a crashed task or driver
  *     left behind (committed and aborted writes clean up after
  *     themselves; a process that died mid-write cannot). Uncommitted
  *     output is structurally invisible to readers either way — the
  *     sweep reclaims the bytes.
  *  2. STATS-SIDECAR GC: every commit publishes its own `_stats-<id>`
  *     file, and entries for data files that later rewrites swapped away
  *     go stale-harmless but NEVER disappear — after ten thousand
  *     commits, `loadStats` parses ten thousand sidecars to find the
  *     live handful. Vacuum merges every LIVE entry (JSON subtree copied
  *     verbatim — the proofs are preserved bit for bit) into ONE
  *     `_stats-vacuum-<id>.json` and deletes the rest: manifest
  *     compaction, the same O(commits) → O(1) trade Iceberg's
  *     rewrite_manifests runs.
  *  3. DEAD DELETE-VECTOR entries, via [[JsonlV2.sweepDeadVectors]].
  *
  *  4. STALE `_epoch-*` MARKERS, folded into the single
  *     [[JsonlV2]] `_epoch-high-water.json` record (see
  *     [[graft.sources.EpochHighWater]]): a years-long streaming sink
  *     would otherwise accumulate one marker file per epoch forever, and
  *     the directory listing eventually becomes every commit's planning
  *     cost. Retention boundary: markers OLDER than the oldest live
  *     snapshot's publish instant fold (their epochs are long-committed
  *     and no in-flight replay can reach back past a recorded snapshot);
  *     with no snapshots recorded, all but the newest
  *     [[JsonlVacuum.KeepMarkers]] fold — the streaming replay window is
  *     the last epoch, so a retained tail of 8 is already generous.
  *     Exactly-once survives: every epoch ≤ the folded maximum is
  *     committed (epochs commit in order within a query generation), so
  *     the high-water number carries exactly what the markers did.
  *
  * The `_table.json` manifest is never touched: the table definition
  * outlives any vacuum. Single-writer discipline — the caller owns the
  * table for the duration, like every mutation of the directory. */
object JsonlVacuum {

  case class VacuumReport(tempsRemoved: Long, statsFilesBefore: Long,
      statsFilesAfter: Long, deadEntriesDropped: Long)

  /** Orphan-temp retention: only `_tmp-`/`.tmp-` files OLDER than this are
    * swept. A live writer's task files are written OUTSIDE the commit lock
    * (the lock bounds only the commit section — by design), so an un-aged
    * sweep racing an in-flight write would delete temps out from under
    * its tasks; the multi-writer fuzz caught exactly that. Same trade as
    * Iceberg's remove_orphan_files, and the default matches Iceberg's
    * 3-day retention: the bound must exceed the longest plausible gap
    * between a task writing its first temp and the job's commit — a
    * large/skewed 100 TB write can hold temps open for many hours, so a
    * 1-hour bound would sweep in-flight temps and abort the commit. A
    * genuinely crashed writer's temps are days old by the next scheduled
    * vacuum. Test seam — specs shrink it or age their planted
    * leftovers. */
  @volatile private[graft] var tempRetentionMs: Long = 3L * 24 * 3600000L

  /** Vacuum the existing table `ident` of `catalog`. */
  def vacuum(catalog: JsonlCatalog, ident: Identifier): VacuumReport = {
    val root = catalog.dirOf(ident)
    val fs = FileSystem.get(root.toUri, new Configuration())

    // under the commit lock like every other sidecar rewrite: an unlocked
    // vacuum racing a committing writer could list live files BEFORE the
    // commit publishes and drop the new file's just-written stats entries
    // as dead (its proofs silently gone — metadata aggregation and file
    // skipping degrade to full scans forever after)
    JsonlOcc.withCommitLock(fs, root, "vacuum sweep") {

    // 1. orphan temps — age-gated so a concurrent writer's in-flight task
    // files are never mistaken for crash leftovers (see tempRetentionMs)
    val tempCutoff = System.currentTimeMillis() - tempRetentionMs
    val temps = fs.listStatus(root).filter(st => st.isFile && {
      val n = st.getPath.getName
      (n.startsWith("_tmp-") || n.startsWith(".tmp-")) &&
        st.getModificationTime < tempCutoff
    })
    temps.foreach(st => fs.delete(st.getPath, false))

    // 2. stats GC: merge live entries verbatim, drop dead ones
    val live = fs.listStatus(root).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }.toSet
    val statsFiles = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_stats-"))
      .sortBy(_.getPath.getName)
    var dead = 0L
    val merged = JsonlV2.mapper.createObjectNode()
    statsFiles.foreach { st =>
      val in = fs.open(st.getPath)
      val tree = try JsonlV2.mapper.readTree(in) finally in.close()
      tree.fields().asScala.foreach { e =>
        if (live(e.getKey)) {
          merged.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue)
          ()
        } else dead += 1
      }
    }
    if (statsFiles.nonEmpty) {
      val writeId = java.util.UUID.randomUUID().toString
      if (merged.size > 0) {
        val out: java.io.OutputStream =
          fs.create(new Path(root, s"_stats-vacuum-$writeId.json"), false)
        try JsonlV2.mapper.writeValue(out, merged) finally out.close()
      }
      statsFiles.foreach(st => fs.delete(st.getPath, false))
    }

    // 3. dead delete-vector entries
    JsonlV2.sweepDeadVectors(fs, root)

    // 4. fold stale streaming-epoch markers into the high-water record
    foldEpochMarkers(fs, root)

    VacuumReport(temps.length.toLong, statsFiles.length.toLong,
      if (statsFiles.nonEmpty && merged.size > 0) 1L else 0L, dead)
    }
  }

  /** Markers retained as plain files when no snapshot bounds retention. */
  val KeepMarkers = 8

  /** Step 4's fold (caller holds the commit lock). Returns the number of
    * markers folded. */
  private[graft] def foldEpochMarkers(fs: FileSystem,
      root: Path): Long = {
    val markers = fs.listStatus(root).toSeq.collect {
      case st if st.isFile =>
        EpochHighWater.markerId(st.getPath.getName).map(id => (id, st))
    }.flatten.sortBy(_._1)
    val boundary: Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      JsonlVersions.versionsOf(fs, root).headOption match {
        case Some(oldest) =>
          val cutoff = JsonlVersions.publishedAtMs(fs, root, oldest)
          markers.filter(_._2.getModificationTime < cutoff)
        case None => markers.dropRight(KeepMarkers)
      }
    if (boundary.isEmpty) return 0L
    val hw = math.max(EpochHighWater.read(fs, root), boundary.map(_._1).max)
    // record first, delete second: a crash between the two leaves
    // redundant markers (harmless), never a lost commit record
    EpochHighWater.write(fs, root, hw)
    boundary.foreach(m => fs.delete(m._2.getPath, false))
    boundary.size.toLong
  }
}

/** SNAPSHOT VERSIONS — time travel for the governed catalog
  * ([[JsonlCatalog]]'s `VERSION AS OF` face). A snapshot is a
  * `_version-<n>.json` manifest naming the table's LIVE data files and
  * delete-vector sidecars at the moment `CALL cat.system.snapshot(...)`
  * ran; a version-pinned read plans over exactly that pair — the pinned
  * files whitelisted into the scan, the pinned vectors (and ONLY those)
  * merged out — so later appends, MOR deletes/merges, and metadata drops
  * are invisible to it. O(metadata) to create, zero data copied: data
  * files are immutable-by-name (every writer publishes fresh
  * writeId-tagged names), so a version's listing stays byte-identical
  * under any concurrent append — the s19 invariant, carried by the
  * catalog instead of a user-side manifest.
  *
  * Retention: a snapshot lives as long as its files do. Compaction,
  * COW rewrites, and vacuum may remove files an old version references —
  * the Iceberg expire-snapshots trade; a pinned read over a removed file
  * fails loudly at plan time (the whitelist finds nothing to match), it
  * never silently reads less. Publish is temp+rename, single-writer
  * discipline like every other sidecar. */
private[graft] object JsonlVersions {

  /** One recorded snapshot: its version, the pinned (files, vectors)
    * listing, and the snapshot-time table schema and publish instant.
    * Schema and instant are Options because manifests written before
    * they were recorded carry neither — those fall back to the current
    * schema / the manifest's filesystem mtime, the pre-existing behavior. */
  final case class VersionPin(version: Long,
      files: Set[String], vectors: Set[String],
      schemaJson: Option[String], publishedAtMs: Option[Long])

  private val VersionRe = "_version-([0-9]+)\\.json".r

  def versionsOf(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(n) if st.isFile => Some(n.toLong)
        case _                         => None
      }
    }.sorted

  /** Record the current (data files, vector sidecars) listing as the next
    * version, together with the snapshot-time table schema (so a pinned
    * read resolves historical rows against the schema they were written
    * under, not one evolved later) and the publish instant (so TIMESTAMP
    * AS OF survives mtime-rewriting directory copies/restores).
    * Returns (version, n_files, n_vectors). */
  def record(fs: FileSystem, root: Path,
      schemaJson: Option[String] = None): (Long, Long, Long) =
    // under the commit lock: a snapshot must never pin the half-published
    // state of an in-flight multi-file commit (and two concurrent
    // snapshots must not race to the same version number)
    JsonlOcc.withCommitLock(fs, root, "snapshot record") {
    val files = JsonlV2.listFiles(root.toString).map(_.name).sorted
    val vectors = fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_deletes-"))
      .map(_.getPath.getName).sorted
    val next = versionsOf(fs, root).lastOption.getOrElse(0L) + 1
    val tmp = new Path(root, s".tmp-version-$next-${java.util.UUID.randomUUID()}")
    val out: java.io.OutputStream = fs.create(tmp, true)
    val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
    gen.writeStartObject()
    gen.writeArrayFieldStart("files"); files.foreach(gen.writeString); gen.writeEndArray()
    gen.writeArrayFieldStart("vectors"); vectors.foreach(gen.writeString); gen.writeEndArray()
    schemaJson.foreach(gen.writeStringField("schema", _))
    gen.writeNumberField("publishedAtMs", System.currentTimeMillis())
    gen.writeEndObject()
    gen.close(); out.close()
    val target = new Path(root, s"_version-$next.json")
    require(fs.rename(tmp, target),
      s"graft-jsonl: snapshot publish $tmp -> $target failed")
    (next, files.size.toLong, vectors.size.toLong)
    }

  /** Everything version `v` recorded. */
  def load(fs: FileSystem, root: Path, v: Long): VersionPin = {
    val m = new Path(root, s"_version-$v.json")
    require(fs.exists(m), {
      val have = versionsOf(fs, root)
      s"graft-jsonl: no snapshot version $v under $root " +
        (if (have.isEmpty) "(no snapshots exist — CALL <cat>.system.snapshot first)"
         else s"(snapshots: ${have.mkString(", ")})")
    })
    val in = fs.open(m)
    val tree = try JsonlV2.mapper.readTree(in) finally in.close()
    def arr(k: String): Set[String] = {
      val a = tree.get(k)
      (0 until a.size).map(a.get(_).textValue).toSet
    }
    VersionPin(v, arr("files"), arr("vectors"),
      Option(tree.get("schema")).map(_.textValue),
      Option(tree.get("publishedAtMs")).map(_.longValue))
  }

  /** The instant version `v` was published: the manifest's recorded
    * field when present, the manifest file's mtime otherwise (manifests
    * written before the field existed). The recorded field is what makes
    * TIMESTAMP AS OF stable under rsync/backup/fs-migration copies that
    * rewrite mtimes, and unambiguous under second-granular filesystems.
    *
    * Memoized per (directory, version): TIMESTAMP AS OF consults EVERY
    * live version's instant, and a full manifest parse (file/vector
    * listings included) per version per query would make resolution
    * O(versions × manifest size). Safe to cache process-wide — a
    * published manifest is immutable, and callers only consult versions
    * `versionsOf` currently lists, so expiry cannot resurrect through
    * the cache. */
  private val publishedAtCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]
  def publishedAtMs(fs: FileSystem, root: Path, v: Long): Long =
    publishedAtCache.computeIfAbsent((root.toString, v), _ =>
      Long.box(load(fs, root, v).publishedAtMs.getOrElse(
        fs.getFileStatus(new Path(root, s"_version-$v.json")).getModificationTime)))

  /** Every delete-vector sidecar name some live `_version-*.json` still
    * references — names [[JsonlV2.sweepDeadVectors]] must leave
    * untouched, because snapshots pin vectors BY NAME.
    *
    * Per-version vector sets are memoized like [[publishedAtMs]]: the
    * sweep runs on EVERY COW/compaction commit, and a full manifest parse
    * (file listings included) per live version per commit would make
    * committing O(versions × manifest size) on tables with long snapshot
    * histories. Published manifests are immutable, so the cache is safe;
    * [[evictDir]] handles the one way a (directory, version) key CAN be
    * reborn — drop + recreate at the same path. */
  private val vectorsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Set[String]]
  def pinnedVectors(fs: FileSystem, root: Path): Set[String] =
    versionsOf(fs, root).flatMap(v =>
      vectorsCache.computeIfAbsent((root.toString, v),
        _ => load(fs, root, v).vectors)).toSet

  /** Purge every per-version memo for a directory. DROP TABLE must call
    * this: recreating a table at the same path restarts version numbering
    * at 1, and a stale (directory, version) entry would silently remap
    * the new table's TIMESTAMP AS OF onto the OLD table's publish
    * instants (and the sweep onto its pinned vectors). */
  def evictDir(rootStr: String): Unit = {
    publishedAtCache.keySet.removeIf(_._1 == rootStr)
    vectorsCache.keySet.removeIf(_._1 == rootStr)
  }

  /** Purge the per-version memos for snapshots that just expired.
    * Correctness never needed this (live-version callers can't reach an
    * expired key), but a long-lived JVM churning snapshot/expire cycles
    * would otherwise accumulate dead (directory, version) entries without
    * bound. Called by expire_snapshots while it still holds the commit
    * lock. */
  def evictVersions(rootStr: String, expired: Seq[Long]): Unit = {
    val dead = expired.toSet
    publishedAtCache.keySet.removeIf(k => k._1 == rootStr && dead(k._2))
    vectorsCache.keySet.removeIf(k => k._1 == rootStr && dead(k._2))
  }

  /** Test probe: versions currently memoized (either cache) for a dir. */
  private[graft] def memoizedVersions(rootStr: String): Set[Long] = {
    val b = Set.newBuilder[Long]
    publishedAtCache.keySet.forEach(k => if (k._1 == rootStr) b += k._2)
    vectorsCache.keySet.forEach(k => if (k._1 == rootStr) b += k._2)
    b.result()
  }
}

/** CHANGES FEED between two snapshots — the net-changes face of Delta's
  * Change Data Feed, computed entirely from snapshot manifests and
  * delete-vector arithmetic (no change files are ever written):
  *
  *  - rows INSERTED between `from` and `to`: the live rows (as of `to`)
  *    of data files `to` lists and `from` does not — data files are
  *    immutable-by-name and appends only add names, so new names ARE the
  *    new rows;
  *  - rows DELETED by merge-on-read vectors: for files both snapshots
  *    list, the offsets in `to`'s vectors but not `from`'s name exactly
  *    the erased rows — read by include-only partitions, whose reader
  *    emits only the lines at those offsets, over just the byte span the
  *    offsets cover (O(changed rows), the CDC contract — a feed whose
  *    size is the delta, not the table);
  *  - a span in which data FILES left the listing (compaction, COW
  *    rewrite, metadata delete — in this format a file leaves a snapshot
  *    only when its bytes are gone) FAILS LOUDLY, exactly like any
  *    pinned read over removed files: the feed can no longer reproduce
  *    those rows' deletion images, and 'never silently reads less'
  *    outranks a partial feed. The supported span is the MOR lake's
  *    native workload — appends + vector deletes/merges (the st28/s42
  *    shape), where nothing is ever rewritten between snapshots; Delta
  *    avoids the restriction by writing change files per commit, this
  *    feed pays nothing until asked.
  *
  * [[plan]] is the one change-set planner: the batch feed ([[between]],
  * the `changes` read pinned by `versionAsOf`) and the streaming feed
  * ([[JsonlChangesStream]]) both plan through it.
  *
  * Downstream this is the incremental-consumption primitive: a training
  * pipeline re-embeds `insert` rows and retracts `delete` rows instead
  * of re-reading 100 TB. Schema: the `to` snapshot's table columns plus
  * `_change_type` ('insert' | 'delete'). */
object JsonlChanges {

  /** The batch feed from snapshot `from` to snapshot `to` of the table at
    * `dir`. The scan is built here, so a refused span (inverted, an
    * unrecorded version, a lost vector sidecar, a file that left the
    * listing) fails at the call, not at the first action. */
  def between(s: SparkSession, dir: String, from: Long, to: Long)
      : org.apache.spark.sql.DataFrame = {
    val feed = s.read.format("graft-jsonl")
      .option("path", dir)
      .option("changes", "true")
      .option("versionAsOf", to.toString)
      .option("startingVersion", from.toString)
      .load()
    feed.queryExecution.optimizedPlan
    feed
  }

  /** The net change set from snapshot `from` to snapshot `to` of the
    * table at `path`, as input partitions:
    *
    *  - files `to` lists and `from` does not: planned whole with `to`'s
    *    vector slices, tagged 'insert';
    *  - offsets in `to`'s vectors but not `from`'s on files both list:
    *    include-only partitions over the offsets' byte span, tagged
    *    'delete'.
    *
    * Refused loudly: an inverted span, a pinned vector sidecar that is
    * gone, a data file that left the listing inside the span, and a
    * pinned data file no longer present. */
  private[sources] def plan(path: String, from: JsonlVersions.VersionPin,
      to: JsonlVersions.VersionPin, splitSize: Long)
      : Array[InputPartition] = {
    val span = s"changes [${from.version}, ${to.version}]"
    require(from.version < to.version,
      s"graft-jsonl changes: from (${from.version}) must precede to (${to.version})")
    // both endpoints' vectors must be reproducible: vectors load by
    // live-listing intersection, so a lost sidecar would silently shrink
    // the delete leg (missed retractions; a deletes-only span would read
    // as an EMPTY feed) and mis-slice the insert partitions
    JsonlV2.requireVectorsPresent(path, from.vectors, span)
    JsonlV2.requireVectorsPresent(path, to.vectors, span)
    // a file leaves a listing only when its bytes are gone — loud, fast,
    // with the remedy in the message (the pinned-read contract)
    val removed = from.files -- to.files
    require(removed.isEmpty,
      s"graft-jsonl $span on $path: ${removed.size} data " +
        s"file(s) left the listing inside the span " +
        s"(${removed.toSeq.sorted.take(3).mkString(", ")}…) — " +
        "compaction/COW/metadata-delete ran between the snapshots and " +
        "their deletion images cannot be reproduced from bytes that are " +
        "gone; consume spans that contain only appends and merge-on-read " +
        "deletes, or re-snapshot after maintenance (a stream restarts " +
        "past the span)")
    val live = JsonlV2.listFiles(path).map(f => f.name -> f).toMap
    def lookup(n: String): JsonlV2.DataFile = live.getOrElse(n,
      throw new IllegalArgumentException(
        s"graft-jsonl $span on $path: snapshot ${to.version} references " +
          s"'$n' which is no longer present — the version was invalidated " +
          "by compaction/COW/vacuum; read (or restart the stream) from a " +
          "newer snapshot"))
    val dFrom = JsonlV2.loadDeletes(path, from.vectors.contains)
    val dTo = JsonlV2.loadDeletes(path, to.vectors.contains)
    val inserts = (to.files -- from.files).toSeq.sorted.flatMap { n =>
      val f = lookup(n)
      JsonlV2.splits(f, 0L, f.len, splitSize, dTo.getOrElse(n, Array.emptyLongArray))
        .map(_.copy(changeType = "insert"))
    }
    val deletes = from.files.intersect(to.files).toSeq.sorted.flatMap { n =>
      val before = dFrom.getOrElse(n, Array.emptyLongArray).toSet
      val diff = dTo.getOrElse(n, Array.emptyLongArray).filterNot(before)
      if (diff.isEmpty) Nil
      else {
        val f = lookup(n)
        // bound the scan to the diff's offset SPAN: read cost is
        // O(delta span), not O(file), and a wide delta keeps its
        // parallelism. The range starts one byte BEFORE the first diff
        // offset, so the split that starts there owns that line.
        val lo = if (diff.head == 0L) 0L else diff.head - 1
        JsonlV2.splits(f, lo, math.min(diff.last + 1, f.len), splitSize, diff)
          .map(p => p.copy(deleted = Array.emptyLongArray, includeOnly = p.deleted,
            changeType = "delete"))
      }
    }
    (inserts ++ deletes).toArray
  }
}

/** One `CALL <catalog>.system.<name>` procedure: its name, description,
  * parameters, report schema and body. Each procedure is one row of
  * [[JsonlProcedures.all]]; [[JsonlCatalog]] serves the whole SQL face
  * (`CALL`, `SHOW PROCEDURES`, `DESCRIBE PROCEDURE`) from that table. */
private[graft] final case class Proc(name: String, description: String,
    params: Seq[ProcedureParameter], report: StructType)(
    val body: (JsonlCatalog, Args) => Seq[InternalRow])

/** One call's arguments, positional in the row's parameter order. A
  * NULL for a parameter with no declared default is refused by name
  * before the body runs: read as a string it would fail inside the body
  * as Spark's `INTERNAL_ERROR`, read as an int it would pass for 0. Every
  * `namespace.name` argument passes one shape rule: at least two parts,
  * none empty. An empty part must be refused: `'lake..t'` would name
  * namespace `[lake, ""]`, whose directory `<wh>/lake//t` Hadoop's `Path`
  * collapses onto `lake.t` — a call on a table the user never named. */
private[graft] final class Args(proc: String, params: Seq[ProcedureParameter],
    input: InternalRow, catalog: JsonlCatalog) {
  params.zipWithIndex.foreach { case (p, i) =>
    require(p.defaultValue() != null || !input.isNullAt(i),
      s"graft-jsonl $proc: ${p.name} must not be NULL")
  }
  def str(i: Int): String = input.getUTF8String(i).toString
  def int(i: Int, default: Int): Int =
    if (input.isNullAt(i)) default else input.getInt(i)
  def double(i: Int, default: Double): Double =
    if (input.isNullAt(i)) default else input.getDouble(i)
  /** Comma-separated items, trimmed, empty items dropped. */
  def list(i: Int): Seq[String] =
    str(i).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  /** A `namespace.name`, shape-checked only (the table may not exist). */
  def ident(i: Int): Identifier = identOf(params(i).name, str(i))
  /** Each item of a comma-separated list of `namespace.name`s. */
  def idents(i: Int): Seq[Identifier] = list(i).map(identOf(params(i).name, _))
  /** An existing table and its load; `NoSuchTableException` when absent. */
  def table(i: Int): (Identifier, Table) = {
    val id = ident(i)
    (id, catalog.loadTable(id))
  }
  private def identOf(arg: String, v: String): Identifier = {
    val parts = v.split("\\.", -1).toSeq
    require(parts.size >= 2 && parts.forall(_.nonEmpty),
      s"graft-jsonl $proc: $arg must be namespace.name, got '$v'")
    Identifier.of(parts.init.toArray, parts.last)
  }
}

/** The one DSv2 procedure class: a [[Proc]] row served for one catalog.
  * Unbound and bound at once, since no row's parameters depend on the
  * call's input types. Never deterministic: every row mutates or reads
  * directory state. Its one [[LocalScan]] carries the body's report rows. */
private[sources] final class JsonlProcedure(p: Proc, catalog: JsonlCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = p.name
  override def description(): String = p.description
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = p.params.toArray

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val report =
      p.body(catalog, new Args(p.name, p.params, input, catalog)).toArray
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def readSchema(): StructType = p.report
      override def rows(): Array[InternalRow] = report
      override def description(): String = s"${p.name} report"
    }).iterator()
  }
}

/** Maintenance procedures (`CALL cat.system.compact_deletes(...)`) — the
  * DSv2 [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]] face
  * of [[JsonlCatalog]]. Table-changing operations that are not statements
  * over rows (compaction, vacuum) belong here, not in ad-hoc driver
  * helpers: the SQL face is what a pipeline's maintenance DAG actually
  * invokes. Each procedure is bound once, as one [[Proc]] row of [[all]]:
  * `loadProcedure` looks its name up here and `listProcedures` lists the
  * rows in this order. */
private[graft] object JsonlProcedures {

  private def in(name: String, t: DataType, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, t).comment(comment).build()

  private def opt(name: String, t: DataType, default: String,
      comment: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default).comment(comment).build()

  private def report(nullable: Boolean)(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable) })

  /** One report row; a String is stored as Spark's UTF8String. */
  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.map {
      case s: String => UTF8String.fromString(s)
      case v         => v
    }.toArray)

  private def fsOf(root: Path): FileSystem =
    FileSystem.get(root.toUri, new Configuration())

  val all: Seq[Proc] = Seq(
    /** `CALL <catalog>.system.clone(source => 'ns.a', target => 'ns.b')` —
      * DEEP CLONE: create `target` as a byte-level copy of `source`'s
      * CURRENT state (Delta's CLONE TABLE, deep flavor). The manifest is
      * copied verbatim — schema, routing transforms, splitSize,
      * delete/merge modes all inherited — and the data files, `_stats`
      * sidecars, and live `_deletes-*` vectors are copied UNDER THEIR OWN
      * NAMES: files are immutable-by-name and every sidecar keys its proofs
      * by file name, so the copy IS a valid table state carrying the same
      * rows, the same pruning/bloom/sort proofs, and the same merge-on-read
      * vectors. `_version-*` history is NOT copied — the clone starts its
      * own timeline (snapshot names pin vectors BY NAME, and the clone's
      * sweeps must never be fenced by the source's pins, nor vice versa).
      * Divergence after the clone is total by construction: every writer
      * publishes fresh writeId-tagged names and COW swaps replace whole
      * files, so no later mutation of either side can reach the other's
      * bytes. Deep (not shallow) is deliberate: a shallow clone sharing
      * data files would let either side's vacuum/compaction delete files
      * the other still lists — the single-writer discipline is per
      * DIRECTORY and cannot span tables. On an object store the local copy
      * becomes a server-side COPY per file, O(metadata) each, zero bytes
      * through the engine. Report row: (n_files, n_vectors, n_bytes). */
    Proc("clone",
      "Deep-clone a table's current state (manifest + data + sidecars + " +
        "live delete vectors; no version history) into a new table",
      Seq(in("source", StringType, "table to clone, as namespace.name within this catalog"),
        in("target", StringType, "table to create, as namespace.name within this catalog")),
      report(nullable = true)(
        "n_files" -> LongType, "n_vectors" -> LongType, "n_bytes" -> LongType)
    ) { (cat, a) =>
      val (srcIdent, _) = a.table(0)
      val dstIdent = a.ident(1)
      val src = cat.dirOf(srcIdent)
      val dst = cat.dirOf(dstIdent)
      val fs = fsOf(src)
      if (fs.exists(new Path(dst, JsonlCatalog.Manifest)))
        throw new TableAlreadyExistsException(dstIdent)
      // under the SOURCE table's commit lock: the clone is a point-in-time
      // byte copy, and an unlocked copy racing a committing writer could
      // capture a half-published state (some renamed files without their
      // stats sidecar, a swap's delete without its replacement)
      val (nFiles, nVectors, nBytes) =
        JsonlOcc.withCommitLock(fs, src, "clone copy") {
          JsonlV2.copyTableFiles(
            src.toString, dst.toString, n => !n.startsWith("_version-"))
        }
      Seq(row(nFiles, nVectors, nBytes))
    },

    /** `CALL <catalog>.system.compact_deletes(table => 'ns.t', min_fraction
      * => 0.3)` — the SQL face of [[JsonlMaintenance.compactDeletes]].
      * Returns one report row: files rewritten/skipped, rows removed, vector
      * sidecars before/after. */
    Proc("compact_deletes",
      "Rewrite delete-vectored data files without their deleted rows; " +
        "files below min_fraction dead keep their vectors",
      Seq(in("table", StringType, "table to compact, as namespace.name within this catalog"),
        opt("min_fraction", DoubleType, "0.0",
          "compact a file only when deleted rows / total rows >= this")),
      report(nullable = false)(
        "rewritten_files" -> LongType, "skipped_files" -> LongType,
        "rows_removed" -> LongType, "vector_sidecars_before" -> LongType,
        "vector_sidecars_after" -> LongType)
    ) { (cat, a) =>
      val (ident, tbl) = a.table(0)
      val r = JsonlMaintenance.compactDeletes(
        SparkSession.active, cat, ident, tbl, a.double(1, 0.0))
      Seq(row(r.rewrittenFiles, r.skippedFiles, r.rowsRemoved,
        r.vectorSidecarsBefore, r.vectorSidecarsAfter))
    },

    /** `CALL <catalog>.system.zorder(table => 'ns.t', columns => 'a,b',
      * target_files => 16)` — the SQL face of [[JsonlZorder.zorder]]. */
    Proc("zorder",
      "Rewrite the table z-ordered on the given bigint columns so sidecar " +
        "min/max skipping prunes on all of them at once",
      Seq(in("table", StringType, "table to rewrite, as namespace.name within this catalog"),
        in("columns", StringType, "comma-separated bigint columns, most-selective first"),
        opt("target_files", IntegerType, "0", "files to publish; 0 keeps the current count")),
      report(nullable = false)(
        "files_before" -> LongType, "files_after" -> LongType,
        "zorder_columns" -> StringType)
    ) { (cat, a) =>
      val (ident, tbl) = a.table(0)
      val r = JsonlZorder.zorder(
        SparkSession.active, cat, ident, tbl, a.list(1), a.int(2, 0))
      Seq(row(r.filesBefore, r.filesAfter, r.columns))
    },

    /** `CALL <catalog>.system.vacuum(table => 'ns.t')` — the SQL face of
      * [[JsonlVacuum.vacuum]]. */
    Proc("vacuum",
      "Sweep orphan temp files, merge stats sidecars to live entries only, " +
        "drop dead delete-vector entries",
      Seq(in("table", StringType, "table to vacuum, as namespace.name within this catalog")),
      report(nullable = false)(
        "temps_removed" -> LongType, "stats_files_before" -> LongType,
        "stats_files_after" -> LongType, "dead_entries_dropped" -> LongType)
    ) { (cat, a) =>
      val (ident, _) = a.table(0)
      val r = JsonlVacuum.vacuum(cat, ident)
      Seq(row(r.tempsRemoved, r.statsFilesBefore, r.statsFilesAfter,
        r.deadEntriesDropped))
    },

    /** `CALL <catalog>.system.snapshot(table => 'ns.t')` — record the table's
      * current listing as the next time-travel version
      * ([[JsonlVersions.record]]). Returns one report row:
      * (version, n_files, n_vectors). */
    Proc("snapshot",
      "Record the table's current file/vector listing as the next " +
        "VERSION AS OF snapshot",
      Seq(in("table", StringType, "table to snapshot, as namespace.name within this catalog")),
      report(nullable = true)(
        "version" -> LongType, "n_files" -> LongType, "n_vectors" -> LongType)
    ) { (cat, a) =>
      // the schema recorded in the manifest is what the pinned read will
      // resolve rows against
      val (ident, table) = a.table(0)
      val root = cat.dirOf(ident)
      val (v, nf, nv) =
        JsonlVersions.record(fsOf(root), root, Some(table.schema().json))
      Seq(row(v, nf, nv))
    },

    /** `CALL <catalog>.system.history(table => 'ns.t')` — the table's
      * snapshot history: one row per recorded version with its file/vector
      * counts and how many of its files are still live (a version whose
      * `live_files < n_files` has lost files to compaction/COW/vacuum and a
      * pinned read of it will fail loudly — the row makes the retention
      * state INSPECTABLE instead of discovered at plan time). Driver-side
      * manifest arithmetic, zero data read. */
    Proc("history",
      "List the table's VERSION AS OF snapshots with file/vector counts " +
        "and their current readability",
      Seq(in("table", StringType, "table, as namespace.name within this catalog")),
      report(nullable = true)(
        "version" -> LongType, "n_files" -> LongType, "n_vectors" -> LongType,
        "live_files" -> LongType)
    ) { (cat, a) =>
      val (ident, _) = a.table(0)
      val root = cat.dirOf(ident)
      val fs = fsOf(root)
      val live = JsonlV2.listFiles(root.toString).map(_.name).toSet
      JsonlVersions.versionsOf(fs, root).map { v =>
        val pin = JsonlVersions.load(fs, root, v)
        row(v, pin.files.size.toLong, pin.vectors.size.toLong,
          pin.files.count(live).toLong)
      }
    },

    /** `CALL <catalog>.system.ndv(table => 'ns.t')` — the table's sidecar
      * NDV statistics ([[JsonlNdv]]): one row per column that carries a
      * sketch anywhere in the table, with the plan-time merged estimate and
      * max value byte length, or `covered = false` (null estimate) where a
      * live file lacks the sketch — the same coverage verdict the broadcast
      * rule consults, made INSPECTABLE. Driver-side sidecar arithmetic,
      * zero data read. */
    Proc("ndv",
      "Report the merged sidecar NDV sketch estimates per column",
      Seq(in("table", StringType, "table, as namespace.name within this catalog")),
      report(nullable = true)(
        "column" -> StringType, "ndv" -> DoubleType, "max_len" -> LongType,
        "covered" -> BooleanType)
    ) { (cat, a) =>
      val (ident, _) = a.table(0)
      JsonlNdv.allMergedNdvs(cat.dirOf(ident).toString).toSeq.sortBy(_._1)
        .map { case (col, est) =>
          row(col, est.map(c => Double.box(c.estimate)).orNull,
            est.map(c => Long.box(c.maxLen)).orNull, est.isDefined)
        }
    },

    /** `CALL <catalog>.system.expire_snapshots(table => 'ns.t', keep_last
      * => n)` — retention for the time-travel history: drop every
      * `_version-*.json` manifest except the newest `keep_last` (≥ 1; the
      * newest snapshot is never expirable through this face). Version
      * numbers stay MONOTONE — the next snapshot continues from the highest
      * ever recorded, expired or not, so an expired version number is never
      * reused to mean different data. Manifest-only: data files are owned by
      * the live listing and the compaction/vacuum lifecycle, so expiring a
      * snapshot reclaims metadata and REMOVES THE EXPECTATION that its files
      * stay readable — the Iceberg expire_snapshots contract, where the
      * snapshot set is what vacuum-style tools consult before dropping
      * unreferenced files. Returns (expired, kept). */
    Proc("expire_snapshots",
      "Drop all but the newest keep_last VERSION AS OF snapshot manifests",
      Seq(in("table", StringType, "table, as namespace.name within this catalog"),
        in("keep_last", IntegerType, "how many newest snapshots to keep (>= 1)")),
      report(nullable = true)("expired" -> LongType, "kept" -> LongType)
    ) { (cat, a) =>
      val (ident, _) = a.table(0)
      val keep = a.int(1, 0)
      require(keep >= 1,
        s"graft-jsonl expire_snapshots: keep_last must be >= 1, got $keep")
      val root = cat.dirOf(ident)
      val fs = fsOf(root)
      // under the commit lock: snapshot record() lists versions for its
      // next number and the sweep consults pinnedVectors — both must see
      // the manifest set whole, never mid-expiry
      val (versions, expire) =
        JsonlOcc.withCommitLock(fs, root, "snapshot expiry") {
          val vs = JsonlVersions.versionsOf(fs, root)
          val ex = vs.dropRight(keep)
          ex.foreach { v =>
            require(fs.delete(new Path(root, s"_version-$v.json"), false),
              s"graft-jsonl: failed to expire snapshot $v")
          }
          JsonlVersions.evictVersions(root.toString, ex)
          (vs, ex)
        }
      Seq(row(expire.size.toLong, (versions.size - expire.size).toLong))
    },

    /** `CALL <cat>.system.transact(tables => 'ns.a,ns.b', views => 'va,vb')`
      * — atomically append each named temp view's rows to its corresponding
      * table, all-or-nothing across the group ([[JsonlTransact]]'s manifest
      * protocol). The star-load face: fact + dim batches become one visible
      * commit, the ACID unit the MySQL reference got from FK'd InnoDB
      * (`metro.sql:42-59`). */
    Proc("transact",
      "Atomic multi-table append: each view's rows land in its table, " +
        "all-or-nothing across the group",
      Seq(in("tables", StringType, "comma-separated target tables, each namespace.name"),
        in("views", StringType, "comma-separated temp view names, one batch per table, " +
          "positionally matched")),
      report(nullable = true)(
        "txn_id" -> StringType, "n_tables" -> LongType, "n_files" -> LongType)
    ) { (cat, a) =>
      val tables = a.idents(0)
      val views = a.list(1)
      require(tables.nonEmpty && tables.size == views.size,
        s"graft-jsonl transact: ${tables.size} tables vs ${views.size} views")
      val spark = SparkSession.active
      val (txnId, nFiles) =
        JsonlTransact.transact(cat, tables.zip(views.map(spark.table)))
      Seq(row(txnId, tables.size.toLong, nFiles))
    },

    /** `CALL <cat>.system.evolve_bucket(table => 'ns.t', buckets => n)` —
      * lazy bucket-count evolution ([[JsonlCatalog.evolveBucket]]): metadata
      * only, no 100 TB rewrite; old files keep their claimed bucket ids, new
      * writes route at the new width, scans report the coarsest common
      * partitioning. Refuses non-divisor-chain widths loudly. */
    Proc("evolve_bucket",
      "Change a table's bucket count by lazy split (metadata-only; " +
        "new width must be a multiple of the current)",
      Seq(in("table", StringType, "table, as namespace.name within this catalog"),
        in("buckets", IntegerType, "new bucket count — a strict multiple of the current")),
      report(nullable = true)(
        "old_buckets" -> LongType, "new_buckets" -> LongType,
        "report_buckets" -> LongType)
    ) { (cat, a) =>
      val (ident, _) = a.table(0)
      val (oldN, newN, coarse) = cat.evolveBucket(ident, a.int(1, 0))
      Seq(row(oldN.toLong, newN.toLong, coarse.toLong))
    })

  /** [[all]] keyed by name; a name bound twice fails at load instead of
    * one row silently shadowing the other. */
  val byName: Map[String, Proc] = {
    val dup = all.groupBy(_.name).collect { case (n, ps) if ps.size > 1 => n }
    require(dup.isEmpty,
      s"procedure names bound twice: ${dup.toSeq.sorted.mkString(", ")}")
    all.map(p => p.name -> p).toMap
  }
}
