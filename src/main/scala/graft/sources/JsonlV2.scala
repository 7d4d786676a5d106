package graft.sources

import java.io.ByteArrayOutputStream
import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A from-scratch DataSource V2 JSONL source with REAL scan pushdown —
  * the machinery Spark's own file sources get from `FileFormat`, built on
  * the public connector API so the engine's ingest path is first-class:
  *
  *  - **Byte-range splits** ([[JsonlPartition]]): each file is cut into
  *    `splitSize` ranges planned as independent input partitions — the
  *    property that makes a 100 TB JSONL drop readable by 1000 executors
  *    without any coordinator pass. Line ownership uses the classic
  *    text-split protocol (a reader at offset > 0 discards through the
  *    first newline — those bytes belong to the previous split, which
  *    reads one line PAST its nominal end): every line is read exactly
  *    once whatever the boundaries, pinned adversarially in
  *    DataSourceV2Spec at 1 KB splits.
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): only the
  *    required fields are materialized out of each parsed line — a
  *    `count(*)` over a text corpus never allocates a single string.
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): comparison and
  *    null-check predicates on long/string fields are evaluated on the
  *    parsed tree BEFORE row materialization and REMOVED from the query
  *    plan (the source is exact for accepted filters; everything else is
  *    returned as a residual for Spark to evaluate). Evaluation is
  *    SCHEMA-DIRECTED: the reader coerces each filtered field by its
  *    declared type exactly as materialization would, so a pushed
  *    predicate and the row it admits can never disagree on a
  *    type-mismatched line. The scan's `description()` exports
  *    `PushedFilters`/`ReadSchema` so PlanSpec asserts the pushdown from
  *    the plan string, same as parquet.
  *  - **Statistics** ([[SupportsReportStatistics]]): total byte size from
  *    the file listing, so the optimizer can size joins against the scan.
  *  - **Metadata aggregation** ([[SupportsPushDownAggregates]]): global
  *    AND grouped COUNT/MIN/MAX answered entirely from the commit
  *    protocol's `_stats-*` sidecars — zero data bytes read — whenever
  *    every file is stats-covered and, for the grouped/filtered case,
  *    single-valued on the grouping/filtering columns (the layout a
  *    `partitionBy` write produces). One file outside the contract and
  *    the source declines and scans: correctness before cleverness.
  *
  * Text JSON is parsed with Jackson (Spark's own JSON dependency — no new
  * libraries), one `readTree` per line. The source registers as
  * `graft-jsonl` via DataSourceRegister (META-INF/services), reads any
  * Hadoop-visible path, and takes the schema externally (the production
  * shape: the catalog pins the schema, no inference pass over the lake) or
  * infers long/double/boolean/string field types from a bounded prefix of
  * the first file when the caller omits it. */
class JsonlV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-jsonl"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlV2.inferFromPrefix(JsonlV2.pathOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val routes = partitioning.toSeq.map(JsonlV2.routeOf)
    val path = JsonlV2.pathOf(opts)
    val split = opts.getLong("splitSize", 4L * 1024 * 1024)
    // the changes feed's output carries _change_type; the table schema
    // must already show it (Spark derives the read's schema from the
    // TABLE, and the scan's readSchema must agree)
    def withChangeCol(s: StructType) =
      if (opts.getBoolean("changes", false) && !s.fieldNames.contains(JsonlV2.ChangeCol))
        s.add(JsonlV2.ChangeCol, StringType)
      else s
    // `versionAsOf` READ OPTION — the path-based face of the catalog's
    // VERSION AS OF: pin the read to snapshot n's recorded (files,
    // vectors, schema) exactly, with the same loud invalidation and
    // write refusal. Format reads and the batch changes feed
    // ([[JsonlChanges]], whose `to` snapshot is the pin) resolve
    // snapshots without needing a catalog.
    Option(opts.get("versionAsOf")) match {
      case Some(v) =>
        val root = new Path(path)
        val fsys = FileSystem.get(root.toUri, new Configuration())
        val pin = JsonlVersions.load(fsys, root, v.toLong)
        val pinSchema = pin.schemaJson
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(schema)
        new JsonlTable(path, withChangeCol(pinSchema), split, routes, pinned = Some(pin))
      case None =>
        new JsonlTable(path, withChangeCol(schema), split, routes)
    }
  }
}

private[graft] object JsonlV2 {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-jsonl: a path is required")
    p
  }

  /** Map a declared V2 partition transform onto this source's routing
    * model: `identity(col)` and `bucket(n, col)`; anything else
    * (days/hours/truncate/...) is beyond the layout and fails loudly. */
  def routeOf(t: Transform): RouteExpr = t match {
    case t if t.name == "identity" && t.references.length == 1 =>
      IdentityRoute(t.references()(0).fieldNames.mkString("."))
    case t if t.name == "bucket" =>
      val ns = t.arguments.collect {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_]
          if lit.dataType == IntegerType => lit.value.asInstanceOf[Int]
      }
      val cols = t.references.toSeq.map(_.fieldNames.mkString("."))
      require(ns.length == 1 && cols.length == 1,
        s"graft-jsonl: bucket transform must be bucket(n, col), got $t")
      BucketRoute(ns.head, cols.head)
    case other => throw new UnsupportedOperationException(
      s"graft-jsonl: unsupported partition transform $other (identity/bucket only)")
  }

  /** The metadata column exposing each row's data file — the group
    * identity of every row-level (copy-on-write) operation. */
  val FileCol = "_file"

  /** The metadata column exposing each row's line-start byte offset
    * inside its data file. `(_file, _pos)` identifies a row exactly —
    * the ROW ID of the merge-on-read delta path ([[SupportsDelta]]),
    * the same identity Iceberg's position deletes use. Byte offsets
    * (not line ordinals) keep the id split-agnostic: a reader entering
    * a file mid-range knows every line's offset without counting the
    * lines before it. */
  val PosCol = "_pos"

  /** Output column of the changes feed ('insert' | 'delete'). */
  val ChangeCol = "_change_type"

  /** Deleted line-start offsets from every `_deletes-*.json` sidecar:
    * data file name → sorted distinct offsets. Each merge-on-read DELETE
    * commit publishes one sidecar per writer task; readers take the
    * union, so commits compose without read-modify-write. Entries for
    * files that no longer exist (dropped whole, rewritten by a COW swap,
    * compacted) are stale harmlessly — every consumer iterates the LIVE
    * file listing and looks offsets up by name, and fresh data files
    * carry collision-free writeId names. */
  def loadDeletes(path: String): Map[String, Array[Long]] =
    loadDeletes(path, _ => true)

  /** As [[loadDeletes]], restricted to the vector sidecars `keep` admits
    * (by sidecar file name) — the version-pinned read applies exactly the
    * vectors its snapshot recorded, never ones published later. */
  def loadDeletes(path: String, keep: String => Boolean): Map[String, Array[Long]] = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Map.empty
    // retry the WHOLE list+parse on a listed-then-vanished sidecar: a
    // concurrent sweep retires sidecars under fresh `_deletes-swept-*`
    // names with every live verdict preserved, so a FRESH listing always
    // carries the union — failing the plan on the stale one would be a
    // spurious crash, and skipping the vanished file would silently DROP
    // deletes (resurrected rows). Pinned reads are unaffected: their
    // whitelist is presence-checked loudly before this runs.
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val perFile = mutable.Map.empty[String, mutable.Set[Long]]
        fs.listStatus(root)
          .filter(s => s.isFile && s.getPath.getName.startsWith("_deletes-") &&
            keep(s.getPath.getName))
          .foreach { st =>
            val in = fs.open(st.getPath)
            val tree = try mapper.readTree(in) finally in.close()
            tree.fields().asScala.foreach { e =>
              val set = perFile.getOrElseUpdate(e.getKey, mutable.Set.empty[Long])
              val arr = e.getValue
              (0 until arr.size).foreach(i => set += arr.get(i).longValue)
            }
          }
        return perFile.view.mapValues(_.toArray.sorted).toMap
      } catch {
        case e: java.io.FileNotFoundException =>
          if (attempt >= 3) throw e
          Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Names of the live `_deletes-*` vector sidecars under `path` — the
    * listing a version-pinned scan validates its whitelist against. */
  def listDeleteSidecars(path: String): Set[String] = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Set.empty
    fs.listStatus(root).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("_deletes-"))
      .map(_.getPath.getName).toSet
  }

  /** Loud guard shared by every snapshot-pinned consumer (the pinned
    * scan, the batch changes feed, the streaming changes feed): all of a
    * pin's recorded vector sidecars must still be live, or the
    * snapshot-time deletes cannot be reproduced — refusing beats
    * silently resurrecting erased rows or dropping retraction events. */
  def requireVectorsPresent(path: String, want: Set[String], context: String): Unit = {
    val missing = want -- listDeleteSidecars(path)
    require(missing.isEmpty,
      s"graft-jsonl $context: ${missing.size} pinned delete-vector " +
        s"sidecar(s) no longer present " +
        s"(${missing.toSeq.sorted.take(3).mkString(", ")}…) — the " +
        "snapshot-time deletes cannot be applied; the version was " +
        "invalidated by vacuum or a vector sweep; expire it or read a " +
        "newer snapshot")
  }

  /** Byte-copy a table directory's files into another table directory
    * through the Hadoop FileSystem (store-generic — on an object store
    * each copy is a server-side COPY). `keep` filters by file NAME;
    * hidden/temp files are always skipped. Returns (data files, vector
    * sidecars, data bytes) copied. */
  def copyTableFiles(srcDir: String, dstDir: String,
      keep: String => Boolean): (Long, Long, Long) = {
    val src = new Path(srcDir); val dst = new Path(dstDir)
    val conf = new Configuration()
    val fs = FileSystem.get(src.toUri, conf)
    fs.mkdirs(dst)
    var nFiles = 0L; var nVectors = 0L; var nBytes = 0L
    fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      // never copy the source's commit lock (or a steal tombstone): a
      // clone taken under a held (or abandoned) lock must not be born
      // wedged
      if (st.isFile && !n.startsWith(".") && !n.startsWith(JsonlOcc.LockName)
          && keep(n)) {
        org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new Path(dst, n), false, conf)
        if (n.startsWith("_deletes-")) nVectors += 1
        else if (!n.startsWith("_")) { nFiles += 1; nBytes += st.getLen }
      }
    }
    (nFiles, nVectors, nBytes)
  }

  /** Drop delete-vector entries whose data file no longer exists (it was
    * compacted away, COW-swapped, or dropped whole): rewrite each
    * `_deletes-*` sidecar to its live entries only, delete it when none
    * survive. Stale entries were already harmless to every reader; the
    * sweep exists so vectors cannot accumulate forever and so a FULLY
    * compacted table holds zero vector sidecars — the state the
    * metadata-only aggregation path checks for. Single-writer
    * discipline, same as every other mutation of the directory.
    *
    * Sidecars a live `_version-*.json` manifest still references are
    * NEVER swept: a snapshot pins delete vectors BY NAME, so retiring a
    * referenced sidecar under a fresh `_deletes-swept-*` name (or
    * deleting it once empty) would strand the pin — the historical read
    * would find every pinned data file present yet silently skip the
    * snapshot-time deletes, resurrecting erased rows. Stale entries
    * inside a pinned sidecar stay harmless (readers look offsets up by
    * LIVE file name); the GC claim holds for unpinned sidecars, and
    * `expire_snapshots` is what releases pinned ones for the next sweep. */
  def sweepDeadVectors(fs: FileSystem, root: Path): Unit = {
    val live = fs.listStatus(root).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }.toSet
    val pinned = JsonlVersions.pinnedVectors(fs, root)
    fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_deletes-") &&
        !pinned(s.getPath.getName))
      .foreach { st =>
        val in = fs.open(st.getPath)
        val tree = try mapper.readTree(in) finally in.close()
        val (kept, dead) = tree.fields().asScala.toSeq.partition(e => live(e.getKey))
        if (dead.nonEmpty) {
          if (kept.isEmpty) fs.delete(st.getPath, false)
          else {
            // Publish-THEN-retire, never overwrite-in-place and never a
            // delete-then-rename window: the pruned entries go out as a
            // FRESH `_deletes-swept-<id>.json` sidecar (staged hidden,
            // renamed whole), and only after that rename succeeds is the
            // original deleted. Readers union all sidecars and offsets
            // are idempotent under union, so every crash point is safe:
            // before the rename the original alone is live; between the
            // rename and the delete BOTH are live and the union is
            // unchanged; a torn hidden temp is invisible. An in-place
            // overwrite risks a torn sidecar; a delete-before-rename
            // window silently RESURRECTS deleted rows — the worst
            // possible failure for an erasure mechanism.
            val swept = new Path(st.getPath.getParent,
              s"_deletes-swept-${java.util.UUID.randomUUID()}.json")
            val tmp = new Path(st.getPath.getParent,
              s".tmp-${swept.getName}")
            val out: java.io.OutputStream = fs.create(tmp, true)
            val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
            gen.writeStartObject()
            kept.foreach { e =>
              gen.writeArrayFieldStart(e.getKey)
              val arr = e.getValue
              (0 until arr.size).foreach(i => gen.writeNumber(arr.get(i).longValue))
              gen.writeEndArray()
            }
            gen.writeEndObject()
            gen.close(); out.close()
            require(fs.rename(tmp, swept),
              s"graft-jsonl: failed to publish swept sidecar $swept")
            fs.delete(st.getPath, false)
          }
        }
      }
  }

  def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One listed data file: its full path (what a reader opens and `_file`
    * shows), its name (the key of every stats sidecar, delete vector and
    * snapshot manifest) and its byte length. */
  final case class DataFile(path: String, name: String, len: Long)

  /** List the data files under `path` (a file or a directory), skipping
    * hidden/metadata names the same way FileIndex does. */
  def listFiles(path: String): Seq[DataFile] = {
    val fs = FileSystem.get(new java.net.URI(path).normalize() match {
      case u if u.getScheme == null => new java.net.URI(s"file:$path")
      case u                        => u
    }, new Configuration())
    val root = new Path(path)
    val st = fs.getFileStatus(root)
    val files =
      if (st.isDirectory) fs.listStatus(root).toSeq
      else Seq(st)
    files
      .filter(f => f.isFile && f.getLen > 0)
      .map(f => DataFile(f.getPath.toString, f.getPath.getName, f.getLen))
      .filterNot(f => f.name.startsWith("_") || f.name.startsWith("."))
      .sortBy(_.path)
  }

  /** The one byte-range split planner: bytes `[lo, hi)` of `file` cut
    * into `splitSize` ranges, each carrying its slice of the sorted line
    * offsets `vector`. A split `(start, length)` owns the lines starting
    * in `(start, start + length]` (a reader not at the file head discards
    * through its first newline and reads one line past its end), so a
    * slice is inclusive on both ends. */
  def splits(file: DataFile, lo: Long, hi: Long, splitSize: Long,
      vector: Array[Long]): Seq[JsonlPartition] =
    (lo until hi by splitSize).map { start =>
      val length = math.min(splitSize, hi - start)
      JsonlPartition(file.path, start, length,
        if (vector.isEmpty) vector
        else vector.filter(o => o >= start && o <= start + length))
    }

  /** The files a scan plans under `filters`: a filter on `_file` keeps a
    * file by identity (exact, no sidecar needed — the runtime group
    * filter of the COW rewrites), every other filter by the file's
    * sidecar ranges ([[mayMatch]]). A file without a sidecar is never
    * skipped, and a `_file` shape this does not recognize keeps the file. */
  def keptFiles(files: Seq[DataFile], stats: Map[String, FileStats],
      filters: Array[Filter]): Seq[DataFile] = {
    def identityHit(f: DataFile, flt: Filter): Boolean = flt match {
      case EqualTo(_, v: String) => f.path == v
      case In(_, vs)             => vs.contains(f.path)
      case _                     => true
    }
    val (fileFs, dataFs) = filters.partition(_.references.toSeq == Seq(FileCol))
    files.filter { f =>
      fileFs.forall(identityHit(f, _)) && stats.get(f.name).forall(mayMatch(dataFs, _))
    }
  }

  /** One column's footer-style statistics: min/max over the NON-NULL
    * values (both `Long` or both `String`; `None` = the file has no
    * non-null value for the column), the exact null count (−1 =
    * unknown, written by an older sidecar), and for long columns the
    * exact SUM of the non-null values (`None` = string column, overflow
    * during the write, or a legacy sidecar). String order is UTF-8 byte
    * order — the same total order Spark's string comparisons use — so
    * range pruning against a pushed string predicate is exact. */
  case class ColStat(lo: Option[Any], hi: Option[Any], nulls: Long,
      sum: Option[Long] = None) {
    /** The column holds exactly one non-null value across the whole file —
      * the partition-constant shape grouped metadata aggregation needs. */
    def constant: Option[Any] =
      if (nulls == 0) for (l <- lo; h <- hi if l == h) yield l else None
  }

  /** Footer-style per-file statistics as the commit wrote them. `pvals` =
    * the file's partition-routing values, present iff the write was
    * partition-routed: one value per route expression (the column value
    * for identity routes, the bucket id for bucket routes) — the key the
    * scan's KeyGroupedPartitioning report tags the file's splits with. */
  case class FileStats(rows: Long, cols: Map[String, ColStat],
      pvals: Option[Seq[Any]] = None, sorted: Seq[String] = Nil,
      blooms: Map[String, GraftBloom.Bits] = Map.empty,
      // col → (compact HLL bytes, max value byte length in this file)
      ndv: Map[String, (Array[Byte], Long)] = Map.empty)

  /** Stats from every `_stats-*.json` sidecar: file name → [[FileStats]].
    * Missing sidecars (files written by other tools) simply have no entry —
    * such files are never skipped and veto metadata-only aggregation.
    * Sidecar column entries are `[lo, hi, nulls]` arrays (lo/hi JSON
    * numbers for long fields, JSON strings for string fields, JSON null
    * for an all-null column), with a 4th element on long columns — the
    * exact sum of the non-null values; a legacy 2-element `[lo, hi]`
    * parses with nulls = −1 (unknown). */
  def loadStats(path: String): Map[String, FileStats] = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Map.empty
    fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_stats-"))
      .flatMap { st =>
        // a sidecar listed but gone by open time was merged away by a
        // concurrent vacuum — stats are an OPTIMIZATION, so the reader
        // degrades to "no proof for those files" (no pruning, metadata
        // aggregation declines on coverage) instead of failing the plan;
        // the multi-writer fuzz pins this race
        val tree =
          try {
            val in = fs.open(st.getPath)
            try mapper.readTree(in) finally in.close()
          } catch {
            case _: java.io.FileNotFoundException =>
              mapper.createObjectNode(): com.fasterxml.jackson.databind.JsonNode
          }
        tree.fields().asScala.map { e =>
          val rows = Option(e.getValue.get("_rows")).map(_.longValue).getOrElse(0L)
          val pvals = Option(e.getValue.get("_pvals")).filter(_.isArray).map {
            arr => (0 until arr.size).map { i =>
              val n = arr.get(i)
              if (n.isTextual) n.textValue
              else if (n.isNumber) n.longValue
              else null
            }.toSeq
          }
          val sorted = Option(e.getValue.get("_sorted")).filter(_.isArray)
            .map(arr => (0 until arr.size).map(arr.get(_).textValue).toSeq)
            .getOrElse(Nil)
          val blooms = Option(e.getValue.get("_bloom")).filter(_.isObject)
            .map(_.fields().asScala.map { b =>
              val k = b.getValue.get("k").intValue
              val bytes = java.util.Base64.getDecoder
                .decode(b.getValue.get("bits").textValue)
              b.getKey -> GraftBloom.Bits(k, GraftBloom.bytesToWords(bytes))
            }.toMap)
            .getOrElse(Map.empty[String, GraftBloom.Bits])
          val ndv = Option(e.getValue.get("_ndv")).filter(_.isObject)
            .map(_.fields().asScala.map { n =>
              n.getKey -> (
                java.util.Base64.getDecoder.decode(n.getValue.get("hll").textValue),
                n.getValue.get("maxLen").longValue())
            }.toMap)
            .getOrElse(Map.empty[String, (Array[Byte], Long)])
          val cols = e.getValue.fields().asScala
            .filter(f => f.getValue.isArray && !f.getKey.startsWith("_"))
            .map { f =>
              val arr = f.getValue
              def bound(i: Int): Option[Any] = Option(arr.get(i)).flatMap { n =>
                if (n.isNull) None
                else if (n.isTextual) Some(n.textValue)
                else if (n.isNumber) Some(n.longValue)
                else None
              }
              val nulls =
                if (arr.size > 2 && arr.get(2).isNumber) arr.get(2).longValue else -1L
              val sum =
                if (arr.size > 3 && arr.get(3).isNumber) Some(arr.get(3).longValue)
                else None
              f.getKey -> ColStat(bound(0), bound(1), nulls, sum)
            }
            .toMap
          e.getKey -> FileStats(rows, cols, pvals, sorted, blooms, ndv)
        }.toList
      }.toMap
  }

  /** Normalize a filter's comparison value to the stats domain: Long for
    * integral numbers, String for strings, None for anything the stats
    * cannot reason about. */
  def normVal(v: Any): Option[Any] = v match {
    case l: java.lang.Long    => Some(l.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case s: String            => Some(s)
    case u: UTF8String        => Some(u.toString)
    case _                    => None
  }

  /** Total-order compare within one stats domain; None on a type mix
    * (callers treat that as "unknown — don't prune"). Strings compare in
    * UTF-8 byte order to match both the writer's min/max selection and
    * Spark's own string ordering. */
  def cmpVals(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case _ => None
  }

  /** Can ANY row of a file with these per-column stats satisfy all pushed
    * filters? Conservative: unknown columns/shapes never prune. The pushed
    * comparisons are null-rejecting and ranges cover exactly the non-null
    * values, so skipping on an excluded range is exact; a tracked column
    * with NO range (all null in the file) excludes every comparison. */
  def mayMatch(pushed: Array[Filter], stats: FileStats): Boolean = {
    def range(a: String): Option[(Option[Any], Option[Any], Long)] =
      stats.cols.get(a).map(c => (c.lo, c.hi, c.nulls))
    def cmpHolds(a: String, v: Any)(check: (Any, Any, Any) => Boolean): Boolean =
      (range(a), normVal(v)) match {
        case (Some((Some(lo), Some(hi), _)), Some(x)) => check(lo, hi, x)
        case (Some((None, None, n)), _) if n >= 0     => false // all-null file
        case _                                        => true
      }
    def within(lo: Any, hi: Any, x: Any): Boolean =
      (cmpVals(lo, x), cmpVals(x, hi)) match {
        case (Some(a), Some(b)) => a <= 0 && b <= 0
        case _                  => true
      }
    // point-lookup skipping: when the sidecar carries a bloom for the
    // column, "definitely absent" excludes the file even when its
    // [min, max] contains the value (the parquet footer-bloom game —
    // ranges cannot prune equality on an unclustered high-cardinality
    // column, the bloom can). Hash agreement with the writer is the
    // contract — both sides go through GraftBloom.
    def bloomExcludes(a: String, v: Any): Boolean =
      stats.blooms.get(a).exists { b =>
        normVal(v) match {
          case Some(l: Long) =>
            val (h1, h2) = GraftBloom.hashLong(l); !b.mightContain(h1, h2)
          case Some(s: String) =>
            val (h1, h2) = GraftBloom.hashBytes(
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            !b.mightContain(h1, h2)
          case _ => false
        }
      }
    def one(f: Filter): Boolean = f match {
      case EqualTo(a, v) => cmpHolds(a, v)(within) && !bloomExcludes(a, v)
      case GreaterThan(a, v) => cmpHolds(a, v) { (_, hi, x) =>
        cmpVals(hi, x).forall(_ > 0)
      }
      case GreaterThanOrEqual(a, v) => cmpHolds(a, v) { (_, hi, x) =>
        cmpVals(hi, x).forall(_ >= 0)
      }
      case LessThan(a, v) => cmpHolds(a, v) { (lo, _, x) =>
        cmpVals(lo, x).forall(_ < 0)
      }
      case LessThanOrEqual(a, v) => cmpHolds(a, v) { (lo, _, x) =>
        cmpVals(lo, x).forall(_ <= 0)
      }
      case In(a, vs) => range(a) match {
        case Some((Some(lo), Some(hi), _)) =>
          vs.exists(v => normVal(v).forall(within(lo, hi, _)) &&
            !bloomExcludes(a, v))
        case Some((None, None, n)) if n >= 0 => false // all-null file
        case _ => vs.exists(v => !bloomExcludes(a, v)) || vs.isEmpty
      }
      // a string starting with prefix p sorts >= p; if the file's max
      // sorts below p no row can start with it. ASCII-only (byte order ==
      // char order there); anything else falls back to "may match".
      case StringStartsWith(a, p) if p.forall(_ < 0x80) => range(a) match {
        case Some((Some(lo: String), Some(hi: String), _)) =>
          !(cmpVals(hi, p).exists(_ < 0)) &&
            !(lo.length >= p.length && lo.substring(0, p.length) > p)
        case Some((None, None, n)) if n >= 0 => false
        case _                               => true
      }
      case IsNull(a) => range(a) match {
        case Some((_, _, 0)) => false // zero nulls recorded: no null row
        case _               => true
      }
      case IsNotNull(a) => range(a) match {
        case Some((None, None, n)) if n >= 0 => false // all-null file
        case _                               => true
      }
      case And(l, r) => one(l) && one(r)
      case Or(l, r)  => one(l) || one(r)
      case _         => true
    }
    pushed.forall(one)
  }

  /** Evaluate one filter against a file's per-column CONSTANTS (the
    * partition-routed layout's sidecar shape): Some(verdict) when the
    * filter is decidable from constants alone, None otherwise. The
    * whole-file contract shared by grouped metadata aggregation and
    * metadata-only DELETE: a file passes or fails as a unit. */
  def evalConst(f: Filter, const: Map[String, Any]): Option[Boolean] = {
    def cmp(a: String, v: Any)(sign: Int => Boolean): Option[Boolean] =
      for (x <- const.get(a); y <- normVal(v); c <- cmpVals(x, y)) yield sign(c)
    f match {
      case EqualTo(a, v)            => cmp(a, v)(_ == 0)
      // IN over a constant: true the moment ANY value matches; unknown
      // only when no value matches AND at least one was undecidable
      case In(a, vs) =>
        val per = vs.toSeq.map(v => cmp(a, v)(_ == 0))
        if (per.exists(_.contains(true))) Some(true)
        else if (per.forall(_.contains(false))) Some(false)
        else None
      case GreaterThan(a, v)        => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v)           => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, v)(_ <= 0)
      case IsNotNull(a)             => Some(const.contains(a)) // constants are non-null
      case IsNull(a)                => Some(!const.contains(a))
      case StringStartsWith(a, p)   => const.get(a) match {
        case Some(s: String) => Some(s.startsWith(p))
        case _               => None
      }
      case And(l, r) =>
        for (a <- evalConst(l, const); b <- evalConst(r, const)) yield a && b
      case Or(l, r) =>
        for (a <- evalConst(l, const); b <- evalConst(r, const)) yield a || b
      // TRUNCATE TABLE arrives as the single predicate AlwaysTrue through
      // SupportsDeleteV2's default — every file is a whole-file hit
      case AlwaysTrue()  => Some(true)
      case AlwaysFalse() => Some(false)
      case _ => None
    }
  }

  /** Whole-file verdicts for a filter set over a routed layout: for each
    * data file, whether ALL filters pass on its per-column constants —
    * None when any file/filter pair is undecidable (no sidecar, or a
    * row-level shape). The shared gate of metadata DELETE and
    * overwrite-by-filter: a file is dropped whole or kept whole, never
    * split. */
  def wholeFileVerdicts(path: String, filters: Array[Filter])
      : Option[Seq[(String, Boolean)]] = {
    val stats = loadStats(path)
    val verdicts = listFiles(path).map { f =>
      stats.get(f.name).flatMap { fs =>
        val const = fs.cols.collect {
          case (c, cs) if cs.constant.isDefined => c -> cs.constant.get
        }
        val vs = filters.toSeq.map(evalConst(_, const))
        if (vs.exists(_.isEmpty)) None else Some(f.path -> vs.forall(_.get))
      }
    }
    if (verdicts.exists(_.isEmpty)) None else Some(verdicts.flatten)
  }

  /** A filter this source evaluates EXACTLY (see JsonlScanBuilder's
    * pushdown contract): top-level long/string field, comparison/
    * null-check/startsWith shape, AND of the same. */
  def acceptable(schema: StructType, f: Filter): Boolean = {
    def typed(att: String) = schema.fields.find(_.name == att).map(_.dataType)
    def cmpOk(att: String, v: Any): Boolean = (typed(att), v) match {
      case (Some(LongType), _: java.lang.Long)    => true
      case (Some(LongType), _: java.lang.Integer) => true
      case (Some(StringType), _: String)          => true
      case _                                      => false
    }
    f match {
      case EqualTo(a, v)            => cmpOk(a, v)
      // IN with every value typed exactly: the reader evaluates it as a
      // disjunction of equalities; pushing it lets the bloom sidecars
      // answer the static IN-list the way they already answer DPP's
      // runtime IN filters
      case In(a, vs)                => vs.forall(v => cmpOk(a, v))
      case GreaterThan(a, v)        => cmpOk(a, v)
      case GreaterThanOrEqual(a, v) => cmpOk(a, v)
      case LessThan(a, v)           => cmpOk(a, v)
      case LessThanOrEqual(a, v)    => cmpOk(a, v)
      case IsNotNull(a)             => typed(a).isDefined
      case IsNull(a)                => typed(a).isDefined
      case StringStartsWith(a, _)   => typed(a).contains(StringType)
      case And(l, r)                => acceptable(schema, l) && acceptable(schema, r)
      case Or(l, r)                 => acceptable(schema, l) && acceptable(schema, r)
      case _                        => false
    }
  }

  /** Parse the `where` READ OPTION into source filters. Spark's DSv2
    * planner pushes query predicates into BATCH scans only — a micro-
    * batch stream's Filter stays above the scan (probed on 4.1: the
    * stream plan shows `PushedFilters: []` under an explicit filter).
    * The option is the streaming escape hatch, and it works for batch
    * too: the predicate is parsed with Catalyst's SQL parser, translated
    * to the same `sources.Filter`s Spark would push, evaluated by the
    * reader on every line, AND used for whole-file sidecar skipping —
    * including per-micro-batch skipping of newly arrived files. Every
    * conjunct must be exactly evaluable by the source (long/string
    * comparison, null check, startsWith, AND/OR); anything else fails
    * LOUDLY — an option predicate that silently went unenforced would
    * change query results. */
  def parseWhere(where: String, schema: StructType): Array[Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def value(l: ce.Literal): Any = l.value match {
      case u: UTF8String => u.toString
      case other         => other
    }
    def attr(e: ce.Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.name)
      case _                                                 => None
    }
    object A { def unapply(e: ce.Expression): Option[String] = attr(e) }
    def conv(e: ce.Expression): Filter = e match {
      case ce.And(l, r) => And(conv(l), conv(r))
      case ce.Or(l, r)  => Or(conv(l), conv(r))
      case ce.Not(ce.IsNull(A(a)))  => IsNotNull(a)
      case ce.IsNotNull(A(a))       => IsNotNull(a)
      case ce.IsNull(A(a))          => IsNull(a)
      case ce.EqualTo(A(a), l: ce.Literal) => EqualTo(a, value(l))
      case ce.EqualTo(l: ce.Literal, A(a)) => EqualTo(a, value(l))
      case ce.GreaterThan(A(a), l: ce.Literal) => GreaterThan(a, value(l))
      case ce.GreaterThan(l: ce.Literal, A(a)) => LessThan(a, value(l))
      case ce.GreaterThanOrEqual(A(a), l: ce.Literal) => GreaterThanOrEqual(a, value(l))
      case ce.GreaterThanOrEqual(l: ce.Literal, A(a)) => LessThanOrEqual(a, value(l))
      case ce.LessThan(A(a), l: ce.Literal) => LessThan(a, value(l))
      case ce.LessThan(l: ce.Literal, A(a)) => GreaterThan(a, value(l))
      case ce.LessThanOrEqual(A(a), l: ce.Literal) => LessThanOrEqual(a, value(l))
      case ce.LessThanOrEqual(l: ce.Literal, A(a)) => GreaterThanOrEqual(a, value(l))
      case ce.StartsWith(A(a), l: ce.Literal) => StringStartsWith(a, value(l).toString)
      case other => throw new IllegalArgumentException(
        s"graft-jsonl: unsupported `where` option shape: $other " +
          "(column-vs-literal comparisons, null checks, startsWith, AND/OR)")
    }
    def split(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => split(l) ++ split(r)
      case x            => Seq(x)
    }
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(where)
    val filters = split(parsed).map(conv).toArray
    filters.foreach { f =>
      require(acceptable(schema, f),
        s"graft-jsonl: `where` predicate $f is not exactly evaluable " +
          s"against ${schema.catalogString} (long/string comparisons, " +
          "null checks, startsWith, AND/OR)")
    }
    filters
  }

  /** Bounded-prefix schema inference: long ⊂ double for numerics, boolean,
    * everything else string; fields in first-seen order; a field that is
    * integral in one line and fractional in another widens to double. */
  def inferFromPrefix(path: String, maxLines: Int = 100): StructType = {
    import com.fasterxml.jackson.databind.JsonNode
    val files = listFiles(path)
    require(files.nonEmpty, s"graft-jsonl: no data files under $path")
    val fs = FileSystem.get(new java.net.URI(files.head.path), new Configuration())
    val in = fs.open(new Path(files.head.path))
    val order = mutable.LinkedHashMap.empty[String, DataType]
    try {
      val m = mapper
      val reader = new CountingLineReader(in, 0L)
      var read = 0
      var line = reader.readLine()
      while (line != null && read < maxLines) {
        if (line.exists(!_.isWhitespace)) {
          val tree = m.readTree(line)
          tree.fields().asScala.foreach { e =>
            val (k, v: JsonNode) = (e.getKey, e.getValue)
            val t: Option[DataType] =
              if (v.isNull) None
              else if (v.isIntegralNumber) Some(LongType)
              else if (v.isNumber) Some(DoubleType)
              else if (v.isBoolean) Some(BooleanType)
              else Some(StringType)
            t.foreach { dt =>
              order.get(k) match {
                case None             => order(k) = dt
                case Some(LongType) if dt == DoubleType => order(k) = DoubleType
                case Some(prev) if prev != dt && !(prev == DoubleType && dt == LongType) =>
                  order(k) = StringType
                case _ => ()
              }
            }
          }
          read += 1
        }
        line = reader.readLine()
      }
    } finally in.close()
    StructType(order.toSeq.map { case (k, t) => StructField(k, t, nullable = true) })
  }
}

/** The deterministic bucket function of the graft-jsonl layout: Murmur3
  * finalizer mix for longs, Murmur3 bytes hash for strings, `floorMod`
  * into the bucket count. Fixed constants, no JVM `hashCode` — the id of
  * a value is stable across JVMs, sessions and writes, which is the
  * whole contract: two tables bucketed `bucket(n, col)` agree file-by-
  * file on where any join key lives, forever. Shared verbatim by the
  * writer's routing, the sidecar `_pvals`, and the catalog's bound
  * `bucket` function (the one Spark consults for storage-partitioned
  * join compatibility). */
private[graft] object GraftBucket {
  /** Murmur3 fmix64 — the standard public-domain 64-bit avalanche. */
  def mix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33; k
  }
  def ofLong(n: Int, v: Long): Int = Math.floorMod(mix64(v), n.toLong).toInt
  def ofString(n: Int, v: String): Int =
    Math.floorMod(
      scala.util.hashing.MurmurHash3.bytesHash(
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0x9747b28c), n)
  def ofUTF8(n: Int, v: UTF8String): Int = ofString(n, v.toString)

  /** The coarsest width every listed bucket width agrees on — gcd. Under
    * split-only evolution this is the original width; shared by the
    * evolve procedure's report and the scan's partitioning claim so the
    * two can never drift. */
  def coarseWidth(widths: Seq[Int]): Int =
    widths.reduce((a, b) =>
      java.math.BigInteger.valueOf(a).gcd(java.math.BigInteger.valueOf(b))
        .intValue)
}

/** One partition-routing expression of a graft-jsonl layout — the shared
  * vocabulary of the writer (row → file routing), the commit (per-file
  * `_pvals` sidecar entries), and the scan (the
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * report). Identity routes one file per column VALUE (few, known
  * values: lang, source); bucket routes one file per HASH CELL of a
  * high-cardinality column (doc_id) — the co-location layout that makes
  * two 100 TB fact tables joinable on that column with zero exchanges. */
private[graft] sealed trait RouteExpr extends Serializable {
  def col: String
  def toV2: Transform
  /** The routing value for one row's column value (Long/String, already
    * normalized by the writer). Bucket routing REQUIRES non-null keys —
    * a null would need its own partition-value semantics and a 100 TB
    * join key is never legitimately null; fail the write loudly. */
  def eval(v: Any): Any
}
private[graft] case class IdentityRoute(col: String) extends RouteExpr {
  override def toV2: Transform = Expressions.identity(col)
  override def eval(v: Any): Any = v
}
private[graft] case class BucketRoute(n: Int, col: String) extends RouteExpr {
  require(n > 0, s"graft-jsonl: bucket count must be positive, got $n")
  override def toV2: Transform = Expressions.bucket(n, col)
  override def eval(v: Any): Any = v match {
    case l: Long   => GraftBucket.ofLong(n, l)
    case s: String => GraftBucket.ofString(n, s)
    case null => throw new IllegalArgumentException(
      s"graft-jsonl: null $col in a bucket-routed write")
    case other => throw new IllegalStateException(s"unbucketable value $other")
  }
}

private[graft] class JsonlTable(
    path: String, schemaArg: StructType, splitSize: Long,
    routes: Seq[RouteExpr] = Nil, morDelete: Boolean = false,
    morMerge: Boolean = false,
    // VERSION AS OF pin: the snapshot this read resolves to (its data
    // file and delete-vector sidecar names). A pinned table is READ-ONLY
    // — every mutation face refuses loudly.
    pinned: Option[JsonlVersions.VersionPin] = None,
    // `ndv.columns` table property: every write publishes per-file HLL
    // sketches of these columns (the write OPTION overrides per write)
    ndvCols: Seq[String] = Nil,
    // bucket EVOLUTION history (CALL system.evolve_bucket): every
    // PREVIOUS width of the table's bucket route. Writes route at the
    // CURRENT width (routes); scans REPORT the coarsest common
    // partitioning (gcd of all widths — divisor-chain evolution makes
    // every claimed id valid at the coarse width via mod)
    bucketHistory: Seq[Int] = Nil)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  // no backticks: Spark parses this as a multipart identifier when
  // validating a dynamic partition overwrite's output columns
  override def name(): String = s"graft-jsonl $path"

  /** The partitioning the SCAN may claim: after bucket evolution, live
    * files claim ids at several widths; because evolution only ever
    * multiplies the width (lazy split), id mod gcd(all widths) is the
    * same cell every file-write width agrees on — the COARSEST COMMON
    * partitioning. Un-evolved tables report their declared routes
    * unchanged. Writes always use the full-width `routes`. */
  private val reportRoutes: Seq[RouteExpr] =
    if (bucketHistory.isEmpty) routes
    else routes.map {
      case BucketRoute(n, c) =>
        BucketRoute(GraftBucket.coarseWidth(bucketHistory :+ n), c)
      case r => r
    }

  /** Directory + pin state, for the planner's NDV consultation
    * ([[graft.plans.NdvBroadcastRule]]). */
  private[graft] def dir: String = path
  private[graft] def isPinnedRead: Boolean = pinned.isDefined

  /** `_file`: the row's data file, materialized by the reader from its
    * split. SELECTable like any metadata column, and the GROUP identity
    * of the copy-on-write row-level operations — their scans read it,
    * Spark's runtime group filter narrows on it, and the commit swaps
    * exactly the files the scan planned.
    * `_pos`: the row's line-start byte offset — with `_file`, the exact
    * row identity the merge-on-read delta path deletes by. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = JsonlV2.FileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = JsonlV2.PosCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "line-start byte offset of the row in its data file"
      })

  /** ROW-LEVEL UPDATE/DELETE/MERGE as GROUP-BASED COPY-ON-WRITE
    * ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]):
    * Spark rewrites the affected groups — here, FILES — by scanning them,
    * applying the command's logic in the replacement query, and handing
    * the write every surviving row of those groups; commit swaps exactly
    * the scanned files for the new ones. Two contracts carry the whole
    * design:
    *
    *  1. the operation's scan uses the command's condition for WHOLE-FILE
    *     pruning ONLY (sidecar `mayMatch` — a file is scanned unless NO
    *     row can match), never row filtering: a group-based source must
    *     produce every row of any group it reads, or carryover rows of
    *     rewritten files would be silently dropped;
    *  2. the scan RECORDS the exact file set it planned on the shared
    *     operation object, and the write's commit deletes exactly that
    *     set before publishing — so an UPDATE over `lang = 'en'` touches
    *     the en file alone and every other file keeps its identity
    *     (names unchanged, sidecars intact, no read amplification).
    *
    * Rewritten rows flow through the SAME routed writer (clustered
    * distribution, per-file stats, `_pvals`), so a copy-on-write rewrite
    * preserves the layout the scans' partitioning reports rely on. At
    * 100 TB this is engine-side MERGE/UPDATE with cost proportional to
    * the affected partition slice — the reference's last-write-wins
    * upsert (MeshJoin.java's REPLACE INTO) as a declarative statement.
    * Metadata-only DELETE still wins when sidecar constants decide the
    * predicate; this path is the fallback for everything row-level. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = { () =>
    val cmd = info.command()
    requireUnpinned(s"row-level $cmd")
    // `delete.mode` governs DELETE, `merge.mode` governs MERGE and UPDATE
    val mergeOnRead = if (cmd == Command.DELETE) morDelete else morMerge
    if (mergeOnRead)
      new JsonlMorOperation(path, schemaArg, splitSize, routes, cmd)
    else
      new JsonlRowLevelOperation(path, schemaArg, splitSize, routes, cmd)
  }

  /** METADATA-ONLY DELETE (`DELETE FROM t WHERE ...`): on a partition-
    * routed layout a predicate over per-file-CONSTANT columns hits every
    * file whole-or-not-at-all, so the delete is a driver-side file drop —
    * zero data read, zero data written, the Hive drop-partition operation
    * expressed through sidecar proof. `canDeleteWhere` is the gate: every
    * data file must carry a sidecar whose constants DECIDE every filter
    * (a row-level predicate like `n_chars > 5` is undecidable per file →
    * Spark refuses the statement rather than half-applying it; the
    * rewrite is all-or-nothing by API contract). Sidecar entries of
    * dropped files go stale harmlessly — every consumer iterates the
    * live file listing and looks stats up by name. */
  private def deleteVerdicts(filters: Array[Filter])
      : Option[Seq[(String, Boolean)]] =
    JsonlV2.wholeFileVerdicts(path, filters)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && deleteVerdicts(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireUnpinned("metadata DELETE")
    val verdicts = deleteVerdicts(filters).getOrElse(
      throw new IllegalStateException(
        s"graft-jsonl: deleteWhere(${filters.mkString(", ")}) is not " +
          "decidable from per-file constants — Spark should have refused " +
          "this statement via canDeleteWhere"))
    val fs = FileSystem.get(new Path(path).toUri, new Configuration())
    JsonlOcc.withCommitLock(fs, new Path(path), "metadata DELETE") {
      verdicts.foreach { case (f, hit) =>
        if (hit) require(fs.delete(new Path(f), false),
          s"graft-jsonl: delete of $f failed")
      }
    }
  }
  override def schema(): StructType = schemaArg
  override def partitioning(): Array[Transform] = routes.map(_.toV2).toArray

  /** The table's operating knobs, surfaced through `DESCRIBE EXTENDED` /
    * `SHOW TBLPROPERTIES`: the row-level cost modes and the split size a
    * user chose at CREATE time should be readable where every other
    * engine shows them, not only in the manifest file. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("splitSize", splitSize.toString)
    m.put("delete.mode", if (morDelete) "merge-on-read" else "copy-on-write")
    m.put("merge.mode", if (morMerge) "merge-on-read" else "copy-on-write")
    if (ndvCols.nonEmpty) m.put("ndv.columns", ndvCols.mkString(","))
    pinned.foreach { p =>
      m.put("pinned", s"version snapshot: ${p.files.size} files, ${p.vectors.size} vectors")
    }
    java.util.Collections.unmodifiableMap(m)
  }

  /** `SHOW PARTITIONS` from the sidecars — zero data read
    * ([[org.apache.spark.sql.connector.catalog.SupportsPartitionManagement]]):
    * a routed layout's partitions ARE the distinct `_pvals` tuples of its
    * live files, so the listing is driver-side sidecar arithmetic (the
    * Hive-metastore answer, without a metastore). Partitions here are
    * DERIVED from data, never managed: they appear when a write routes
    * rows to a new value and vanish when a metadata DELETE drops the
    * value's files — so ADD/DROP/RENAME PARTITION are refused loudly
    * (DELETE/INSERT are the blessed mutations). A live data file without
    * routing proof makes the listing undecidable and fails rather than
    * lies. */
  override def partitionSchema(): StructType = StructType(
    routes.collect { case IdentityRoute(c) =>
      schemaArg.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(s"graft-jsonl: route column $c not in schema"))
    })

  private def partitionTuples(): Seq[Seq[Any]] = {
    val ps = partitionSchema()
    require(ps.nonEmpty && ps.length == routes.length,
      s"graft-jsonl $path: SHOW PARTITIONS needs an identity-routed layout " +
        s"(got partitioning ${routes.mkString(", ")})")
    val stats = JsonlV2.loadStats(path)
    JsonlV2.listFiles(path).map { f =>
      val pv = stats.get(f.name).flatMap(_.pvals)
      require(pv.isDefined && pv.get.length == routes.length,
        s"graft-jsonl $path: data file ${f.name} carries no routing proof — " +
          "the partition listing would lie; re-route the file or drop it")
      pv.get
    }.distinct
  }

  private def partRow(tuple: Seq[Any]): InternalRow = {
    val ps = partitionSchema()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      tuple.zip(ps.fields).map {
        case (s: String, _)                              => UTF8String.fromString(s)
        case (l: Long, f) if f.dataType == IntegerType   => java.lang.Integer.valueOf(l.toInt)
        case (l: Long, _)                                => java.lang.Long.valueOf(l)
        case (other, f) => throw new IllegalStateException(
          s"graft-jsonl: unreadable pval $other for ${f.name}")
      }.toArray[Any])
  }

  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    val idx = names.map(n => ps.fieldIndex(n))
    partitionTuples().map(partRow)
      .filter { row =>
        idx.zipWithIndex.forall { case (fi, vi) =>
          val dt = ps.fields(fi).dataType
          val a = row.get(fi, dt); val b = ident.get(vi, dt)
          a == b
        }
      }.toArray
  }

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-jsonl: partitions are derived from routed data — INSERT rows " +
        "with the new value instead of ADD PARTITION")
  override def dropPartition(ident: InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "graft-jsonl: partitions are derived from routed data — use " +
        "DELETE FROM t WHERE <partition col> = … (a metadata-only drop)")
  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-jsonl: partition metadata is the sidecar set; nothing to replace")
  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] = java.util.Collections.emptyMap()

  /** `TRUNCATE TABLE t PARTITION (col = v)` — a DATA operation (unlike
    * the refused partition DDL above): drop the value's files whole by
    * sidecar-proof decision, zero data read or written — the same
    * metadata drop `DELETE FROM t WHERE col = v` runs, reached through
    * Spark's partition-command face. A live file without routing proof
    * makes the truncate undecidable for it — refused loudly, never
    * half-applied. */
  override def truncatePartition(ident: InternalRow): Boolean = {
    requireUnpinned("TRUNCATE PARTITION")
    val ps = partitionSchema()
    require(ps.length == routes.length,
      s"graft-jsonl $path: TRUNCATE PARTITION needs an identity-routed layout")
    val target: Seq[Any] = ps.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case StringType  => ident.getUTF8String(i).toString
        case IntegerType => ident.getInt(i).toLong
        case _           => ident.getLong(i)
      }
    }
    val stats = JsonlV2.loadStats(path)
    val fs = FileSystem.get(new Path(path).toUri, new Configuration())
    val hits = JsonlV2.listFiles(path).filter { f =>
      val pv = stats.get(f.name).flatMap(_.pvals)
      require(pv.isDefined && pv.get.length == routes.length,
        s"graft-jsonl $path: data file ${f.name} carries no routing proof — " +
          "TRUNCATE PARTITION would be undecidable for it")
      pv.get == target
    }
    JsonlOcc.withCommitLock(fs, new Path(path), "TRUNCATE PARTITION") {
      hits.foreach { f =>
        require(fs.delete(new Path(f.path), false),
          s"graft-jsonl: TRUNCATE PARTITION failed to delete ${f.path}")
      }
    }
    true
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `changes` READ OPTION: the CDC feed — net change sets between
    // snapshots, output schema the table plus `_change_type`.
    // `startingVersion` names the BASELINE snapshot to diff from. Pinned
    // by `versionAsOf` it is the batch feed ([[JsonlChanges.between]]),
    // the pin naming the `to` snapshot; unpinned it is the stream, whose
    // offsets are snapshot versions (baseline default: newest at stream
    // start).
    if (options.getBoolean("changes", false)) {
      // loud-refusal discipline: the feed is the FULL net change set
      // between snapshots — silently ignoring a `where`/`files`
      // restriction would hand back an unfiltered feed the caller
      // believes is scoped
      require(!options.containsKey("where") && !options.containsKey("files"),
        "graft-jsonl: `changes` does not compose with `where`/`files` — " +
          "the feed is the full net change set between snapshots; filter " +
          "the returned stream instead")
      val sv = Option(options.get("startingVersion")).map(_.toLong)
      return new ScanBuilder {
        override def build(): Scan =
          new JsonlChangesScan(path, schemaArg, splitSize, sv, pinned)
      }
    }
    val pre = Option(options.get("where"))
      .map(JsonlV2.parseWhere(_, schemaArg))
      .getOrElse(Array.empty[Filter])
    // `files` READ OPTION: restrict the scan to the named data files (a
    // comma-separated list of file NAMES, not paths) — the manifest-
    // driven read shape maintenance jobs need (compaction reads exactly
    // the delete-vectored files, nothing else). Batch-only: a stream
    // over a shifting whitelist has no watermark contract.
    val whitelist = Option(options.get("files"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    pinned match {
      case Some(pin) =>
        // a version pin IS a whitelist pair: the snapshot's data files
        // intersected with any `files` option, plus exactly its vectors
        val eff = whitelist.fold(pin.files)(_.intersect(pin.files))
        new JsonlScanBuilder(path, schemaArg, splitSize, reportRoutes, pre,
          Some(eff), Some(pin.vectors))
      case None =>
        new JsonlScanBuilder(path, schemaArg, splitSize, reportRoutes, pre,
          whitelist)
    }
  }
  private def requireUnpinned(op: String): Unit =
    require(pinned.isEmpty,
      s"graft-jsonl $path: $op against a VERSION AS OF read — historical " +
        "snapshots are immutable; run the statement against the current table")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireUnpinned("write")
    // `compactFiles` WRITE OPTION (maintenance only — the compaction
    // procedure's commit face): append the incoming rows through the
    // normal routed writer, but make the commit a COW-style swap of the
    // named files (delete them, publish the replacements, then sweep
    // delete-vector sidecars left with no live referent). One commit,
    // one crash window — the same delete-then-publish discipline the
    // row-level COW operations already run under.
    val compact = Option(info.options.get("compactFiles"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    // write-option routing wins over catalog-declared transforms; both
    // express the same per-value file layout
    val optCols = Option(info.options.get("partitionBy")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val effRoutes = if (optCols.nonEmpty) optCols.map(IdentityRoute) else routes
    compact match {
      case Some(names) =>
        // the procedure's vector baseline, listed before its rewrite scan
        // existed (see JsonlOcc.baselineAtPlan): a baseline listed any
        // later could miss a vector that landed in between, and the swap
        // would silently drop its deletes
        val atPlan = Option(info.options.get("compactVectorsAtPlan")).getOrElse(
          throw new IllegalArgumentException(
            s"graft-jsonl: a compactFiles write on $path needs the " +
              "compactVectorsAtPlan option — the delete-vector sidecars " +
              "live when the compaction planned, listed before its rewrite " +
              "scan; without it a vector landing mid-compaction is lost"))
        val baseline = JsonlOcc.PlanBaseline(
          atPlan.split(',').map(_.trim).filter(_.nonEmpty).toSet, None)
        new WriteBuilder {
          override def build(): Write = new JsonlClusteredWrite(effRoutes) {
            override def description(): String =
              s"GraftJsonl COMPACT write `$path` swap=${names.size} files"
            override def toBatch: BatchWrite =
              new JsonlSwapBatchWrite(path, info.schema(), effRoutes,
                "compaction", "compaction", () => names, baseline,
                sweepVectors = true)
          }
        }
      case None =>
        new JsonlWriteBuilder(path, info.schema(), effRoutes,
          Option(info.options.get("sortedBy")).map(_.trim).filter(_.nonEmpty),
          Option(info.options.get("bloomFor")).toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
          Option(info.options.get("ndvFor"))
            .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(ndvCols),
          evolvedBuckets = bucketHistory.nonEmpty)
    }
  }
}

/** The one clustering policy every lake write requests
  * ([[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]):
  * a NON-STRICT clustered distribution on the route columns, any
  * partition count, no ordering. Without it, dynamic-partition routing
  * publishes one file per (task × partition value) — a 1000-task write
  * over 5 values drops 5000 files, the small-files pathology s14 exists
  * to clean up. Clustered first, each value's rows land in few tasks and
  * the layout comes out at O(values) files. Non-strict is the
  * 100 TB-correct half: Spark plans a REBALANCE (AQE-splittable) instead
  * of a hard repartition, so one hot partition value is split across
  * tasks rather than pinned to a single writer — files stay single-valued
  * either way, which is all the sidecar contract needs. The shuffle this
  * inserts is the one the read side's KeyGroupedPartitioning report then
  * never pays again. Plain appends, copy-on-write rewrites and compaction
  * swaps all extend it, so rewritten rows keep the layout a fresh write
  * produces (same sidecars, same `_pvals`). */
private[sources] abstract class JsonlClusteredWrite(routes: Seq[RouteExpr])
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    if (routes.isEmpty) Distributions.unspecified()
    else Distributions.clustered(routes.map(_.toV2: Expression).toArray)
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering(): Array[SortOrder] = Array.empty
}

/** One UPDATE/DELETE/MERGE rewrite in flight: the shared object through
  * which the operation's scan tells its write WHICH files form the
  * copy-on-write group set. Spark builds both faces from this instance,
  * executes the replacement query over the scan, and commits the write —
  * single-driver, one statement, so a plain atomic reference carries the
  * handshake. */
private[sources] class JsonlRowLevelOperation(
    path: String, schema: StructType, splitSize: Long, routes: Seq[RouteExpr],
    cmd: Command) extends RowLevelOperation {

  private val baseline = JsonlOcc.baselineAtPlan(path, cmd)

  // the names of the files the scan planned: the commit's swap set
  private[sources] val scanned =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)

  override def command(): Command = cmd

  override def description(): String = s"GraftJsonl COW $cmd `$path`"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlCowScanBuilder(path, schema, splitSize, routes, this)

  /** `_file` rides along so Spark builds REAL ReplaceData projections
    * (data + metadata) — the writer then receives rows projected to the
    * write schema — and so the runtime group filter narrows the scan by
    * file identity instead of row identity. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(JsonlV2.FileCol))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new JsonlClusteredWrite(routes) {
        override def description(): String = s"GraftJsonl COW $cmd write `$path`"
        override def toBatch: BatchWrite =
          new JsonlSwapBatchWrite(path, info.schema(), routes, "COW", s"COW $cmd",
            () => Option(scanned.get).getOrElse(throw new IllegalStateException(
              "graft-jsonl: COW commit before the operation's scan planned — " +
                "no group set to swap")),
            baseline, sweepVectors = false)
      }
    }
}

/** The copy-on-write scan builder: the command's condition prunes WHOLE
  * FILES against the sidecars and nothing else — every filter is returned
  * as residual (a group-based source must yield every row of any file it
  * reads; carryover rows survive because the reader never drops them),
  * and the final planned file set is recorded on the operation for the
  * commit's swap. */
private[sources] class JsonlCowScanBuilder(
    path: String, full: StructType, splitSize: Long, routes: Seq[RouteExpr],
    op: JsonlRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pruneOnly: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruneOnly = filters.filter(JsonlV2.acceptable(full, _))
    filters // ALL residual: the condition must never row-filter this scan
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    // columnarRead = false: the row-level-operation rewrite keeps the
    // row path (metadata-column lineage is row-tested; vectorizing the
    // COW scan buys nothing on a rewrite that re-serializes every row)
    new JsonlScan(path, full, required, Array.empty, splitSize, -1, routes,
      pruneOnly = pruneOnly,
      onPlanned = Some(op.scanned.set),
      columnarRead = false)
}

/** The SWAP commit shared by copy-on-write row-level operations
  * (`kind = "COW"`) and compaction (`kind = "compaction"`,
  * [[JsonlMaintenance.compactDeletes]]'s and the zorder rewrite's write
  * face). Under the table's commit lock it VALIDATES the planned swap
  * against the live state ([[JsonlOcc.validateSwap]]: a concurrent
  * committer rewriting the same files, or a MOR delete landing on them
  * after this write planned, is a loud abort — the rewrite would
  * otherwise silently drop those row-level deletes), runs the optional
  * serializable-merge check, deletes exactly the swapped files and
  * publishes the replacement through the same rename protocol (stats
  * sidecars included). The swap set is read lazily: a COW operation
  * knows it only after its scan planned.
  *
  * Compaction then SWEEPS the `_deletes-*` sidecars — entries
  * referencing a file that no longer exists are dropped, a sidecar left
  * empty is deleted. Vectors for files BELOW the compaction threshold
  * survive untouched (their files still carry deleted rows), so a
  * partial compaction stays exactly as correct as no compaction; a full
  * one leaves zero live vectors and re-arms the metadata-only
  * aggregation path the vectors had vetoed. */
private[sources] class JsonlSwapBatchWrite(
    path: String, schema: StructType, routes: Seq[RouteExpr],
    kind: String, opDesc: String, swapNames: () => Seq[String],
    baseline: JsonlOcc.PlanBaseline, sweepVectors: Boolean) extends BatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(path, schema, writeId, routes)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val swap = swapNames()
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    JsonlOcc.withCommitLock(fs, root, s"$kind $writeId") {
      JsonlOcc.validateSwap(fs, root, swap, baseline.vectors, opDesc)
      baseline.data.foreach(JsonlOcc.validateNoNewDataFiles(fs, root, _, opDesc))
      swap.foreach { n =>
        require(fs.delete(new Path(root, n), false),
          s"graft-jsonl: $kind swap failed to delete $n")
      }
      JsonlCommit.publish(fs, root, writeId,
        (pid, seq) => f"part-$pid%05d-$seq%03d-$writeId.jsonl",
        overwrite = false, messages)
      if (sweepVectors) JsonlV2.sweepDeadVectors(fs, root)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlCommit.dropTemps(
      FileSystem.get(new Path(path).toUri, new Configuration()), messages)
}

/** MERGE-ON-READ DELETE, UPDATE and MERGE ([[SupportsDelta]], table
  * properties `delete.mode` / `merge.mode = merge-on-read`): instead of
  * rewriting every file that holds a matched row (the COW group swap —
  * read a partition, write a partition, for a ten-row upsert), the
  * operation emits:
  *
  *  - a POSITION-DELETE record per deleted or replaced row, published as
  *    `_deletes-<writeId>-<pid>.json` sidecars (data file name → sorted
  *    deleted line-start byte offsets) that every reader merges back out
  *    of its split;
  *  - for UPDATE and MERGE, a plain DATA row per new/updated image —
  *    appended through the SAME routed task writer as any batch insert,
  *    so new files carry full footer stats, `_pvals` routing proof, and
  *    count toward every sidecar-driven plan the layout supports. A
  *    DELETE is the same operation emitting no inserts.
  *
  * The COW/MOR trade, made explicit:
  *
  *  - COW pays the rewrite at WRITE time (delete 100 rows from a 1 GB
  *    file → rewrite the gigabyte) and reads stay pure;
  *  - MOR pays O(deleted + inserted rows) at write time — the only
  *    statement shape that survives frequent small deletes (GDPR erasure,
  *    curation verdicts trickling in) and the reference's continuous
  *    trickle of small upserts (`MeshJoin.java:354-376`) over 100 TB —
  *    and readers binary-search a per-split slice of the vector (zero
  *    cost on files with no deletes). The read-side rent lasts until the
  *    next `compact_deletes`: metadata aggregation VETOES itself on any
  *    table with live delete vectors (a deleted row may have held the
  *    min), and `estimateStatistics` subtracts the vectors from the
  *    sidecar row counts.
  *
  * UPDATE is REPRESENTED AS DELETE + INSERT
  * (`representUpdateAsDeleteAndInsert`): the JSONL format has no in-place
  * row image, and the split keeps the writer two independent, already-
  * proven halves (the delete-vector buffer, the routed data writer)
  * rather than a third path.
  *
  * The delta scan contract differs from the COW scan in the one way that
  * matters: a DELTA scan may row-filter (only matched rows become delete
  * records), so the condition pushes down normally and whole files prune
  * against the sidecars. Row identity is `(_file, _pos)` — the two
  * metadata columns the scan materializes from the split itself, no
  * lookup anywhere.
  *
  * What differs by command is validation. DELETEs compose by UNION (each
  * publishes fresh sidecars, readers merge all of them; re-deleting an
  * already-deleted offset is a no-op by construction), so a DELETE
  * captures no plan-time baseline, and one that matched nothing takes no
  * commit lock. UPDATE and MERGE re-emit row images read at scan time,
  * so they capture the plan-time vector baseline
  * ([[JsonlOcc.baselineAtPlan]]) and abort when a concurrent delete
  * landed on a matched file. */
private[sources] class JsonlMorOperation(
    path: String, schema: StructType, splitSize: Long, routes: Seq[RouteExpr],
    cmd: Command) extends SupportsDelta {

  private val baseline: Option[JsonlOcc.PlanBaseline] =
    if (cmd == Command.DELETE) None else Some(JsonlOcc.baselineAtPlan(path, cmd))

  override def command(): Command = cmd
  override def description(): String = s"GraftJsonl MOR $cmd `$path`"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(path, schema, splitSize, routes)

  override def rowId(): Array[NamedReference] =
    Array(JsonlV2.FileCol, JsonlV2.PosCol).map(Expressions.column)

  override def requiredMetadataAttributes(): Array[NamedReference] = rowId()

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String = s"GraftJsonl MOR $cmd write `$path`"
        override def toBatch: DeltaBatchWrite =
          new JsonlMorBatchWrite(path, schema, routes, cmd, baseline)
      }
    }
}

private[graft] case class JsonlMorCommitMessage(
    pid: Int, deleteTmp: String, pieces: Seq[JsonlPiece])
    extends WriterCommitMessage

/** The delta commit: each task writer stages its per-file offset map as a
  * hidden `.tmp-deletes-*` temp; the driver renames the winners to
  * `_deletes-<writeId>-<pid>.json` — the same publish-by-rename shape as
  * the data commit, O(tasks) driver renames, O(1) driver memory (offsets
  * never ride the commit messages). Speculative duplicates of one
  * partition stage distinct temps and only the admitted attempt is
  * renamed; abort sweeps the rest.
  *
  * Commit publishes DATA FILES FIRST, delete vectors second: a crash
  * between the two leaves a DUPLICATE row (old + new image both visible)
  * rather than a LOST row. The duplicate is detectable (two rows share a
  * doc key) and repairable (re-issue the vector from the staged temp, or
  * dedup via a compaction-style rewrite); note a plain re-run of the
  * MERGE does NOT remove it — both images match the source key and are
  * each re-upserted — whereas the opposite order's failure (vectors live,
  * new images missing) silently DROPS the matched rows' updates with
  * nothing left on disk to even detect it. Duplicate-over-loss is the
  * only defensible choice for a two-step commit. */
private[sources] class JsonlMorBatchWrite(
    path: String, schema: StructType, routes: Seq[RouteExpr], cmd: Command,
    baseline: Option[JsonlOcc.PlanBaseline]) extends DeltaBatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new JsonlMorWriterFactory(path, schema, writeId, routes, cmd)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    val morMessages = messages.map {
      case m: JsonlMorCommitMessage => m
      case other => throw new IllegalStateException(s"foreign commit message $other")
    }
    val staged = morMessages.filter(_.deleteTmp.nonEmpty)
    val opDesc = if (cmd == Command.DELETE) "MOR DELETE" else "MOR MERGE"
    // a DELETE that staged no vector has nothing to publish
    if (cmd != Command.DELETE || staged.nonEmpty)
      JsonlOcc.withCommitLock(fs, root, s"$opDesc $writeId") {
        // each verdict references its file BY NAME: if a concurrent COW/
        // compaction rewrote that file between scan and commit, the
        // verdict would silently never apply — validate the names are
        // still live. UPDATE/MERGE also pass the plan-time baseline: their
        // row images were read at scan time, so a concurrent delete
        // landing on a matched file since plan time would be resurrected
        // by the re-emit
        val referenced = staged
          .flatMap(m => JsonlOcc.vectorFileNames(fs, new Path(m.deleteTmp))).toSet
        JsonlOcc.validateDeltaRefs(fs, root, referenced, baseline.map(_.vectors),
          opDesc)
        baseline.flatMap(_.data)
          .foreach(JsonlOcc.validateNoNewDataFiles(fs, root, _, opDesc))
        // data first, vectors second — see the class doc's crash argument
        JsonlCommit.publish(fs, root, writeId,
          (pid, seq) => f"part-$pid%05d-$seq%03d-$writeId.jsonl",
          overwrite = false,
          morMessages.map(m => JsonlCommitMessage(m.pid, m.pieces): WriterCommitMessage))
        staged.foreach { m =>
          val target = new Path(root, s"_deletes-$writeId-${m.pid}.json")
          require(fs.rename(new Path(m.deleteTmp), target),
            s"graft-jsonl: delete-vector rename ${m.deleteTmp} -> $target failed")
        }
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = FileSystem.get(new Path(path).toUri, new Configuration())
    messages.foreach {
      case JsonlMorCommitMessage(pid, tmp, pieces) =>
        if (tmp.nonEmpty)
          try fs.delete(new Path(tmp), false)
          catch { case _: java.io.IOException => () }
        JsonlCommit.dropTemps(fs, Array(JsonlCommitMessage(pid, pieces)))
      case _ => ()
    }
  }
}

/** Ships to tasks, so it must carry only serializable state — a named
  * top-level factory, not a closure over the (driver-only) batch write. */
private[sources] class JsonlMorWriterFactory(
    path: String, schema: StructType, writeId: String, routes: Seq[RouteExpr],
    cmd: Command) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new JsonlMorWriter(path, schema, writeId, partitionId, taskId, routes, cmd)
}

/** One task's delta records, dispatched to two halves. Delete records
  * buffer their `(file, pos)` row ids per file (8 bytes per deleted row —
  * bounded by the task's own input) and stage as one hidden temp sidecar
  * at task commit. Insert records (and the insert half of each update)
  * stream through the routed data writer with full footer stats; a DELETE
  * refuses them. `update` cannot arrive — the operation declares
  * `representUpdateAsDeleteAndInsert`. */
private[sources] class JsonlMorWriter(
    path: String, schema: StructType, writeId: String, partitionId: Int,
    taskId: Long, routes: Seq[RouteExpr], cmd: Command)
    extends DeltaWriter[InternalRow] {

  // data file path (the row id's `_file`) → deleted line offsets
  private val perFile = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val inserts = new JsonlDataWriter(path, schema, writeId,
    partitionId = partitionId, taskId = taskId, routes = routes)

  // rowId projection order is the order JsonlMorOperation.rowId()
  // declares: (_file string, _pos long)
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    perFile.getOrElseUpdate(id.getUTF8String(0).toString, mutable.ArrayBuffer.empty) +=
      id.getLong(1)
  }

  override def insert(row: InternalRow): Unit =
    if (cmd == Command.DELETE)
      throw new IllegalStateException("graft-jsonl: insert record on a DELETE delta write")
    else inserts.write(row)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      s"graft-jsonl: update record on a MOR $cmd write — the operation " +
        "declared representUpdateAsDeleteAndInsert")

  override def commit(): WriterCommitMessage = {
    val pieces = inserts.commit() match {
      case JsonlCommitMessage(_, ps) => ps
      case other => throw new IllegalStateException(s"foreign insert commit $other")
    }
    JsonlMorCommitMessage(partitionId, stageDeletes(), pieces)
  }

  /** The temp sidecar's path, or "" when this task deleted nothing. */
  private def stageDeletes(): String = {
    if (perFile.isEmpty) return ""
    val tmp = new Path(path, s".tmp-deletes-$writeId-$partitionId-$taskId.json")
    val fs = FileSystem.get(tmp.toUri, new Configuration())
    val out: java.io.OutputStream = fs.create(tmp, true)
    val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
    gen.writeStartObject()
    perFile.foreach { case (file, offs) =>
      gen.writeArrayFieldStart(new Path(file).getName)
      offs.sorted.foreach(gen.writeNumber)
      gen.writeEndArray()
    }
    gen.writeEndObject()
    gen.close(); out.close()
    tmp.toString
  }

  override def abort(): Unit = inserts.abort()
  override def close(): Unit = inserts.close()
}

private[sources] class JsonlScanBuilder(path: String, full: StructType, splitSize: Long,
    routes: Seq[RouteExpr] = Nil, preFilters: Array[Filter] = Array.empty,
    fileWhitelist: Option[Set[String]] = None,
    vectorWhitelist: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = preFilters
  private var limit: Int = -1
  private var aggResult: Option[JsonlMetaAgg] = None

  /** METADATA-ONLY aggregation: COUNT(*) / COUNT(col) / MIN / MAX over
    * long or string fields, and SUM over long fields (exact per-file sums
    * in the sidecar; overflow at write OR combine time vetoes) — global
    * or GROUP BY — answered entirely from the `_stats-*` sidecars. AVG
    * rides for free: Spark decomposes it to SUM/COUNT for the partial
    * retry, and fully-aggregated group rows are a fixed point of its
    * final re-aggregation. Zero data bytes read, the same trick parquet
    * footers enable, PROVIDED:
    *
    *  - every data file is stats-covered (a file written by another tool
    *    vetoes the rewrite; correctness before cleverness);
    *  - every GROUP BY column is CONSTANT within each file (sidecar shows
    *    zero nulls and min == max — the layout a `partitionBy` write
    *    produces), so no group can span a file boundary unaccounted;
    *  - every pushed filter references only such per-file-constant
    *    columns, so each file passes or fails the filter WHOLE and the
    *    counts stay exact (the Hive-partition-pruning argument).
    *
    * Complete pushdown: the scan emits the final group rows. Anything
    * outside the contract returns None and the query scans normally. The
    * spec proves no data is read by corrupting every data file and
    * re-running the aggregates. */
  private def tryMetadataAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[JsonlMetaAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    import JsonlV2.{FileStats, cmpVals}
    if (limit >= 0) return None
    val files = JsonlV2.listFiles(path).filter(f => fileWhitelist.forall(_.contains(f.name)))
    // merge-on-read delete vectors invalidate every sidecar figure a
    // metadata answer would use (a deleted row may have held the min/max,
    // carried the sum, or counted) — one vector against a LIVE file and
    // the source declines and scans. Correctness before cleverness. The
    // check is live-intersected, not mere sidecar presence: entries for
    // files a compaction already rewrote are stale-harmless everywhere
    // else and must not veto the rewrite forever.
    val liveNames = files.map(_.name).toSet
    if (JsonlV2.loadDeletes(path).keys.exists(liveNames.contains)) return None
    // a version-pinned read answers from its snapshot's files and vectors
    // only; the sidecar arithmetic above reasons about the LIVE table, so
    // the metadata path stands down and the pinned scan reads data
    if (vectorWhitelist.isDefined) return None
    val stats = JsonlV2.loadStats(path)
    val covered = files.map(f => stats.get(f.name))
    if (files.isEmpty || covered.exists(_.isEmpty)) return None
    val fileStats: Seq[FileStats] = covered.flatten

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          full.fields.find(f => f.name == nr.fieldNames()(0) &&
            (f.dataType == LongType || f.dataType == StringType))
        case _ => None
      }

    // GROUP BY columns: resolvable long/string fields, constant per file
    val groupFields: Seq[Option[StructField]] =
      agg.groupByExpressions.toSeq.map(fieldOf)
    if (groupFields.exists(_.isEmpty)) return None
    val groups = groupFields.flatten
    def constantIn(fs: FileStats, col: String): Option[Any] =
      fs.cols.get(col).flatMap(_.constant)
    if (groups.exists(g => fileStats.exists(constantIn(_, g.name).isEmpty)))
      return None

    // pushed filters: evaluable against per-file constants only
    def filterCols(f: Filter): Seq[String] = f.references.toSeq
    val filterColNames = pushed.flatMap(filterCols).distinct
    if (filterColNames.exists(c => fileStats.exists(constantIn(_, c).isEmpty)))
      return None
    def evalConst(f: Filter, const: Map[String, Any]): Option[Boolean] =
      JsonlV2.evalConst(f, const)

    // per-file filter verdict; None anywhere → decline the pushdown
    val kept: Seq[FileStats] =
      if (pushed.isEmpty) fileStats
      else {
        val verdicts = fileStats.map { fs =>
          val const = filterColNames.flatMap(c => constantIn(fs, c).map(c -> _)).toMap
          val vs = pushed.toSeq.map(evalConst(_, const))
          if (vs.exists(_.isEmpty)) None else Some(fs -> vs.forall(_.get))
        }
        if (verdicts.exists(_.isEmpty)) return None
        verdicts.flatten.filter(_._2).map(_._1)
      }

    // aggregate expressions over the surviving files
    sealed trait AggKind
    case object RowCount extends AggKind
    case class ColCount(col: String) extends AggKind
    case class MinOf(f: StructField) extends AggKind
    case class MaxOf(f: StructField) extends AggKind
    case class SumOf(col: String) extends AggKind
    val kinds: Seq[Option[AggKind]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(RowCount)
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map(f => ColCount(f.name))
      case m: Min => fieldOf(m.column).map(MinOf)
      case m: Max => fieldOf(m.column).map(MaxOf)
      case su: Sum if !su.isDistinct =>
        fieldOf(su.column).filter(_.dataType == LongType).map(f => SumOf(f.name))
      case _ => None
    }
    if (kinds.exists(_.isEmpty)) return None
    val aggKinds = kinds.flatten
    // COUNT(col) needs exact null counts in every surviving file (a file
    // with no entry or a legacy unknown-nulls entry vetoes); SUM(col)
    // needs the sidecar sum (absent on overflow or legacy sidecars)
    val countCols = aggKinds.collect { case ColCount(c) => c }
    if (countCols.exists(c => kept.exists(_.cols.get(c).forall(_.nulls < 0))))
      return None
    val sumCols = aggKinds.collect { case SumOf(c) => c }
    if (sumCols.exists(c => kept.exists(_.cols.get(c).flatMap(_.sum).isEmpty)))
      return None

    val grouped: Seq[(Seq[Any], Seq[FileStats])] =
      if (groups.isEmpty) Seq(Seq.empty[Any] -> kept)
      else kept
        .groupBy(fs => groups.map(g => constantIn(fs, g.name).get))
        .toSeq.map { case (k, v) => (k, v) }

    def bound(fss: Seq[FileStats], col: String, takeHi: Boolean): Any = {
      val bs = fss.flatMap(_.cols.get(col))
        .flatMap(c => if (takeHi) c.hi else c.lo)
      if (bs.isEmpty) null
      else bs.reduce((a, b) => cmpVals(a, b) match {
        case Some(c) => if ((c > 0) == takeHi) a else b
        case None    => a
      })
    }
    val rows: Seq[Seq[Any]] =
      try grouped.map { case (key, fss) =>
        key ++ aggKinds.map {
          case RowCount     => fss.map(_.rows).sum
          case ColCount(c)  => fss.map(fs => fs.rows - fs.cols(c).nulls).sum
          case MinOf(f)     => bound(fss, f.name, takeHi = false)
          case MaxOf(f)     => bound(fss, f.name, takeHi = true)
          case SumOf(c) =>
            // SQL SUM over zero non-null values is NULL; a file with no
            // range on c contributed nothing. Combining overflows → veto.
            if (fss.exists(_.cols.get(c).exists(_.lo.isDefined)))
              fss.flatMap(_.cols.get(c).flatMap(_.sum))
                .foldLeft(0L)(Math.addExact)
            else null
        }
      } catch { case _: ArithmeticException => return None }
    // complete pushdown contract: group columns FIRST, then agg columns
    val schema = StructType(
      groups.map(g => StructField(g.name, g.dataType)) ++
        aggKinds.zipWithIndex.map {
          case (RowCount, i)    => StructField(s"agg_$i", LongType)
          case (ColCount(_), i) => StructField(s"agg_$i", LongType)
          case (MinOf(f), i)    => StructField(s"agg_$i", f.dataType)
          case (MaxOf(f), i)    => StructField(s"agg_$i", f.dataType)
          case (SumOf(_), i)    => StructField(s"agg_$i", LongType)
        })
    Some(JsonlMetaAgg(schema, rows,
      s"groups=[${agg.groupByExpressions.mkString(", ")}], " +
        s"aggs=[${agg.aggregateExpressions.mkString(", ")}], " +
        s"filters=[${pushed.mkString(", ")}]"))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryMetadataAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = tryMetadataAgg(agg)
    aggResult.isDefined
  }

  /** PARTIAL limit push: each partition reader stops after `limit`
    * surviving rows (post-pushed-filters), Spark keeps the global Limit —
    * a `df.limit(k)` over 100 TB touches at most k rows per split instead
    * of every line. */
  override def pushLimit(l: Int): Boolean = { limit = l; false }

  /** A filter is accepted iff this source evaluates it EXACTLY: top-level
    * long/string field, comparison/null-check shape. Accepted filters are
    * removed from the query plan — correctness rides on the reader's
    * evaluation, which DataSourceV2Spec pins against the post-scan plan.
    * `where`-option pre-filters stay pushed regardless: they were never
    * in the query plan at all. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(JsonlV2.acceptable(full, _))
    pushed = preFilters ++ ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggResult match {
    case Some(meta) => new JsonlAggScan(meta)
    case None       => new JsonlScan(path, full, required, pushed, splitSize, limit, routes,
      fileWhitelist = fileWhitelist, vectorWhitelist = vectorWhitelist)
  }
}

/** A metadata-answered aggregate: the result rows (group columns first,
  * then aggregate values; Long / String / null) and their schema. */
private[sources] case class JsonlMetaAgg(
    schema: StructType, rows: Seq[Seq[Any]], desc: String)

/** The tiny scan a metadata-answered aggregate plans to: one row per
  * group, produced on the driver from sidecar arithmetic alone. */
private[sources] class JsonlAggScan(meta: JsonlMetaAgg)
    extends Scan with Batch {
  override def readSchema(): StructType = meta.schema
  override def description(): String = s"GraftJsonl MetadataAgg: [${meta.desc}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(JsonlAggPartition(meta.rows.map(_.toArray)))
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlAggReaderFactory()
}

private[sources] case class JsonlAggPartition(rows: Seq[Array[Any]])
    extends InputPartition

private[sources] class JsonlAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[JsonlAggPartition].rows.iterator
      private var row: InternalRow = _
      override def next(): Boolean = it.hasNext && {
        row = new GenericInternalRow(it.next().map {
          case s: String => UTF8String.fromString(s)
          case l: Long   => java.lang.Long.valueOf(l)
          case other     => other
        })
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

private[sources] class JsonlScan(
    path: String, full: StructType, required: StructType, pushed: Array[Filter],
    splitSize: Long, limit: Int = -1, routes: Seq[RouteExpr] = Nil,
    pruneOnly: Array[Filter] = Array.empty,
    onPlanned: Option[Seq[String] => Unit] = None, // the planned file names
    fileWhitelist: Option[Set[String]] = None,
    vectorWhitelist: Option[Set[String]] = None,
    columnarRead: Boolean = true)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private lazy val files = {
    val kept = JsonlV2.listFiles(path).filter(f => fileWhitelist.forall(_.contains(f.name)))
    // a VERSION AS OF pin (vectorWhitelist is only ever set by the pinned
    // table) must read its snapshot EXACTLY or fail loudly: a recorded
    // file that compaction/COW/vacuum has since removed would otherwise
    // silently drop out of the listing and the "historical" answer would
    // be partial — worse than no answer. (The maintenance `files` read
    // option keeps its ignore-unknown-names semantics: its whitelists
    // come from the live listing by construction.)
    if (vectorWhitelist.isDefined) fileWhitelist.foreach { want =>
      val missing = want -- kept.map(_.name)
      require(missing.isEmpty,
        s"graft-jsonl $path: VERSION AS OF snapshot references " +
          s"${missing.size} file(s) no longer present " +
          s"(${missing.toSeq.sorted.take(3).mkString(", ")}…) — the " +
          "version was invalidated by compaction/COW/vacuum; expire it " +
          "or read a newer snapshot")
    }
    kept
  }
  private lazy val stats = JsonlV2.loadStats(path)
  // a version pin applies exactly its snapshot's vectors — never ones
  // published after the snapshot (they belong to later versions). And it
  // applies ALL of them or fails loudly, mirroring the missing-data-file
  // check above: a whitelisted sidecar that vacuum (or a pre-preservation
  // sweep) removed would otherwise silently drop its snapshot-time
  // deletes from the historical read — resurrected rows, the exact
  // failure the 'never silently reads less' contract precludes.
  private lazy val deletes = {
    vectorWhitelist.foreach(JsonlV2.requireVectorsPresent(path, _, path))
    JsonlV2.loadDeletes(path, n => vectorWhitelist.forall(_.contains(n)))
  }

  /** Join-driven runtime filters (the DPP shape): Spark materializes the
    * build side, turns its join keys into an IN filter, and hands it here
    * BEFORE partitions are planned — whole files prune against the same
    * sidecar ranges the static pushdown uses. */
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val statCols = stats.values.flatMap(_.cols.keys).toSet
      // Spark resolves these against the scan OUTPUT — only advertise
      // stats fields that survived column pruning
      .intersect(required.fields.map(_.name).toSet)
    // _file identifies a row's group exactly — the attribute the COW
    // rewrites' runtime group filters narrow on
    val withFile =
      if (required.fields.exists(_.name == JsonlV2.FileCol))
        statCols + JsonlV2.FileCol
      else statCols
    withFile.toArray
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = { runtime = filters }

  /** Files whose footer-style sidecar ranges exclude every pushed OR
    * runtime comparison are skipped WHOLE at planning time — the min/max
    * layout game parquet plays, on text. */
  private def keptFiles = JsonlV2.keptFiles(files, stats, pushed ++ pruneOnly ++ runtime)

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftJsonl PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}" +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      s", StatsSkippedFiles: ${files.size - keptFiles.size}/${files.size}"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(fileWhitelist.isEmpty && vectorWhitelist.isEmpty,
      "graft-jsonl: whitelisted reads (the `files` option, VERSION AS OF) " +
        "are batch-only — a stream over a fixed snapshot has no " +
        "append-watermark contract to honor")
    new JsonlMicroBatchStream(path, full, required, pushed, splitSize)
  }

  /** The projected long/string columns EVERY kept file is single-valued
    * on per its sidecar (zero nulls, min == max) — the columns a
    * `partitionBy` write routed. Empty when any file lacks stats: the
    * grouping claim must hold for every row or not be made. */
  private def constantCols: Seq[String] = {
    val kept = keptFiles
    if (kept.isEmpty || kept.exists(k => !stats.contains(k.name))) Nil
    else required.fields.map(_.name).filter { c =>
      kept.forall(k => stats(k.name).cols.get(c).exists(_.constant.isDefined))
    }.toSeq
  }

  private def keyOf(file: JsonlV2.DataFile, cols: Seq[String]): Seq[Any] = {
    val fs = stats(file.name)
    cols.map(c => fs.cols(c).constant.get)
  }

  /** file name → DECLARED-route partition values, present iff every kept
    * file carries a `_pvals` sidecar entry of the declared arity and
    * every route column survived column pruning. Declared routes (a
    * catalog table's identity/bucket transforms) beat sidecar-inferred
    * identity constants: they are the only way a BUCKET layout can be
    * reported, since a bucket file is not single-valued on its column. */
  private def routeKeys: Option[Map[String, Seq[Any]]] = {
    if (routes.isEmpty) return None
    if (!routes.forall(r => required.fields.exists(_.name == r.col))) return None
    val kept = keptFiles
    if (kept.isEmpty) return None
    val entries = kept.map { f =>
      stats.get(f.name).flatMap(_.pvals).filter(_.size == routes.size).map(f.name -> _)
    }
    if (entries.exists(_.isEmpty)) None
    else Some(entries.flatten.toMap.map { case (name, pv) =>
      // bucket ids normalize MOD the route's width: after evolution the
      // scan's routes are the coarsest common width and a file's claimed
      // id (written at any width in the divisor chain) maps to its
      // coarse cell; for un-evolved tables the mod is the identity
      name -> routes.lazyZip(pv).map {
        case (br: BucketRoute, l: Long) =>
          java.lang.Long.valueOf(Math.floorMod(l, br.n.toLong)): Any
        case (_, v) => v
      }.toSeq
    })
  }

  /** The HasPartitionKey row for one file's routing values, typed to the
    * partition expressions: bucket ids are ints, identity values carry
    * their column's type. */
  private def keyRowOf(pv: Seq[Any]): InternalRow =
    new GenericInternalRow(routes.lazyZip(pv).map { (r, v) =>
      (r, v) match {
        case (_: BucketRoute, l: Long)     => java.lang.Integer.valueOf(l.toInt)
        case (ir: IdentityRoute, l: Long) =>
          full.fields.find(_.name == ir.col).map(_.dataType) match {
            case Some(IntegerType) => java.lang.Integer.valueOf(l.toInt)
            case _                 => java.lang.Long.valueOf(l)
          }
        case (_: IdentityRoute, s: String) => UTF8String.fromString(s)
        case (rr, vv) =>
          throw new IllegalStateException(s"pval $vv mismatches route $rr")
      }
    }.toArray[Any])

  /** STORAGE-PARTITIONED reads: when the layout is partition-routed, the
    * scan reports [[KeyGroupedPartitioning]] over the per-file-constant
    * columns and tags every split with its file's partition key — a
    * GROUP BY on those columns (or a storage-partitioned join) then needs
    * NO shuffle: Spark clusters the splits by key into one task per
    * group (requires `spark.sql.sources.v2.bucketing.enabled`; graft
    * sessions set it). The Hive-bucket trade, made explicit: parallelism
    * drops to the number of groups in exchange for eliminating the
    * exchange — the right trade exactly when the downstream clustering
    * matches the layout, which is why the report is made only when the
    * sidecars PROVE the clustering. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    routeKeys match {
      case Some(m) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          routes.map(_.toV2: org.apache.spark.sql.connector.expressions.Expression)
            .toArray,
          m.values.toSeq.distinct.size)
      case None =>
        val cols = constantCols
        if (cols.isEmpty)
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
        else {
          val nKeys = keptFiles.map(keyOf(_, cols)).distinct.size
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            cols.map(c => org.apache.spark.sql.connector.expressions.Expressions
              .identity(c): org.apache.spark.sql.connector.expressions.Expression)
              .toArray,
            nKeys)
        }
    }

  /** VERIFIED sort-order report ([[SupportsReportOrdering]]): when every
    * kept file's sidecar carries the writer-verified `_sorted` claim on
    * one shared column, the scan declares asc-nulls-first output ordering
    * on it — and a downstream sort-merge join or sort-based aggregate
    * ELIDES its per-partition sort. Combined with the
    * KeyGroupedPartitioning report this makes the storage-partitioned
    * join exchange-free AND sort-free: at 100 TB, a fact table bucketed
    * and sorted on its join key at write time never pays shuffle or sort
    * for that key again (the Iceberg/Hive sorted-bucket discipline, with
    * the sort PROOF carried per file by the source's own sidecar).
    *
    * The claim is made only when it is TRUE of each task's row stream:
    *  - a plain (ungrouped) scan: every task reads ONE contiguous byte
    *    range of one sorted file — any split of a sorted file is sorted;
    *  - a key-grouped scan: Spark CONCATENATES all splits of a key into
    *    one task, so the report additionally requires exactly one file
    *    per key, planned whole as a single split (the layout a clustered
    *    `partitionBy`+`sortedBy` write produces). Two appends — two files
    *    per key — and the scan stops claiming, sorts return, results stay
    *    correct. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val kept = keptFiles
    if (kept.isEmpty) return Array.empty
    val claims = kept.map(k => stats.get(k.name).map(_.sorted).getOrElse(Nil))
    if (claims.exists(_.isEmpty)) return Array.empty
    val col = claims.head.head
    if (!claims.forall(_.head == col)) return Array.empty
    if (!required.fields.exists(_.name == col)) return Array.empty
    val keyGrouped = routeKeys.isDefined || constantCols.nonEmpty
    if (keyGrouped) {
      if (kept.exists(_.len > splitSize)) return Array.empty
      val keys = routeKeys match {
        case Some(m) => kept.map(k => m(k.name))
        case None    => kept.map(keyOf(_, constantCols))
      }
      if (keys.distinct.size != keys.size) return Array.empty
    }
    Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(col),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
      org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val declared = routeKeys
    val cols = if (declared.isDefined) Nil else constantCols
    val kept = keptFiles
    onPlanned.foreach(_(kept.map(_.name)))
    kept.flatMap { f =>
      val key = declared match {
        case Some(m) => keyRowOf(m(f.name))
        case None if cols.nonEmpty =>
          new GenericInternalRow(keyOf(f, cols).map {
            case s: String => UTF8String.fromString(s)
            case l: Long   => java.lang.Long.valueOf(l)
            case other     => other
          }.toArray[Any])
        case None => null
      }
      // each split carries only ITS slice of the file's delete vector —
      // proportional shipping, nothing global rides the tasks
      val parts = JsonlV2.splits(f, 0L, f.len, splitSize,
        deletes.getOrElse(f.name, Array.emptyLongArray))
      if (key == null) parts else parts.map(JsonlKeyedPartition(_, key))
    }.toArray
  }

  // batch reads vectorize (JsonlColumnarPartitionReader) unless the
  // caller pinned the row path; the streaming faces construct their own
  // row-path factories, and the COW rewrite scan passes columnarRead =
  // false
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(full, required, pushed, limit,
      columnar = columnarRead)

  /** Post-pruning statistics: sizeInBytes over the files that SURVIVE
    * static + runtime skipping (so a filtered scan of a partition-routed
    * layout sizes as its surviving slice, not the whole corpus — the
    * number that flips a join to broadcast exactly when the pruned side
    * got small), and EXACT numRows from the sidecar row counts whenever
    * every kept file carries one. A file without a sidecar keeps rows
    * unknown — never guessed. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val kept = keptFiles
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(kept.map(_.len).sum)
    override def numRows(): OptionalLong = {
      val counts = kept.map { f =>
        // merge-on-read: subtract the file's delete vector (each entry is
        // a real deleted line) so the estimate stays exact
        stats.get(f.name)
          .map(_.rows - deletes.getOrElse(f.name, Array.emptyLongArray).length)
      }
      if (counts.exists(_.isEmpty)) OptionalLong.empty()
      else OptionalLong.of(counts.flatten.sum)
    }
  }
}

/** One byte-range split. `includeOnly` (changes-feed deletes leg): when
  * non-null the reader emits ONLY lines at those offsets — the inverse
  * of the `deleted` exclusion. `changeType`: when non-null the reader
  * materializes it into the `_change_type` output column. */
private[sources] case class JsonlPartition(file: String, start: Long, length: Long,
    deleted: Array[Long] = Array.emptyLongArray,
    includeOnly: Array[Long] = null, changeType: String = null)
    extends InputPartition

/** A byte-range split tagged with its file's partition-constant key — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] face Spark's
  * key-grouped clustering consumes. The reader ignores the key (same
  * read path); only the planner uses it. */
private[sources] case class JsonlKeyedPartition(split: JsonlPartition, key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Micro-batch face of the same scan. The offset is (count of consumed
  * files, NAME of the last consumed file) over the lexicographically
  * sorted listing — the append-only log-drop contract: producers publish
  * names that sort AFTER everything already consumed (the graft-jsonl
  * streaming sink's zero-padded `e<epoch>-part-…` names are monotone by
  * construction). Each trigger consumes exactly the files that appeared
  * since the last committed offset, planned as the SAME byte-range splits
  * the batch scan uses, through the SAME pushdown (pruned schema +
  * accepted filters ride along in the reader factory). The name
  * watermark turns a contract violation — a late file sorting BELOW the
  * consumed boundary, which a bare count would silently mis-slice — into
  * a loud planning error. StreamingSpec proves stream ≡ batch over a
  * 3-wave staged drop. */
private[sources] case class JsonlOffset(files: Int, last: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = JsonlV2.mapper
    val node = m.createObjectNode()
    node.put("files", files)
    node.put("last", last)
    node.toString
  }
}

private[sources] class JsonlMicroBatchStream(
    path: String, full: StructType, required: StructType, pushed: Array[Filter],
    splitSize: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def listing = JsonlV2.listFiles(path)

  override def initialOffset(): Offset = JsonlOffset(0, "")
  override def latestOffset(): Offset = {
    val l = listing
    JsonlOffset(l.size, if (l.isEmpty) "" else l.last.name)
  }
  override def deserializeOffset(json: String): Offset = {
    val node = JsonlV2.mapper.readTree(json)
    JsonlOffset(
      Option(node.get("files")).map(_.intValue).getOrElse(0),
      Option(node.get("last")).map(_.asText).getOrElse(""))
  }

  /** The consumed prefix must be EXACTLY the first `files` names of the
    * current listing — checked via the recorded boundary name. */
  private def checkBoundary(snapshot: Seq[JsonlV2.DataFile], o: JsonlOffset): Unit =
    if (o.files > 0 && o.last.nonEmpty) {
      val at = snapshot(o.files - 1).name
      require(at == o.last,
        s"graft-jsonl stream: file '$at' now sits at consumed position " +
          s"${o.files - 1} where '${o.last}' was committed — a producer " +
          "published a name that does not sort after the consumed prefix. " +
          "The source requires an append-only drop with monotone names " +
          "(the graft-jsonl streaming sink's epoch-prefixed names qualify; " +
          "batch appends with random writeIds do not).")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[JsonlOffset]
    val to = end.asInstanceOf[JsonlOffset]
    val snapshot = listing
    require(snapshot.size >= to.files,
      s"graft-jsonl stream: listing shrank below committed offset ${to.files} — " +
        "the source requires an append-only drop directory")
    checkBoundary(snapshot, from)
    checkBoundary(snapshot, to)
    // STREAMING file skipping: a new file whose sidecar ranges exclude
    // every pushed comparison is consumed (the offset advances past it)
    // but never planned — the batch scan's whole-file skip
    // (JsonlV2.keptFiles), applied per micro-batch. A 100 TB drop
    // streamed under a lang/source predicate reads only the epoch files
    // that can match; files without sidecars are never skipped.
    // merge-on-read vectors apply per micro-batch exactly as in batch:
    // the slice shipped with each split reflects the deletes committed
    // by PLAN time (a delete landing after a file was consumed only
    // affects later readers — the usual MOR stream semantics)
    val deletes = JsonlV2.loadDeletes(path)
    JsonlV2.keptFiles(snapshot.slice(from.files, to.files), JsonlV2.loadStats(path), pushed)
      .flatMap(f => JsonlV2.splits(f, 0L, f.len, splitSize,
        deletes.getOrElse(f.name, Array.emptyLongArray)))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(full, required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The CHANGES FEED scan ([[JsonlChanges]]). Both faces plan through the
  * one change-set planner, [[JsonlChanges.plan]]:
  *
  *  - BATCH, on a `versionAsOf` pin: the net change set from the
  *    `startingVersion` snapshot to the pinned one, planned when the scan
  *    is built, so a refused span fails before any action;
  *  - STREAMING, unpinned ([[JsonlChangesStream]]): offsets are SNAPSHOT
  *    VERSIONS, each batch the net change set between two of them.
  *
  * An unpinned batch read and a pinned stream are refused. */
private[sources] class JsonlChangesScan(
    path: String, tableSchema: StructType, splitSize: Long,
    startingVersion: Option[Long], pinned: Option[JsonlVersions.VersionPin])
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (tableSchema.fieldNames.contains(JsonlV2.ChangeCol)) tableSchema
    else tableSchema.add(JsonlV2.ChangeCol, StringType)
  override def description(): String = s"graft-jsonl changes feed $path"

  private val batchPlan: Option[Array[InputPartition]] = pinned.map { to =>
    val from = startingVersion.getOrElse(throw new IllegalArgumentException(
      s"graft-jsonl $path: a batch `changes` read pinned to version " +
        s"${to.version} names its baseline snapshot with `startingVersion`"))
    val root = new Path(path)
    JsonlChanges.plan(path,
      JsonlVersions.load(FileSystem.get(root.toUri, new Configuration()), root, from),
      to, splitSize)
  }

  override def toBatch: Batch = batchPlan.map(_ => this).getOrElse(
    throw new UnsupportedOperationException(
      s"graft-jsonl $path: an unpinned `changes` read is the STREAMING face " +
        "(spark.readStream); a batch changes read pins its `to` snapshot " +
        "with `versionAsOf` and names its `from` snapshot with " +
        "`startingVersion` — graft.sources.JsonlChanges.between(spark, dir, " +
        "from, to) does both"))
  override def planInputPartitions(): Array[InputPartition] = batchPlan.get
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(readSchema(), readSchema(), Array.empty)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinned.isEmpty,
      "graft-jsonl: a `changes` stream does not compose with a VERSION AS " +
        "OF pin — the stream names BOTH of its endpoints itself; use " +
        "`startingVersion` for the baseline snapshot")
    new JsonlChangesStream(path, readSchema(), splitSize, startingVersion)
  }
}

private[sources] case class JsonlVersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** The changes feed's micro-batch face. `initialOffset` is the newest
  * version at stream start (consume future changes only) unless
  * `startingVersion` names the BASELINE snapshot to diff from — the first
  * batch then carries every change after it. Before the first snapshot
  * the baseline is version 0, the empty table. Snapshots are the
  * producer's commit points: a trigger fires per new version, so
  * "snapshot after every ingest batch" gives per-batch CDC. Restart
  * replays from the checkpointed version offset — version manifests are
  * immutable, so a replayed batch plans the identical partition set
  * (idempotent by construction). */
private[sources] class JsonlChangesStream(
    path: String, outSchema: StructType, splitSize: Long,
    startingVersion: Option[Long])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val root = new Path(path)
  private def fs = FileSystem.get(root.toUri, new Configuration())
  private def versions = JsonlVersions.versionsOf(fs, root)

  override def initialOffset(): Offset = {
    val have = versions
    val v = startingVersion.getOrElse(have.lastOption.getOrElse(0L))
    require(startingVersion.isEmpty || have.contains(v),
      s"graft-jsonl changes stream $path: startingVersion $v is not a " +
        s"recorded snapshot (have: ${have.mkString(", ")})")
    JsonlVersionOffset(v)
  }
  override def latestOffset(): Offset =
    JsonlVersionOffset(versions.lastOption.getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    JsonlVersionOffset(JsonlV2.mapper.readTree(json).get("version").longValue)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val v0 = start.asInstanceOf[JsonlVersionOffset].version
    val v1 = end.asInstanceOf[JsonlVersionOffset].version
    if (v0 >= v1) return Array.empty
    val from =
      if (v0 == 0L) JsonlVersions.VersionPin(0L, Set.empty, Set.empty, None, None)
      else JsonlVersions.load(fs, root, v0)
    JsonlChanges.plan(path, from, JsonlVersions.load(fs, root, v1), splitSize)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(outSchema, outSchema, Array.empty)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] class JsonlReaderFactory(
    full: StructType, required: StructType, pushed: Array[Filter],
    limit: Int = -1, columnar: Boolean = false)
    extends PartitionReaderFactory {

  private def range(p: InputPartition): JsonlPartition = p match {
    case jp: JsonlPartition      => jp
    case kp: JsonlKeyedPartition => kp.split
  }

  /** Columnar is offered exactly when every projected column has a
    * vector writer (the four supported data types plus the constant
    * metadata columns) — BatchScanExec requires an all-or-nothing
    * answer across partitions, and ours is partition-independent.
    * Zero-column projections (bare count scans) stay on the row path:
    * they are metadata-aggregate-pushed in the common case, and an
    * empty-schema batch buys nothing. */
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && required.fields.nonEmpty && required.fields.forall { f =>
      f.name == JsonlV2.FileCol || f.name == JsonlV2.PosCol ||
        f.name == JsonlV2.ChangeCol ||
        (f.dataType match {
          case LongType | DoubleType | BooleanType | StringType => true
          case _                                                => false
        })
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new JsonlPartitionReader(range(p), full, required, pushed, limit)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new JsonlColumnarPartitionReader(range(p), full, required, pushed, limit)
}

/** The shared line cursor of the row and columnar readers: owns the
  * byte-range split protocol (skip the partial head line, read one line
  * past the boundary), merge-on-read delete-vector membership, blank-line
  * skipping, Jackson parsing, schema-directed coercion, and pushed-filter
  * evaluation. Subclasses only materialize — rows or vectors. */
private[sources] abstract class JsonlLineReaderBase(
    part: JsonlPartition, full: StructType,
    pushed: Array[Filter], limit: Int = -1) {

  private var emitted = 0L

  private val mapper = JsonlV2.mapper
  private val in = {
    val fs = FileSystem.get(
      new java.net.URI(part.file), new Configuration())
    val s = fs.open(new Path(part.file))
    s.seek(part.start)
    s
  }
  private val reader = new CountingLineReader(in, part.start)
  // a reader not at the file head discards through the first newline:
  // those bytes are the tail of a line the previous split owns
  if (part.start != 0L) reader.skipToNextLine()
  private val end = part.start + part.length

  /** Byte offset of the line [[advanceTree]] last admitted. */
  protected var lastLineStart: Long = -1L

  /** The declared type of each field a pushed filter can reference —
    * the FULL schema, not the pruned one: a filter's column may be
    * pruned away from the projection (`select a where b = 5`). */
  private val fullTypes: Map[String, DataType] =
    full.fields.map(f => f.name -> f.dataType).toMap

  /** Coerce one parsed JSON value by the field's DECLARED type — the one
    * coercion rule, shared verbatim between filter evaluation and row
    * materialization so a pushed predicate and the row it admits can
    * never disagree on a type-mismatched line ({"s":123} under a string
    * schema IS the string "123"; {"n":"5"} under a long schema IS null).
    * Returns Long / Double / Boolean / String (raw JVM values; callers
    * wrap strings in UTF8String at the row boundary). */
  protected def coerce(tree: com.fasterxml.jackson.databind.JsonNode,
      name: String, dt: DataType): Any = {
    val n = tree.get(name)
    if (n == null || n.isNull) null
    else dt match {
      case LongType    => if (n.isNumber) java.lang.Long.valueOf(n.longValue) else null
      case DoubleType  => if (n.isNumber) java.lang.Double.valueOf(n.doubleValue) else null
      case BooleanType => if (n.isBoolean) java.lang.Boolean.valueOf(n.booleanValue) else null
      case StringType  => if (n.isTextual) n.textValue else n.toString
      case other => throw new UnsupportedOperationException(
        s"graft-jsonl: unsupported read type $other for field $name")
    }
  }

  protected def fieldValue(tree: com.fasterxml.jackson.databind.JsonNode,
      name: String, dt: DataType): Any = coerce(tree, name, dt) match {
    case s: String => UTF8String.fromString(s)
    case other     => other
  }

  /** Evaluate one accepted filter against the parse tree, through the
    * SAME schema-directed coercion materialization uses. `cmp` only ever
    * sees (Long, Long) or (String, String) — pushFilters type-checked the
    * comparisons against the schema. */
  private def eval(f: Filter, tree: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    def raw(att: String): Any =
      fullTypes.get(att).map(coerce(tree, att, _)).orNull
    def cmp(att: String, v: Any)(sign: Int => Boolean): Boolean = raw(att) match {
      case null         => false
      case l: java.lang.Long =>
        val r = v match {
          case i: java.lang.Integer => i.longValue
          case l2: java.lang.Long   => l2.longValue
          case _                    => return false
        }
        sign(java.lang.Long.compare(l, r))
      case s: String => v match {
        // UTF-8 byte order: the order Spark's own string comparisons use
        case vs: String =>
          sign(UTF8String.fromString(s).compareTo(UTF8String.fromString(vs)))
        case _ => false
      }
      case _ => false
    }
    f match {
      case EqualTo(a, v)            => cmp(a, v)(_ == 0)
      case In(a, vs)                => vs.exists(v => cmp(a, v)(_ == 0))
      case GreaterThan(a, v)        => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v)           => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, v)(_ <= 0)
      case IsNotNull(a)             => raw(a) != null
      case IsNull(a)                => raw(a) == null
      case StringStartsWith(a, p) => raw(a) match {
        case s: String => s.startsWith(p)
        case _         => false
      }
      case And(l, r) => eval(l, tree) && eval(r, tree)
      case Or(l, r)  => eval(l, tree) || eval(r, tree)
      case other => throw new IllegalStateException(
        s"graft-jsonl: unpushable filter reached the reader: $other")
    }
  }

  /** Advance to the next ADMITTED line (owned by this split, live under
    * the delete vector, passing every pushed filter, inside the limit)
    * and return its parse tree, or null at exhaustion; [[lastLineStart]]
    * carries the admitted line's byte offset. */
  protected final def advanceTree(): com.fasterxml.jackson.databind.JsonNode = {
    if (limit >= 0 && emitted >= limit) return null
    // a line is ours iff it STARTS at offset <= end — reading one line
    // past the nominal boundary pairs with the next split's skip
    while (reader.position <= end) {
      val lineStart = reader.position
      val line = reader.readLine()
      if (line == null) return null
      // merge-on-read: a line whose start offset sits in the split's
      // slice of the delete vector was deleted — binary search per line,
      // zero cost (empty array) on files with no deletes
      val owned =
        if (part.includeOnly != null)
          java.util.Arrays.binarySearch(part.includeOnly, lineStart) >= 0
        else java.util.Arrays.binarySearch(part.deleted, lineStart) < 0
      if (line.exists(!_.isWhitespace) && owned) {
        val tree = mapper.readTree(line)
        if (pushed.forall(eval(_, tree))) {
          emitted += 1
          lastLineStart = lineStart
          return tree
        }
      }
    }
    null
  }

  def close(): Unit = in.close()
}

/** Row face: materializes ONLY the required fields of each admitted line
  * into a GenericInternalRow. */
private[sources] class JsonlPartitionReader(
    part: JsonlPartition, full: StructType, required: StructType,
    pushed: Array[Filter], limit: Int = -1)
    extends JsonlLineReaderBase(part, full, pushed, limit)
    with PartitionReader[InternalRow] {

  private var row: InternalRow = _

  override def next(): Boolean = {
    val tree = advanceTree()
    if (tree == null) return false
    row =
      if (required.isEmpty) InternalRow.empty
      else new GenericInternalRow(
        required.fields.map { f =>
          if (f.name == JsonlV2.FileCol) UTF8String.fromString(part.file)
          else if (f.name == JsonlV2.PosCol) java.lang.Long.valueOf(lastLineStart)
          else if (f.name == JsonlV2.ChangeCol && part.changeType != null)
            UTF8String.fromString(part.changeType)
          else fieldValue(tree, f.name, f.dataType)
        })
    true
  }

  override def get(): InternalRow = row
}

/** Columnar face: parses admitted lines DIRECTLY into on-heap column
  * vectors, skipping the per-row GenericInternalRow allocation and
  * feeding downstream operators whole [[ColumnarBatch]]es — the scan-CPU
  * shape parquet's vectorized reader gives built-in sources. One
  * schema-directed writer closure per projected column is resolved ONCE
  * (not per row); batches reuse the same vectors via reset(). */
private[sources] class JsonlColumnarPartitionReader(
    part: JsonlPartition, full: StructType, required: StructType,
    pushed: Array[Filter], limit: Int = -1)
    extends JsonlLineReaderBase(part, full, pushed, limit)
    with PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val capacity = 4096
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, required)
  private val batch =
    new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val fileUtf8 = UTF8String.fromString(part.file)
  private val changeUtf8 =
    if (part.changeType != null) UTF8String.fromString(part.changeType) else null

  /** (tree, ordinal) → write the field's value into vectors(i). */
  private val writers: Array[(com.fasterxml.jackson.databind.JsonNode, Int) => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      val v = vectors(i)
      if (f.name == JsonlV2.FileCol)
        (_: com.fasterxml.jackson.databind.JsonNode, n: Int) => {
          val b = fileUtf8.getBytes; v.putByteArray(n, b, 0, b.length); ()
        }
      else if (f.name == JsonlV2.PosCol)
        (_: com.fasterxml.jackson.databind.JsonNode, n: Int) =>
          v.putLong(n, lastLineStart)
      else if (f.name == JsonlV2.ChangeCol && changeUtf8 != null)
        (_: com.fasterxml.jackson.databind.JsonNode, n: Int) => {
          val b = changeUtf8.getBytes; v.putByteArray(n, b, 0, b.length); ()
        }
      else {
        val name = f.name
        val dt = f.dataType
        (tree: com.fasterxml.jackson.databind.JsonNode, n: Int) =>
          coerce(tree, name, dt) match {
            case null                   => v.putNull(n)
            case l: java.lang.Long      => v.putLong(n, l.longValue)
            case d: java.lang.Double    => v.putDouble(n, d.doubleValue)
            case b: java.lang.Boolean   => v.putBoolean(n, b.booleanValue)
            case s: String =>
              val b = UTF8String.fromString(s).getBytes
              v.putByteArray(n, b, 0, b.length); ()
          }
      }
    }

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var tree = if (n < capacity) advanceTree() else null
    while (tree != null) {
      var c = 0
      while (c < writers.length) { writers(c)(tree, n); c += 1 }
      n += 1
      tree = if (n < capacity) advanceTree() else null
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    super.close()
  }
}

/** Write face: a full V2 batch-write commit protocol. Each task writer
  * streams its rows as JSON lines into UNDERSCORE-PREFIXED temp files in
  * the target directory — readers skip `_` names, so uncommitted and
  * aborted data is structurally invisible. With `partitionBy` set (write
  * option or catalog identity transform), a task writer routes rows into
  * one temp file PER distinct partition-column value it sees — every
  * published file is then single-valued on those columns, the layout that
  * unlocks whole-file skipping and grouped metadata aggregation. Task
  * commit returns the temp paths + per-file stats; the DRIVER's
  * [[BatchWrite.commit]] renames every winning temp to
  * `part-<partition>-<seq>-<writeId>.jsonl` (and first clears old data
  * when the builder was truncated, i.e. SaveMode.Overwrite). Speculative
  * or retried attempts each write their own temps and only the attempt
  * the commit coordinator admits is renamed; [[BatchWrite.abort]] and
  * each writer's own abort delete the rest. The writeId in the final
  * names makes APPEND collision-free across writes. O(files) driver
  * renames — the same commit shape as Hadoop FileOutputCommitter v2, with
  * the rename fan-out on files not directories. */
private[sources] class JsonlWriteBuilder(
    path: String, schema: StructType, routes: Seq[RouteExpr],
    sortBy: Option[String] = None, bloomFor: Seq[String] = Nil,
    ndvFor: Seq[String] = Nil, evolvedBuckets: Boolean = false)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  routes.foreach { r =>
    val f = schema.fields.find(_.name == r.col)
    require(f.isDefined, s"graft-jsonl: partition column ${r.col} not in write schema")
    require(f.get.dataType == LongType || f.get.dataType == IntegerType ||
      f.get.dataType == StringType,
      s"graft-jsonl: partition column ${r.col} must be long/int/string, " +
        s"got ${f.get.dataType}")
  }
  sortBy.foreach { c =>
    val f = schema.fields.find(_.name == c)
    require(f.isDefined, s"graft-jsonl: sortedBy column $c not in write schema")
    require(f.get.dataType == LongType || f.get.dataType == IntegerType ||
      f.get.dataType == StringType,
      s"graft-jsonl: sortedBy column $c must be long/int/string, " +
        s"got ${f.get.dataType}")
  }
  ndvFor.foreach { c =>
    val f = schema.fields.find(_.name == c)
    require(f.isDefined, s"graft-jsonl: ndvFor column $c not in write schema")
    require(f.get.dataType == LongType || f.get.dataType == IntegerType ||
      f.get.dataType == StringType,
      s"graft-jsonl: ndvFor column $c must be long/int/string, " +
        s"got ${f.get.dataType}")
  }
  bloomFor.foreach { c =>
    val f = schema.fields.find(_.name == c)
    require(f.isDefined, s"graft-jsonl: bloomFor column $c not in write schema")
    require(f.get.dataType == LongType || f.get.dataType == IntegerType ||
      f.get.dataType == StringType,
      s"graft-jsonl: bloomFor column $c must be long/int/string, " +
        s"got ${f.get.dataType}")
  }
  private var truncateFirst = false
  private var dynamicOverwrite = false
  private var overwriteWhere: Option[Array[Filter]] = None
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** STATIC overwrite-by-filter (`writeTo(t).overwrite(cond)` / static
    * `INSERT OVERWRITE … PARTITION`): drop the files whose per-file
    * constants satisfy the predicate WHOLE, then publish the incoming
    * rows — the same sidecar decision the metadata DELETE uses, and the
    * same refusal: a predicate any file cannot decide is rejected at
    * PLAN time by `canOverwrite`, never half-applied. */
  override def canOverwrite(filters: Array[Filter]): Boolean =
    JsonlV2.wholeFileVerdicts(path, filters).isDefined
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteWhere = Some(filters); this
  }

  /** DYNAMIC partition overwrite (`INSERT OVERWRITE` in dynamic mode /
    * `writeTo(t).overwritePartitions()`): replace exactly the partitions
    * PRESENT in the incoming data — the daily-partition refresh every
    * warehouse runs. The commit derives the incoming partition-value set
    * from its own pieces' routing keys and drops precisely the existing
    * files whose sidecar `_pvals` land in that set; files outside it are
    * untouched (names, sidecars, layout proofs). An existing data file
    * without routing proof makes the overwrite UNDECIDABLE for it —
    * refused loudly, never half-applied. On an unrouted table the
    * incoming set is the single empty key, which every existing file
    * matches — full replacement, the degenerate case. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    // REFUSED on a bucket-evolved table: existing files claim partition
    // ids at MIXED widths, and the commit's equality match of incoming
    // (new-width) keys against old-width claims would silently keep
    // stale rows whose new-width cell the overwrite replaced — a
    // width-4 file covers TWO width-8 cells, so the only file-granular
    // answers are "refuse" or "rewrite"; this is the refuse
    require(!evolvedBuckets,
      s"graft-jsonl: dynamic partition overwrite on $path is refused " +
        "after bucket evolution — live files claim bucket ids at mixed " +
        "widths, and replacing a new-width cell cannot delete the " +
        "old-width files that straddle it without rewriting them. " +
        "Rewrite the table to one width (clone + re-append, or zorder " +
        "on an unrouted clone) before dynamic overwrite.")
    dynamicOverwrite = true; this
  }

  /** The lake's clustering policy ([[JsonlClusteredWrite]]), plus the
    * `sortedBy` ordering and the streaming face. */
  override def build(): Write = new JsonlClusteredWrite(routes) {
    override def requiredOrdering(): Array[SortOrder] =
      // `sortedBy=col` asks Spark for a per-task asc-nulls-first sort;
      // each routed piece is then a subsequence of a sorted stream — every
      // published file is sorted, and the WRITER verifies it row by row
      // before the sidecar claims `_sorted`
      sortBy.toArray.map { c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
          NullOrdering.NULLS_FIRST)
      }
    override def description(): String =
      s"GraftJsonl write `$path` truncate=$truncateFirst" +
        (if (routes.nonEmpty) s" routes=${routes.mkString(",")}" else "") +
        sortBy.fold("")(c => s" sortedBy=$c")
    override def toBatch: BatchWrite =
      new JsonlBatchWrite(path, schema, truncateFirst, routes, dynamicOverwrite,
        overwriteWhere, sortBy, bloomFor, ndvFor)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new JsonlStreamingWrite(path, schema, routes, bloomFor)
  }
}

/** One temp file a task writer produced: its path, row count, and the
  * footer-style stats the sidecar will publish (per-long-field and
  * per-string-field min/max over non-null values, exact null counts for
  * every tracked field, and per-long-field exact sums — a long field
  * whose sum overflowed during the write simply has no `sums` entry). */
private[graft] case class JsonlPiece(
    tmpPath: String, rows: Long,
    lmins: Map[String, Long] = Map.empty,
    lmaxs: Map[String, Long] = Map.empty,
    smins: Map[String, String] = Map.empty,
    smaxs: Map[String, String] = Map.empty,
    nulls: Map[String, Long] = Map.empty,
    sums: Map[String, Long] = Map.empty,
    pvals: Seq[Any] = Nil,
    sortedBy: Option[String] = None,
    blooms: Map[String, (Int, Array[Long])] = Map.empty,
    ndv: Map[String, (Array[Byte], Long)] = Map.empty)

private[graft] case class JsonlCommitMessage(
    partitionId: Int, pieces: Seq[JsonlPiece]) extends WriterCommitMessage

private[sources] class JsonlBatchWrite(
    path: String, schema: StructType, truncateFirst: Boolean,
    routes: Seq[RouteExpr], dynamicOverwrite: Boolean = false,
    overwriteWhere: Option[Array[Filter]] = None,
    sortBy: Option[String] = None,
    bloomFor: Seq[String] = Nil,
    ndvFor: Seq[String] = Nil) extends BatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(path, schema, writeId, routes, sortBy, bloomFor,
      ndvFor)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    // appends publish fresh names and cannot conflict, but the lock makes
    // the multi-file publish ATOMIC with respect to snapshot record() and
    // concurrent validations (no snapshot of a half-published commit),
    // and serializes the overwrite/truncate delete legs with swaps
    JsonlOcc.withCommitLock(fs, root, s"batch write $writeId") {
    overwriteWhere.filter(_ => fs.exists(root)).foreach { filters =>
      val verdicts = JsonlV2.wholeFileVerdicts(path, filters).getOrElse(
        throw new IllegalStateException(
          s"graft-jsonl: overwrite(${filters.mkString(", ")}) became " +
            "undecidable between planning and commit"))
      verdicts.foreach { case (f, hit) =>
        if (hit) require(fs.delete(new Path(f), false),
          s"graft-jsonl: overwrite failed to delete $f")
      }
    }
    if (dynamicOverwrite && fs.exists(root)) {
      // the incoming partition-value set, from the pieces themselves
      val incoming: Set[Seq[Any]] = messages.collect {
        case JsonlCommitMessage(_, pieces) => pieces.filter(_.rows > 0)
      }.flatten.map(p => p.pvals.map {
        case i: Int => i.toLong // loadStats parses bucket ids as Long
        case other  => other
      }).toSet
      val stats = JsonlV2.loadStats(path)
      JsonlV2.listFiles(path).foreach { f =>
        val pv = stats.get(f.name).flatMap(_.pvals)
        require(pv.isDefined || routes.isEmpty,
          s"graft-jsonl: dynamic overwrite cannot decide ${f.name} — the file " +
            "carries no partition-routing proof; rewrite or drop it first")
        if (routes.isEmpty || incoming.contains(pv.get))
          fs.delete(new Path(f.path), false)
      }
    }
    if (truncateFirst && fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        // old data files, old stats sidecars, old delete vectors AND old
        // streaming epoch markers go (a stale marker would make a later
        // streaming query's replayed epochs silent no-ops); in-flight
        // temps stay
        if (st.isFile && ((!n.startsWith("_") && !n.startsWith(".")) ||
          n.startsWith("_stats-") || n.startsWith("_epoch-") ||
          n.startsWith("_deletes-"))) fs.delete(st.getPath, false)
      }
    }
    JsonlCommit.publish(fs, root, writeId,
      (pid, seq) => f"part-$pid%05d-$seq%03d-$writeId.jsonl",
      overwrite = false, messages)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlCommit.dropTemps(
      FileSystem.get(new Path(path).toUri, new Configuration()), messages)
}

/** The publish half every commit shares: rename winning temps to their
  * final names and write the `_stats-<tag>.json` sidecar (row counts +
  * per-field min/max/null-count) for the renamed files. */
private[sources] object JsonlCommit {
  def publish(fs: FileSystem, root: Path, statsTag: String,
      nameOf: (Int, Int) => String, overwrite: Boolean,
      messages: Array[WriterCommitMessage]): Unit = {
    val stats = mutable.LinkedHashMap.empty[String, JsonlPiece]
    messages.foreach {
      case JsonlCommitMessage(pid, pieces) =>
        pieces.zipWithIndex.foreach {
          case (piece, seq) if piece.rows > 0 =>
            val target = new Path(root, nameOf(pid, seq))
            // deterministic-name replays (the streaming sink) OVERWRITE:
            // a rename landing on an already-published epoch file must
            // replace it, not duplicate it
            if (overwrite && fs.exists(target)) fs.delete(target, false)
            require(fs.rename(new Path(piece.tmpPath), target),
              s"graft-jsonl: commit rename ${piece.tmpPath} -> $target failed")
            stats(target.getName) = piece
          case (piece, _) =>
            fs.delete(new Path(piece.tmpPath), false) // empty writer: no part file
        }
      case other => throw new IllegalStateException(s"foreign commit message $other")
    }
    // parquet-footer-style sidecar: `_`-prefixed → invisible to the data
    // listing. Row counts + per-field min/max/null-count let the scan SKIP
    // whole files against pushed comparisons and answer COUNT/MIN/MAX
    // (global and grouped) from metadata alone (JsonlScan / JsonlAggScan).
    // Entries are [lo, hi, nulls]; an all-null column is [null, null, n].
    if (stats.nonEmpty) {
      val out: java.io.OutputStream =
        fs.create(new Path(root, s"_stats-$statsTag.json"), true)
      val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
      gen.writeStartObject()
      stats.foreach { case (file, p) =>
        gen.writeObjectFieldStart(file)
        gen.writeNumberField("_rows", p.rows)
        if (p.pvals.nonEmpty) {
          gen.writeArrayFieldStart("_pvals")
          p.pvals.foreach {
            case s: String => gen.writeString(s)
            case l: Long   => gen.writeNumber(l)
            case i: Int    => gen.writeNumber(i.toLong)
            case other => throw new IllegalStateException(s"unwritable pval $other")
          }
          gen.writeEndArray()
        }
        p.sortedBy.foreach { c =>
          gen.writeArrayFieldStart("_sorted")
          gen.writeString(c)
          gen.writeEndArray()
        }
        if (p.blooms.nonEmpty) {
          gen.writeObjectFieldStart("_bloom")
          p.blooms.toSeq.sortBy(_._1).foreach { case (col, (k, words)) =>
            gen.writeObjectFieldStart(col)
            gen.writeNumberField("k", k)
            gen.writeStringField("bits", java.util.Base64.getEncoder
              .encodeToString(GraftBloom.wordsToBytes(words)))
            gen.writeEndObject()
          }
          gen.writeEndObject()
        }
        if (p.ndv.nonEmpty) {
          gen.writeObjectFieldStart("_ndv")
          p.ndv.toSeq.sortBy(_._1).foreach { case (col, (bytes, maxLen)) =>
            gen.writeObjectFieldStart(col)
            gen.writeStringField("hll",
              java.util.Base64.getEncoder.encodeToString(bytes))
            gen.writeNumberField("maxLen", maxLen)
            gen.writeEndObject()
          }
          gen.writeEndObject()
        }
        val tracked = p.lmins.keySet ++ p.smins.keySet ++ p.nulls.keySet ++
          p.sums.keySet
        tracked.toSeq.sorted.foreach { f =>
          gen.writeArrayFieldStart(f)
          (p.lmins.get(f), p.smins.get(f)) match {
            case (Some(lo), _) => gen.writeNumber(lo); gen.writeNumber(p.lmaxs(f))
            case (_, Some(lo)) => gen.writeString(lo); gen.writeString(p.smaxs(f))
            case _             => gen.writeNull(); gen.writeNull()
          }
          gen.writeNumber(p.nulls.getOrElse(f, 0L))
          p.sums.get(f).foreach(gen.writeNumber)
          gen.writeEndArray()
        }
        gen.writeEndObject()
      }
      gen.writeEndObject()
      gen.close(); out.close()
    }
  }

  def dropTemps(fs: FileSystem, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case JsonlCommitMessage(_, pieces) => pieces.foreach { p =>
        try fs.delete(new Path(p.tmpPath), false) catch { case _: java.io.IOException => () }
      }
      case _ => ()
    }
}

/** The streaming sink's epoch HIGH-WATER record (`_epoch-high-water
  * .json`): every epoch ≤ `highWater` is committed, folded out of the
  * per-epoch `_epoch-<id>.json` markers by vacuum so a years-long
  * streaming sink carries O(recent) marker files instead of O(epochs) —
  * the directory-listing cost every commit and maintenance pass pays.
  *
  * Folding is SAFE for replay because epochs commit in order within one
  * query generation: marker `e` exists only after epoch `e` published,
  * and epoch `e+1` only starts after `e`'s commit returned — so every
  * epoch ≤ the largest folded id is committed, and the single high-water
  * number carries exactly the information the folded markers did. Batch
  * truncate deletes the record together with the live markers (both
  * start with `_epoch-`), preserving the one-query-per-directory
  * contract: a NEW query generation restarting at epoch 0 is never
  * mistaken for a replay. */
private[graft] object EpochHighWater {

  val Name = "_epoch-high-water.json"

  def read(fs: FileSystem, root: Path): Long = {
    val p = new Path(root, Name)
    try {
      val in = fs.open(p)
      val tree = try JsonlV2.mapper.readTree(in) finally in.close()
      // a missing/empty field reads as "no fold recorded" (-1), never an
      // NPE that would wedge every subsequent epoch commit
      Option(tree).flatMap(t => Option(t.get("highWater")))
        .map(_.longValue()).getOrElse(-1L)
    } catch { case _: java.io.IOException => -1L }
  }

  /** Publish via temp + rename, the same discipline as every other
    * sidecar: a crashed writer can never leave a TORN record for the
    * (lock-free) streaming-commit reader to trip on, and the rename
    * replaces the old record atomically — any concurrent read sees the
    * old fold or the new one, both correct. */
  def write(fs: FileSystem, root: Path, hw: Long): Unit = {
    val tmp = new Path(root, s".tmp-$Name-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"""{"highWater":$hw}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(root, Name)
    // POSIX rename replaces the destination atomically (zero-window); a
    // filesystem that refuses rename-onto-existing falls back to
    // delete-then-rename — the crash window there loses only the fold
    // RECORD, and a record-less replay re-publishes onto deterministic
    // names (idempotent), the sink's core argument
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      require(fs.rename(tmp, dst),
        s"graft-jsonl: failed to publish $Name under $root")
    }
  }

  /** The epoch id of a per-epoch marker name, None for the high-water
    * record itself (it shares the `_epoch-` prefix so truncate clears
    * both). */
  def markerId(name: String): Option[Long] =
    if (name == Name || !name.startsWith("_epoch-") || !name.endsWith(".json"))
      None
    else name.stripPrefix("_epoch-").stripSuffix(".json").toLongOption
}

/** Streaming sink face: each epoch publishes through the SAME rename
  * protocol under DETERMINISTIC, MONOTONE names —
  * `e<epoch, zero-padded>-part-<pid>-<seq>.jsonl` — then drops an
  * `_epoch-<id>` marker. Exactly-once rests on the names, not the
  * marker: Structured Streaming replays an epoch after a failure/restart
  * with the SAME epochId and (by the micro-batch contract) the same
  * rows, so a replayed publish renames onto the identical final names —
  * an overwrite, never a duplicate — even if the previous attempt died
  * BETWEEN publishing and writing the marker. A marker that does exist
  * (or an epoch at or below the [[EpochHighWater]] fold) short-circuits
  * the replay to a temp sweep. The zero-padded epoch prefix also makes
  * the published names lexicographically monotone in append order — the
  * contract the micro-batch READ face's offset watermark checks, so a
  * graft-jsonl stream can safely feed another. One streaming query owns
  * a directory (the marker namespace is per-directory by design; batch
  * truncate clears stale markers and the high-water record). */
private[graft] class JsonlStreamingWrite(
    path: String, schema: StructType, routes: Seq[RouteExpr] = Nil,
    bloomFor: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new JsonlStreamingWriterFactory(path, schema, routes, bloomFor)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, new Configuration())
    val marker = new Path(root, s"_epoch-$epochId.json")
    if (fs.exists(marker) || epochId <= EpochHighWater.read(fs, root)) {
      JsonlCommit.dropTemps(fs, messages) // replayed epoch: already published
    } else JsonlOcc.withCommitLock(fs, root, s"stream epoch $epochId") {
      JsonlCommit.publish(fs, root, f"e$epochId%010d",
        (pid, seq) => f"e$epochId%010d-part-$pid%05d-$seq%03d.jsonl",
        overwrite = true, messages)
      fs.create(marker, true).close()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = FileSystem.get(new Path(path).toUri, new Configuration())
    JsonlCommit.dropTemps(fs, messages)
  }
}

private[sources] class JsonlStreamingWriterFactory(
    path: String, schema: StructType, routes: Seq[RouteExpr],
    bloomFor: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new JsonlDataWriter(path, schema, s"e$epochId-t$taskId", partitionId, taskId,
      routes, bloomFor = bloomFor)
}

private[sources] class JsonlWriterFactory(
    path: String, schema: StructType, writeId: String, routes: Seq[RouteExpr],
    sortBy: Option[String] = None, bloomFor: Seq[String] = Nil,
    ndvFor: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(path, schema, writeId, routes = routes,
      partitionId = partitionId, taskId = taskId, sortBy = sortBy,
      bloomFor = bloomFor, ndvFor = ndvFor)
}

/** One task's write attempt: routes each row to the temp file for its
  * partition-column values (one file total when partCols is empty),
  * streaming JSON lines and accumulating footer stats per file. */
private[sources] class JsonlDataWriter(
    path: String, schema: StructType, writeId: String, partitionId: Int,
    taskId: Long, routes: Seq[RouteExpr] = Nil, sortBy: Option[String] = None,
    bloomFor: Seq[String] = Nil, ndvFor: Seq[String] = Nil)
    extends DataWriter[InternalRow] {

  private val fs = FileSystem.get(new Path(path).toUri, new Configuration())

  private val partIdx: Seq[Int] = routes.map(r => schema.fieldIndex(r.col))

  // `bloomFor` columns: (name, index, isString) — every non-null value's
  // two hash bases accumulate per piece; the piece's commit builds the
  // sidecar bloom from them ([[GraftBloom]])
  private val bloomCols: Seq[(String, Int, Boolean)] = bloomFor.map { c =>
    val i = schema.fieldIndex(c)
    (c, i, schema.fields(i).dataType == StringType)
  }

  // `ndvFor` columns: every non-null value updates a per-piece
  // DataSketches HLL sketch; commit publishes the compact bytes in the
  // stats sidecar (`_ndv`), mergeable at plan time across any file set
  private val ndvCols: Seq[(String, Int, Boolean)] = ndvFor.map { c =>
    val i = schema.fieldIndex(c)
    (c, i, schema.fields(i).dataType == StringType)
  }

  // the sort column's (index, type) when this write claims sortedness
  private val sortIdx: Option[(Int, DataType)] = sortBy.map { c =>
    val i = schema.fieldIndex(c)
    (i, schema.fields(i).dataType)
  }

  // footer-style stats: running min/max per long/int/string field plus
  // exact null counts for those fields (the sidecar's [lo, hi, nulls])
  private val longFields = schema.fields.zipWithIndex
    .collect { case (f, i) if f.dataType == LongType || f.dataType == IntegerType =>
      (f.name, i, f.dataType == IntegerType) }
  private val stringFields = schema.fields.zipWithIndex
    .collect { case (f, i) if f.dataType == StringType => (f.name, i) }

  /** The open temp file + stats for one partition-value routing key. */
  private final class Piece(seq: Int, key: Seq[Any] = Nil) {
    val tmp = new Path(path, s"_tmp-$writeId-$partitionId-$taskId-$seq.jsonl")
    val out: java.io.OutputStream = fs.create(tmp, true)
    val gen: com.fasterxml.jackson.core.JsonGenerator =
      new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
    gen.setRootValueSeparator(new com.fasterxml.jackson.core.io.SerializedString("\n"))
    var rows = 0L
    val lmins = mutable.HashMap.empty[String, Long]
    val lmaxs = mutable.HashMap.empty[String, Long]
    // UTF8String comparisons = byte order, matching the scan's pruning;
    // values are CLONED on retention (the incoming row buffer is reused)
    val smins = mutable.HashMap.empty[String, UTF8String]
    val smaxs = mutable.HashMap.empty[String, UTF8String]
    val nulls = mutable.HashMap.empty[String, Long]
    val sums = mutable.HashMap.empty[String, Long]
    val sumOverflow = mutable.HashSet.empty[String]
    // per-bloom-column (h1, h2) pairs, flattened; sized at piece close
    val bloomHashes = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    val ndvSketches = mutable.HashMap.empty[String, org.apache.datasketches.hll.HllSketch]
    val ndvMaxLen = mutable.HashMap.empty[String, Long]

    // VERIFIED sortedness: the write claimed `sortedBy`, Spark was asked
    // for the sort (requiredOrdering) — every row must arrive asc,
    // nulls-first, per piece. A violation is a broken engine contract and
    // fails the task loudly rather than publishing a false `_sorted` claim.
    private var lastLong = Long.MinValue
    private var lastStr: UTF8String = _
    private var sawNonNullSort = false

    private def checkSorted(row: InternalRow): Unit = sortIdx.foreach {
      case (i, dt) =>
        if (row.isNullAt(i)) {
          if (sawNonNullSort) throw new IllegalStateException(
            s"graft-jsonl: sortedBy=${sortBy.get} write got a NULL after " +
              "non-null values — nulls-first ordering violated")
        } else if (dt == StringType) {
          val v = row.getUTF8String(i)
          if (lastStr != null && lastStr.compareTo(v) > 0)
            throw new IllegalStateException(
              s"graft-jsonl: sortedBy=${sortBy.get} write got '$v' after " +
                s"'$lastStr' — ordering violated")
          lastStr = v.clone() // the incoming row buffer is reused
          sawNonNullSort = true
        } else {
          val v = if (dt == IntegerType) row.getInt(i).toLong else row.getLong(i)
          if (sawNonNullSort && v < lastLong) throw new IllegalStateException(
            s"graft-jsonl: sortedBy=${sortBy.get} write got $v after " +
              s"$lastLong — ordering violated")
          lastLong = v
          sawNonNullSort = true
        }
    }

    def write(row: InternalRow): Unit = {
      checkSorted(row)
      gen.writeStartObject()
      var i = 0
      while (i < schema.length) {
        val f = schema.fields(i)
        if (row.isNullAt(i)) gen.writeNullField(f.name)
        else f.dataType match {
          case LongType    => gen.writeNumberField(f.name, row.getLong(i))
          case IntegerType => gen.writeNumberField(f.name, row.getInt(i))
          case DoubleType  => gen.writeNumberField(f.name, row.getDouble(i))
          case BooleanType => gen.writeBooleanField(f.name, row.getBoolean(i))
          case StringType  => gen.writeStringField(f.name, row.getUTF8String(i).toString)
          case other => throw new UnsupportedOperationException(
            s"graft-jsonl: unsupported write type $other for field ${f.name}")
        }
        i += 1
      }
      gen.writeEndObject()
      longFields.foreach { case (name, i, isInt) =>
        if (row.isNullAt(i)) nulls.updateWith(name)(o => Some(o.getOrElse(0L) + 1))
        else {
          val v = if (isInt) row.getInt(i).toLong else row.getLong(i)
          lmins.updateWith(name)(o => Some(o.fold(v)(math.min(_, v))))
          lmaxs.updateWith(name)(o => Some(o.fold(v)(math.max(_, v))))
          if (!sumOverflow.contains(name)) {
            try sums.updateWith(name)(o => Some(Math.addExact(o.getOrElse(0L), v)))
            catch { case _: ArithmeticException =>
              sums.remove(name); sumOverflow += name
            }
          }
        }
      }
      stringFields.foreach { case (name, i) =>
        if (row.isNullAt(i)) nulls.updateWith(name)(o => Some(o.getOrElse(0L) + 1))
        else {
          val v = row.getUTF8String(i)
          smins.updateWith(name) {
            case Some(cur) if cur.compareTo(v) <= 0 => Some(cur)
            case _                                  => Some(v.clone())
          }
          smaxs.updateWith(name) {
            case Some(cur) if cur.compareTo(v) >= 0 => Some(cur)
            case _                                  => Some(v.clone())
          }
        }
      }
      bloomCols.foreach { case (name, i, isStr) =>
        if (!row.isNullAt(i)) {
          val (h1, h2) =
            if (isStr) GraftBloom.hashBytes(row.getUTF8String(i).getBytes)
            else GraftBloom.hashLong(
              if (schema.fields(i).dataType == IntegerType) row.getInt(i).toLong
              else row.getLong(i))
          val buf = bloomHashes.getOrElseUpdate(name, new mutable.ArrayBuilder.ofLong)
          buf += h1; buf += h2
        }
      }
      ndvCols.foreach { case (name, i, isStr) =>
        if (!row.isNullAt(i)) {
          val sk = ndvSketches.getOrElseUpdate(name, JsonlNdv.emptySketch())
          if (isStr) {
            val bytes = row.getUTF8String(i).getBytes
            sk.update(bytes)
            if (bytes.length > ndvMaxLen.getOrElse(name, 0L))
              ndvMaxLen.update(name, bytes.length.toLong)
          } else {
            sk.update(
              if (schema.fields(i).dataType == IntegerType) row.getInt(i).toLong
              else row.getLong(i))
            ndvMaxLen.update(name, 8L)
          }
        }
      }
      rows += 1
    }

    def closeStreams(): Unit = { gen.close(); out.close() }

    def toCommit: JsonlPiece = JsonlPiece(tmp.toString, rows,
      lmins.toMap, lmaxs.toMap,
      smins.view.mapValues(_.toString).toMap,
      smaxs.view.mapValues(_.toString).toMap,
      nulls.toMap,
      // every tracked long field gets a sum (0 when all values were null,
      // so SUM pushdown can tell "contributed nothing" from "unknown");
      // an overflowed field is simply absent
      longFields.collect {
        case (name, _, _) if !sumOverflow.contains(name) =>
          name -> sums.getOrElse(name, 0L)
      }.toMap,
      pvals = key,
      // reaching commit means every row passed checkSorted
      sortedBy = sortBy,
      blooms = bloomCols.map { case (name, _, _) =>
        val pairs = bloomHashes.get(name).map(_.result()).getOrElse(Array.empty[Long])
        name -> (GraftBloom.K, GraftBloom.build(pairs, pairs.length / 2))
      }.toMap,
      ndv = ndvCols.map { case (name, _, _) =>
        name -> (
          ndvSketches.getOrElse(name, JsonlNdv.emptySketch()).toCompactByteArray,
          ndvMaxLen.getOrElse(name, 0L))
      }.toMap)
  }

  private val pieces = mutable.LinkedHashMap.empty[Seq[Any], Piece]

  private def routingKey(row: InternalRow): Seq[Any] =
    routes.lazyZip(partIdx).map { (r, i) =>
      r.eval(
        if (row.isNullAt(i)) null
        else schema.fields(i).dataType match {
          case LongType    => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case StringType  => row.getUTF8String(i).toString
          case other       => throw new IllegalStateException(s"unroutable type $other")
        })
    }

  // the metadata face of the COW rewrites: the projected metadata row
  // (_file) identifies the row's ORIGIN group, which the commit already
  // swaps wholesale — nothing to do with it here
  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    // a row whose width disagrees with the declared write schema would be
    // serialized by POSITION into silent garbage — fail loudly instead
    require(row.numFields == schema.length,
      s"graft-jsonl: writer got a ${row.numFields}-field row for " +
        s"${schema.length}-field schema ${schema.catalogString}")
    val key = routingKey(row)
    pieces.getOrElseUpdate(key, new Piece(pieces.size, key)).write(row)
  }

  override def commit(): WriterCommitMessage = {
    pieces.values.foreach(_.closeStreams())
    val msg = JsonlCommitMessage(partitionId, pieces.values.map(_.toCommit).toSeq)
    pieces.clear()
    msg
  }

  override def abort(): Unit = {
    pieces.values.foreach { p =>
      p.closeStreams()
      try fs.delete(p.tmp, false) catch { case _: java.io.IOException => () }
    }
    pieces.clear()
  }

  override def close(): Unit = {
    pieces.values.foreach(_.closeStreams())
  }
}

/** Byte-exact line reader over an InputStream: counts consumed bytes so
  * split ownership is decided in BYTE offsets (UTF-8 multibyte sequences
  * never contain 0x0A, so scanning for '\n' at the byte level is exact).
  * Handles \n and \r\n; a trailing unterminated line is returned. */
private[sources] class CountingLineReader(in: java.io.InputStream, startPos: Long) {
  private val buffered = new java.io.BufferedInputStream(in, 1 << 16)
  var position: Long = startPos

  def skipToNextLine(): Unit = {
    var b = buffered.read()
    while (b != -1 && b != '\n') { position += 1; b = buffered.read() }
    if (b != -1) position += 1
  }

  /** Next line as UTF-8 (terminator excluded), or null at EOF. */
  def readLine(): String = {
    val out = new ByteArrayOutputStream(256)
    var b = buffered.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') {
      out.write(b); position += 1; b = buffered.read()
    }
    if (b != -1) position += 1
    val bytes = out.toByteArray
    val len = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
      else bytes.length
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }
}
