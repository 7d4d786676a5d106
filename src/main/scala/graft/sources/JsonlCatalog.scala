package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal catalog face for the graft-jsonl source — the piece that
  * turns the path-based source into CATALOG TABLES with declared
  * partition transforms, which is what unlocks bucket layouts:
  *
  *  - `CREATE TABLE cat.ns.t (...) PARTITIONED BY (bucket(8, doc_id))`
  *    persists the schema + transforms as a `_table.json` manifest inside
  *    the table directory (the directory IS the table — no external
  *    metastore, the same discipline as the `_stats` sidecars);
  *  - `loadTable` rebuilds the [[JsonlTable]] with those declared routes,
  *    so writes bucket-route their rows and scans report
  *    `KeyGroupedPartitioning(bucket(n, col))` over the `_pvals` sidecar
  *    keys;
  *  - the catalog is ALSO a [[FunctionCatalog]] serving the one function
  *    the planner needs to resolve that report: `bucket`, bound to
  *    [[GraftBucket]] — identical arithmetic to the writer's routing, so
  *    if Spark ever evaluates the transform (to shuffle a non-aligned
  *    side INTO the layout's partitioning) the ids agree with the files.
  *
  * Why it matters at 100 TB: identity routing co-locates low-cardinality
  * columns (lang), but the join keys that dominate a training-data
  * pipeline (doc_id) are high-cardinality — only a hash-bucket layout
  * co-locates them. Two bucket(n, col) tables under this catalog join on
  * col with ZERO exchanges on either side (the storage-partitioned join),
  * which at target scale is the difference between re-shuffling two
  * corpora per query and never shuffling them again.
  *
  * Register with `spark.sql.catalog.<name>` = this class and
  * `spark.sql.catalog.<name>.warehouse` = a root directory; tables live
  * at `<warehouse>/<namespace...>/<table>`. */
class JsonlCatalog extends TableCatalog with FunctionCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catName: String = _
  private var warehouse: String = _
  private var splitSize: Long = 4L * 1024 * 1024

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft-jsonl catalog $name: set spark.sql.catalog.$name.warehouse")
    splitSize = options.getLong("splitSize", splitSize)
  }

  override def name(): String = catName

  private def fs: FileSystem =
    FileSystem.get(new Path(warehouse).toUri, new Configuration())

  private[sources] def dirOf(ident: Identifier): Path =
    new Path((warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/"))

  private[graft] def warehousePath: Path = new Path(warehouse)

  /** `<catalog>.<namespace...>.<name>`, the name a DataFrame write uses. */
  private[sources] def qualifiedName(ident: Identifier): String =
    (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // --- procedures ([[JsonlProcedures]]) -------------------------------------

  /** Unknown procedures surface as the STANDARD analysis error
    * (`ROUTINE_NOT_FOUND`, SQLSTATE 42883), not a bare RuntimeException:
    * `CALL`/`DESCRIBE PROCEDURE` on a missing name is a user error the
    * caller should be able to catch by error class, not an internal
    * failure. (Spark 4.1 has no `NoSuchProcedureException` class — the
    * analyzer-standard shape IS the error-classed AnalysisException.) */
  private def noSuchProcedure(parts: Seq[String]): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "ROUTINE_NOT_FOUND",
      messageParameters = Map("routineName" ->
        (catName +: parts).map(p => s"`$p`").mkString(".")))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace.toSeq != Seq("system"))
      // name the namespace the user actually wrote, not "system"
      noSuchProcedure(ident.namespace.toSeq :+ ident.name)
    JsonlProcedures.byName.get(ident.name) match {
      case Some(p) => new JsonlProcedure(p, this)
      case None    => noSuchProcedure(Seq("system", ident.name))
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq("system"))
      JsonlProcedures.all.map(p => Identifier.of(Array("system"), p.name)).toArray
    else Array.empty

  private def manifestOf(ident: Identifier): Path =
    new Path(dirOf(ident), JsonlCatalog.Manifest)

  // --- tables ---------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, JsonlCatalog.Manifest)))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  private def parseManifest(ident: Identifier)
      : (StructType, Seq[RouteExpr], Long, Boolean, Boolean, Seq[String],
         Seq[Int]) = {
    val m = manifestOf(ident)
    if (!fs.exists(m)) throw new NoSuchTableException(ident)
    val in = fs.open(m)
    val tree = try JsonlV2.mapper.readTree(in) finally in.close()
    val schema = DataType.fromJson(tree.get("schema").textValue)
      .asInstanceOf[StructType]
    val mor = Option(tree.get("deleteMode")).map(_.textValue)
      .contains("merge-on-read")
    val morMerge = Option(tree.get("mergeMode")).map(_.textValue)
      .contains("merge-on-read")
    val routes: Seq[RouteExpr] = Option(tree.get("routes")).toSeq.flatMap { arr =>
      (0 until arr.size).map { i =>
        val r = arr.get(i)
        r.get("kind").textValue match {
          case "identity" => IdentityRoute(r.get("col").textValue)
          case "bucket"   => BucketRoute(r.get("n").intValue, r.get("col").textValue)
          case other => throw new IllegalStateException(
            s"graft-jsonl catalog: unknown route kind $other in $m")
        }
      }
    }
    val split = Option(tree.get("splitSize")).map(_.longValue).getOrElse(splitSize)
    val ndvCols = Option(tree.get("ndvColumns")).toSeq.flatMap(arr =>
      (0 until arr.size).map(arr.get(_).textValue))
    // bucket EVOLUTION history: every PREVIOUS width of the table's
    // bucket route, oldest first — live files written before an
    // evolution still claim ids at their old width, and the scan's
    // partitioning report coarsens to the gcd of all widths
    val bucketHistory = Option(tree.get("bucketHistory")).toSeq.flatMap(arr =>
      (0 until arr.size).map(arr.get(_).intValue))
    (schema, routes, split, mor, morMerge, ndvCols, bucketHistory)
  }

  /** Publish the manifest via temp + rename, the [[EpochHighWater]]
    * discipline: a concurrent `loadTable` reads the old manifest or the
    * new one, never a truncated file. The raw filesystem writes no `.crc`
    * sidecar: a checksummed rename moves the file and its sidecar in two
    * steps, and a reader between them would check the new bytes against
    * the old sum. A sidecar left by an older writer is dropped first. */
  private[graft] def writeManifest(ident: Identifier, schema: StructType,
      routes: Seq[RouteExpr], split: Long, mor: Boolean, morMerge: Boolean,
      ndvCols: Seq[String], overwrite: Boolean,
      bucketHistory: Seq[Int] = Nil): Unit = {
    val dst = manifestOf(ident)
    if (!overwrite && fs.exists(dst))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$dst already exists")
    val (raw, staleSum) = fs match {
      case c: ChecksumFileSystem => (c.getRawFileSystem, Some(c.getChecksumFile(dst)))
      case other => (other, None)
    }
    val tmp = new Path(dst.getParent,
      s".tmp-${JsonlCatalog.Manifest}-${java.util.UUID.randomUUID()}")
    val out: java.io.OutputStream = raw.create(tmp, true)
    val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(out)
    gen.writeStartObject()
    gen.writeStringField("schema", schema.json)
    gen.writeArrayFieldStart("routes")
    routes.foreach {
      case IdentityRoute(c) =>
        gen.writeStartObject()
        gen.writeStringField("kind", "identity"); gen.writeStringField("col", c)
        gen.writeEndObject()
      case BucketRoute(n, c) =>
        gen.writeStartObject()
        gen.writeStringField("kind", "bucket"); gen.writeStringField("col", c)
        gen.writeNumberField("n", n)
        gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.writeNumberField("splitSize", split)
    if (mor) gen.writeStringField("deleteMode", "merge-on-read")
    if (morMerge) gen.writeStringField("mergeMode", "merge-on-read")
    if (ndvCols.nonEmpty) {
      gen.writeArrayFieldStart("ndvColumns")
      ndvCols.foreach(gen.writeString)
      gen.writeEndArray()
    }
    if (bucketHistory.nonEmpty) {
      gen.writeArrayFieldStart("bucketHistory")
      bucketHistory.foreach(gen.writeNumber)
      gen.writeEndArray()
    }
    gen.writeEndObject()
    gen.close(); out.close()
    staleSum.foreach(raw.delete(_, false))
    // POSIX rename replaces the destination atomically; a filesystem that
    // refuses rename-onto-existing falls back to delete-then-rename
    if (!raw.rename(tmp, dst)) {
      raw.delete(dst, false)
      require(raw.rename(tmp, dst), s"graft-jsonl: failed to publish $dst")
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // self-heal: a transact that crashed after its commit point must be
    // rolled forward before ANY table is served — a reader can otherwise
    // join one table's published half against another's unpublished half
    // (one warehouse-root listing when there is nothing to do)
    JsonlTransact.recover(warehousePath)
    val (schema, routes, split, mor, morMerge, ndvCols, hist) =
      parseManifest(ident)
    new JsonlTable(dirOf(ident).toString, schema, split, routes, mor, morMerge,
      ndvCols = ndvCols, bucketHistory = hist)
  }

  /** `SELECT … FROM t VERSION AS OF n` — resolve the table PINNED to
    * snapshot `n`'s recorded (files, vectors) listing
    * ([[JsonlVersions]]): the scan whitelists exactly those data files
    * and merges exactly those delete vectors, so every mutation committed
    * after the snapshot is invisible, and the pinned table refuses every
    * write face. Snapshots are created explicitly
    * (`CALL <cat>.system.snapshot(table => 'ns.t')`) — naming a version
    * is a deliberate act under the single-writer discipline, and a
    * snapshot costs O(metadata), so "snapshot after every batch" is a
    * one-line pipeline convention, not an engine obligation. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (schema, routes, split, mor, morMerge, _, hist) = parseManifest(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-jsonl catalog $catName: VERSION AS OF wants a snapshot " +
          s"number, got '$version'")
    }
    val dir = dirOf(ident)
    val pin = JsonlVersions.load(FileSystem.get(dir.toUri, new Configuration()), dir, v)
    // historical rows resolve against the schema the snapshot RECORDED,
    // not one evolved later (Delta/Iceberg time-travel semantics): after
    // ALTER TABLE ADD COLUMNS, a pinned read of an older version must not
    // sprout null columns. Manifests from before the schema was recorded
    // fall back to the current schema — the documented legacy behavior.
    val pinnedSchema = pin.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(schema)
    new JsonlTable(dir.toString, pinnedSchema, split, routes, mor, morMerge,
      Some(pin), bucketHistory = hist)
  }

  /** `SELECT … FROM t TIMESTAMP AS OF ts` — resolve to the NEWEST snapshot
    * recorded at or before `ts` (Spark hands the instant in MICROseconds).
    * A snapshot's publish instant is the `publishedAtMs` field its
    * manifest recorded at `CALL system.snapshot` time — a property of the
    * snapshot itself, so an rsync/backup/fs-migration copy that rewrites
    * every mtime cannot silently remap timestamp queries, and
    * second-granular filesystem clocks cannot blur near-boundary
    * resolution. Manifests from before the field existed fall back to
    * their filesystem mtime (the rename-once publish clock). A timestamp
    * before the first snapshot fails loudly listing what exists; the
    * resolved pin then carries all of `VERSION AS OF`'s semantics
    * (pinned schema, exact file/vector whitelists, loud invalidation,
    * writes refused). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val fsys = FileSystem.get(dir.toUri, new Configuration())
    val atOrBefore = JsonlVersions.versionsOf(fsys, dir).filter { v =>
      JsonlVersions.publishedAtMs(fsys, dir, v) * 1000L <= timestampMicros
    }
    require(atOrBefore.nonEmpty, {
      val have = JsonlVersions.versionsOf(fsys, dir)
      s"graft-jsonl catalog $catName: no snapshot of $ident at or before " +
        s"timestamp ${timestampMicros}us " +
        (if (have.isEmpty) "(no snapshots exist — CALL <cat>.system.snapshot first)"
         else s"(earliest snapshot is version ${have.head})")
    })
    loadTable(ident, atOrBefore.max.toString)
  }

  /** `TBLPROPERTIES ('delete.mode' = 'merge-on-read')` switches the
    * table's row-level DELETE from the copy-on-write group swap to
    * position-delete sidecars ([[JsonlMorOperation]]); the default
    * (and the explicit 'copy-on-write') keeps the rewrite. Persisted in
    * the manifest like the schema — the mode is a property of the table,
    * not of the session that happens to issue the statement. */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (fs.exists(manifestOf(ident))) throw new TableAlreadyExistsException(ident)
    val routes = partitions.toSeq.map(JsonlV2.routeOf)
    val mor = Option(properties.get("delete.mode")) match {
      case None | Some("copy-on-write") => false
      case Some("merge-on-read")        => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-jsonl catalog: delete.mode must be copy-on-write or " +
          s"merge-on-read, got '$other'")
    }
    // `merge.mode = merge-on-read` switches MERGE/UPDATE from the
    // copy-on-write group rewrite to the delta path (position-delete
    // sidecars + appended data files, [[JsonlMorOperation]]) — the
    // statement shape that survives frequent small upserts over a huge
    // table, which a COW partition rewrite cannot.
    val morMerge = Option(properties.get("merge.mode")) match {
      case None | Some("copy-on-write") => false
      case Some("merge-on-read")        => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-jsonl catalog: merge.mode must be copy-on-write or " +
          s"merge-on-read, got '$other'")
    }
    // `ndv.columns = 'a,b'`: every write to the table publishes per-file
    // HLL sketches of the named columns in its stats sidecar
    // ([[JsonlNdv]]) — the statistic the NDV-aware broadcast rule and
    // CALL system.ndv consume, maintained by the write path
    val ndvCols = Option(properties.get("ndv.columns")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    ndvCols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined,
        s"graft-jsonl catalog: ndv.columns names '$c', not in the schema")
      require(f.get.dataType == org.apache.spark.sql.types.LongType ||
        f.get.dataType == org.apache.spark.sql.types.IntegerType ||
        f.get.dataType == org.apache.spark.sql.types.StringType,
        s"graft-jsonl catalog: ndv.columns column $c must be " +
          s"long/int/string, got ${f.get.dataType}")
    }
    val dir = dirOf(ident)
    fs.mkdirs(dir)
    writeManifest(ident, schema, routes,
      Option(properties.get("splitSize")).map(_.toLong).getOrElse(splitSize),
      mor, morMerge, ndvCols, overwrite = false)
    loadTable(ident)
  }

  /** Schema evolution, additive only: `ALTER TABLE t ADD COLUMNS (...)`
    * rewrites the manifest schema; existing JSONL lines simply lack the
    * field and materialize NULL (the reader's missing-field rule), new
    * writes carry it, and old sidecars without the column keep every
    * metadata rewrite conservative (no skip, no metadata agg on it).
    * Anything beyond ADD — renames, drops, type changes — would need a
    * data rewrite and is refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (schema, routes, split, mor, morMerge, ndvCols, hist) =
      parseManifest(ident)
    var evolved = schema
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames.length == 1 =>
        require(!evolved.fieldNames.contains(add.fieldNames()(0)),
          s"graft-jsonl catalog: column ${add.fieldNames()(0)} already exists")
        evolved = evolved.add(add.fieldNames()(0), add.dataType, nullable = true)
      case other => throw new UnsupportedOperationException(
        s"graft-jsonl catalog: unsupported table change $other (ADD COLUMNS only)")
    }
    writeManifest(ident, evolved, routes, split, mor, morMerge, ndvCols,
      overwrite = true, bucketHistory = hist)
    loadTable(ident)
  }

  /** BUCKET EVOLUTION (lazy split): rewrite the manifest's bucket route
    * to `newN` and append the old width to the history — NO data rewrite.
    * Old files keep their claimed ids; new writes route at `newN`; scans
    * report the coarsest common partitioning (gcd, = the original width
    * under split-only evolution). `newN` must be a strict MULTIPLE of the
    * current width: divisor-chain widths are the only ones whose cells
    * nest (id mod coarse is the same cell at every width) — any other
    * width would leave the table with NO common partitioning and every
    * storage-partitioned join silently un-provable, so it refuses loudly.
    * Runs under the table's commit lock like every other metadata
    * mutation. Returns (oldN, newN, reported coarse width). */
  private[sources] def evolveBucket(ident: Identifier, newN: Int): (Int, Int, Int) = {
    val dir = dirOf(ident)
    JsonlOcc.withCommitLock(fs, dir, "bucket evolution") {
      val (schema, routes, split, mor, morMerge, ndvCols, hist) =
        parseManifest(ident)
      val buckets = routes.collect { case b: BucketRoute => b }
      require(buckets.size == 1,
        s"graft-jsonl catalog $catName: evolve_bucket needs exactly one " +
          s"bucket route on $ident, found ${routes.mkString(", ")}")
      val cur = buckets.head.n
      require(newN > cur && newN % cur == 0,
        s"graft-jsonl catalog $catName: evolve_bucket on $ident — $newN " +
          s"buckets is not a lazy split of the current $cur: the new width " +
          "must be a strict multiple (divisor-chain widths are the only " +
          "ones whose cells nest, anything else leaves NO common " +
          "partitioning and every storage-partitioned join would silently " +
          "stop being provable)")
      val newRoutes = routes.map {
        case BucketRoute(_, c) => BucketRoute(newN, c)
        case r                 => r
      }
      writeManifest(ident, schema, newRoutes, split, mor, morMerge, ndvCols,
        overwrite = true, bucketHistory = hist :+ cur)
      val coarse = GraftBucket.coarseWidth(hist :+ cur :+ newN)
      (cur, newN, coarse)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    val dropped = fs.exists(new Path(dir, JsonlCatalog.Manifest)) &&
      fs.delete(dir, true)
    // a recreated table at the same path restarts version numbering at 1 —
    // stale (directory, version) memos would remap its TIMESTAMP AS OF
    // onto the dropped table's publish instants
    if (dropped) JsonlVersions.evictDir(dir.toString)
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft-jsonl catalog: RENAME TABLE")

  // --- functions ------------------------------------------------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketUnbound
    else throw new NoSuchFunctionException(ident)

  // --- namespaces (one level deep, directories under the warehouse) ---------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq
      // underscore names are ENGINE state (_txn_stage), structurally
      // invisible like underscore files inside a table dir
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.length == 1 && !namespace.head.startsWith("_") &&
        fs.exists(new Path(s"$warehouse/${namespace.head}")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit = {
    require(namespace.isEmpty || !namespace.head.startsWith("_"),
      s"graft-jsonl catalog $catName: namespace names starting with '_' " +
        "are reserved for engine state (e.g. the transact stage area)")
    require(namespace.length == 1,
      s"graft-jsonl catalog: one namespace level only, got ${namespace.mkString(".")}")
    fs.mkdirs(new Path(s"$warehouse/${namespace.head}"))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-jsonl catalog: ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(p)) false
    else {
      if (!cascade) require(fs.listStatus(p).isEmpty,
        s"graft-jsonl catalog: namespace ${namespace.mkString(".")} not empty")
      fs.delete(p, true)
    }
  }
}

private[sources] object JsonlCatalog {
  val Manifest = "_table.json"
}

/** The catalog's `bucket(n, col)` function — the SAME arithmetic as
  * [[GraftBucket]] (the writer's routing and the sidecar `_pvals`), bound
  * per value type. Spark resolves this when translating the scan's
  * reported bucket transform into a catalyst expression; it only ever
  * EVALUATES it if a query needs to shuffle a non-aligned side into the
  * layout's partitioning, and then the ids must agree with the files —
  * which is the whole point of sharing the implementation. */
private[graft] object GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): graft-jsonl deterministic bucket id (murmur-mix mod n)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(n, col) takes 2 arguments, got ${inputType.catalogString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket count must be int, got ${inputType.fields(0).dataType}")
    inputType.fields(1).dataType match {
      case t @ (LongType | IntegerType | StringType) => new GraftBucketBound(t)
      case other => throw new UnsupportedOperationException(
        s"graft bucket: unsupported key type $other (long/int/string)")
    }
  }
}

private[graft] final class GraftBucketBound(vt: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, vt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket(${vt.simpleString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    vt match {
      case LongType    => GraftBucket.ofLong(n, input.getLong(1))
      case IntegerType => GraftBucket.ofLong(n, input.getInt(1).toLong)
      case StringType  => GraftBucket.ofUTF8(n, input.getUTF8String(1))
      case other => throw new IllegalStateException(s"unbound type $other")
    }
  }
}
