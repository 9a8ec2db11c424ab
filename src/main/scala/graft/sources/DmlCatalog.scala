package graft.sources

import java.io.File
import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetTable, ParquetWrite}
import org.apache.spark.sql.types
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 catalog whose tables accept row-level DML —
  * `DELETE FROM`, `UPDATE`, and `MERGE INTO` — via Spark's group-based
  * copy-on-write rewrite ([[SupportsRowLevelOperations]]).
  *
  * Why this exists (SURVEY §2.13 / COVERAGE "v2-only DML fence"): stock
  * Spark only plans row-level DML against a connector that implements the
  * `RowLevelOperation` contract — the parquet file source and the
  * in-memory session catalog do not (the reference's 2.4 SQL has no MERGE
  * at all). This catalog supplies the missing contract, so the engine's
  * FULL Catalyst DML pipeline is exercised end-to-end: parser →
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` → the
  * `RewriteDeleteFromTable`/`RewriteUpdateTable`/`RewriteMergeIntoTable`
  * analyzer rewrites → `ReplaceData` over the operation's scan → V2 batch
  * write that swaps the rewritten group in one atomic commit.
  *
  * Storage (scale posture, 100 TB): every table snapshot is a SET OF
  * PARQUET FILES on disk, written through Spark's own DSv2 parquet write
  * path (`ParquetWrite` → `FileBatchWrite` → per-task `FileWriterFactory`,
  * the same executor-side machinery behind `df.write.parquet`; reference
  * `EXE/datasources/FileFormatWriter.scala`,
  * `InsertIntoHadoopFsRelationCommand.scala`) and scanned through Spark's
  * own DSv2 parquet read path (`ParquetTable` → vectorized `ParquetScan`
  * with column pruning and filter pushdown). Rows never pass through the
  * driver: each write task streams its partition straight into its own
  * parquet file and ships back only a commit message; the driver-side
  * commit installs the new version as a METADATA file list — exactly the
  * snapshot-lineage model of a lakehouse format (Iceberg/Delta), where
  * the version chain is a log of file sets and `vacuum` deletes files no
  * retained snapshot references. Time travel, CDF, and IVM therefore
  * inherit executor-side storage for free, and driver heap stays O(files),
  * never O(rows).
  *
  * Register per session (runtime-settable — catalogs load lazily):
  * `spark.conf.set("spark.sql.catalog.graft_dml", classOf[DmlCatalog].getName)`;
  * optional `spark.sql.catalog.graft_dml.location=/dir` pins the storage
  * root (default: a per-JVM temp directory).
  */
class DmlCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {
  private var catalogName: String = "graft_dml"
  private var location: Option[String] = None
  // Backing store is JVM-shared PER CATALOG NAME, not per instance: Spark
  // instantiates a fresh catalog plugin in every cloned session (notably
  // the per-micro-batch sessions foreachBatch hands out), and a catalog
  // whose tables vanish in a clone is not a catalog — a metastore/lakehouse
  // log is shared state by definition. The streaming CDC-upsert spec
  // (StreamingDmlSpec) fails without this.
  private def store: DmlCatalog.Store = DmlCatalog.storeFor(catalogName, location)
  private def tables: ConcurrentHashMap[String, DmlTable] = store.tables
  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    location = Option(options.get("location"))
  }
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keySet().asScala.toArray.sorted
      .map(k => Identifier.of(Array.empty[String], k))

  override def loadTable(ident: Identifier): Table =
    Option(tables.get(key(ident)))
      .getOrElse(throw new NoSuchTableException(ident))

  /** Time travel (`VERSION AS OF n`): version n = the table state after
    * its n-th committed write (CTAS population = version 0), served as a
    * read-only snapshot over that version's file set. The version chain
    * lives with the table metadata — the same snapshot-lineage contract a
    * lakehouse format keeps in its metadata log. Snapshots serve the
    * LATEST schema: files predating an added column read it as NULL
    * (parquet schema-on-read).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[DmlTable]
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"non-numeric table version '$version'")
    }
    val snap = t.snapshotAt(v).getOrElse(throw new IllegalArgumentException(
      if (t.isExpired(v))
        s"table ${key(ident)} version $v was expired by vacuum (latest ${t.latestVersion})"
      else
        s"table ${key(ident)} has no version $v (versions 0..${t.latestVersion})"))
    new DmlSnapshot(s"${key(ident)}@v$v", t.schema(), snap)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = new File(store.baseDir,
      key(ident).replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
        java.util.UUID.randomUUID.toString.take(8))
    val t = new DmlTable(key(ident), schema, dir)
    if (tables.putIfAbsent(key(ident), t) != null)
      throw new TableAlreadyExistsException(ident)
    t
  }

  /** Schema evolution: ADD COLUMNS (nullable, top-level) — the additive
    * evolution every lakehouse format supports. With file-backed
    * snapshots this is METADATA-ONLY: no file is rewritten; every scan
    * (current and time travel) serves the latest schema, and parquet
    * schema-on-read fills the new column with NULL for files that predate
    * it. Everything else (renames, drops, type changes) refuses loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[DmlTable]
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        require(add.isNullable,
          "ADD COLUMN must be nullable — existing rows have no value for it")
        t.addColumn(add.fieldNames()(0), add.dataType())
      case c => throw new UnsupportedOperationException(
        s"ALTER TABLE change $c not supported (only nullable ADD COLUMN)")
    }
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    Option(tables.remove(key(ident))) match {
      case Some(t) => t.deleteStorage(); true
      case None => false
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val t = Option(tables.remove(key(from)))
      .getOrElse(throw new NoSuchTableException(from))
    if (tables.putIfAbsent(key(to), t) != null)
      throw new TableAlreadyExistsException(to)
  }

  // ------------------------------------------------- stored procedures
  // Spark 4 DSv2 stored procedures (SPARK-44167): maintenance commands a
  // user invokes as `CALL graft_dml.system.vacuum('t', 2)` — the Iceberg
  // `CALL catalog.system.*` surface. `vacuum` is the retention step that
  // completes the table lifecycle (write → time travel → CDF → expire):
  // it drops all but the newest `keep` version snapshots AND deletes the
  // parquet files no retained snapshot references; expired
  // `VERSION AS OF` reads then refuse loudly while retained ones serve.
  // `optimize` is the layout step (Delta OPTIMIZE / Iceberg
  // rewrite_data_files): bin-pack the live snapshot's files into
  // ~target-sized ones as a NEW version — pure file-set metadata churn
  // that file-backed snapshots make possible (r11).
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "optimize"),
      Identifier.of(Array("system"), "vacuum"))

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    Some(ident).filter(_.namespace().sameElements(Array("system")))
      .flatMap(i => TableProcedure.load(tables, i.name().toLowerCase))
      .getOrElse(throw new RuntimeException(
        s"procedure ${key(ident)} not found (try system.vacuum / system.optimize)"))

  // Minimal namespace surface: a single implicit default namespace, so
  // resolution (USE / qualified names) never trips on metadata lookups.
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default"))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = ()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = false
}

/** A DSv2 stored procedure `system.<name>(table, <param>)` over one
  * [[DmlTable]]: invoked through Spark's `CALL` statement, bound by the
  * analyzer (`BindProcedures` coerces and orders arguments, named or
  * positional), and returning a one-row result scan like any maintenance
  * command. The procedures differ only in name, int parameter, output
  * schema and the table call — see [[TableProcedure.load]].
  */
private[sources] final class TableProcedure(
    tables: ConcurrentHashMap[String, DmlTable],
    procName: String, doc: String, param: String, out: StructType,
    run: (DmlTable, Int) => Product)
    extends procedures.UnboundProcedure {
  override def name(): String = procName
  override def description(): String = doc

  override def bind(inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = procName
      override def description(): String = doc
      override def isDeterministic: Boolean = false
      override def parameters(): Array[procedures.ProcedureParameter] = Array(
        procedures.ProcedureParameter.in("table", types.StringType).build(),
        procedures.ProcedureParameter.in(param, types.IntegerType).build())
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val tname = input.getUTF8String(0).toString
        val n = input.getInt(1)
        require(n >= 1, s"$procName $param must be >= 1, got $n")
        val t = Option(tables.get(tname)).getOrElse(
          throw new RuntimeException(s"$procName: no such table '$tname'"))
        val row = UnsafeProjection.create(out)(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            run(t, n).productIterator.toArray[Any])).copy()
        // procedure output must be a LocalScan in Spark 4.1 (the result is
        // driver-sized by definition — counts, not data)
        val result = new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = out
          override def rows(): Array[InternalRow] = Array(row)
        }
        util.List.of[Scan](result).iterator()
      }
    }
}

private[sources] object TableProcedure {
  private def ints(names: String*): StructType =
    names.foldLeft(new StructType())(_.add(_, types.IntegerType, nullable = false))

  /** The `system` procedure called `name`, if there is one:
    *   - `vacuum(table, keep)` — snapshot retention ([[DmlTable.vacuum]]),
    *     returning (expired_versions, retained_versions);
    *   - `optimize(table, target_mb)` — small-file compaction
    *     ([[DmlTable.optimize]]: the live snapshot's parquet files
    *     coalesce with ZERO shuffle into ~`target_mb`-sized files,
    *     installed as a NEW VERSION with identical rows, so time travel
    *     still reads the old file sets), returning (files_before,
    *     files_after, rows).
    */
  def load(tables: ConcurrentHashMap[String, DmlTable], name: String): Option[TableProcedure] =
    name match {
      case "vacuum" => Some(new TableProcedure(tables, "vacuum",
        "expire all but the newest `keep` version snapshots of `table`", "keep",
        ints("expired_versions", "retained_versions"), _.vacuum(_)))
      case "optimize" => Some(new TableProcedure(tables, "optimize",
        "bin-pack `table`'s live snapshot into ~target_mb parquet files as a new version",
        "target_mb",
        ints("files_before", "files_after").add("rows", types.LongType, nullable = false),
        (t, mb) => t.optimize(mb.toLong << 20)))
      case _ => None
    }
}

object DmlCatalog {
  /** Per-catalog-name store: the table map plus the storage root its
    * version files live under — the in-memory analog of the shared
    * metastore/metadata log every real catalog plugin fronts. See the
    * note on `DmlCatalog.tables`.
    */
  private[sources] final class Store(
      val tables: ConcurrentHashMap[String, DmlTable], val baseDir: File)

  private val stores = new ConcurrentHashMap[String, Store]()

  private[sources] def storeFor(name: String, location: Option[String]): Store =
    stores.computeIfAbsent(name, _ => {
      val dir = location.map(new File(_)).getOrElse(
        java.nio.file.Files.createTempDirectory(s"graft-dml-$name-").toFile)
      dir.mkdirs()
      new Store(new ConcurrentHashMap[String, DmlTable](), dir)
    })
}

/** One DML-capable table whose storage is file-backed: the live state and
  * every retained `VERSION AS OF` snapshot are immutable LISTS OF PARQUET
  * FILES under `tableDir`; only those metadata lists (and the schema) live
  * on the driver. Every committed write installs a new file list
  * atomically; readers that already planned keep their list (snapshot
  * isolation, the same model as a lakehouse table version). Appends reuse
  * the prior version's files (an append's new version shares history
  * files, exactly like a format's metadata log), so `vacuum` deletes only
  * files no retained version references.
  */
private[graft] class DmlTable(tableName: String, initialSchema: StructType, tableDir: File)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations {

  @volatile private var tableSchema: StructType = initialSchema

  /** Live snapshot = the parquet files of the latest committed version. */
  @volatile private[graft] var currentFiles: Seq[String] = Nil
  /** File list per committed write, for `VERSION AS OF` (index = version;
    * null = expired by vacuum).
    */
  private val history = new util.concurrent.CopyOnWriteArrayList[Seq[String]]()
  private val stagingCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Observability for specs: row-level commands this table executed. */
  private[graft] val opsSeen = new util.concurrent.CopyOnWriteArrayList[String]()

  private[sources] def installVersion(files: Seq[String], replace: Boolean): Unit =
    synchronized {
      currentFiles = if (replace) files else currentFiles ++ files
      history.add(currentFiles)
    }
  private[sources] def snapshotAt(v: Int): Option[Seq[String]] =
    if (v >= 0 && v < history.size) Option(history.get(v)) else None
  private[sources] def isExpired(v: Int): Boolean =
    v >= 0 && v < history.size && history.get(v) == null
  private[sources] def latestVersion: Int = history.size - 1

  /** A fresh directory for one write's files — one dir per commit attempt,
    * so concurrent/aborted writes never collide and vacuum can reason in
    * whole directories.
    */
  private[sources] def newStagingDir(): File = {
    val d = new File(tableDir,
      s"w${stagingCounter.getAndIncrement()}-${java.util.UUID.randomUUID.toString.take(8)}")
    require(d.mkdirs() || d.isDirectory, s"cannot create table storage dir $d")
    d
  }

  /** Additive schema evolution — metadata-only (see catalog scaladoc):
    * existing parquet files simply read the new column as NULL. Refuses a
    * duplicate name loudly (case-insensitively, matching Spark's default
    * resolver) — StructType.add would happily append an ambiguous field.
    */
  private[sources] def addColumn(
      colName: String, dt: org.apache.spark.sql.types.DataType): Unit =
    synchronized {
      require(!tableSchema.fieldNames.exists(_.equalsIgnoreCase(colName)),
        s"ADD COLUMN $colName: column already exists in ${tableSchema.fieldNames.mkString("(", ", ", ")")}")
      tableSchema = tableSchema.add(colName, dt, nullable = true)
    }

  /** Retention: expire every snapshot but the newest `keep` (version
    * NUMBERS are stable — expired slots tombstone to null so later
    * versions keep their index, exactly like a lakehouse metadata log
    * that deletes old snapshot files but never renumbers), then delete
    * the parquet files no retained version references. Returns
    * (expired-this-call, still-retained).
    */
  private[sources] def vacuum(keep: Int): (Int, Int) = synchronized {
    val cutoff = math.max(0, history.size - keep)
    var expired = 0
    for (i <- 0 until cutoff if history.get(i) != null) {
      history.set(i, null); expired += 1
    }
    val live: Set[String] =
      (currentFiles ++ (0 until history.size)
        .flatMap(i => Option(history.get(i)).getOrElse(Nil))).toSet
    Option(tableDir.listFiles()).getOrElse(Array.empty).foreach { d =>
      val data = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (d.isDirectory && data.nonEmpty && !data.exists(f => live(f.getAbsolutePath)))
        DmlStorage.deleteRecursively(d)
    }
    (expired, history.size - cutoff)
  }

  private[sources] def deleteStorage(): Unit = DmlStorage.deleteRecursively(tableDir)

  /** Bin-pack the live snapshot into ~targetBytes files (see
    * [[OptimizeProcedure]]): scan the current file set with the table
    * schema (schema-on-read fills post-evolution columns), coalesce to
    * the byte-sized file count — ZERO shuffle, the q_src_compact
    * contract — and install the rewrite as a new version. Serialized
    * with other writes by the version lock the installVersion path uses.
    * Returns (files_before, files_after, rows).
    */
  private[sources] def optimize(targetBytes: Long): (Int, Int, Long) = {
    val spark = SparkSession.active
    val files = currentFiles
    if (files.isEmpty) return (0, 0, 0L)
    val totalBytes = files.map(new File(_).length()).sum
    val n = math.max(1, ((totalBytes - 1) / targetBytes + 1)).toInt
    val staging = newStagingDir()
    spark.read.schema(tableSchema).parquet(files: _*)
      .coalesce(n)
      .write.mode("append").parquet(staging.getAbsolutePath)
    val rows = spark.read.schema(tableSchema)
      .parquet(staging.getAbsolutePath).count()
    val packed = DmlStorage.listDataFiles(staging)
    // optimistic-concurrency install (the lakehouse commit rule): a DML
    // that committed while the rewrite ran would be LOST by a blind
    // replace — refuse loudly instead, the caller retries
    synchronized {
      require(currentFiles == files,
        s"optimize of '$tableName' lost a concurrency race — a write " +
          "committed during the rewrite; retry")
      opsSeen.add("OPTIMIZE")
      currentFiles = packed
      history.add(currentFiles)
    }
    (files.size, packed.size, rows)
  }

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    DmlStorage.scanBuilder(tableName, currentFiles, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DmlWriteBuilder(this, info, replaceAll = false)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()
      // The operation reads the group being rewritten — here the whole
      // table, ONE group (copy-on-write at table granularity; a lakehouse
      // format keys groups to files). The scan builder deliberately hides
      // pushdown: GroupBasedRowLevelOperationScanPlanning pushes the
      // command condition into this scan as a GROUP filter, which a
      // connector may only use to skip groups it will not rewrite — with
      // one group, any row-level filtering would DROP surviving rows from
      // the replacement. So the operation scan always reads every row.
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        opsSeen.add(info.command().toString)
        val files = currentFiles
        val schema = tableSchema
        () => DmlStorage.fullScan(tableName, files, schema)
      }
      // ... and its write REPLACES that group with the surviving rows the
      // rewrite computed (copy-on-write). See MarkerStripFactory for how
      // the ReplaceData stream's __row_operation marker is consumed.
      override def newWriteBuilder(info2: LogicalWriteInfo): WriteBuilder =
        new DmlWriteBuilder(DmlTable.this, info2, replaceAll = true)
    }
}

/** A read-only historical version of a [[DmlTable]] (`VERSION AS OF`). */
private[sources] class DmlSnapshot(
    snapName: String, snapSchema: StructType, files: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = snapName
  override def schema(): StructType = snapSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    DmlStorage.scanBuilder(snapName, files, snapSchema, options)
}

/** The delegation seam to Spark's own DSv2 parquet source: scans are real
  * `ParquetScan`s (vectorized, column-pruning, filter-pushing), writes are
  * real `ParquetWrite`s (executor-side `FileWriterFactory` tasks + a
  * `FileCommitProtocol` job commit). This connector adds only versioned
  * METADATA on top.
  */
private[sources] object DmlStorage {
  private def parquetTable(name: String, files: Seq[String], schema: StructType): ParquetTable =
    ParquetTable(name, SparkSession.active, CaseInsensitiveStringMap.empty(),
      files, Some(schema), classOf[ParquetFileFormat])

  /** Full-featured scan builder (pushdown + pruning) for plain reads. */
  def scanBuilder(
      name: String, files: Seq[String], schema: StructType,
      options: CaseInsensitiveStringMap): ScanBuilder =
    if (files.isEmpty) () => new EmptyScan(schema)
    else parquetTable(name, files, schema).newScanBuilder(options)

  /** Pushdown-free full-table scan for row-level operation reads. */
  def fullScan(name: String, files: Seq[String], schema: StructType): Scan =
    if (files.isEmpty) new EmptyScan(schema)
    else parquetTable(name, files, schema)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()

  def newBatchWrite(info: LogicalWriteInfo, stagingDir: File): BatchWrite =
    ParquetWrite(Seq(stagingDir.getAbsolutePath), "parquet", _ => true, info).toBatch

  def listDataFiles(dir: File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}

/** Scan of a version with no files yet (freshly created table). */
private[sources] class EmptyScan(schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    (_: InputPartition) => throw new IllegalStateException("empty scan has no partitions")
}

/** Append by default; `replaceAll` for copy-on-write group replacement;
  * `truncate()` upgrades an append to an overwrite (INSERT OVERWRITE).
  * Each write stages into a fresh directory through Spark's parquet write
  * path; the driver-side commit first commits the delegate job (task files
  * become visible atomically via the commit protocol), then installs the
  * new version's file list.
  */
private[sources] class DmlWriteBuilder(
    table: DmlTable, info: LogicalWriteInfo, replaceAll: Boolean)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val staging = table.newStagingDir()
      val delegate = DmlStorage.newBatchWrite(info, staging)
      val replace = replaceAll || truncateFirst
      val dataSchema = info.schema()
      new BatchWrite {
        override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
          MarkerStripFactory(delegate.createBatchWriterFactory(p), dataSchema)
        override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()
        override def onDataWriterCommit(message: WriterCommitMessage): Unit =
          delegate.onDataWriterCommit(message)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          delegate.commit(messages)
          table.installVersion(DmlStorage.listDataFiles(staging), replace)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          delegate.abort(messages)
          DmlStorage.deleteRecursively(staging)
        }
      }
    }
  }
}

/** Strips the row-level-operation marker before rows reach the parquet
  * writer, streaming — no buffering in either task or driver.
  *
  * Row-level (ReplaceData) streams arrive UNprojected when the operation
  * declares no required metadata attributes: Spark's plain
  * `DataWritingSparkTask` hands the writer the full query-output row — a
  * leading `__row_operation` INT marker, then the data columns
  * (`LogicalWriteInfo.schema()` still reports only the data columns). The
  * marker is detected by arity (numFields == schema+1), validated to be a
  * write flavor (5=WRITE, 6=WRITE_WITH_METADATA — deleted rows never
  * reach a ReplaceData stream), and dropped; plain appends pass through.
  */
private[sources] case class MarkerStripFactory(
    delegate: DataWriterFactory, dataSchema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      private lazy val markedProj = UnsafeProjection.create(
        dataSchema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i + 1, f.dataType, f.nullable):
            org.apache.spark.sql.catalyst.expressions.Expression
        }.toIndexedSeq)
      override def write(record: InternalRow): Unit =
        if (record.numFields == dataSchema.length + 1) {
          val op = record.getInt(0)
          require(op == 5 || op == 6, s"unexpected __row_operation marker $op")
          inner.write(markedProj(record))
        } else inner.write(record)
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
