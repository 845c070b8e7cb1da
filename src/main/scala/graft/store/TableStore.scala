package graft.store

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Delta-less table store: Delta-like observable semantics on plain Parquet
  * (SURVEY §7.4). Layout:
  *
  * {{{
  *   <root>/<table>/v=N/part-*.parquet   — immutable snapshot per version
  *   <root>/<table>/_meta.json           — version log + schema + PKs + props
  * }}}
  *
  * `_meta.json` is the commit pointer. It is read and written on the
  * driver by the store's metadata codec ([[MetaJson]], Jackson): a
  * metadata read launches no Spark job, a torn file raises instead of
  * reading as defaults, and a commit replaces the file by atomic rename.
  * Reads of the current version pass the schema it records to the Parquet
  * reader, so building the frame needs no footer-inference job either.
  *
  * Every operation that writes a version — [[overwrite]], [[upsert]],
  * [[append]], [[appendFiles]], [[replaceWhere]], [[replacePartitions]],
  * [[compact]] and [[FeatureStore.save]] — goes through the one commit
  * point, `commit`: lock → read the metadata → write `v=N+1` → guard →
  * publish. An operation supplies only what is its own (schema policy,
  * merge, predicate, partition listing, pruning). The snapshot's layout
  * (bucketed, hive-partitioned or plain) is chosen in one place,
  * `writeSnapshot`, from the metadata being committed.
  *
  * == Transactions (exactly-once streaming writes) ==
  *
  * `_meta.json` may carry one transaction id, `txn` holding `(app,
  * batch, version)`: Delta's `txn` action (app id + version). A `foreachBatch`
  * trigger opens `store.txn(checkpoint, batchId)`, a view over the same
  * root and write locks, and does all its reads and writes through it:
  *
  *  - a write through the view stamps `(app, batch, v)` in the `Meta` it
  *    commits, so the id commits atomically with the data; a write to a
  *    table that already holds `(app, ≥ batch)` is a no-op, and a second
  *    write through one view to one table raises (a programming error,
  *    not a replay);
  *  - `exists` and `read` through the view see each table as it was
  *    before this txn: a table holding `(app, batch)` committed at `v`
  *    reads as version `v − 1`, or as absent when `v = 0`;
  *  - a table holding another app's txn raises: batch ids are only
  *    monotonic within one checkpoint.
  *
  * A replayed trigger therefore reads what the first attempt read and
  * skips what it already wrote. `commit` is the one place that stamps a
  * txn; every later write carries the table's txn forward. A table no
  * view wrote has no `txn` field.
  *
  * Reference semantics delivered:
  *  - upsert-by-PK (`notebooks/utils.py:1748-1758` MERGE) = union incoming
  *    with current, window-dedup by PK preferring the incoming row — ONE
  *    shuffle on the PK, no join blowup, scales with data volume;
  *  - schema evolution mergeSchema/overwriteSchema (`utils.py:1694-1737`);
  *  - time travel: read version N-1 (`monitor.py:57-71`);
  *  - replaceWhere partition-scoped overwrite (`storage_operations.py:161-202`);
  *  - OPTIMIZE-style compaction (`utils.py:1761-1767`) = repartition rewrite;
  *  - TBLPROPERTIES (`utils.py:1440-1504`) = key/values in _meta.json.
  *
  * Scale note: snapshots are written with the caller's partitioning; the
  * upsert path shuffles once on the primary keys — at cluster scale the
  * natural upgrade is bucketed snapshots so consecutive upserts reuse the
  * same hash partitioning; the layout (dir-per-version) maps 1:1 onto an
  * object store.
  *
  * == Concurrency contract (multi-writer, r15) ==
  *
  * Writes commit through ONE meta-pointer file per table, so the unit of
  * isolation is the TABLE:
  *
  *  - '''Same JVM''' (two streaming gates, two threads, two TableStore
  *    instances over the same root): every mutating op serializes on a
  *    process-wide (normalized root, table) monitor — concurrent writers
  *    to the SAME table interleave safely (each sees the other's commit;
  *    no lost update), and writers to different tables don't contend.
  *    This is the two-foreachBatch-gates-one-Spark-app case: gates may
  *    share a store as long as their TABLES are disjoint (they are — each
  *    gate owns its index and clean tables), and even a misconfigured
  *    shared table degrades to serialized commits, not corruption.
  *  - '''Cross process''': the monitor cannot reach another JVM. Each
  *    commit re-reads the meta pointer under the lock immediately before
  *    writing it and FAILS FAST (`ConcurrentModificationException`) when
  *    the version moved since the op read it — a lost update is detected,
  *    not silently absorbed. The residual window (two processes writing
  *    the same `v=N+1` dir before either commits) is not defensible on a
  *    plain filesystem without atomic rename-based logs; the operating
  *    contract is therefore ONE WRITING PROCESS PER STORE ROOT (readers
  *    unlimited — snapshots are immutable). `expectedVersion` remains the
  *    caller-level optimistic-CAS face on overwrite/upsert.
  */
final class TableStore private (spark: SparkSession, root: String,
                                scope: Option[TableStore.TxnScope]) {

  import TableStore.Meta

  def this(spark: SparkSession, root: String) = this(spark, root, None)

  /** A view of this store under the transaction `(app, batch)` — see the
    * class doc. A streaming gate opens one per trigger, with its
    * checkpoint and batch id. */
  def txn(app: String, batch: Long): TableStore =
    new TableStore(spark, root, Some(new TableStore.TxnScope(app, batch)))

  /** True when this view's transaction, or a later batch of its app, is
    * already in `table` (metadata only; always false outside a view).
    * Raises when the table holds another app's txn. */
  def committed(table: String): Boolean = meta(table).exists(held(table, _))

  private def held(table: String, m: Meta): Boolean = scope.exists { s =>
    m.txn.exists { t =>
      if (t.app != s.app)
        throw new IllegalStateException(
          s"table '$table' was accumulated under checkpoint '${t.app}' but this " +
            s"query runs under '${s.app}' — batchIds are only monotonic within " +
            "one checkpoint, so a replay cannot be told from new data. Resume " +
            "with the original checkpoint dir, or start fresh tables.")
      t.batch >= s.batch
    }
  }

  /** The version this view reads: the committed one, or the one before
    * this view's txn when the table holds it (None: the txn created it). */
  private def visibleVersion(table: String, m: Meta): Option[Int] =
    m.txn.filter(t => held(table, m) && scope.exists(_.batch == t.batch))
      .fold(Option(m.version))(t => Some(t.version - 1).filter(_ >= 0))

  /** Process-wide write serialization + commit-time lost-update detection
    * — see the class-doc concurrency contract. Reentrant (a JVM monitor). */
  private def withWriteLock[T](table: String)(body: => T): T = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString + "#" + table
    TableStore.writeLocks.computeIfAbsent(key, _ => new Object)
      .synchronized(body)
  }

  /** Fail fast when the on-disk meta pointer moved between this op's
    * entry read and its commit — a concurrent writer in ANOTHER process
    * (same-process writers are excluded by the lock). */
  private def commitGuard(table: String, readVersion: Option[Int]): Unit = {
    val now = meta(table).map(_.version)
    if (now != readVersion)
      throw new java.util.ConcurrentModificationException(
        s"$table: version moved ${readVersion.getOrElse(-1)} -> " +
          s"${now.getOrElse(-1)} during this write — a concurrent writer " +
          "in another process committed first; re-read and retry (the " +
          "contract is one writing process per store root)")
  }

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def versionDir(table: String, v: Int): Path =
    tableDir(table).resolve(s"v=$v")
  private def metaPath(table: String): Path = tableDir(table).resolve("_meta.json")
  private def noSuchTable(table: String): Nothing = sys.error(s"no such table: $table")

  // ------------------------------------------------------------- metadata

  /** Publish `m` as the table's committed metadata (atomic replace). */
  private def writeMeta(table: String, m: Meta): Meta = {
    MetaJson.publish(metaPath(table), TableStore.encode(m))
    m
  }

  /** The table's committed metadata, read on the driver (no Spark job);
    * None when the table does not exist. A torn or malformed `_meta.json`
    * raises an error naming the file. */
  def meta(table: String): Option[Meta] =
    MetaJson.read(metaPath(table))(TableStore.decode)

  def exists(table: String): Boolean = meta(table).flatMap(visibleVersion(table, _)).isDefined

  def setProperties(table: String, props: Map[String, String]): Unit =
    withWriteLock(table) {
      val m = meta(table).getOrElse(noSuchTable(table))
      // metadata-delta minimization (utils.py:1482-1487): only rewrite on change
      if (props.toSet.subsetOf(m.properties.toSet)) ()
      else writeMeta(table, m.copy(properties = m.properties ++ props))
    }

  /** The one commit point for every operation that writes a version.
    * Under the table's write lock it reads the committed metadata once
    * (None for a new table). Through a txn view, a second write to the
    * table raises and a table already holding the txn makes the commit a
    * no-op (None). Otherwise it checks `expectedVersion` and clears what
    * an uncommitted writer left at the next version's dir: phantom rows
    * that an appending write would absorb, and partial hardlinks that a
    * retry's `createLink` would trip over. `body` then writes the
    * snapshot for version `v` and returns the metadata to publish, with
    * its own result. Last, the guard re-reads the pointer and `_meta.json`
    * is published with the view's txn stamped, or the table's carried
    * forward. */
  private[store] def commit[R](table: String, expectedVersion: Option[Int] = None)(
      body: (Option[Meta], Int) => (Meta, R)): Option[(Meta, R)] = withWriteLock(table) {
    val current = meta(table)
    scope.foreach { s =>
      if (!s.written.add(table))
        throw new IllegalStateException(
          s"$table: a second write through the txn view (${s.app}, ${s.batch})")
    }
    if (current.exists(held(table, _))) None
    else {
      checkExpected(table, current.map(_.version), expectedVersion)
      val v = current.fold(0)(_.version + 1)
      deleteRecursively(versionDir(table, v))
      val (next, result) = body(current, v)
      require(next.version == v, s"$table: a commit of v=$v published v=${next.version}")
      commitGuard(table, current.map(_.version))
      val txn = scope.map(s => TableStore.Txn(s.app, s.batch, v)).orElse(current.flatMap(_.txn))
      Some((writeMeta(table, next.copy(txn = txn)), result))
    }
  }

  // ----------------------------------------------------------------- read

  def read(table: String): DataFrame = {
    val m = meta(table).getOrElse(noSuchTable(table))
    visibleVersion(table, m).fold(noSuchTable(table))(v =>
      if (v == m.version) readCurrent(table, m) else readVersion(table, v))
  }

  /** Time travel (S13): read any retained snapshot. Bucketed snapshots are
    * read through their catalog entry so the scan reports the PK hash
    * partitioning (falls back to the path when the catalog entry is gone,
    * e.g. a fresh session over an existing store — data is identical, only
    * the co-location metadata is lost). Only the current version has its
    * schema recorded; an older one is read with footer inference. */
  def readVersion(table: String, version: Int): DataFrame = meta(table) match {
    case Some(m) if m.version == version => readCurrent(table, m)
    case m => readSnapshot(table, version, m.fold(0)(_.buckets), None)
  }

  /** The current snapshot, read with the schema `_meta.json` records, so
    * building the frame runs no footer-inference job. With a user schema
    * Spark appends hive partition columns last, as inference does, and
    * types them from the schema instead of from the directory names. */
  private def readCurrent(table: String, m: Meta): DataFrame =
    readSnapshot(table, m.version, m.buckets, Some(m.schema))

  private def readSnapshot(table: String, version: Int, buckets: Int,
                           schema: Option[StructType]): DataFrame = {
    val cat = catalogName(table, version)
    if (buckets > 0 && spark.catalog.tableExists(cat)) spark.table(cat)
    else schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(versionDir(table, version).toString)
  }

  /** Append-only write: the first call creates the table as [[overwrite]]
    * with `primaryKeys` would, later calls append as [[appendFiles]] —
    * O(batch) written per call. Create-or-append is decided inside the
    * commit, under the table's write lock, so two first writers cannot
    * replace each other's rows. */
  def append(table: String, df: DataFrame, primaryKeys: Seq[String] = Nil): Unit =
    commit(table) { (current, v) =>
      if (current.isEmpty) overwritten(table, df, primaryKeys)(current, v)
      else filesAppended(table, df)(current, v)
    }

  /** FILE-LEVEL append: the new snapshot version is `df`'s files plus
    * hardlinks of every previous data file — O(batch) data written +
    * O(files) inode links, never a table rewrite ([[upsert]] rewrites).
    * This is the log-structured form a per-trigger streaming ingest needs:
    * measured r13 (`datagen.StreamAnchor` at sf1), the containment ingest
    * gate's per-trigger cost was INDEX-sized under upsert re-seeding
    * (~32–48 s per 10k-doc trigger, growing with the accumulated corpus)
    * because every trigger rewrote the corpus-sized postings/grams
    * snapshots.
    *
    * Contract: plain or hive-partitioned snapshots (bucketed layouts
    * carry catalog file metadata — they upsert); the incoming schema must
    * match the stored schema exactly (mixed-schema files in one version
    * dir corrupt reads); and THE CALLER OWNS PK UNIQUENESS — this op does
    * not dedup, so an at-least-once replay appends duplicate rows (guard
    * replays, or make consumers duplicate-tolerant). File count grows per
    * append; [[compact]] reconciles (layout-preserving). Time travel is
    * preserved: hardlinked files survive source-version pruning via inode
    * refcounts, exactly like [[replacePartitions]].
    *
    * Hive-partitioned form (r15, the streaming-IVF ingest shape): the
    * batch is written with the table's `partitionBy` and every previous
    * partition dir's files are hardlinked into the matching new dir —
    * O(batch) data + O(files) links, partition pruning intact, untouched
    * partitions share inodes with the previous version. Contrast
    * [[replacePartitions]], which REPLACES the touched partitions'
    * contents. */
  def appendFiles(table: String, df: DataFrame): Unit =
    commit(table)(filesAppended(table, df))

  /** The [[appendFiles]] body. */
  private def filesAppended(table: String, df: DataFrame)(
      current: Option[Meta], v: Int): (Meta, Unit) = {
    val m = current.getOrElse(noSuchTable(table))
    require(m.buckets == 0,
      s"$table: appendFiles supports plain or hive-partitioned snapshots; " +
        "bucketed tables upsert (catalog-registered file layout)")
    val d = SchemaDiff.diff(m.schema, df.schema)
    require(d.isCompatible,
      s"$table: appendFiles needs the stored schema exactly (${d.describe})")
    val next = m.copy(version = v)
    // column order normalized to the stored schema; writer part-file names
    // are UUID-fresh, so they never collide with the linked files
    writeSnapshot(table, df.select(m.schema.fieldNames.toIndexedSeq.map(col): _*), next)
    linkFiles(versionDir(table, m.version), versionDir(table, v))
    (next, ())
  }

  /** Hardlink the data files under `from` into the same relative place
    * under `to`, walking hive partition dirs (`col=value`) and leaving out
    * the partition dirs named in `skip` (paths relative to `from`). Job
    * markers (`_SUCCESS`) and their checksums belong to the writer of
    * `to`, not to the data. */
  private def linkFiles(from: Path, to: Path, skip: Set[String] = Set.empty): Unit = {
    def walk(dir: Path): Unit = {
      val target = to.resolve(from.relativize(dir).toString)
      Files.createDirectories(target)
      Files.list(dir).iterator().asScala.foreach { f =>
        val name = f.getFileName.toString
        if (Files.isDirectory(f)) {
          if (name.contains("=") && !skip(from.relativize(f).toString)) walk(f)
        } else if (!name.startsWith("_") && !name.startsWith("._"))
          Files.createLink(target.resolve(name), f)
      }
    }
    walk(from)
  }

  /** Catalog identifier for a bucketed snapshot — scoped by a store-root
    * hash so stores over different temp dirs don't collide in a shared
    * session catalog. */
  private def catalogName(table: String, version: Int): String =
    f"graft_${math.abs(root.hashCode)}%x_${table}_v$version"

  /** Write `df` as the snapshot of `next.version`, in the layout `next`
    * records — the one place that chooses between bucketed,
    * hive-partitioned and plain.
    *
    * With `buckets > 0` the snapshot is a catalog-registered EXTERNAL
    * bucketed table at the version dir: the files stay in the store
    * layout, and readers via [[readVersion]] get a scan whose output
    * partitioning is `hash(pks) % buckets` — so the next upsert's
    * window/anti-join over the STORED side needs no Exchange. That is the
    * production pattern for a 100 TB feature table: the big side is
    * written hash-placed once and every later merge only shuffles the
    * incoming batch.
    *
    * `shuffleToBuckets` controls file layout, NOT correctness: the bucketed
    * writer splits every task's rows into per-bucket files regardless of
    * input partitioning. The initial overwrite pre-shuffles (one file per
    * bucket — it is paying its one full shuffle anyway); the UPSERT path
    * passes false so the already-hash-placed stored side streams straight
    * to the writer and only the incoming batch has shuffled — otherwise
    * the write would re-shuffle the whole table and undo the anti-join
    * topology's point. Extra per-task bucket files are reconciled by
    * [[compact]]. */
  private def writeSnapshot(table: String, df: DataFrame, next: Meta,
                            shuffleToBuckets: Boolean = true): Unit = {
    val dir = versionDir(table, next.version).toString
    val pks = next.primaryKeys
    if (next.buckets > 0 && pks.nonEmpty) {
      val in = if (shuffleToBuckets) df.repartition(next.buckets, pks.map(col): _*) else df
      in.write.mode("overwrite").format("parquet")
        .option("path", dir)
        .bucketBy(next.buckets, pks.head, pks.tail: _*)
        .sortBy(pks.head, pks.tail: _*)
        .saveAsTable(catalogName(table, next.version))
    } else if (next.partitionCols.nonEmpty)
      // hive-layout snapshot: reads prune partition dirs on the partition
      // predicate (the date-partitioned 100 TB feature-table layout)
      df.write.mode("overwrite").partitionBy(next.partitionCols: _*).parquet(dir)
    else df.write.mode("overwrite").parquet(dir)
  }

  def currentVersion(table: String): Int =
    meta(table).map(_.version).getOrElse(-1)

  // ---------------------------------------------------------------- write

  /** S7 — overwrite write with schema-evolution policy. A new immutable
    * version dir is written; the previous version stays readable (time
    * travel) until compaction prunes it. */
  def overwrite(table: String, df: DataFrame,
                primaryKeys: Seq[String] = Nil, timestampKeys: Seq[String] = Nil,
                description: String = "", mergeSchema: Boolean = false,
                overwriteSchema: Boolean = false,
                expectedVersion: Option[Int] = None,
                buckets: Int = 0, partitionBy: Seq[String] = Nil): Unit =
    commit(table, expectedVersion)(overwritten(table, df, primaryKeys, timestampKeys,
      description, mergeSchema, overwriteSchema, buckets, partitionBy))

  /** Rows in the snapshot of `version`, summed from its Parquet footers on
    * the driver: no Spark job, and no query listener. */
  private[store] def snapshotRows(table: String, version: Int): Long = {
    val conf = spark.sessionState.newHadoopConf()
    Files.walk(versionDir(table, version)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** The [[overwrite]] body: the schema policy applied to `df` against
    * `current`, and the keys and layout from the arguments or else from
    * `current`; `properties` are added to the committed ones. Returns the
    * metadata to publish. */
  private[store] def overwritten(
      table: String, df: DataFrame,
      primaryKeys: Seq[String] = Nil, timestampKeys: Seq[String] = Nil,
      description: String = "", mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false, buckets: Int = 0,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty)(
      current: Option[Meta], v: Int): (Meta, Unit) = {
    val out = current match {
      case Some(m) =>
        val d = SchemaDiff.diff(m.schema, df.schema)
        if (d.isCompatible || overwriteSchema) df
        else if (mergeSchema) {
          // Delta `mergeSchema` overwrite semantics (`utils.py:1694-1737`):
          // the final schema is the UNION of stored and incoming — new
          // columns are appended, stored columns absent from the incoming
          // frame are kept and null-padded; type changes are never allowed
          // under mergeSchema (overwriteSchema is the only escape hatch).
          if (d.typeChanged.nonEmpty)
            sys.error(s"type changes on $table require overwriteSchema (${d.describe})")
          val padded = d.missingColumns.foldLeft(df) { (acc, c) =>
            acc.withColumn(c, lit(null).cast(m.schema(c).dataType))
          }
          padded.select((m.schema.fieldNames.toSeq ++ d.newColumns).map(col): _*)
        } else
          sys.error(s"schema mismatch for $table (${d.describe}); pass mergeSchema or overwriteSchema")
      case None => df
    }
    val nb = if (buckets > 0) buckets else current.map(_.buckets).getOrElse(0)
    val pcols = if (partitionBy.nonEmpty) partitionBy else current.map(_.partitionCols).getOrElse(Nil)
    require(nb == 0 || pcols.isEmpty,
      s"$table: bucketed and hive-partitioned layouts are mutually exclusive")
    val next = Meta(v, out.schema.json,
      if (primaryKeys.nonEmpty) primaryKeys else current.map(_.primaryKeys).getOrElse(Nil),
      if (timestampKeys.nonEmpty) timestampKeys else current.map(_.timestampKeys).getOrElse(Nil),
      nb,
      if (description.nonEmpty) description else current.map(_.description).getOrElse(""),
      current.map(_.properties).getOrElse(Map.empty) ++ properties,
      pcols)
    (next, writeSnapshot(table, out, next))
  }

  /** S8 — upsert by primary key (MERGE whenMatchedUpdate +
    * whenNotMatchedInsert, `utils.py:1748-1758`): current ∪ incoming →
    * one window-dedup on the PK preferring the incoming row. Missing
    * columns on either side are null-padded (implicit ALTER ADD COLUMNS,
    * `utils.py:1727-1737`). Idempotent: replaying a batch yields the same
    * table. */
  def upsert(table: String, df: DataFrame, primaryKeys: Seq[String] = Nil,
             expectedVersion: Option[Int] = None): Unit =
    commit(table, expectedVersion)(upserted(table, df, primaryKeys))

  /** The [[upsert]] body, as [[overwritten]]; a first write overwrites. */
  private[store] def upserted(table: String, df: DataFrame,
                              primaryKeys: Seq[String] = Nil,
                              properties: Map[String, String] = Map.empty)(
      current: Option[Meta], v: Int): (Meta, Unit) = current match {
    case None =>
      require(primaryKeys.nonEmpty, "first write needs primaryKeys")
      overwritten(table, df, primaryKeys, properties = properties)(None, v)
    case Some(m) =>
      val pks = if (primaryKeys.nonEmpty) primaryKeys else m.primaryKeys
      require(pks.nonEmpty, s"$table has no primary keys; cannot upsert")
      val merged = mergedForUpsert(table, df, pks, m)
      val next = m.copy(version = v, schemaJson = merged.schema.json,
        properties = m.properties ++ properties)
      (next, writeSnapshot(table, merged, next, shuffleToBuckets = false))
  }

  /** Build the post-merge frame for an upsert (exposed for plan-shape
    * specs). Two formulations with identical semantics — prefer the
    * incoming row per PK, tiebreak within a batch by a content hash so
    * replays stay idempotent (Delta MERGE would fail on multiple matches):
    *
    *  - unbucketed: union-tag + one window over the whole union (ONE
    *    shuffle of current ∪ incoming);
    *  - bucketed: dedup only the incoming batch (one shuffle of the BATCH),
    *    left-anti the bucketed current against it (bucketed scan already
    *    hash-placed on the PK → no Exchange on the stored side), union.
    *    At 100 TB this is the difference between shuffling the table and
    *    shuffling the day's increment. */
  private[graft] def mergedForUpsert(table: String, df: DataFrame,
                                     pks: Seq[String], m: Meta): DataFrame = {
    if (m.buckets > 0) {
      val current = readCurrent(table, m)
      // implicit ALTER ADD COLUMNS on both sides (utils.py:1727-1737)
      val curTypes = current.schema.map(f => f.name -> f.dataType).toMap
      val incTypes = df.schema.map(f => f.name -> f.dataType).toMap
      val allCols = (current.columns ++ df.columns.filterNot(curTypes.contains)).toSeq
      def pad(d: DataFrame, types: Map[String, org.apache.spark.sql.types.DataType]) =
        allCols.foldLeft(d) { (acc, c) =>
          if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast(types(c)))
        }.select(allCols.map(col): _*)
      val dataCols = allCols.filterNot(pks.contains)
      val w = Window.partitionBy(pks.map(col): _*)
        .orderBy(payloadHash(dataCols).desc)
      val incDedup = pad(df, curTypes)
        .repartition(m.buckets, pks.map(col): _*)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
      pad(current, incTypes)
        .join(incDedup.select(pks.map(col): _*), pks, "left_anti")
        .unionByName(incDedup)
    } else {
      val current = readCurrent(table, m).withColumn("__src", lit(0))
      val incoming = df.withColumn("__src", lit(1))
      val unioned = current.unionByName(incoming, allowMissingColumns = true)
      val dataCols = unioned.columns.filterNot(c => c == "__src" || pks.contains(c))
      val w = Window.partitionBy(pks.map(col): _*)
        .orderBy(col("__src").desc, payloadHash(dataCols.toIndexedSeq).desc)
      unioned
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__src", "__rn")
    }
  }

  /** Content hash that breaks PK ties in [[mergedForUpsert]]; a table of
    * key columns only has no payload (`xxhash64()` rejects zero columns). */
  private def payloadHash(dataCols: Seq[String]) =
    if (dataCols.isEmpty) lit(0L) else xxhash64(dataCols.map(col): _*)

  /** S9 — replaceWhere: rewrite only the rows NOT matching the predicate,
    * union the incoming batch (partition-scoped overwrite semantics,
    * `storage_operations.py:161-202`), in the table's layout. */
  def replaceWhere(table: String, df: DataFrame, predicate: String): Unit =
    commit(table) { (current, v) =>
      val m = current.getOrElse(noSuchTable(table))
      val out = readCurrent(table, m).where(s"NOT ($predicate)")
        .unionByName(df, allowMissingColumns = true)
      val next = m.copy(version = v, schemaJson = out.schema.json)
      writeSnapshot(table, out, next)
      (next, ())
    }

  /** Change-data view between two snapshot versions: one row per primary
    * key whose state differs, tagged `__change` ∈ added / removed /
    * updated — the audit surface for "what did this pipeline run change"
    * (the reference eyeballs row counts per run, `monitor.py`; this is
    * the exact per-key answer). Payload equality is xxhash64 over the
    * non-PK columns of the SHARED schema (schema-evolution columns only
    * present in one version count as a difference).
    *
    * Scale: both snapshots project to (PK, 64-bit payload hash) before
    * the full-outer join — the shuffle carries ~16 bytes/row regardless
    * of row width, and on a bucketed table both sides are pre-placed so
    * the join is zero-Exchange. */
  def diffVersions(table: String, vOld: Int, vNew: Int): DataFrame = {
    val m = meta(table).getOrElse(noSuchTable(table))
    require(m.primaryKeys.nonEmpty, s"$table has no primary keys to diff by")
    val pks = m.primaryKeys
    // hash the SHARED payload columns (sorted, so column order is
    // irrelevant) plus a schema marker: versions with different extra
    // columns report every surviving key as updated, which is the honest
    // answer for a schema-evolution boundary
    val oldDf = readVersion(table, vOld)
    val newDf = readVersion(table, vNew)
    val shared = oldDf.columns.toSet.intersect(newDf.columns.toSet)
      .filterNot(pks.contains).toSeq.sorted
    def sideHash(df: DataFrame, as: String) = {
      val extras = df.columns.toSeq.filterNot(c => shared.contains(c) || pks.contains(c))
      // Spark's hash functions SKIP null inputs, so (a='x', b=null) and
      // (a=null, b='x') would collide for same-typed neighbors; fold a
      // per-column null indicator in so null position changes the hash
      val hashed = shared.flatMap(c => Seq(col(c), isnull(col(c)).cast("int")))
      df.select(pks.map(col) :+
        xxhash64((hashed :+ lit(extras.sorted.mkString(","))): _*).as(as): _*)
    }
    val o = sideHash(oldDf, "__h_old")
    val n = sideHash(newDf, "__h_new")
    o.join(n, pks, "full_outer")
      .withColumn("__change",
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "updated"))
      .where(col("__change").isNotNull)
      .select(pks.map(col) :+ col("__change"): _*)
  }

  /** Dynamic partition overwrite: write a new snapshot version where only
    * the hive partitions PRESENT in `df` are rewritten — every untouched
    * partition's files are HARDLINKED from the previous version (inode
    * reuse, zero data copied or shuffled), which is the economics that
    * makes daily rewrites of one day inside a 100 TB date-partitioned
    * feature table viable (the [[replaceWhere]] path rewrites the whole
    * table; production lakehouses do exactly this partition-level file
    * reuse via manifests). Immutability is preserved: hardlinked files
    * survive compaction pruning the source version (inode refcount), and
    * time travel to the previous version still reads the original files.
    *
    * Partition VALUES are matched by their hive directory encoding; the
    * touched set is derived by listing the NEW version's directories
    * after the write, so it is consistent with what was actually written
    * even for a nondeterministic `df` (one evaluation, no collect), and
    * hive-escaped values (spaces etc.) match by construction — both
    * versions' dir names come from the same Spark writer encoding. */
  def replacePartitions(table: String, df: DataFrame): Unit =
    commit(table) { (current, v) =>
      val m = current.getOrElse(noSuchTable(table))
      require(m.partitionCols.nonEmpty,
        s"$table is not hive-partitioned; use overwrite/replaceWhere")
      require(df.columns.toSet == m.schema.fieldNames.toSet,
        s"$table: replacePartitions needs the stored schema (mixed-schema " +
          s"partitions would corrupt reads); got ${df.columns.mkString(",")}")
      val next = m.copy(version = v)
      writeSnapshot(table, df, next)
      val newDir = versionDir(table, v)
      def partitionDirs(base: Path, depth: Int): Seq[Path] =
        if (depth == 0) Seq(base)
        else Files.list(base).iterator().asScala.toSeq
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
          .flatMap(p => partitionDirs(p, depth - 1))
      // the touched partitions, in hive dir encoding (col=value/col2=value2),
      // read back from what the writer ACTUALLY produced — a nondeterministic
      // df cannot drift between "decide touched" and "write"
      val touched = partitionDirs(newDir, m.partitionCols.size)
        .map(p => newDir.relativize(p).toString).toSet
      linkFiles(versionDir(table, m.version), newDir, skip = touched)
      (next, ())
    }

  /** S12 — compaction: rewrite current version with `n` files and prune
    * versions older than `retain`. */
  def compact(table: String, n: Int = 1, retain: Int = 2): Unit =
    withWriteLock(table) {
      commit(table) { (current, v) =>
        val m = current.getOrElse(noSuchTable(table))
        val in = readCurrent(table, m)
        // writeSnapshot keeps the layout: a bucketed table is re-hashed to
        // one file per bucket; a hive-partitioned one is hashed on its
        // partition cols, so each value lands in one task → one file per
        // partition dir
        val next = m.copy(version = v)
        writeSnapshot(table,
          if (m.buckets > 0) in
          else if (m.partitionCols.isEmpty) in.repartition(n)
          else in.repartition(n, m.partitionCols.map(col): _*), next)
        (next, ())
      }.foreach { case (m, _) =>
        Files.list(tableDir(table)).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("v="))
          .filter(p => p.getFileName.toString.drop(2).toInt <= m.version - retain)
          .foreach { p =>
            spark.sql(s"DROP TABLE IF EXISTS ${catalogName(table, p.getFileName.toString.drop(2).toInt)}")
            deleteRecursively(p)
          }
      }
    }

  /** Optimistic concurrency (the Delta `txnVersion` face): a writer that
    * read version V passes `expectedVersion = Some(V)` (or None for a
    * fresh table via -1 semantics) and the write fails instead of silently
    * clobbering a concurrent writer's snapshot. Callers that don't care
    * pass None and keep last-writer-wins. */
  private def checkExpected(table: String, actual: Option[Int],
                            expected: Option[Int]): Unit =
    expected.foreach { e =>
      val a = actual.getOrElse(-1)
      if (a != e)
        throw new java.util.ConcurrentModificationException(
          s"$table: expected version $e but found $a (concurrent write)")
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object TableStore {
  /** One monitor per (normalized store root, table) — plain Objects, so
    * the mapping function never computes dependent entries (CLAUDE.md
    * invariant 10b) and entries are tiny enough to live forever. */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The transaction of a txn view, and the tables written through it. */
  private final class TxnScope(val app: String, val batch: Long) {
    val written: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
  }

  /** A committed transaction id: `app` wrote batch `batch` as `version`. */
  final case class Txn(app: String, batch: Long, version: Int)

  final case class Meta(
      version: Int,
      schemaJson: String,
      primaryKeys: Seq[String],
      timestampKeys: Seq[String],
      buckets: Int,
      description: String,
      properties: Map[String, String],
      partitionCols: Seq[String] = Nil,
      txn: Option[Txn] = None) {
    lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** `_meta.json` layout; the field names are the on-disk format. */
  private[store] def encode(m: Meta): ObjectNode = {
    val o = MetaJson.obj().put("version", m.version).put("schemaJson", m.schemaJson)
    MetaJson.putStrings(o, "primaryKeys", m.primaryKeys)
    MetaJson.putStrings(o, "timestampKeys", m.timestampKeys)
    o.put("buckets", m.buckets)
    MetaJson.putStrings(o, "partitionCols", m.partitionCols)
    o.put("description", m.description)
    MetaJson.putStringMap(o, "properties", m.properties)
    m.txn.foreach { t =>
      o.putObject("txn").put("app", t.app).put("batch", t.batch).put("version", t.version)
    }
    o
  }

  private[store] def decode(f: MetaJson.Fields): Meta = Meta(
    f.int("version"), f.str("schemaJson"), f.strings("primaryKeys"),
    f.strings("timestampKeys"), f.intOr("buckets", 0), f.strOr("description", ""),
    f.stringMap("properties"), f.strings("partitionCols"),
    f.objOpt("txn").map(t => Txn(t.str("app"), t.long("batch"), t.int("version"))))
}

/** The feature-store face of [[TableStore]]: validate → save → register,
  * the `FeatureStoreManager.save` flow (`notebooks/utils.py:1919-2045`)
  * with the interactive TimedInput gate replaced by an explicit policy
  * (SURVEY §7.5 non-goal). */
object FeatureStore {
  sealed trait MissingColumnPolicy
  case object FailOnMissing extends MissingColumnPolicy
  case object IgnoreMissing extends MissingColumnPolicy

  /** `rows` is the committed snapshot's row count, read from the footers
    * of the files the write produced (an upsert's count includes the
    * stored rows the batch did not touch). */
  final case class SaveReport(table: String, version: Int, rows: Long,
                              diff: Option[SchemaDiff])

  /** Validate `df` against the stored schema, then overwrite (new or
    * forced) or upsert, as one [[TableStore]] commit: the checks run on
    * the metadata the commit read under the table's write lock, and the
    * `graft.*` key properties and the caller's `properties` ride the data
    * commit, so a save writes `_meta.json` once. */
  def save(store: TableStore, table: String, df: DataFrame,
           primaryKeys: Seq[String], timestampKeys: Seq[String],
           description: String = "", forceOverwrite: Boolean = false,
           overwriteSchema: Boolean = false,
           policy: MissingColumnPolicy = FailOnMissing,
           properties: Map[String, String] = Map.empty): SaveReport =
    store.commit(table) { (current, v) =>
      val diff = current.map(m => SchemaDiff.diff(m.schema, df.schema))
      diff.foreach { d =>
        if (d.missingColumns.nonEmpty && policy == FailOnMissing && !overwriteSchema)
          sys.error(s"missing columns on save of $table: ${d.missingColumns.mkString(", ")}")
        if (d.hasTypeChanges && !overwriteSchema)
          sys.error(s"type changes on save of $table: ${d.describe}")
      }
      val props = properties ++ Map(
        "graft.primaryKeys" -> primaryKeys.mkString(","),
        "graft.timestampKeys" -> timestampKeys.mkString(","),
        "graft.description" -> description)
      val (next, _) =
        if (forceOverwrite || current.isEmpty)
          store.overwritten(table, df, primaryKeys, timestampKeys, description,
            mergeSchema = true, overwriteSchema = overwriteSchema, properties = props)(current, v)
        else store.upserted(table, df, primaryKeys, properties = props)(current, v)
      (next, SaveReport(table, v, store.snapshotRows(table, v), diff))
    }.fold {
      // a txn view's replay: report the snapshot that holds the txn
      val m = store.meta(table).get
      SaveReport(table, m.version, store.snapshotRows(table, m.version), None)
    }(_._2)
}
