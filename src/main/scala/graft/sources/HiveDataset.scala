package graft.sources

import graft.util.PathUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StringType

import scala.collection.immutable.ListMap

/** Hive-partitioned parquet dataset.
  *
  * Three-layer storage model from the reference
  * (/root/reference/README.md:33-37): a dataset is a lexically ordered
  * set of partitions (`k1=v1/k2=v2/...` directories); a partition is a
  * lexically ordered set of fragments; a fragment is a parquet file
  * with rows in any order.
  *
  * Semantics reproduced (citations into /root/reference/polario/):
  *  - partition column values are strings, enforced at write
  *    (hive_dataset.py:366-370) and at read-back (partition values are
  *    re-attached as string columns, hive_dataset.py:186-191).
  *  - `write` is a *dynamic partition overwrite*: only partitions
  *    present in the incoming frame are replaced (hive_dataset.py:
  *    412-415, 223-230).
  *  - `append` adds fragments to existing partitions (hive_dataset.py:
  *    417-420, 232-245).
  *  - fragments are named `NNNNNN_<uuid>.parquet` with the index
  *    continuing from the partition's highest surviving fragment
  *    (hive_dataset.py:51-70), so the lexical fragment-ordering
  *    contract across appends (README.md:35-37) holds on disk.
  *  - fragments are capped at `maxRowsPerFragment` rows
  *    (hive_dataset.py:17, 206-216) — mapped to Spark's
  *    `maxRecordsPerFile` so the cap holds per output task.
  *  - data columns are written in alphabetical order, partition
  *    columns live only in the directory path (hive_dataset.py:
  *    209-211).
  *  - reads merge fragment schemas into a superset with nulls for
  *    missing columns (hive_dataset.py:158-181) — Spark `mergeSchema`.
  *  - empty dataset scans and absent partition reads return None
  *    (hive_dataset.py:314-328, 351-356).
  *
  * Scale notes (100 TB design point): `scan()` is a plain partitioned
  * parquet read — Catalyst partition pruning, predicate pushdown and
  * column pruning all apply downstream; `readPartition` constructs the
  * single partition directory path, so it is one directory listing no
  * matter how many partitions exist. A write or append is ONE Spark
  * job: the data fans out on executors via FileFormatWriter into a
  * private `_staging-<uuid>` directory, and the driver then lists the
  * staged directories (which name the touched partitions) and moves
  * each new file into place. Driver-side metadata work is
  * proportional to the files written, never to dataset age, and no
  * data moves through the driver.
  */
case class HiveDataset(
    url: String,
    partitionColumns: Seq[String] = Nil,
    maxRowsPerFragment: Long = HiveDataset.DefaultRowsPerFragment,
    compression: String = "snappy")(implicit spark: SparkSession)
  extends DatasetLike {

  private val cleanUrl = url.stripSuffix("/")
  private val basePath = new Path(cleanUrl)
  /** Resolving the filesystem eagerly mirrors the reference's
    * constructor-time fsspec scheme validation (hive_dataset.py:
    * 259-262): an unknown scheme fails here, not at first IO. */
  @transient private val fs: FileSystem =
    basePath.getFileSystem(spark.sessionState.newHadoopConf())
  private val qualifiedBase: Path = fs.makeQualified(basePath)

  // ---------------------------------------------------------------
  // Discovery
  // ---------------------------------------------------------------

  /** Relative partition paths (`k1=v1/k2=v2`), lexically sorted
    * (hive_dataset.py:292). Empty partitionColumns → a single root
    * partition (hive_dataset.py:299-305). */
  def partitionPaths(): Seq[String] = {
    if (partitionColumns.isEmpty) return Seq("")
    val glob = new Path(qualifiedBase, partitionColumns.map(k => s"$k=*").mkString("/"))
    val statuses = Option(fs.globStatus(glob)).getOrElse(Array.empty)
    val baseStr = qualifiedBase.toUri.getPath.stripSuffix("/")
    statuses.filter(_.isDirectory).map { st =>
      st.getPath.toUri.getPath.stripPrefix(baseStr).dropWhile(_ == '/')
    }.sorted.toSeq
  }

  /** Ordered partition values for each discovered partition. Raises on
    * malformed directory names (missing '='), matching
    * hive_dataset.py:115-118. */
  def partitions(): Seq[ListMap[String, String]] =
    partitionPaths().filter(_.nonEmpty).map(PathUtils.parsePartitionPath)

  // ---------------------------------------------------------------
  // Read / scan
  // ---------------------------------------------------------------

  /** Whole-dataset scan: superset schema across fragments, partition
    * values attached as string columns, data columns first
    * (alphabetical, matching the on-disk order S12 writes) then
    * partition columns in declared order. None when empty. */
  override def scan(): Option[DataFrame] = {
    val parts = partitionPaths()
    if (partitionColumns.isEmpty) {
      if (!hasParquetFiles(qualifiedBase)) None
      else Some(orderColumns(reader().parquet(cleanUrl)))
    } else if (parts.isEmpty) None
    else {
      val df = reader()
        .option("basePath", qualifiedBase.toString)
        .parquet(parts.map(p => new Path(qualifiedBase, p).toString): _*)
      // Partition values always read back as strings (reference tests
      // test_hive_dataset.py:102-105,125-128), independent of session
      // partition-type-inference settings.
      val cast = partitionColumns.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(StringType)))
      Some(orderColumns(cast))
    }
  }

  /** Eager read in the reference (hive_dataset.py:155-192); in Spark
    * scan/read are the same lazy plan. */
  def read(): Option[DataFrame] = scan()

  /** One DataFrame per partition, in lexical partition order
    * (hive_dataset.py:307-312, 344-349). Each is a pruned single-
    * directory scan. */
  def scanPartitions(): Seq[DataFrame] =
    partitions().flatMap(values => readPartition(values.toMap))

  def readPartitions(): Seq[DataFrame] = scanPartitions()

  /** Targeted single-partition read: validates the key set, reads the
    * one directory, re-attaches partition values as string literal
    * columns. None when absent (hive_dataset.py:314-328). */
  override def readPartition(values: Map[String, String]): Option[DataFrame] = {
    require(
      values.keySet == partitionColumns.toSet,
      s"Partition column value keys ${values.keySet} do not match partition columns $partitionColumns")
    val ordered = partitionColumns.map(k => k -> values(k))
    val dir = new Path(qualifiedBase, PathUtils.partitionPath(ordered))
    if (!hasParquetFiles(dir)) None
    else {
      val df = reader().parquet(dir.toString)
      val withParts = ordered.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
      Some(orderColumns(withParts))
    }
  }

  private def reader() = spark.read.option("mergeSchema", "true")

  /** Whether `dir` holds a parquet file that a Spark read would see:
    * hidden names (write staging, Spark's own markers) are skipped. */
  private def hasParquetFiles(dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val name = st.getPath.getName
      !StagedWrite.hidden(name) &&
        (if (st.isDirectory) hasParquetFiles(st.getPath) else name.endsWith(".parquet"))
    }

  /** Data columns alphabetically, then partition columns in declared
    * order — the reference's read-back layout (partition values
    * appended last, hive_dataset.py:186-191; files hold alphabetical
    * data columns, hive_dataset.py:209-211). */
  private def orderColumns(df: DataFrame): DataFrame = {
    val dataCols = (df.columns.toSet -- partitionColumns).toSeq.sorted
    df.select((dataCols ++ partitionColumns.filter(df.columns.contains)).map(col): _*)
  }

  // ---------------------------------------------------------------
  // Write / append / delete
  // ---------------------------------------------------------------

  /** Dynamic partition overwrite: replaces exactly the partitions
    * present in `df`; other partitions survive (hive_dataset.py:
    * 412-415). */
  override def write(df: DataFrame): Unit = writeMode(df, overwrite = true)

  /** Append fragments to existing partitions (hive_dataset.py:
    * 417-420). */
  override def append(df: DataFrame): Unit = writeMode(df, overwrite = false)

  /** One distributed write into a private `_staging-<uuid>` directory
    * under the dataset (the `_` prefix hides it from every Spark read
    * and from [[hasParquetFiles]]), then a move of each staged file
    * into its partition under a reference-style fragment name
    * (`NNNNNN_<uuid>.parquet`, hive_dataset.py:51-70, 232-245). The
    * touched partitions come from the staging listing, where their
    * values are validated before any file moves ([[StagedWrite]]);
    * the write is the only Spark job, and `df` is evaluated once.
    *
    * `append` continues the index from the partition's highest
    * surviving fragment, so fragments appended later always sort
    * lexically after earlier ones, the reference's ordering contract
    * (README.md:35-37). `write` is a dynamic partition overwrite: it
    * deletes the touched partition's old fragments and restarts at
    * 000000; untouched partitions survive.
    *
    * Cost model: one listing per staged directory, plus one listing
    * and one rename per new file in each TOUCHED partition — metadata
    * cost proportional to the write, not to dataset age; nothing is
    * read or rewritten. A crash before the moves leaves an orphaned
    * `_staging-*` tree that no read sees. */
  private def writeMode(df: DataFrame, overwrite: Boolean): Unit = {
    validate(df)
    val dataCols = (df.columns.toSet -- partitionColumns).toSeq.sorted
    val projected = df.select((dataCols ++ partitionColumns).map(col): _*)
    val staging = new Path(qualifiedBase, s"_staging-${java.util.UUID.randomUUID}")
    StagedWrite.land(fs, staging, projected, partitionColumns,
      Map("compression" -> compression, "maxRecordsPerFile" -> maxRowsPerFragment.toString),
      who = "") { staged =>
      staged.foreach { case (kvs, files) =>
        val dir =
          if (partitionColumns.isEmpty) qualifiedBase
          else new Path(qualifiedBase, PathUtils.partitionPath(kvs))
        var idx =
          if (overwrite) {
            listParquet(dir).map(new Path(dir, _)).foreach(old =>
              require(fs.delete(old, false), s"failed to delete replaced fragment $old"))
            0
          } else repairStrandedFragments(dir)
        fs.mkdirs(dir)
        files.foreach { st =>
          val to = new Path(dir, PathUtils.fragmentName(idx))
          require(fs.rename(st.getPath, to), s"failed to move fragment ${st.getPath} to $to")
          idx += 1
        }
      }
    }
  }

  /** Parquet file names directly in `dir` (fragments are direct
    * children of a partition directory); empty when `dir` is absent. */
  private def listParquet(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq

  /** Repair legacy fragments stranded by an interrupted write of an
    * older layout, which committed Spark `part-*` files straight into
    * the partition and renamed them afterwards. A crash in between left
    * `part-*` names, which sort AFTER every numeric fragment (letters >
    * digits). They are renamed into the fragment sequence, continuing
    * from the highest surviving index, ahead of this write's new files
    * (they committed earlier, so they keep the earlier positions).
    * Returns the next free fragment index of `dir`. */
  private def repairStrandedFragments(dir: Path): Int = {
    val files = listParquet(dir)
    var idx = files.filter(PathUtils.isFragmentName)
      .map(PathUtils.fragmentIndex)
      .foldLeft(-1)(math.max) + 1
    files.filterNot(PathUtils.isFragmentName).sorted.foreach { name =>
      val (from, to) = (new Path(dir, name), new Path(dir, PathUtils.fragmentName(idx)))
      require(fs.rename(from, to), s"failed to repair stranded fragment $from to $to")
      idx += 1
    }
    idx
  }

  /** Write-time validation, matching hive_dataset.py:358-370:
    * partition columns present, at least one data column, partition
    * columns are strings. */
  private def validate(df: DataFrame): Unit = {
    val cols = df.columns.toSet
    require(
      partitionColumns.forall(cols.contains),
      s"Partition columns $partitionColumns not found in dataframe columns ${df.columns.toSeq}")
    require(
      (cols -- partitionColumns).nonEmpty,
      "Dataframe only contains partition columns")
    val schema = df.schema
    partitionColumns.foreach { c =>
      require(
        schema(c).dataType == StringType,
        s"Partition column '$c' must be a string, got ${schema(c).dataType.simpleString}")
    }
  }

  /** Compact one partition: read its fragments and rewrite them as
    * the minimal `maxRowsPerFragment`-chunked set (restarting at
    * fragment 000000 — dynamic overwrite clears the old files
    * first). The maintenance verb for append-heavy partitions: many
    * small appends each create a fragment, and scan cost grows with
    * file count, not bytes (the 100 TB "small files problem"); the
    * reference exposes the same knob per write
    * (hive_dataset.py:17,255) but no rewrite verb.
    *
    * No snapshot is needed: the write lands in staging, so it has
    * read every old fragment before the overwrite deletes them.
    * Returns false when the partition is absent. */
  def compactPartition(values: Map[String, String]): Boolean =
    readPartition(values) match {
      case None => false
      case Some(df) =>
        write(minimalChunks(df))
        true
    }

  /** Compact every partition, one at a time; for an unpartitioned
    * dataset, the whole table. Returns the number of compacted
    * units. */
  def compact(): Int =
    if (partitionColumns.isEmpty)
      scan().map { df => write(minimalChunks(df)); 1 }.getOrElse(0)
    else
      partitions().map(_.toMap).count(compactPartition)

  /** Coalesce a stored frame to the minimal fragment count
    * (`ceil(rows / maxRowsPerFragment)`). `coalesce` is a NARROW
    * dependency — no shuffle; the write's `maxRecordsPerFile` still
    * caps any residual imbalance. The count is a column-less scan. */
  private def minimalChunks(stored: DataFrame): DataFrame = {
    val rows = stored.count()
    stored.coalesce(
      math.max(1L, (rows + maxRowsPerFragment - 1) / maxRowsPerFragment).toInt)
  }

  /** Row-level upsert (SCD-1 merge): rows of `df` REPLACE existing
    * rows carrying the same `keyCols` values; every other existing
    * row is kept. Closes the dataset's CRUD square next to write
    * (S10), append (S11), and delete (S13) — the reference stops at
    * partition-level overwrite; this is the row-level verb a feature
    * store needs.
    *
    * Partition-scoped like every dynamic-overwrite merge (Hive,
    * Delta's replaceWhere): only the partitions PRESENT IN `df` are
    * read and rewritten, so cost is proportional to the incoming
    * batch, never dataset age. Contract: a key's partition values
    * must be stable across versions — a key that moved partitions
    * leaves its old row behind (include the old partition's rows in
    * `df` to move keys). Key columns must exist in both schemas.
    *
    * The anti-join reads the very directories the write replaces; the
    * staged write has read them in full before it deletes any old
    * fragment, so the merge needs no snapshot. */
  def upsert(df: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    keyCols.foreach(k => require(df.columns.contains(k),
      s"upsert key column '$k' missing from the incoming frame"))
    // an unpartitioned dataset is one partition: the whole table
    val existing: Seq[DataFrame] =
      if (partitionColumns.isEmpty) scan().toSeq
      else df.select(partitionColumns.map(col): _*).distinct().collect().toSeq
        .flatMap { r =>
          readPartition(partitionColumns.zipWithIndex.map { case (c, i) =>
            require(!r.isNullAt(i), s"Partition column '$c' contains null values")
            c -> r.get(i).toString
          }.toMap)
        }
    val merged = existing match {
      case Nil => df
      case parts =>
        val old = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        old.join(df.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          .unionByName(df, allowMissingColumns = true)
    }
    write(merged)
  }

  /** Recursively delete one partition directory; validates the key
    * set (hive_dataset.py:330-342). No-op when absent. */
  def deletePartition(values: Map[String, String]): Unit = {
    require(
      values.keySet == partitionColumns.toSet,
      s"Partition column value keys ${values.keySet} do not match partition columns $partitionColumns")
    val ordered = partitionColumns.map(k => k -> values(k))
    val dir = new Path(qualifiedBase, PathUtils.partitionPath(ordered))
    fs.delete(dir, true)
  }
}

object HiveDataset {
  /** hive_dataset.py:17 */
  val DefaultRowsPerFragment: Long = 1000000L
}
