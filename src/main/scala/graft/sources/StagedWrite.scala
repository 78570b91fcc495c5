package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** One distributed parquet write into a private staging directory,
  * with the touched partitions read back from the staging listing.
  *
  * The write is the only Spark job: the partitions a write touches
  * are read from the directories Spark created, rather than from a
  * `select(partitionCols).distinct().collect()` over the input, which
  * costs two more jobs under AQE and a second evaluation of the input.
  * So partition values are validated after the data lands, in
  * staging: a rejected write deletes its staging tree, and nothing
  * reaches the dataset.
  *
  * Spark names each partition directory `escape(k)=escape(v)`, with
  * null and empty-string values both written to
  * `__HIVE_DEFAULT_PARTITION__`. Callers address partitions by the raw
  * `k=v` path, so both cases are rejected: a default-partition
  * directory, and a value Spark path-escaped (escaping always emits
  * `%`, and escapes `%` itself, so a `%` in the directory name means
  * the raw value differs from the name on disk). */
private[sources] object StagedWrite {

  /** Partition values (in `partitionColumns` order) and the staged
    * parquet files of one partition, files sorted by name: Spark's
    * part-file names encode task order. */
  type Staged = Seq[(Seq[(String, String)], Seq[FileStatus])]

  /** Writes `df` as parquet into `staging` (which must not exist),
    * partitioned by `partitionColumns`, validates the staged partition
    * values, and hands the staged files to `publish`, which moves them
    * into place. `staging` is deleted afterwards, also when the write,
    * the validation or `publish` fails. `who` prefixes the validation
    * messages. */
  def land[T](fs: FileSystem, staging: Path, df: DataFrame,
              partitionColumns: Seq[String], options: Map[String, String],
              who: String)(publish: Staged => T): T =
    try {
      val writer = df.write.mode("append").options(options)
      (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*)
       else writer).parquet(staging.toString)
      publish(listStaged(fs, staging, partitionColumns, who))
    } finally fs.delete(staging, true)

  /** Spark's own reader rule: `_`/`.` names are not data, except
    * `_`-prefixed partition directories (they contain `=`). */
  def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  private def listStaged(fs: FileSystem, staging: Path,
                         partitionColumns: Seq[String], who: String): Staged = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        if (who.isEmpty) msg.capitalize else s"$who: $msg")
    // one listing per directory, the outermost partition column first
    def walk(dir: Path, kvs: Vector[(String, String)]): Staged = {
      val (dirs, files) = fs.listStatus(dir)
        .filterNot(st => hidden(st.getPath.getName)).sortBy(_.getPath.getName)
        .partition(_.isDirectory)
      if (kvs.length == partitionColumns.length) {
        val parquet = files.filter(_.getPath.getName.endsWith(".parquet")).toSeq
        if (parquet.isEmpty) Seq.empty else Seq(kvs -> parquet)
      } else {
        val c = partitionColumns(kvs.length)
        dirs.toSeq.flatMap { d =>
          val name = d.getPath.getName
          val v = name.substring(name.indexOf('=') + 1)
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            fail(s"partition column '$c' contains null values or empty-string values " +
              "(Spark writes both to __HIVE_DEFAULT_PARTITION__, outside the k=v layout)")
          if (v.contains('%'))
            fail(s"partition column '$c' value '${ExternalCatalogUtils.unescapePathName(v)}' " +
              "contains characters Spark path-escapes; only path-literal partition " +
              "values are supported")
          walk(d.getPath, kvs :+ (c -> v))
        }
      }
    }
    if (fs.exists(staging)) walk(staging, Vector.empty) else Seq.empty
  }
}
