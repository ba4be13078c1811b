package graft.operators

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Query handle over the partitioned tracking pool (SURVEY.md §2/§3.2;
  * reference `GridironQuery`, `/root/reference/src/query.py`).
  *
  * All methods return lazy DataFrames; nothing is collected to the driver.
  * Partition discovery makes `season`/`gameId` partition columns, so
  * game-keyed filters prune to single directories
  * (`PruneFileSourcePartitions`), and the key-universe query reads only the
  * two key columns thanks to column pruning. The generic algebra lives in
  * [[Relational]]; this is the tracking-schema veneer.
  */
final case class Pool(spark: SparkSession, root: String) {

  private val keyCols = Seq("gameId", "playId")

  /** The pool's rows, resolved on the driver ([[Pool.read]]). */
  def df: DataFrame = Pool.read(spark, root)

  /** AND-fold caller predicates (reference `src/query.py:34-36`). */
  def filtered(filters: Seq[Column]): DataFrame =
    Relational.filtered(df, filters)

  /** Sampled keys only (driver-friendly small result).
    *
    * Exact-n seeded sampling has no direct Spark primitive: `sample()` is
    * fraction-based and partitioning-dependent. Ranking by
    * `xxhash64(gameId, playId, seed)` is deterministic for a given seed,
    * stable under any partitioning / cluster size, and `limit(n)` makes it
    * exact. The reference's degenerate branches (`src/query.py:45-52`:
    * empty → empty, fewer-than-n → all) fall out of `limit` semantics with
    * no driver-side count.
    */
  def sampleKeys(
      n: Int, filters: Seq[Column] = Nil, seed: Long = 42L): DataFrame =
    sampleFrom(filtered(filters), n, seed)

  /** Ranks the distinct play universe of `rows` (`src/query.py:39-43`). */
  private def sampleFrom(rows: DataFrame, n: Int, seed: Long): DataFrame =
    Relational.sampleExact(
      Relational.distinctKeys(rows, keyCols), n,
      Relational.hashRank(keyCols.map(col), seed), keyCols.map(col))

  /** Seeded, exact-n, no-replacement play sample joined back to all frames
    * of the chosen plays (`src/query.py:31-55`). The sampled key set is
    * ≤ n rows → broadcast hash join back to the pool (no shuffle of the big
    * side; at 100 TB the pool is never moved).
    *
    * The pool is resolved ONCE: the key universe, the ranking and the
    * join-back all derive from one filtered frame, so a sample pays one
    * Spark listing and one driver-side footer read ([[Pool.read]]), and
    * starts no Spark job before its plan runs.
    */
  def samplePlays(
      n: Int, filters: Seq[Column] = Nil, seed: Long = 42L): DataFrame = {
    val rows = filtered(filters)
    Relational.joinBack(rows, sampleFrom(rows, n, seed), keyCols)
  }
}

/** Driver-side resolution of a parquet read's data schema. Without a
  * declared schema, `spark.read.parquet` reads the footer of the first
  * data file (in full-path order; non-merging inference touches no
  * other file) in a Spark job of its own, a `parquet at` job in front
  * of every ML batch and play fetch. Reading that same footer here and
  * declaring its Spark schema returns the same rows and schema with no
  * job. Nothing is recorded at write time, so pools written by any
  * version resolve the same way.
  */
object Pool {

  /** The rows under `root`, as `spark.read.parquet(root)` returns them. */
  private[graft] def read(spark: SparkSession, root: String): DataFrame =
    reader(spark, Seq(root)).parquet(root)

  /** A reader for the (non-nested) directories `dirs` that declares the
    * data schema inference would find, or infers when it cannot tell.
    */
  private[graft] def reader(spark: SparkSession,
      dirs: Seq[String]): DataFrameReader =
    inferredSchema(spark, dirs).fold(spark.read)(spark.read.schema)

  /** The schema inference would return, read on the driver from the
    * Spark metadata in the first data file's footer. None (infer) when
    * schema merging is on, a path is a glob, the first file is empty,
    * unreadable or lacks Spark metadata, a summary file is in the way,
    * or one of its columns shares a name with a `k=v` directory on its
    * path (declaring it would move that column to the end).
    */
  private[graft] def inferredSchema(spark: SparkSession,
      dirs: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        dirs.exists(_.exists("{}[]*?\\".contains(_)))) None
    else Try {
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(dirs.head).getFileSystem(conf)
      // Spark's listing skips these names (HadoopFSUtils), but keeps
      // summary files, which parquet inference would read first
      def listed(s: FileStatus): Boolean = {
        val n = s.getPath.getName
        require(!n.startsWith("_metadata") &&
          !n.startsWith("_common_metadata"), "summary file")
        !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".") &&
          !n.endsWith("._COPYING_")
      }
      // depth-first in full-path order: a directory sorts as `name/`,
      // so the leaves of `g=1-2/` precede those of `g=1/`, as in Spark
      def leaves(s: FileStatus): Iterator[FileStatus] =
        if (!s.isDirectory) Iterator(s)
        else fs.listStatus(s.getPath).filter(listed)
          .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
          .iterator.flatMap(leaves)
      val first = dirs.map(d => fs.getFileStatus(new Path(d)))
        .sortBy(_.getPath.toString + "/").iterator.flatMap(leaves).next()
      require(first.getLen > 0, "empty file")
      val json = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      val schema = DataType.fromJson(json).asInstanceOf[StructType]
      val dirKeys = first.getPath.toUri.getPath.split('/')
        .filter(_.contains('=')).map(_.takeWhile(_ != '=').toLowerCase)
        .toSet
      require(!schema.fieldNames.exists(n => dirKeys(n.toLowerCase)),
        "partition-named column")
      schema
    }.toOption
}
