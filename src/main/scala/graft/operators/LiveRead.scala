package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{LongType, StructType}

/** Declared-schema reads of a [[LiveMarker]] snapshot for the
  * bucket-partitioned index families (BM25 postings, ANN vectors). A
  * schema-inferring `spark.read.parquet` runs one footer-reading job
  * per call; declaring the `schema` the family's create call records
  * in its [[MetaFile]] keeps snapshot resolution on the driver.
  * `bucket` is declared LongType, so it stays a bare, dynamically
  * prunable partition attribute (inference reads directory names back
  * as INT, and a post-read cast would wrap the attribute).
  */
private[graft] object LiveRead {

  /** The file system that owns `path` (not the default one). */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The index's creation [[MetaFile]]. */
  def meta(spark: SparkSession, path: String): Map[String, String] =
    MetaFile.read(fs(spark, path), s"$path/meta")

  /** The `schema` meta value: all columns nullable, `bucket` LongType. */
  def schemaDdl(frame: StructType): String =
    StructType(frame.map {
      case f if f.name == "bucket" =>
        f.copy(dataType = LongType, nullable = true)
      case f => f.copy(nullable = true)
    }).toDDL

  /** The declared read schema. An index written before the `schema`
    * key existed infers it ONCE from the live generation.
    */
  def schema(spark: SparkSession, path: String, live: LiveState,
      family: String, meta: Map[String, String]): StructType =
    StructType.fromDDL(meta.getOrElse("schema", schemaDdl(
      spark.read.parquet(s"$path/${live.dir(family)}").schema)))

  /** The snapshot's live rows: the generation of `family` plus its
    * `<segRoot>/batch=<B>` append segments, minus the
    * `tombstones/batch=<B>` ids (broadcast anti-join). `filter` applies
    * to EACH directory read, so partition pruning holds on all of them.
    * The tombstone ids are NOT deduplicated: an id deleted in two
    * batches appears twice on the build side, and an anti-join only
    * asks whether a match exists, so a `distinct` would change no row
    * and cost a shuffle stage on every read.
    */
  def rows(spark: SparkSession, path: String, live: LiveState,
      family: String, segRoot: String, meta: Map[String, String],
      idCol: String, filter: Option[Column] = None): DataFrame = {
    val declared = schema(spark, path, live, family, meta)
    def rd(dir: String): DataFrame = {
      val d = spark.read.schema(declared).parquet(dir)
      filter.fold(d)(d.filter)
    }
    val all = live.appends.foldLeft(rd(s"$path/${live.dir(family)}")) {
      (acc, b) => acc.unionByName(rd(s"$path/$segRoot/batch=$b"))
    }
    if (live.batches.isEmpty) all
    else all.join(
      broadcast(spark.read.schema(StructType(Seq(declared(idCol))))
        .parquet(live.batches.map(b => s"$path/tombstones/batch=$b"): _*)),
      Seq(idCol), "left_anti")
  }
}
