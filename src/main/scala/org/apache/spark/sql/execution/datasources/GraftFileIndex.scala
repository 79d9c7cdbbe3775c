package org.apache.spark.sql.execution.datasources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.FileStats.FileEntry
import graft.storage.PartitionPaths

/** The one file index of a tiered table's parquet reads: Spark's own
  * [[InMemoryFileIndex]], handed the files the table already listed
  * ([[graft.storage.FileStats.entries]]) so that Spark lists no
  * directory itself, and given a partition spec built here from each
  * file's `col=value` segments. So every root of a Hive-layout table
  * (snapshot dirs, log segments, kept `snap-N/col=v` subdirs) reads as
  * one table: each leaf dir is its own partition path, and Spark runs
  * no partition discovery across the roots, whose different bases it
  * would refuse as conflicting directory structures.
  *
  * Lives in this package for Spark's partition-value parser
  * (`private[datasources]`), which types each value exactly as a
  * one-root discovery does.
  */
object GraftFileIndex {

  /** A parquet table over `roots`, each with the files listed under it.
    * `layout` names the Hive layout columns whose trailing `col=value`
    * segments carry partition values; every file must carry the same
    * columns in the same order. Partition values take `schema`'s types;
    * without a schema, the file schema and the values' types are
    * inferred, as Spark infers them over one root.
    */
  def table(spark: SparkSession, name: String, roots: Seq[(String, Seq[FileEntry])],
            layout: Seq[String], schema: Option[StructType],
            options: CaseInsensitiveStringMap): ParquetTable = {
    lazy val files = index(spark, roots, layout, schema, options)
    new ParquetTable(name, spark, options, Nil, schema, classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex = files
    }
  }

  private def index(spark: SparkSession, roots: Seq[(String, Seq[FileEntry])],
                    layout: Seq[String], schema: Option[StructType],
                    options: CaseInsensitiveStringMap): InMemoryFileIndex = {
    val params = options.asCaseSensitiveMap.asScala.toMap
    val conf = spark.sessionState.newHadoopConfWithOptions(params)
    val listed = roots.map { case (root, files) =>
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(conf)
      fs.makeQualified(rootPath) -> files.map(f =>
        new FileStatus(f.bytes, false, 0, 0, 0, fs.makeQualified(new Path(f.path)))).toArray
    }
    val byRoot = listed.toMap
    val handedOver = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byRoot.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val dirs = roots.flatMap(_._2).zip(listed.flatMap(_._2)).map { case (f, st) =>
      st.getPath.getParent -> PartitionPaths.segments(f.path, layout)
    }.distinct
    new InMemoryFileIndex(spark, listed.map(_._1), params, schema, handedOver,
      Some(partitionSpec(spark, dirs, schema)))
  }

  /** One partition path per leaf dir, valued from its segments by
    * Spark's own parser. The parser sees the segments alone, under one
    * synthetic base, so values from different roots type together (one
    * type per column, widened over every value) and never read as
    * conflicting directory structures.
    */
  private def partitionSpec(spark: SparkSession, dirs: Seq[(Path, Seq[String])],
                            schema: Option[StructType]): PartitionSpec = {
    if (dirs.forall(_._2.isEmpty)) return PartitionSpec.emptySpec
    val base = new Path("/")
    val asPath = dirs.map(_._2).distinct.map(s => s -> s.foldLeft(base)(new Path(_, _))).toMap
    val conf = spark.sessionState.conf
    val parsed = PartitioningUtils.parsePartitions(asPath.values.toSeq,
      conf.partitionColumnTypeInferenceEnabled, Set(base), schema, conf.caseSensitiveAnalysis,
      conf.validatePartitionColumns, conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
    val values = parsed.partitions.map(p => p.path -> p.values).toMap
    PartitionSpec(parsed.partitionColumns, dirs.map { case (dir, segs) =>
      PartitionPath(values.getOrElse(asPath(segs), throw new IllegalArgumentException(
        s"$dir has no partition values where its siblings have " +
          parsed.partitionColumns.fieldNames.mkString(", "))), dir)
    })
  }
}
