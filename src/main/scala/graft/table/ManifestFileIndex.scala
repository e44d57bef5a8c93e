package graft.table

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  NoopCache, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.WriteShim
import org.apache.spark.sql.types.StructType

/** The file index of every graft table scan: the data files a manifest
  * already names, planned without rediscovering them. Delta Lake
  * (Armbrust et al., VLDB 2020) plans scans from its log the same way;
  * `spark.read.parquet(paths)` would instead resolve the data source,
  * check every path in a fresh thread pool, list each one through an
  * `InMemoryFileIndex` (a Spark job above 32 paths) and infer partitions
  * from the listing.
  *
  * Each file costs one `stat` for its length and modification time —
  * the two fields a scan reads — so a file deleted from disk still fails
  * when the DataFrame is built, naming the file. Everything else is
  * Spark's own [[PartitioningAwareFileIndex]]: the partition spec is its
  * `inferPartitioning()` over the files' directories (typed by the read
  * schema, bounded by the `basePath` option), so partition pruning,
  * `PartitionFilters` and dynamic partition pruning behave exactly as on
  * a listed read. The index is built per read and holds nothing beyond
  * it. `paths` are local file paths, as every graft table's are. */
private[graft] class ManifestFileIndex(spark: SparkSession,
    val paths: Seq[String], val readSchema: StructType,
    parameters: Map[String, String])
  extends PartitioningAwareFileIndex(spark, parameters, Some(readSchema),
    NoopCache) {

  private val statuses: Array[FileStatus] = {
    lazy val fs = new Path(paths.head).getFileSystem(hadoopConf)
    lazy val blockSize = fs.getDefaultBlockSize(new Path(paths.head))
    paths.iterator.map { s =>
      val q = fs.makeQualified(new Path(s))
      val a = Files.readAttributes(Paths.get(q.toUri),
        classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, blockSize, a.lastModifiedTime.toMillis,
        q)
    }.toArray
  }

  override val rootPaths: Seq[Path] = statuses.toSeq.map(_.getPath)

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(statuses.iterator.map(f => f.getPath -> f))

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  /** Manifest files are immutable: there is nothing to re-list. */
  override def refresh(): Unit = ()

  // the same identity InMemoryFileIndex has, so two reads of one file
  // set are the same relation to the cache manager
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => rootPaths.toSet == m.rootPaths.toSet
    case _ => false
  }

  override def hashCode(): Int = rootPaths.toSet.hashCode
}

private[graft] object ManifestFileIndex {

  /** A parquet scan of `paths` under the read schema `schema`, built as
    * `DataSource.resolveRelation` builds one for
    * `spark.read.schema(schema).parquet(paths)`: the partition columns
    * the index infers leave the data schema (and come back at the END of
    * the scan output), the data schema is made nullable, and `basePath`
    * stays in the relation options — [[graft.sql.GraftPartPrune]]
    * derives the table root from it. */
  def scan(spark: SparkSession, schema: StructType, paths: Seq[String],
      basePath: Option[String]): DataFrame = {
    val options = CaseInsensitiveMap(basePath.map("basePath" -> _).toMap)
    val index = new ManifestFileIndex(spark, paths, schema, options)
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      WriteShim.asNullable(dataSchema), None, new ParquetFileFormat,
      options)(spark))
  }
}
