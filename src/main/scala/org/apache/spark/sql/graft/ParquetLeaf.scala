package org.apache.spark.sql.graft

import java.io.Closeable
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.predicate.{FilterApi, LogicalInverseRewriter}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{MetadataAttribute, PlanExpression}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil, SparkPlan}
import org.apache.spark.sql.execution.datasources.{
  DataSourceUtils, FileFormat, FileStatusWithMetadata, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFilters, ParquetFooterReader, ParquetOptions}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.sources.Filter

/** A prepared statement's state for reading one v1 parquet scan on the
  * driver: the reader function a task would build, and the footers of the
  * files it has read.
  *
  * The reader is built once, on the first driver read (so `prepare()` does
  * not pay for it), with the prepare-time filters and row output; building
  * it per execute copied and broadcast the Hadoop conf every time. Each
  * file's footer is read once and kept, keyed by path, length and
  * modification time, for as long as the file is listed. The file list
  * itself is never kept: every read takes it from the bound scan's
  * `selectedPartitions`, as the scan's job would, so the driver read sees
  * exactly the files the job path sees.
  */
final class ParquetLeaf private (frozen: FileSourceScanExec) {
  private val relation = frozen.relation
  private val session = relation.sparkSession

  private lazy val hadoopConf: Configuration = frozen.getHadoopConf(session, relation.options)

  private lazy val readFile: PartitionedFile => Iterator[InternalRow] =
    relation.fileFormat.buildReaderWithPartitionValues(
      session, relation.dataSchema, relation.partitionSchema, frozen.requiredSchema,
      FileScans.pushedDownFilters(frozen),
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)

  private lazy val rebaseMode = new ParquetOptions(relation.options, session.sessionState.conf)
    .datetimeRebaseModeInRead

  // per file version (path, length, modification time) of the latest listing
  private val footers = new ConcurrentHashMap[(String, Long, Long), Footer]()

  private def key(file: FileStatusWithMetadata) =
    (file.getPath.toString, file.getLen, file.getModificationTime)

  private def footer(file: FileStatusWithMetadata): Footer = footers.computeIfAbsent(key(file), _ => {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file.fileStatus, hadoopConf), ParquetMetadataConverter.NO_FILTER)
    val conf = session.sessionState.conf
    val fileMeta = meta.getFileMetaData
    val translate =
      if (!conf.parquetFilterPushDown) None
      else Some(new ParquetFilters(fileMeta.getSchema, conf.parquetFilterPushDownDate,
        conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
        conf.parquetFilterPushDownStringPredicate, conf.parquetFilterPushDownInFilterThreshold,
        conf.caseSensitiveAnalysis,
        DataSourceUtils.datetimeRebaseSpec(fileMeta.getKeyValueMetaData.get(_), rebaseMode)))
    new Footer(meta.getBlocks.asScala.toIndexedSeq, translate)
  })

  /** The row groups of a file that `filters` cannot rule out by their
    * statistics: Spark's own filter translation for the file's schema,
    * then parquet-mr's statistics filter, the check its `RowGroupFilter`
    * makes at the statistics level. A task's reader also tries
    * dictionaries and bloom filters, so it may skip more.
    */
  private def rowGroups(footer: Footer, filters: Seq[Filter]): Seq[BlockMetaData] =
    footer.translate.flatMap(t => filters.flatMap(t.createFilter).reduceOption(FilterApi.and))
      .map(LogicalInverseRewriter.rewrite)
      .fold(footer.blocks)(p => footer.blocks.filterNot(b => StatisticsFilter.canDrop(p, b.getColumns)))

  /** One byte range per run of adjacent kept row groups. Parquet assigns a
    * row group to the range holding its midpoint, so a reader given these
    * ranges reads the kept row groups and no other.
    */
  private def ranges(footer: Footer, kept: Seq[BlockMetaData]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    var next = 0
    var start, end = -1L
    footer.blocks.foreach { b =>
      if (next < kept.length && (kept(next) eq b)) {
        if (start < 0) start = b.getStartingPos
        end = b.getStartingPos + b.getCompressedSize
        next += 1
      } else if (start >= 0) {
        out += ((start, end - start)); start = -1
      }
    }
    if (start >= 0) out += ((start, end - start))
    out.toSeq
  }

  /** The bound scan's rows read on the driver, or `None` when its row groups
    * that survive the bound filters hold more than `maxRows` rows (known
    * from the footers before any read; no footer is read once the count
    * passes the bound). Fills the
    * scan's driver metrics (`numFiles` and its siblings) and
    * `numOutputRows`, and `outputRows`, as the job path would. Each opened
    * reader is added to `opened` for the caller to close: on the driver no
    * task-completion listener closes it.
    */
  private def read(
      scan: FileSourceScanExec,
      outputRows: SQLMetric,
      maxRows: Long,
      opened: ArrayBuffer[Closeable]): Option[Iterator[InternalRow]] = {
    val filters = FileScans.pushedDownFilters(scan)
    val listed = FileScans.selectedPartitions(scan).filePartitionIterator
      .flatMap(part => part.files.map(file => (part.values, file))).toIndexedSeq
    footers.keySet.retainAll(listed.map(f => key(f._2)).toSet.asJava)
    val kept = ArrayBuffer.empty[(InternalRow, FileStatusWithMetadata, Footer, Seq[BlockMetaData])]
    var rows = 0L
    val files = listed.iterator
    while (rows <= maxRows && files.hasNext) {
      val (values, file) = files.next()
      val f = footer(file)
      val groups = rowGroups(f, filters)
      rows += groups.map(_.getRowCount).sum
      kept += ((values, file, f, groups))
    }
    if (rows > maxRows) None
    else {
      val splits = kept.flatMap { case (values, file, f, groups) =>
        ranges(f, groups).map { case (start, length) =>
          PartitionedFileUtil.getPartitionedFile(file, file.getPath, values, start, length)
        }
      }
      FileScans.sendDriverMetrics(scan)
      val numOutputRows = scan.longMetric("numOutputRows")
      Some(splits.iterator.flatMap { split =>
        val in = readFile(split)
        in match {
          case c: Closeable => opened += c
          case _            =>
        }
        in
      }.map { row =>
        numOutputRows += 1
        outputRows += 1
        row
      })
    }
  }
}

/** A parquet file's row groups, and Spark's translation of data-source
  * filters for its schema (`None` when parquet filter pushdown is off),
  * both taken on the file's first read under the session conf of that
  * moment, as the statement's reader function is.
  */
private final class Footer(val blocks: Seq[BlockMetaData], val translate: Option[ParquetFilters])

object ParquetLeaf {

  /** The cost rule's bound: a bind whose surviving row groups hold more rows
    * keeps its job, whose tasks decode in parallel; the driver decodes on
    * one thread. Set at the crossover `graft.ParquetTierProbe` (in the
    * tests) measures on one shape (4-core host, `local[4]`, a 600k-row
    * single file of 4,096-row row groups, five columns read, two runs): a
    * bind that returns about one row per thousand scanned is faster on the
    * driver up to 164k rows, within 16 ms either way from 197k to 262k, and
    * slower at 328k; one that returns every row scanned ties near 328k.
    */
  val MaxDriverRows: Long = 192000L

  private val Tag = TreeNodeTag[ParquetLeaf]("graft.parquetLeaf")

  /** Gives every eligible scan of a freshly planned statement its driver-read
    * state. The tag rides every copy the bind and the rebind make of the
    * scan, so each execute's bound scan finds its statement's state.
    *
    * Eligible: a plain [[ParquetFileFormat]] scan read as columnar batches
    * (the vectorized reader, whose row iterator can be closed), not
    * bucketed, not streaming, with no metadata columns, no subquery or
    * non-deterministic filter, and neither `ignoreCorruptFiles` nor
    * `ignoreMissingFiles` set (only a task's file iterator honours them).
    */
  def attach(plan: SparkPlan): Unit = plan.foreach {
    case s: FileSourceScanExec if eligible(s) => s.setTagValue(Tag, new ParquetLeaf(s))
    case _                                    =>
  }

  private def eligible(s: FileSourceScanExec): Boolean = {
    val options = new FileSourceOptions(s.relation.options)
    s.relation.fileFormat.getClass == classOf[ParquetFileFormat] && s.supportsColumnar &&
    s.stream.isEmpty && !s.bucketedScan &&
    s.output.length == s.requiredSchema.length + s.relation.partitionSchema.length &&
    !s.output.exists(a => MetadataAttribute.isValid(a.metadata)) &&
    (s.partitionFilters ++ s.dataFilters).forall { e =>
      e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])
    } &&
    !options.ignoreCorruptFiles && !options.ignoreMissingFiles
  }

  /** The bound scan's rows read on the driver, or `None` (keep the job) when
    * the scan carries no statement state or its surviving row groups hold
    * more than `maxRows` rows. `outputRows` is the `numOutputRows` of the
    * `ColumnarToRowExec` above the scan.
    */
  def rows(
      scan: FileSourceScanExec,
      outputRows: SQLMetric,
      maxRows: Long,
      opened: ArrayBuffer[Closeable]): Option[Iterator[InternalRow]] =
    scan.getTagValue(Tag).flatMap(_.read(scan, outputRows, maxRows, opened))
}
