package graft.sources

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.sources.{EqualTo => SrcEqualTo, Filter => SrcFilter, In => SrcIn}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An in-memory keyed table as a DataSource V2 provider with key-lookup
  * pushdown: equality / IN filters on the key column are answered from a
  * hash index on the driver — only the matching rows are ever read. This is
  * the Spark analog of the reference's provider-side dynamic-filter
  * optimization, where the "temporal database" provider served pushed
  * point/IN lookups at 55×/116× over scanning
  * (`/root/reference/datafusion-dynamic-filter/README.md:37-51`).
  *
  * Two pushdown paths:
  *   - planning-time ([[KeyedScanBuilder.pushFilters]]) for ordinary SQL,
  *     which ships the matching rows to an executor in a one-task job;
  *   - execute-time for prepared statements: the bind (`ScanRebind.push`)
  *     hands the bound conjuncts to a fresh [[KeyedScanBuilder]] and puts
  *     the scan it builds into the bound plan, so every `execute(params)` is an index lookup
  *     even though the plan was built with unresolved placeholders.
  *     `executeCollect` then evaluates a narrow project/filter chain over
  *     the keyed scan on the driver with no job at all (`graft.prepared.DriverTier`); a full scan
  *     (`keys = None`) or any wider plan still runs as a job.
  */
object KeyedMemTables {

  /** Driver-side table state: schema + key column + hash index. Partitions
    * carry their rows, so executors never need the registry.
    */
  case class Entry(schema: StructType, keyCol: String, byKey: Map[Any, Array[Array[Any]]])

  private[graft] val registry = TrieMap.empty[String, Entry]

  /** Materialize `df` as a keyed mem table and register a temp view reading
    * through the V2 source.
    *
    * Scale story: this `collect()`s the table to the driver by design — it
    * is the analog of the reference's in-memory provider (a MemTable the
    * "temporal database" serves lookups from), i.e. a DIMENSION-sized
    * side table (≲ a few GB), not a fact table. The value demonstrated is
    * the pushdown protocol: a prepared point lookup ships only the matching
    * rows from the provider instead of scanning. A 100 TB source would keep
    * the same `SupportsPushDownFilters` + `ScanRebind` surface but back it
    * with a partitioned/indexed store instead of a driver map.
    */
  def register(spark: SparkSession, name: String, df: DataFrame, keyCol: String): Unit = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val byKey = df.collect().map(_.toSeq.toArray).groupBy(_(keyIdx))
    registry.put(name, Entry(schema, keyCol, byKey))
    spark.read.format(classOf[KeyedMemSource].getName).option("table", name).load()
      .createOrReplaceTempView(name)
  }

  /** Drop one keyed table: removes the driver-side index (freeing its rows —
    * a registered table otherwise lives for the session) and the temp view.
    * Queries planned before the unregister fail on next execute, like any
    * dropped table.
    */
  def unregister(spark: SparkSession, name: String): Boolean = {
    spark.catalog.dropTempView(name)
    registry.remove(name).isDefined
  }

  /** The keys a lookup ships: those every pushed key set allows, without
    * NULL. A NULL value never MATCHES under SQL semantics (`k = NULL` is
    * NULL, and `k IN ('a', NULL)` is NULL — filtered — for a NULL key), and
    * planner-pushed filters are not re-applied after the scan, so shipping
    * byKey(null)'s rows would RETURN rows a correct engine excludes. Both
    * pushdown paths (planning-time [[KeyedScanBuilder]], execute-time
    * `ScanRebind`) go through here.
    */
  private[graft] def intersectKeys(sets: Seq[Set[Any]]): Seq[Any] =
    sets.reduce(_ intersect _).filter(_ != null).toSeq
}

class KeyedMemSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedMemTables.registry(options.get("table")).schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KeyedMemTable(properties.get("table"))
}

class KeyedMemTable(tableName: String) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = KeyedMemTables.registry(tableName).schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedScanBuilder(tableName)
}

class KeyedScanBuilder(table: String) extends ScanBuilder with SupportsPushDownFilters {
  private var pushed = Array.empty[SrcFilter]

  override def pushFilters(filters: Array[SrcFilter]): Array[SrcFilter] = {
    val keyCol = KeyedMemTables.registry(table).keyCol
    val (accepted, residual) = filters.partition {
      case SrcEqualTo(a, _) => a.equalsIgnoreCase(keyCol)
      case SrcIn(a, _)      => a.equalsIgnoreCase(keyCol)
      case _                => false
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[SrcFilter] = pushed

  override def build(): Scan = {
    val keys =
      if (pushed.isEmpty) None
      else Some(KeyedMemTables.intersectKeys(pushed.toSeq.map {
        case SrcEqualTo(_, v) => Set[Any](v)
        case SrcIn(_, vs)     => vs.toSet[Any]
        case _                => Set.empty[Any]
      }))
    KeyedMemScan(table, keys)
  }
}

/** `keys = None` → full scan (partitioned); `keys = Some(ks)` → index lookup
  * shipping only the matching rows.
  */
case class KeyedMemScan(table: String, keys: Option[Seq[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = KeyedMemTables.registry(table).schema
  override def toBatch: Batch = this
  override def description(): String =
    s"KeyedMemScan(table=$table, keys=${keys.map(_.mkString("[", ",", "]")).getOrElse("ALL")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val e = KeyedMemTables.registry(table)
    keys match {
      case Some(ks) =>
        Array(KeyedPartition(e.schema, ks.flatMap(k => e.byKey.getOrElse(k, Array.empty)).toArray))
      case None =>
        // full scan: one partition per key group batch (simple fixed fan-out)
        val all = e.byKey.values.flatten.toArray
        val n = math.max(1, math.min(8, all.length))
        val size = math.max(1, (all.length + n - 1) / n)
        all.grouped(size).map(KeyedPartition(e.schema, _)).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = KeyedReaderFactory
}

case class KeyedPartition(schema: StructType, rows: Array[Array[Any]]) extends InputPartition

object KeyedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val kp = p.asInstanceOf[KeyedPartition]
    val conv = CatalystTypeConverters.createToCatalystConverter(kp.schema)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < kp.rows.length }
      override def get(): InternalRow =
        conv(Row.fromSeq(kp.rows(i).toIndexedSeq)).asInstanceOf[InternalRow]
      override def close(): Unit = ()
    }
  }
}
