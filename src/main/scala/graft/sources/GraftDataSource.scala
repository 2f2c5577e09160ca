package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{FileDataSourceV2, FileTable}
import org.apache.spark.sql.execution.datasources.v2.csv.{CSVScan, CSVScanBuilder, CSVTable}
import org.apache.spark.sql.execution.datasources.v2.json.{JsonScan, JsonScanBuilder, JsonTable}
import org.apache.spark.sql.execution.datasources.v2.orc.{OrcScan, OrcScanBuilder, OrcTable}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.cache.Admission

/** DataSource V2 caching source — `spark.read.format("graft")` — the
  * idiomatic Spark path of SURVEY §7 phase 7 (the FS-wrapper under
  * `graft://` paths remains for engine parity). Delegates all scan
  * machinery to Spark's own file tables — ParquetTable by default, or
  * Orc/CSV/Json via `.option("format", "orc"|"csv"|"json")`, matching the
  * reference's position that the cache is format-agnostic (any scan under
  * a CachingFileSystem caches identically, rubix-core
  * CachingFileSystem.java:227-260) — while:
  *
  *  - rewriting table paths onto the `graft://` scheme so every read goes
  *    through the executor block cache (vectorized readers, filter +
  *    aggregate pushdown, nested-schema pruning all intact);
  *  - applying projected-column cache admission ([[graft.cache.Admission]])
  *    per scan: the pruned schema width is known exactly at build() time,
  *    and the decision ships to executors inside the scan itself — its
  *    broadcast Hadoop conf for parquet/orc, its OPTIONS for csv/json,
  *    whose reader conf is built from options.
  */
class GraftDataSource extends FileDataSourceV2 {
  // Only consulted on the V1 fallback path, which "graft" never takes
  // (custom sources are not in spark.sql.sources.useV1SourceList).
  override def fallbackFileFormat: Class[_ <: FileFormat] =
    classOf[ParquetFileFormat]
  override def shortName(): String = "graft"

  /** The user path on the `graft://` scheme. Hadoop `Path` parses the raw
    * string and quotes what a URI cannot hold (`%`, spaces), exactly as
    * `spark.read.parquet` would. */
  private def toGraft(p: String): String = {
    val u = new Path(p).toUri
    if (u.getScheme == "graft") p
    else new Path("graft", null, u.getPath).toString
  }

  private def makeTable(options: CaseInsensitiveStringMap,
      userSchema: Option[StructType]): Table = {
    val paths = getPaths(options).map(toGraft)
    val tableName = "graft " + paths.mkString(",")
    val fmt = Option(options.get("format")).getOrElse("parquet").toLowerCase
    // drop our routing key so the delegate sees only its own options
    val delegateOpts = new CaseInsensitiveStringMap(
      getOptionsWithoutPaths(options).asScala.toMap.removed("format").asJava)
    val delegate: FileTable = fmt match {
      case "parquet" => ParquetTable(tableName, sparkSession, delegateOpts,
        paths, userSchema, classOf[ParquetFileFormat])
      case "orc" => OrcTable(tableName, sparkSession, delegateOpts,
        paths, userSchema, classOf[OrcFileFormat])
      case "csv" => CSVTable(tableName, sparkSession, delegateOpts,
        paths, userSchema, classOf[CSVFileFormat])
      case "json" => JsonTable(tableName, sparkSession, delegateOpts,
        paths, userSchema, classOf[JsonFileFormat])
      case other => throw new IllegalArgumentException(
        s"graft source: unsupported format '$other' (parquet|orc|csv|json)")
    }
    val minCols = options.getInt("graft.cache.min.projected.columns",
      sparkSession.sessionState.newHadoopConf()
        .getInt(graft.cache.CacheConfig.MinColumnsKey, 0))
    new GraftTable(delegate, minCols)
  }

  override def getTable(options: CaseInsensitiveStringMap): Table =
    makeTable(options, None)

  override def getTable(options: CaseInsensitiveStringMap,
      schema: StructType): Table = makeTable(options, Some(schema))
}

/** Read-side table wrapper; writes go through `df.write.parquet("graft://…")`
  * (pure FS delegation), so only read capabilities are advertised. */
final class GraftTable(delegate: FileTable, minCols: Int)
    extends Table with SupportsRead {
  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[Transform] = delegate.partitioning
  override def properties(): java.util.Map[String, String] = delegate.properties
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate match {
      case p: ParquetTable => new GraftScanBuilder(p, minCols, options)
      case t: OrcTable => new GraftOrcScanBuilder(t, minCols, options)
      case t: CSVTable => new GraftCsvScanBuilder(t, minCols, options)
      case t: JsonTable => new GraftJsonScanBuilder(t, minCols, options)
      case t => t.newScanBuilder(options)
    }
}

/** ParquetScanBuilder with cache-admission control at build() time, when
  * the pruned projection width is final. */
final class GraftScanBuilder(delegate: ParquetTable, minCols: Int,
    options: CaseInsensitiveStringMap)
  extends ParquetScanBuilder(delegate.sparkSession, delegate.fileIndex,
    delegate.schema, delegate.dataSchema, options) {

  override def build(): ParquetScan = {
    val scan = super.build()
    if (Admission.tooNarrow(scan.readDataSchema.fields.length, minCols))
      scan.copy(hadoopConf = Admission.disable(scan.hadoopConf))
    else scan
  }
}

/** Per-scan admission for the NON-parquet formats (r15, SURVEY §4's last
  * optional item): the same minColumnsSelected rule, applied where the
  * pruned projection width is final — ScanBuilder.build(), the mechanism
  * the parquet path above established. Two format-specific routes:
  *
  *  - ORC broadcasts the scan's own `hadoopConf` member to executors, so
  *    a copy with the disable flags suffices (identical to parquet);
  *  - CSV/JSON scans build their reader conf from the scan's OPTIONS map
  *    (`newHadoopConfWithOptions` in createReaderFactory), so the flags
  *    ride injected options.
  *
  * Why build() time and NOT a plan-time Catalyst rule (the shape SURVEY
  * §4 originally sketched): a post-pushdown `Rule[SparkPlan]` rewriting
  * only a scan's hadoopConf/options is silently DISCARDED by Catalyst —
  * `transform` keeps the original node when old and new compare equal,
  * and `FileScan.equals` (OrcScan included) excludes hadoopConf, so the
  * conf-only copy IS equal. Measured this round: the rule visibly fired,
  * returned the rewritten node, and the transformed tree still carried
  * the old conf. (CSVScan.equals happens to include `options`, which
  * would make a rule work for CSV alone — a trap, not a design.)
  * ScanBuilder.build() hands the scan to Spark before any tree identity
  * comparison exists, so admission lands unconditionally. */
final class GraftOrcScanBuilder(delegate: OrcTable, minCols: Int,
    options: CaseInsensitiveStringMap)
  extends OrcScanBuilder(delegate.sparkSession, delegate.fileIndex,
    delegate.schema, delegate.dataSchema, options) {

  override def build(): OrcScan = {
    val scan = super.build()
    if (Admission.tooNarrow(scan.readDataSchema.fields.length, minCols))
      scan.copy(hadoopConf = Admission.disable(scan.hadoopConf))
    else scan
  }
}

final class GraftCsvScanBuilder(delegate: CSVTable, minCols: Int,
    options: CaseInsensitiveStringMap)
  extends CSVScanBuilder(delegate.sparkSession, delegate.fileIndex,
    delegate.schema, delegate.dataSchema, options) {

  override def build(): CSVScan = {
    val scan = super.build()
    if (Admission.tooNarrow(scan.readDataSchema.fields.length, minCols))
      scan.copy(options = Admission.disable(scan.options))
    else scan
  }
}

final class GraftJsonScanBuilder(delegate: JsonTable, minCols: Int,
    options: CaseInsensitiveStringMap)
  extends JsonScanBuilder(delegate.sparkSession, delegate.fileIndex,
    delegate.schema, delegate.dataSchema, options) {

  override def build(): JsonScan = {
    val scan = super.build()
    if (Admission.tooNarrow(scan.readDataSchema.fields.length, minCols))
      scan.copy(options = Admission.disable(scan.options))
    else scan
  }
}
