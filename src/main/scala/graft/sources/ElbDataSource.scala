package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.elb.{ElbParser, ElbSchema}

/** DataSource V2 for ELB/ALB access logs: `spark.read.format("elb")
  * .load(glob)` scans `.gz` (or plain) log files and emits the 29
  * positional raw fields plus `log_source_file` — the same frame as
  * `ElbParser.readRaw → tokenize` (ElbSourceSpec pins byte equality,
  * edge lines included), but as a first-class source:
  *
  *  - **Column pruning reaches the reader**: `SupportsPushDownRequiredColumns`
  *    hands the pruned schema to each partition reader, which
  *    materializes ONLY the requested fields from each line (the
  *    tokenizer still scans the line once — it must find separators —
  *    but per-field string allocation and row width drop to the
  *    projection, and `ReadSchema` in the plan shows the truth).
  *  - **One partition per file**, the correct split for gzip members
  *    (reference behavior: whole-file streaming; the splittable path
  *    at scale is the q55 zstd landing zone, `elb/Ingest.scala`).
  *
  * Each line goes through the parser behind `from_csv` with the same
  * options ([[graft.elb.ElbParser.csvOptions]]), so both paths share one
  * tokenizer.
  */
class ElbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "elb"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ElbDataSource.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ElbTable(FileListing.resolvePaths(properties))
}

object ElbDataSource {
  val fileColumn = "log_source_file"
  val fullSchema: StructType =
    StructType(ElbSchema.raw.fields :+ StructField(fileColumn, StringType, nullable = false))
}

class ElbTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"elb(${paths.mkString(",")})"
  override def schema(): StructType = ElbDataSource.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    new ElbScanBuilder(paths, new SerializableHadoopConf(conf))
  }
}

class ElbScanBuilder(paths: Seq[String], conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = ElbDataSource.fullSchema
  private var pushed: Array[Filter] = Array.empty
  // Spark prunes in table order, so the file column stays last
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Accept every filter on raw columns: the parser drops the rows they
    * reject as it reads. Each is ALSO returned as a post-scan filter,
    * because the parser passes on, unfiltered, a line with missing fields.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(_.references.forall(ElbSchema.rawColumns.contains))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new ElbScan(paths, required, pushed, conf)
}

class ElbScan(paths: Seq[String], required: StructType, pushed: Array[Filter],
    conf: SerializableHadoopConf) extends Scan with Batch {
  private lazy val files = FileListing.expand(paths, conf.value)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"elb scan: ${files.size} files, ${required.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) "" else s", PushedFilters: ${pushed.mkString(", ")}")
  override def planInputPartitions(): Array[InputPartition] =
    FileListing.partitions(files)
  override def createReaderFactory(): PartitionReaderFactory =
    new ElbReaderFactory(required, pushed, conf)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileListingStream(paths, conf, createReaderFactory())
}

class ElbReaderFactory(required: StructType, pushed: Array[Filter],
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ElbPartitionReader(partition.asInstanceOf[ListedFile].path,
      required, pushed, conf)
}

/** Streams one log file through `from_csv`'s parser: Univocity extracts
  * only the required raw fields, and rows failing a pushed filter are
  * dropped before they leave the reader.
  */
class ElbPartitionReader(pathStr: String, required: StructType,
    pushed: Array[Filter], conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val rawRequired =
    StructType(required.filter(_.name != ElbDataSource.fileColumn))
  // the file column, when required, is last (ElbScanBuilder.pruneColumns)
  private val fileRow: InternalRow =
    if (rawRequired.length == required.length) null
    else InternalRow(UTF8String.fromString(pathStr))

  // what `from_csv` builds, including its one-line-per-input separator
  private val parser = {
    val options = new CSVOptions(ElbParser.csvOptions + ("lineSep" -> "\uFFFF"),
      columnPruning = true, SQLConf.get.sessionLocalTimeZone)
    val univocity = new UnivocityParser(ElbSchema.raw, rawRequired, options, pushed.toSeq)
    new FailureSafeParser[String](line => univocity.parse(line), options.parseMode,
      rawRequired, options.columnNameOfCorruptRecord)
  }

  private lazy val reader: BufferedReader = {
    val hp = new Path(pathStr)
    val fs = hp.getFileSystem(conf.value)
    val raw = fs.open(hp)
    val in = if (pathStr.endsWith(".gz")) new GZIPInputStream(raw) else raw
    new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  }

  private val rows: Iterator[InternalRow] =
    Iterator.continually(reader.readLine()).takeWhile(_ != null).flatMap(parser.parse)

  private var current: InternalRow = _

  override def next(): Boolean = rows.hasNext && {
    // the parser reuses its output row
    val row = rows.next().copy()
    current = if (fileRow == null) row else new JoinedRow(row, fileRow)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
