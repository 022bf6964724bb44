package graft.sources

import java.io.{BufferedReader, InputStreamReader, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
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
    new ElbTable(ElbDataSource.resolvePaths(properties))
}

object ElbDataSource {
  val fileColumn = "log_source_file"
  val fullSchema: StructType =
    StructType(ElbSchema.raw.fields :+ StructField(fileColumn, StringType, nullable = false))

  /** Paths from DSv2 options: `.load(p)` → "path"; `.load(ps: _*)` →
    * "paths" as a JSON string array, decoded as Spark's file sources do.
    */
  private[sources] def resolvePaths(props: java.util.Map[String, String]): Seq[String] = {
    val multi = Option(props.get("paths")).toSeq.flatMap { js =>
      new ObjectMapper().readValue(js, classOf[Array[String]]).toSeq
    }
    val single = Option(props.get("path")).toSeq
    val all = multi ++ single
    require(all.nonEmpty, "elb source requires a path")
    all
  }

  /** Driver-side glob expansion, mirroring Spark's file-index rules
    * (skip hidden `_`/`.` files).
    */
  private[sources] def expand(paths: Seq[String], conf: Configuration): Seq[String] = {
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matches: Seq[FileStatus] =
        Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      matches.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
    }.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map { st =>
      // render like `input_file_name()` does (empty authority kept:
      // file:///x, not Path.toUri's file:/x) so the file column is
      // byte-identical to the text-source path
      val u = st.getPath.toUri
      new java.net.URI(u.getScheme, Option(u.getAuthority).getOrElse(""),
        u.getPath, null, null).toString
    }.sorted
  }
}

/** Minimal serializable Hadoop-conf carrier (the stock spark one is
  * `private[spark]`): Configuration itself knows how to write/read its
  * fields.
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
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

case class ElbFilePartition(path: String) extends InputPartition

class ElbScan(paths: Seq[String], required: StructType, pushed: Array[Filter],
    conf: SerializableHadoopConf) extends Scan with Batch {
  private lazy val files = ElbDataSource.expand(paths, conf.value)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"elb scan: ${files.size} files, ${required.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) "" else s", PushedFilters: ${pushed.mkString(", ")}")
  override def planInputPartitions(): Array[InputPartition] =
    files.map(ElbFilePartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ElbReaderFactory(required, pushed, conf)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ElbMicroBatchStream(paths, required, pushed, conf)
}

/** File-count offsets over the SORTED listing: batch N..M reads files
  * N until M of the lexicographic order. Exactly-once holds for
  * append-only directories whose new files sort after processed ones —
  * true for ALB's timestamped log object names, and the reason this
  * stays a dozen lines where the general text file source carries a
  * seen-files map. (A violated assumption shows up loudly: the drain
  * re-reads or skips whole files, which ElbSourceSpec's incremental
  * test would catch.)
  */
case class ElbFileOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

class ElbMicroBatchStream(paths: Seq[String], required: StructType,
    pushed: Array[Filter], conf: SerializableHadoopConf) extends MicroBatchStream {
  private def listing(): Seq[String] = ElbDataSource.expand(paths, conf.value)
  override def initialOffset(): Offset = ElbFileOffset(0)
  override def latestOffset(): Offset = ElbFileOffset(listing().size)
  override def deserializeOffset(json: String): Offset =
    ElbFileOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ElbFileOffset].n
    val e = end.asInstanceOf[ElbFileOffset].n
    listing().slice(s, e).map(ElbFilePartition(_): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ElbReaderFactory(required, pushed, conf)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class ElbReaderFactory(required: StructType, pushed: Array[Filter],
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ElbPartitionReader(partition.asInstanceOf[ElbFilePartition].path,
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
