package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, StringContains, StringStartsWith}

/** The contract the file-backed DataSource V2 sources (`elb`, `warc`,
  * `textarchive`, `graftavro`) share: paths from the load options, one
  * sorted driver-side listing, one partition per listed file, and — for
  * the streaming reads — [[FileListingStream]] over that listing.
  */
object FileListing {

  /** Paths from DSv2 options: `.load(p)` → "path"; `.load(ps: _*)` →
    * "paths" as a JSON string array, decoded as Spark's file sources do.
    */
  def resolvePaths(props: java.util.Map[String, String]): Seq[String] = {
    val multi = Option(props.get("paths")).toSeq.flatMap { js =>
      new ObjectMapper().readValue(js, classOf[Array[String]]).toSeq
    }
    val single = Option(props.get("path")).toSeq
    val all = multi ++ single
    require(all.nonEmpty, "a file source requires a path")
    all
  }

  /** Driver-side glob expansion, mirroring Spark's file-index rules
    * (skip hidden `_`/`.` files); the result is sorted, which is what
    * makes a file count a valid stream offset.
    */
  def expand(paths: Seq[String], conf: Configuration): Seq[String] = {
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

  def partitions(files: Seq[String]): Array[InputPartition] =
    files.map(ListedFile(_): InputPartition).toArray

  val defaultMaxPayload: Long = 64L * 1024 * 1024

  /** The `maxPayload` option, clamped: payloads are JVM byte arrays, and
    * above `Int.MaxValue` a declared length wraps in `toInt` (a WARC
    * payload read then spins on a zero-byte read; a tar size goes negative).
    */
  def maxPayload(options: java.util.Map[String, String], fallback: Long): Long =
    clampPayload(Option(options.get("maxpayload")).map(_.toLong).getOrElse(fallback))

  def clampPayload(cap: Long): Long = cap.min(Int.MaxValue.toLong - 8)

  /** String predicates on the `filterable` header columns, which a
    * container reader checks before it reads a payload. Accepted filters
    * are also returned for Spark's post-scan re-check.
    * @return (pushed, the filters Spark evaluates after the scan)
    */
  def pushHeaderFilters(filters: Array[Filter],
      filterable: Set[String]): (Array[Filter], Array[Filter]) = {
    val (acc, rest) = filters.partition {
      case EqualTo(a, _: String) => filterable.contains(a)
      case In(a, vs) if vs.forall(_.isInstanceOf[String]) => filterable.contains(a)
      case IsNotNull(a) => filterable.contains(a)
      case StringStartsWith(a, _) => filterable.contains(a)
      case StringContains(a, _) => filterable.contains(a)
      case _ => false
    }
    (acc, rest ++ acc)
  }

  /** The filters [[pushHeaderFilters]] accepted, as one conjunction over a
    * record whose header column `a` reads `field(record, a)`.
    */
  def headerPredicate[R](pushed: Array[Filter],
      field: (R, String) => String): R => Boolean = {
    val preds: Array[R => Boolean] = pushed.map {
      case EqualTo(a, v: String) => (r: R) => field(r, a) == v
      case In(a, vs) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        (r: R) => { val f = field(r, a); f != null && set.contains(f) }
      case IsNotNull(a) => (r: R) => field(r, a) != null
      case StringStartsWith(a, p) => (r: R) =>
        { val f = field(r, a); f != null && f.startsWith(p) }
      case StringContains(a, s) => (r: R) =>
        { val f = field(r, a); f != null && f.contains(s) }
      case f => throw new IllegalStateException(s"unpushable filter $f")
    }
    r => preds.forall(_(r))
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

/** One whole file: gzip members and container walks cannot split. */
case class ListedFile(path: String) extends InputPartition

/** A position in the sorted listing: the number of files already read.
  * Its JSON is the bare integer.
  */
case class FileCountOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

/** The micro-batch read of every file source: batch N..M reads files N
  * until M of the sorted listing through the scan's reader factory.
  * Exactly-once holds for append-only directories whose new files sort
  * after processed ones (ALB's timestamped log names, crawl and corpus
  * drop folders), which is why no seen-files map is kept.
  *
  * Under `Trigger.AvailableNow` the listing size is pinned when the run
  * starts and no batch passes it (the read limit stays the default
  * `allAvailable`), so a restart re-runs an uncommitted batch and then
  * drains the files that landed since.
  */
class FileListingStream(paths: Seq[String], conf: SerializableHadoopConf,
    readerFactory: PartitionReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private var pinned: Option[Int] = None
  private def listing(): Seq[String] = FileListing.expand(paths, conf.value)
  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = FileCountOffset(listing().size)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    pinned.fold(latestOffset())(FileCountOffset(_))
  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(listing().size)
  override def deserializeOffset(json: String): Offset =
    FileCountOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    FileListing.partitions(listing().slice(s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
