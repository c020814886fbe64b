package graft.operators

import java.io.FileNotFoundException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.ParquetMeta

/** The file protocol under every [[EtlControl]] log (commit, duration
  * and failure logs): appends, reads and compaction are plain file
  * operations on the driver, so no control event costs a Spark job.
  *
  * Layout of a log directory:
  *   - entries: one parquet file per appended row, written by the
  *     driver-side writer [[ParquetMeta.writeFile]] to a hidden
  *     `_tmp-<uuid>` name and renamed to `part-<uuid>.parquet`. Every
  *     file carries Spark's row-metadata footer key, so
  *     `spark.read.parquet(dir)` infers exactly the schema of a
  *     Spark-written log; timestamps are INT64 micros.
  *     Entries written by Spark's own writer (INT96 timestamps) read
  *     the same, side by side;
  *   - snapshots: `snapshot-<uuid>.parquet`, the rows of every entry it
  *     folded, with the folded file names in its footer
  *     (footer key `graft.log.folded`);
  *   - hidden names (`_`/`.`-prefixed: temps, run leases, `_SUCCESS`)
  *     are never log content.
  *
  * A file is live unless a present snapshot lists it. Appends need no
  * lock: each writes its own uniquely named file and publishes it with
  * one rename.
  *
  * Fold: once an append leaves more than [[FoldThreshold]] live files,
  * it writes their rows into one snapshot, so a read touches at most
  * `FoldThreshold + 1` files however long the history. Crash protocol:
  *   1. write the snapshot under a hidden `_fold-<uuid>` name, its
  *      footer listing every non-hidden file present at the listing
  *      (live entries and any not-yet-deleted files an older snapshot
  *      supersedes) — a crash here leaves only a hidden temp;
  *   2. rename it to `snapshot-<uuid>.parquet` — from here on, readers
  *      in this object skip the files it lists;
  *   3. delete the listed files, in any order — each is listed by this
  *      snapshot until it is gone, so no row is read twice or lost.
  *
  * A crash after step 2 leaves the listed files in place until the
  * next append to the log, which deletes them (and any fold temps)
  * before it decides whether to fold again. Until then a plain
  * `spark.read.parquet(dir)` reads the leftover rows twice; the
  * library readers do not.
  *
  * Store assumptions: rename is atomic and a listing shows every
  * renamed file (HDFS, local FS); folds of one log run in one process
  * at a time — in-JVM they are exclusive per directory, and an append
  * that finds its log already folding skips the fold (the next append
  * does it). Appends from several processes stay lossless.
  */
private[graft] object ControlLog {

  /** Live files past which an append folds the log. A point read then
    * opens at most 9 small files, and a fold (every 8 appends) rewrites
    * the log's rows once. Far below Spark's parallel-listing threshold
    * (32 paths), so the DataFrame views over the live set plan without
    * a listing job. */
  val FoldThreshold = 8

  /** Footer key of a snapshot: the folded file names, one per line. */
  private val FoldedKey = "graft.log.folded"
  private val SnapshotPrefix = "snapshot-"
  private val FoldTempPrefix = "_fold-"

  /** One log row by column name; timestamps are epoch micros. */
  type Row = Map[String, Any]

  /** Test seam: runs at each fold step (`written`, `renamed`,
    * `deleted`); a throw there is a crash at that step. */
  private[graft] var foldTestHook: String => Unit = _ => ()

  private val folding = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Append one row (values in `schema` order) as its own file, then
    * fold the log if it has grown past [[FoldThreshold]]. */
  def append(conf: Configuration, dir: String, schema: StructType,
      values: Seq[Any]): Unit = {
    require(values.length == schema.length,
      s"${values.length} values for ${schema.length} columns")
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    ParquetMeta.writeFile(conf, d, s"part-${UUID.randomUUID()}.parquet",
      schema, Iterator(values))
    maybeFold(fs, conf, d, schema)
  }

  /** The live rows of the log at `dir` (empty when it does not exist). */
  def read(conf: Configuration, dir: String): Seq[Row] =
    retryingVanished(conf, dir)(_.flatMap(readFile(conf, _)._2))

  /** The live files as a DataFrame — `spark.read.parquet` over exactly
    * the live set with the log's known `schema` (so building the frame
    * runs no schema-inference job), or an empty frame with `schema`
    * when there is none. A fold between this call and the frame's
    * action can delete a file the frame names; that action then fails
    * and must be rerun. */
  def frame(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val live = retryingVanished(spark.sparkContext.hadoopConfiguration, dir)(identity)
    if (live.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(live.map(_.toString): _*)
  }

  /** Present non-hidden files, snapshots' folded sets, and the live set. */
  private final case class Listing(present: Seq[Path],
      superseded: Set[String], live: Seq[Path])

  private def isHidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  private def list(fs: FileSystem, conf: Configuration, d: Path): Listing = {
    val present =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq
        .filter(s => s.isFile && !isHidden(s.getPath.getName))
        .map(_.getPath).sortBy(_.getName)
    val superseded = present.filter(_.getName.startsWith(SnapshotPrefix))
      .flatMap(p => foldedBy(conf, p)).toSet
    Listing(present, superseded,
      present.filterNot(p => superseded.contains(p.getName)))
  }

  /** A fold can delete a file between a reader's listing and its read;
    * the reader then lists again (the fold's snapshot holds the rows). */
  private def retryingVanished[A](conf: Configuration, dir: String)(
      body: Seq[Path] => A): A = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    var attempt = 0
    while (true) {
      try return body(list(fs, conf, d).live)
      catch {
        case _: FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def foldedBy(conf: Configuration, snapshot: Path): Seq[String] = {
    val r = ParquetMeta.open(conf, snapshot)
    try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(FoldedKey))
      .toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
    finally r.close()
  }

  /** The Spark schema in a file's footer (None for a foreign writer)
    * and its rows. */
  private def readFile(conf: Configuration, p: Path)
      : (Option[StructType], Seq[Row]) = {
    val r = ParquetMeta.open(conf, p)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      val rows = Seq.newBuilder[Row]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) { rows += decode(rr.read()); i += 1 }
        pages = r.readNextRowGroup()
      }
      (ParquetMeta.sparkSchema(r), rows.result())
    } finally r.close()
  }

  private def decode(g: Group): Row = {
    val t = g.getType
    (0 until t.getFieldCount).map { i =>
      val f = t.getType(i)
      val v: Any =
        if (g.getFieldRepetitionCount(i) == 0) null
        else f.asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.BINARY => g.getString(i, 0)
          case PrimitiveTypeName.INT64 => f.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MILLIS => g.getLong(i, 0) * 1000L
                case LogicalTypeAnnotation.TimeUnit.NANOS =>
                  Math.floorDiv(g.getLong(i, 0), 1000L)
                case _ => g.getLong(i, 0)
              }
            case _ => g.getLong(i, 0)
          }
          case PrimitiveTypeName.INT96 => int96Micros(g.getInt96(i, 0).getBytes)
          case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
          case other => throw new IllegalArgumentException(
            s"unsupported control-log column ${f.getName}: $other")
        }
      f.getName -> v
    }.toMap
  }

  /** Spark's legacy INT96 timestamp: nanos of day (8 bytes) then the
    * Julian day (4 bytes), little-endian. */
  private def int96Micros(b: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanos = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanos / 1000L
  }

  /** Finish an interrupted fold, then fold if the log is past the
    * threshold. Skipped when another thread is folding this log. A
    * failure leaves a readable log (see the crash protocol) and is
    * retried by the next append. */
  private def maybeFold(fs: FileSystem, conf: Configuration, d: Path,
      schema: StructType): Unit = {
    val key = fs.makeQualified(d).toString
    if (!folding.add(key)) return
    try {
      val before = list(fs, conf, d)
      finishFold(fs, d, before.present, before.superseded)
      if (before.live.length > FoldThreshold) {
        val files = before.live.map(readFile(conf, _))
        // a log holding files of another shape is left as it is
        if (files.forall(_._1.contains(schema))) {
          val folded = before.present.map(_.getName)
          ParquetMeta.writeFile(conf, d,
            s"$SnapshotPrefix${UUID.randomUUID()}.parquet", schema,
            files.iterator.flatMap(_._2).map(r =>
              schema.fieldNames.toSeq.map(r.getOrElse(_, null))),
            meta = Map(FoldedKey -> folded.mkString("\n")),
            tempPrefix = FoldTempPrefix,
            beforePublish = () => foldTestHook("written"))
          foldTestHook("renamed")
          finishFold(fs, d, before.present, folded.toSet)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"control-log fold of $d failed; the next append retries it", e)
    } finally folding.remove(key)
  }

  /** Delete every present file a snapshot supersedes, and the temps of
    * crashed folds (folds are exclusive, so none is in flight). */
  private def finishFold(fs: FileSystem, d: Path, present: Seq[Path],
      superseded: Set[String]): Unit = {
    present.filter(p => superseded.contains(p.getName)).foreach { p =>
      fs.delete(p, false)
      foldTestHook("deleted")
    }
    fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith(FoldTempPrefix))
      .foreach(fs.delete(_, false))
  }
}
