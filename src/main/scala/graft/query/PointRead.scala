package graft.query

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Parquet point reads without Spark: the records of one index file whose
  * key column value is in a key set — exact keys, or [[prefixes]] of a
  * string key (the facet lists `\u0001col\u0001…`) — with only the
  * requested columns decoded. Every [[ShardJob]] task's read (postings,
  * positions), the driver's df slice ([[Searcher.dfSlice]]) and
  * [[HitLookup]]'s footers and in-task docId reads of analyzed/ share it:
  * it is the engine's one Parquet reader outside Spark's scans.
  *
  * The read is column-wise, straight off parquet-mr's column readers (no
  * record assembly): a row group whose key statistics admit no key is
  * skipped; otherwise the key column alone is decoded first, and only
  * when some row matches are the other columns read, skipping the values
  * of every other row. A point read of a few keys therefore costs one
  * decode of the key column, not the materialization of every record.
  *
  * Callers pass a Hadoop conf they already hold (broadcast to tasks): a
  * default-constructed `Configuration` re-reads the XML resources and
  * costs 10-15 ms per read. */
object PointRead {
  /** One matching record: per requested column, its non-null values (one
    * for a flat column, the elements of a LIST). */
  final class Record private[PointRead] (values: Array[Array[Any]]) {
    def int(i: Int): Int = values(i)(0).asInstanceOf[Int]
    def long(i: Int): Long = values(i)(0).asInstanceOf[Long]
    def string(i: Int): String = values(i).headOption.map(_.asInstanceOf[Binary].toStringUsingUTF8).orNull
    def bytes(i: Int): Array[Byte] = values(i).headOption.map(_.asInstanceOf[Binary].getBytes).orNull
    def ints(i: Int): Array[Int] = values(i).map(_.asInstanceOf[Int])
    def longs(i: Int): Array[Long] = values(i).map(_.asInstanceOf[Long])
  }

  /** The data files of a table read, sorted — from the file index of its
    * ANALYZED plan: `Dataset.inputFiles` reads the cache-substituted plan,
    * whose in-memory relation lists no files once some session frame has
    * persisted the same read. */
  def files(table: DataFrame): Seq[String] =
    table.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location.inputFiles.toSeq }.flatten.distinct.sorted

  /** Keys of a BINARY (string) key column. */
  def strings(keys: Iterable[String]): Set[Any] = keys.iterator.map(Binary.fromString).toSet

  /** Keys of a BINARY key column matching every value that starts with
    * one of `prefixes`. */
  def prefixes(prefixes: Iterable[String]): Set[Any] =
    prefixes.iterator.map(p => Prefix(Binary.fromString(p))).toSet

  /** A prefix key: the values in [p, p's byte successor). */
  private final case class Prefix(p: Binary) {
    private val bytes = p.getBytes
    def matches(v: Binary): Boolean = {
      val b = v.toByteBuffer
      b.remaining >= bytes.length && {
        var i = 0
        while (i < bytes.length && b.get(b.position + i) == bytes(i)) i += 1
        i == bytes.length
      }
    }
    /** Whether some value in [min, max] starts with p: p ≤ max, and min cut
      * to p's length ≤ p. */
    def admits(c: java.util.Comparator[Any], min: Any, max: Any): Boolean = {
      val lo = min.asInstanceOf[Binary].getBytes
      c.compare(p, max) <= 0 &&
        c.compare(Binary.fromConstantByteArray(lo.take(bytes.length)), p) <= 0
    }
  }

  /** The records of `file` whose flat `key` column holds one of `keys`
    * (boxed Long for INT64, Integer for INT32, [[strings]] or [[prefixes]]
    * for BINARY), with the values of `columns`, in file order. */
  def rows(file: String, conf: Configuration, key: String, keys: Set[Any],
           columns: Seq[String]): ArrayBuffer[Record] = {
    val out = ArrayBuffer.empty[Record]
    val (pre, exact) = keys.partition(_.isInstanceOf[Prefix])
    val prefixes = pre.toArray.map(_.asInstanceOf[Prefix])
    def wanted(v: Any): Boolean =
      exact.contains(v) || prefixes.exists(_.matches(v.asInstanceOf[Binary]))
    val reader = open(file, conf)
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema: GroupType = meta.getSchema
      def readers(cols: Seq[String], block: Int): Seq[ColumnReader] = {
        val s = new MessageType(schema.getName, cols.map(c => schema.getType(c)): _*)
        reader.setRequestedSchema(s)
        val store = new ColumnReadStoreImpl(reader.readRowGroup(block),
          new GroupRecordConverter(s).getRootConverter, s, meta.getCreatedBy)
        s.getColumns.asScala.toSeq.map(c => store.getColumnReader(c))
      }
      for ((b, i) <- reader.getRowGroups.asScala.zipWithIndex if b.getRowCount > 0 && admits(b, key, keys)) {
        val kc = readers(Seq(key), i).head
        val maxDef = kc.getDescriptor.getMaxDefinitionLevel
        val hit = ArrayBuffer.empty[Long]
        var r = 0L
        while (r < b.getRowCount) {
          if (kc.getCurrentDefinitionLevel == maxDef && wanted(value(kc))) hit += r
          kc.consume()
          r += 1
        }
        if (hit.nonEmpty) {
          val cols = readers(columns, i).map(walk(_, hit))
          out ++= hit.indices.map(h => new Record(cols.map(_(h)).toArray))
        }
      }
    } finally reader.close()
    out
  }

  /** The footer-read reader of `file`; fails with the file named. Read
    * options are built from `conf` itself: `ParquetFileReader.open(file)`
    * derives them from a copy of the file's conf, ~10 ms per open. */
  private def open(file: String, conf: Configuration): ParquetFileReader =
    try ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(s"unreadable index file $file: ${e.getMessage}", e) }

  /** False when `b`'s statistics for `key` rule out every key. */
  private def admits(b: BlockMetaData, key: String, keys: Set[Any]): Boolean =
    b.getColumns.asScala.find(_.getPath.toDotString == key).map(_.getStatistics)
      .filter(st => st != null && st.hasNonNullValue)
      .forall { st =>
        val c = st.comparator.asInstanceOf[java.util.Comparator[Any]]
        keys.exists {
          case p: Prefix => p.admits(c, st.genericGetMin, st.genericGetMax)
          case k => c.compare(st.genericGetMin, k) <= 0 && c.compare(k, st.genericGetMax) <= 0
        }
      }

  private def value(cr: ColumnReader): Any = cr.getDescriptor.getPrimitiveType.getPrimitiveTypeName match {
    case PrimitiveTypeName.INT64 => cr.getLong
    case PrimitiveTypeName.INT32 => cr.getInteger
    case _ => cr.getBinary
  }

  /** The non-null values of rows `hit` (ascending) of one column chunk,
    * skipping every other row's. A row starts at repetition level 0 and
    * continues while the level is above it (the elements of a LIST). */
  private def walk(cr: ColumnReader, hit: ArrayBuffer[Long]): Array[Array[Any]] = {
    val maxDef = cr.getDescriptor.getMaxDefinitionLevel
    val total = cr.getTotalValueCount
    val out = new Array[Array[Any]](hit.length)
    var (read, row, h) = (0L, 0L, 0)
    while (h < hit.length) {
      val vs = if (row == hit(h)) ArrayBuffer.empty[Any] else null
      while ({
        if (cr.getCurrentDefinitionLevel == maxDef) { if (vs != null) vs += value(cr) else cr.skip() }
        cr.consume()
        read += 1
        read < total && cr.getCurrentRepetitionLevel > 0
      }) ()
      if (vs != null) { out(h) = vs.toArray; h += 1 }
      row += 1
    }
    out
  }

  /** [min, max] of integral `column` in every non-empty row group of
    * `file`, from its footer; (Long.MinValue, Long.MaxValue) for a group
    * without statistics. */
  def ranges(file: String, conf: Configuration, column: String): Array[(Long, Long)] = {
    val reader = open(file, conf)
    try reader.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics)
        .filter(st => st != null && st.hasNonNullValue)
        .map(st => (st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue))
        .getOrElse((Long.MinValue, Long.MaxValue))
    }.toArray
    finally reader.close()
  }
}
