package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** DRIVER-SIDE parquet I/O for the engine's tiny metadata tables
  * (state manifests, exactly-once ledgers, coordinator cuts).
  *
  * Motivation (r20 optimization round, guide §1/§5): a maintained
  * store's per-batch fixed floor was dominated by SPARK JOBS over
  * kilobyte-sized tables — profiling `o18_join_maintain` showed 158
  * jobs per run, of which the metadata ones (manifest writes at
  * ~250 ms each, ledger reads, manifest collects) summed to more wall
  * time than the data work. A 66-row manifest does not need a
  * distributed write: this helper writes/reads such tables in the
  * driver JVM through parquet-hadoop directly — same format, same
  * layout (a directory holding `part-*.parquet`), fully readable by
  * `spark.read.parquet` and by pre-existing Spark-written tables'
  * readers — at microseconds of scheduling cost instead of a job.
  *
  * Scope is deliberately narrow: flat schemas over the primitive
  * types the metadata tables use (int/long/double/float/boolean/
  * string). [[supported]] gates callers; anything richer must go
  * through a normal Spark write. At 100 TB nothing here changes:
  * these tables stay O(buckets + batches + stores) rows — the DATA
  * never flows through this path.
  *
  * DECODE MEMO. Every table read here is immutable once written: it
  * sits under a committed version dir, and every writer in the engine
  * names its part files with a fresh UUID ([[write]]'s
  * `part-00000-<uuid>`, Spark's `part-*-<job uuid>`). So [[read]]
  * decodes each table once per JVM and serves repeat reads from a
  * memo keyed by the listed part files' identity — (path, length,
  * modification time) of each — plus `select`. The directory listing
  * itself stays per call (well under 1 ms): a deleted dir still
  * throws, and a dir deleted and re-published at the same path lists
  * new part names, hence a new key, so it is never served stale. The
  * memo is bounded by [[MemoRowBudget]] held rows with LRU eviction,
  * because ledgers grow by a row per batch and an unbounded memo would
  * grow with the process's history. Callers keep their own checks
  * (format versions, schema rows) per call, on the returned rows. */
object LocalParquet {

  /** The memo's budget, in held rows (each entry weighs its row count
    * plus one, so empty tables count too). A 64-bucket state manifest
    * is 67 rows, so this holds ~1,000 of them; at ~200 bytes a row (a
    * short string ref plus row overhead) that is ~13 MB of driver heap
    * at most, independent of data size. A table heavier than the whole
    * budget is read and not held. */
  private[etl] val MemoRowBudget = 65536L

  private final case class MemoKey(files: Seq[(String, Long, Long)],
                                   select: Seq[String])

  /** LRU by access order; the lock covers only map operations, never
    * a decode, so concurrent first reads decode side by side and the
    * first to publish wins ([[publish]] returns the held entry). */
  private object Memo {
    private val held =
      new java.util.LinkedHashMap[MemoKey, (StructType, Seq[Row])](16, 0.75f, true)
    private var weight = 0L

    private def weigh(rows: Seq[Row]): Long = rows.size + 1L

    def get(k: MemoKey): Option[(StructType, Seq[Row])] =
      held.synchronized(Option(held.get(k)))

    def publish(k: MemoKey, v: (StructType, Seq[Row])): (StructType, Seq[Row]) =
      held.synchronized {
        val prior = held.get(k)
        if (prior != null) prior
        else {
          if (weigh(v._2) <= MemoRowBudget) {
            held.put(k, v)
            weight += weigh(v._2)
            val it = held.values.iterator
            while (weight > MemoRowBudget) {
              weight -= weigh(it.next()._2)
              it.remove()
            }
          }
          v
        }
      }

    def heldRows: Long = held.synchronized(weight)
  }

  /** Total weight the decode memo holds now (≤ [[MemoRowBudget]]). */
  private[etl] def memoHeldRows: Long = Memo.heldRows

  /** Can `schema` round-trip through this writer? (Flat, primitive,
    * the types the metadata tables use.) */
  def supported(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall { f =>
      f.dataType match {
        case IntegerType | LongType | DoubleType | FloatType |
             BooleanType | StringType => true
        case _ => false
      }
    }

  private def parquetType(f: StructField): PrimitiveType = {
    // always OPTIONAL, matching what Spark's parquet writer emits for
    // its (default-nullable) columns — Spark's reader treats parquet
    // fields as nullable either way, so required would buy nothing and
    // create two layouts for one table
    val b = f.dataType match {
      case IntegerType => Types.optional(PrimitiveTypeName.INT32)
      case LongType => Types.optional(PrimitiveTypeName.INT64)
      case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE)
      case FloatType => Types.optional(PrimitiveTypeName.FLOAT)
      case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
      case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
      case other => throw new IllegalArgumentException(
        s"LocalParquet does not support $other (column ${f.name})")
    }
    b.named(f.name)
  }

  private def message(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f)))
    b.named("spark_schema") // Spark's own root name
  }

  /** Write `rows` as ONE parquet file `part-00000-<uuid>.parquet`
    * under directory `dir` (created; pre-existing contents untouched —
    * callers write into fresh staging dirs). Values must match the
    * schema's types; null allowed everywhere. */
  def write(conf: Configuration, dir: String, schema: StructType,
            rows: Seq[Row]): Unit = {
    require(supported(schema), s"unsupported schema for LocalParquet: $schema")
    val mt = message(schema)
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID}.parquet")
    val w = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, conf))
      .withConf(conf)
      .withType(mt)
      .build()
    val factory = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case IntegerType => g.add(f.name, r.getInt(i))
          case LongType => g.add(f.name, r.getLong(i))
          case DoubleType => g.add(f.name, r.getDouble(i))
          case FloatType => g.add(f.name, r.getFloat(i))
          case BooleanType => g.add(f.name, r.getBoolean(i))
          case StringType => g.add(f.name, r.getString(i))
          case other => throw new IllegalStateException(other.toString)
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Read every `*.parquet` part file under `dir` (a table directory
    * written by Spark OR by [[write]]) into driver-side Rows, with the
    * Spark schema recovered from the first file's footer. Column
    * `select` projects and ORDERS the result columns (they must exist
    * in the files). Fails loudly on nested/unsupported columns IN THE
    * SELECTION — extra unsupported columns outside it are fine. A
    * repeat read of unchanged part files returns the memoized result
    * (the same rows, not a copy) — see the object's Scaladoc. */
  def read(conf: Configuration, dir: String,
           select: Seq[String]): (StructType, Seq[Row]) = {
    val fc = FileContext.getFileContext(conf)
    val it = fc.listStatus(new Path(dir))
    val listed = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)
    val key = MemoKey(listed.map(s =>
      (s.getPath.toString, s.getLen, s.getModificationTime)), select)
    Memo.get(key).getOrElse(
      Memo.publish(key, decode(conf, dir, listed.map(_.getPath), select)))
  }

  private def decode(conf: Configuration, dir: String, parts: Seq[Path],
                     select: Seq[String]): (StructType, Seq[Row]) = {
    val rows = Seq.newBuilder[Row]
    var schema: StructType = null
    parts.foreach { p =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), p).withConf(conf).build()
      try {
        var g: Group = reader.read()
        var fieldIdx: Seq[(Int, DataType)] = null
        while (g != null) {
          if (schema == null || fieldIdx == null) {
            val mt = g.getType.asInstanceOf[MessageType]
            val fileSchema = StructType(select.map { name =>
              val i = mt.getFieldIndex(name)
              val pt = mt.getType(i).asPrimitiveType()
              val dt = pt.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 => IntegerType
                case PrimitiveTypeName.INT64 => LongType
                case PrimitiveTypeName.DOUBLE => DoubleType
                case PrimitiveTypeName.FLOAT => FloatType
                case PrimitiveTypeName.BOOLEAN => BooleanType
                case PrimitiveTypeName.BINARY
                  if pt.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() => StringType
                case other => throw new IllegalStateException(
                  s"LocalParquet.read: unsupported column '$name' ($other) in $p")
              }
              StructField(name, dt, nullable = true)
            })
            if (schema == null) schema = fileSchema
            fieldIdx = select.map { name =>
              (mt.getFieldIndex(name),
                fileSchema(select.indexOf(name)).dataType)
            }
          }
          val vals = fieldIdx.map { case (i, dt) =>
            if (g.getFieldRepetitionCount(i) == 0) null
            else dt match {
              case IntegerType => g.getInteger(i, 0)
              case LongType => g.getLong(i, 0)
              case DoubleType => g.getDouble(i, 0)
              case FloatType => g.getFloat(i, 0)
              case BooleanType => g.getBoolean(i, 0)
              case StringType => g.getString(i, 0)
              case other => throw new IllegalStateException(other.toString)
            }
          }
          // with-schema rows so callers can access fields by name,
          // exactly like the collect() output this read replaces
          rows += new org.apache.spark.sql.catalyst.expressions
            .GenericRowWithSchema(vals.toArray, schema)
          g = reader.read()
        }
      } finally reader.close()
    }
    if (schema == null)
      // every part empty (a Spark-written empty table still has a part
      // file with a footer — but ParquetReader yields no groups, so
      // recover the schema from the footer directly)
      parts.headOption.foreach { p =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader
          .open(org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(p, conf))
        try {
          val mt = footer.getFooter.getFileMetaData.getSchema
          schema = StructType(select.map { name =>
            val pt = mt.getType(mt.getFieldIndex(name)).asPrimitiveType()
            val dt = pt.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT32 => IntegerType
              case PrimitiveTypeName.INT64 => LongType
              case PrimitiveTypeName.DOUBLE => DoubleType
              case PrimitiveTypeName.FLOAT => FloatType
              case PrimitiveTypeName.BOOLEAN => BooleanType
              case PrimitiveTypeName.BINARY => StringType
              case other => throw new IllegalStateException(
                s"LocalParquet.read: unsupported column '$name' ($other) in $p")
            }
            StructField(name, dt, nullable = true)
          })
        } finally footer.close()
      }
    require(schema != null,
      s"LocalParquet.read: no parquet part files under $dir")
    (schema, rows.result())
  }
}
