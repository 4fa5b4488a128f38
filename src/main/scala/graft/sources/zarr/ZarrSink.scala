package graft.sources.zarr

import graft.model.IndexMath

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Zarr v2 write: the inverse of the long-format scan —
  * `df.write.format("zarr")` over a `[dims…, value]` frame produces a
  * chunked store any Zarr reader (including [[ZarrDataSourceV2]]) can open.
  * Completes the source/sink pairing the reference's Parquet sink implies
  * (reference: src/cli.py:158-161 — it can only EXPORT to parquet; writing
  * back to Zarr is the missing half).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - coordinate values are the ONLY driver-side data (sorted distinct per
  *    dim, gathered for every dim by ONE bounded aggregate — same bound as
  *    the read path's coordFor); cell data never touches the driver
  *  - each row's per-dim ordinal is one generated-code binary search over
  *    that sorted axis ([[graft.functions.AxisOrdinal]]) — no join, no
  *    broadcast — and its target chunk ordinal and in-chunk offset are
  *    COLUMN ARITHMETIC on those ordinals
  *  - cells cross the one shuffle as packed per-chunk FRAGMENTS, not one
  *    row per cell ([[ZarrFragments]]): each map task packs its cells into
  *    a presence bitmap plus values (or offset/value pairs when fewer),
  *    at most [[ZarrFragments.MaxOpenBytes]] open at once, keyed by shard
  *    (the chunk when unsharded) and sorted by chunk within each reduce
  *    task, so every chunk's cells meet in exactly one task. A row whose
  *    ordinal is null (its value left the axis between the gather and the
  *    write: a nondeterministic input) fails its map task rather than
  *    being dropped
  *  - reduce tasks stream: one dense chunk buffer at a time (fill, overlay
  *    the chunk's fragments), handed to the array's [[ZarrChunkWriter]] —
  *    built from the meta this write commits, and the one writer of every
  *    object the sink and the append put on a store — which records its
  *    stats, encodes it, keys it and writes it via the Hadoop FileSystem (or
  *    adds it to the task's one open shard); O(1 chunk) memory, plus one
  *    shard's encoded bytes. The bytes written do not depend on how the
  *    cells were grouped into fragments
  *  - absent cells read back as fill_value; chunks with no rows are never
  *    written (Zarr's native sparse representation)
  *
  * Options: `path`, `array` (required); `group`, `chunks` ("16,16"),
  * `dtype` (numpy spelling, default from the value column type; explicit
  * unsigned targets u1/u2/u4 are honored with per-value range validation —
  * out-of-range input fails loudly instead of masking; StringType values
  * write as vlen-utf8 object arrays; a STRUCT value column writes a
  * structured/compound dtype — the v2 [[name, dtype], ...] list spelling,
  * inferred for numeric fields or given explicitly when fields need fixed
  * string widths; structured fill_value is a base64 packed cell, default
  * all-zero; v2 only), `compressor`
  * ("zlib" | "zstd" | "gzip" | "blosc[:cname[:mode]]" | "none", default
  * blosc:lz4 — the numcodecs default), `fill_value` (default 0; for string
  * values a fill STRING, default ""), `max_coord_values` (per-dim distinct
  * bound for the single-pass coordinate gather, default 10M — a NUMERIC
  * dim past it routes to the distributed long-axis path: sort-based
  * ordinal assignment, shuffle ordinal join, executor-written multi-chunk
  * coordinate arrays), `coord_chunk_values` (cells per long-axis
  * coordinate chunk object, default 1M), `zarr_format` ("2" default |
  * "3" — v3 writes `zarr.json` metadata, `c/`-keys, a bytes+codec
  * pipeline, and with `checksum`=true a trailing crc32c; no datetime64
  * under v3), `shards` (v3 only: cells per SHARD OBJECT per dim, multiples
  * of `chunks` — emits a sharding_indexed store where each task streams
  * one whole shard per PUT; the object-store write shape at scale),
  * `storage.*` (same remote-store options as the scan).
  *
  * Semantics: dim columns are coordinate VALUES (not indices) — numeric,
  * timestamp, or STRING (label axes write as vlen-utf8 coordinate
  * arrays); the sink sorts each dim's distinct values ascending to form
  * the coordinate arrays, so a scanned-then-written store round-trips
  * cell-for-cell. The input must have at most one row per cell (duplicate
  * cells make the written value nondeterministic, as with any
  * last-write-wins sink).
  */
object ZarrSink {

  private[zarr] def dtypeFor(dt: DataType): String = dt match {
    case BooleanType => "|b1"
    case ByteType => "<i1"
    case ShortType => "<i2"
    case IntegerType => "<i4"
    case LongType => "<i8"
    case FloatType => "<f4"
    case DoubleType => "<f8"
    case TimestampType => "<M8[us]"
    case StringType => "|O" // vlen-utf8 object array (v3: data_type "string")
    case st: StructType =>
      // structured (compound) value: the v2 list-of-[name, dtype] spelling.
      // String fields have no inferable fixed width — pass an explicit
      // 'dtype' option naming |S<n>/<U<n> for those.
      st.fields
        .map { f =>
          val fd = f.dataType match {
            case BooleanType => "|b1"
            case ByteType => "<i1"
            case ShortType => "<i2"
            case IntegerType => "<i4"
            case LongType => "<i8"
            case FloatType => "<f4"
            case DoubleType => "<f8"
            case TimestampType => "<M8[us]"
            case other =>
              throw new IllegalArgumentException(
                s"zarr sink: struct field '${f.name}': cannot infer a dtype for $other — " +
                  "pass an explicit 'dtype' option (string fields need a fixed width, e.g. |S8)"
              )
          }
          s"""["${f.name}", "$fd"]"""
        }
        .mkString("[", ", ", "]")
    case other =>
      throw new IllegalArgumentException(
        s"zarr sink: unsupported value column type $other (pass an explicit 'dtype' option for unsigned targets)"
      )
  }

  private def coordDtype(dt: DataType): String = dt match {
    case IntegerType => "<i4"
    case LongType => "<i8"
    case FloatType => "<f4"
    case DoubleType => "<f8"
    case TimestampType => "<M8[us]"
    case StringType => "|O" // label axes write as vlen-utf8 object arrays
    case other =>
      throw new IllegalArgumentException(
        s"zarr sink: dimension columns must be int/long/float/double/timestamp/string, got $other"
      )
  }

  /** Ascending ordering over EXTERNAL row values, matching Spark's own
    * `orderBy` semantics for the supported coordinate types (total float
    * ordering: NaN sorts greatest). Strings compare as UTF-8 BYTES —
    * Spark's StringType sort order — not Java's UTF-16 code units: the two
    * diverge for supplementary-plane characters (emoji labels), and the
    * driver-side axis must sort identically to the distributed long-axis
    * path and to the scan's lexicographic pruning. */
  private[zarr] def externalOrdering(dt: DataType): Ordering[Any] = dt match {
    case IntegerType => Ordering.by((v: Any) => v.asInstanceOf[Int])
    case LongType => Ordering.by((v: Any) => v.asInstanceOf[Long])
    case FloatType => Ordering.by((v: Any) => v.asInstanceOf[Float])(Ordering.Float.TotalOrdering)
    case DoubleType => Ordering.by((v: Any) => v.asInstanceOf[Double])(Ordering.Double.TotalOrdering)
    case TimestampType => Ordering.by((v: Any) => micros(v))
    case StringType =>
      Ordering.by((v: Any) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
      )
    case _: org.apache.spark.sql.types.DecimalType => // uint64 axes scan as Decimal(20,0)
      Ordering.fromLessThan((a: Any, b: Any) =>
        a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
      )
    case other => throw new IllegalArgumentException(s"zarr sink: unsupported dimension type $other")
  }

  /** One flushed chunk's bounds in whichever stats domain applies; unused
    * fields stay at their defaults. */
  private[zarr] final case class ChunkBounds(
      ord: Long,
      has: Boolean,
      loL: Long = 0L,
      hiL: Long = 0L,
      loD: Double = 0.0,
      hiD: Double = 0.0,
      loS: String = null,
      hiS: String = null
  )

  /** The value put of one write, bound once to the value column's type
    * and the store dtype: writes a row's non-null internal value at element
    * `i` of a buffer in the chunk's byte order — the map side of
    * [[ZarrFragments]]. Unsigned targets are range-checked and fail loudly
    * instead of masking; a structured value packs field by field (zarr has
    * no per-field null, so a null field fails). */
  private[zarr] final class CellPut(
      valueType: DataType,
      dt: ZDtype,
      rCheck: Boolean,
      rMin: Long,
      rMax: Long,
      dtypeStr: String
  ) extends Serializable {
    private val kind: Int = valueType match {
      case BooleanType => 0
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case FloatType => 5
      case DoubleType => 6
      case TimestampType => 7
      case _: StructType if dt.code == ZDtype.V => 8
      case _ => 9
    }
    @transient private lazy val toExternal: Any => Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(valueType)

    private def checkedLong(x: Long): Long = {
      if (rCheck && (x < rMin || x > rMax))
        throw new IllegalArgumentException(
          s"zarr sink: value $x out of range for unsigned dtype '$dtypeStr' [$rMin, $rMax]"
        )
      x
    }
    private def checkedDouble(x: Double): Double = {
      if (rCheck && (x.isNaN || x < rMin || x > rMax))
        throw new IllegalArgumentException(
          s"zarr sink: value $x out of range for unsigned dtype '$dtypeStr' [$rMin, $rMax]"
        )
      x
    }

    def apply(row: InternalRow, ordinal: Int, buf: ByteBuffer, i: Int): Unit = (kind: @annotation.switch) match {
      case 0 => ZDtype.putLong(dt, buf, i, if (row.getBoolean(ordinal)) 1L else 0L)
      case 1 => ZDtype.putLong(dt, buf, i, checkedLong(row.getByte(ordinal).toLong))
      case 2 => ZDtype.putLong(dt, buf, i, checkedLong(row.getShort(ordinal).toLong))
      case 3 => ZDtype.putLong(dt, buf, i, checkedLong(row.getInt(ordinal).toLong))
      case 4 => ZDtype.putLong(dt, buf, i, checkedLong(row.getLong(ordinal)))
      case 5 => ZDtype.put(dt, buf, i, checkedDouble(row.getFloat(ordinal).toDouble))
      case 6 => ZDtype.put(dt, buf, i, checkedDouble(row.getDouble(ordinal)))
      case 7 => ZDtype.putLong(dt, buf, i, row.getLong(ordinal)) // M8[us] stores internal micros (see micros)
      case 8 =>
        val st = valueType.asInstanceOf[StructType]
        val rec = toExternal(row.getStruct(ordinal, st.length)).asInstanceOf[Row]
        require(
          rec.length == dt.fields.length,
          s"zarr sink: struct value has ${rec.length} fields, dtype '$dtypeStr' has ${dt.fields.length}"
        )
        val base = i * dt.itemSize
        var f = 0
        while (f < dt.fields.length) {
          val fv = rec.get(f)
          require(fv != null, s"zarr sink: struct field '${dt.fields(f)._1}' is NULL — zarr cells have no per-field null")
          ZarrStoreWriter.packStructField(buf, base + dt.fieldOffsets(f), dt.fields(f)._2, fv)
          f += 1
        }
      case _ =>
        throw new IllegalArgumentException(
          s"zarr sink: unsupported value ${toExternal(row.get(ordinal, valueType)).getClass}"
        )
    }
  }

  /** `__i<di>` column: the row's ordinal on a driver-side axis plus
    * `offset`, null when the value is null or off the axis. */
  private[zarr] def ordinalColumn(dim: String, table: graft.functions.AxisTable, offset: Long): Column =
    GraftBridge.column(graft.functions.AxisOrdinal(GraftBridge.expression(col(dim)), table, offset))

  /** Column 0 of a prepared write row: its chunk (or shard) ordinal. Null
    * means a dim value was off the axis when the write job read the row
    * although the pre-write pass saw it on (a nondeterministic input): the
    * task fails rather than drop or misplace the cell. */
  private[zarr] def writeOrdinal(r: InternalRow, what: String): Long = {
    if (r.isNullAt(0))
      throw new IllegalStateException(
        s"$what: a row's dimension value is not on the axis the write was planned with " +
          "(the input changed between the pre-write pass and the write)"
      )
    r.getLong(0)
  }

  /** External timestamp value → Spark's internal epoch micros, the value an
    * `M8[us]` cell stores and reads back (both java.sql and java.time
    * spellings, depending on spark.sql.datetime.java8API.enabled). A
    * `java.sql.Timestamp` goes through Spark's own conversion, which undoes
    * the Julian rebase Spark gives pre-1582 instants on the way out, so a
    * value cell, a coordinate and a struct field of one instant agree. */
  private[zarr] def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
    case other => throw new IllegalArgumentException(s"zarr sink: bad timestamp value $other")
  }

  /** `df` without the sorts under its deterministic projections and
    * filters: the objects written do not depend on row order, so a frame
    * sorted before the write is not sorted for it (the optimizer drops a
    * sort under a repartition the same way, but not under the write's own
    * passes: the coordinate gather's aggregate would still run it). */
  private[zarr] def unsorted(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort => strip(s.child)
      case q: Project if q.projectList.forall(_.deterministic) => q.copy(child = strip(q.child))
      case f: Filter if f.condition.deterministic => f.copy(child = strip(f.child))
      case other => other
    }
    val plan = df.queryExecution.analyzed
    val bare = strip(plan)
    if (bare.fastEquals(plan)) df else GraftBridge.ofRows(df, bare)
  }

  /** Writes `input` as a Zarr array (or appends it, see `append.dim`) and
    * returns the meta its chunk objects were written under: the array's
    * metadata as committed, bar the attributes. */
  def write(input: DataFrame, rawOptions: Map[String, String], overwrite: Boolean): ZarrArrayMeta = {
    val df = unsorted(input)
    val opts = rawOptions.map { case (k, v) => k.toLowerCase -> v }
    def required(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"zarr sink requires option '$k'"))
    val path = required("path")
    val array = required("array")
    // `append.dim`: extend an EXISTING array along its leading dimension
    // (the streaming-foreachBatch pattern); a not-yet-existing array falls
    // through to the normal create path, so the first batch bootstraps
    if (opts.contains("append.dim") && !overwrite) {
      val probe = new ZarrStore(
        path,
        opts.collect { case (k, v) if k.startsWith("storage.") => k.drop("storage.".length) -> v },
        opts.get("group"),
        Some(false)
      )
      val exists = try probe.listArrays().contains(array)
      catch { case scala.util.control.NonFatal(_) => false }
      if (exists) return ZarrAppend.append(df, opts)
    }
    val group = opts.get("group")
    val storageOptions = opts.collect { case (k, v) if k.startsWith("storage.") => k.drop("storage.".length) -> v }
    val spark = df.sparkSession

    require(df.columns.contains("value"), "zarr sink requires a 'value' column")
    val dims = df.columns.filter(_ != "value").toVector
    require(dims.nonEmpty, "zarr sink requires at least one dimension column")
    val dtype = opts.getOrElse("dtype", dtypeFor(df.schema("value").dataType))
    val zdt = ZDtype.parse(dtype)
    val strValue = zdt.code == ZDtype.VSTR
    require(
      !strValue || df.schema("value").dataType == StringType,
      s"zarr sink: dtype '$dtype' needs a StringType value column"
    )
    if (zdt.code == ZDtype.V) df.schema("value").dataType match {
      case st: StructType =>
        require(
          st.fieldNames.toSeq == zdt.fields.map(_._1),
          s"zarr sink: struct value fields ${st.fieldNames.mkString(",")} do not match " +
            s"dtype fields ${zdt.fields.map(_._1).mkString(",")}"
        )
      case other =>
        throw new IllegalArgumentException(s"zarr sink: dtype '$dtype' needs a struct value column, got $other")
    }
    val v3 = opts.getOrElse("zarr_format", "2") match {
      case "2" => false
      case "3" => true
      case other => throw new IllegalArgumentException(s"zarr sink: bad zarr_format '$other' (2 or 3)")
    }
    if (v3) {
      require(
        zdt.code != ZDtype.M8,
        "zarr sink: zarr_format=3 has no core datetime64 data_type — write the epoch value as int64"
      )
      require(
        zdt.code != ZDtype.V,
        "zarr sink: zarr_format=3 has no structured data_type — write compound records as zarr_format=2"
      )
      // dims too, and BEFORE the distributed data job: the coordinate
      // arrays are written after all chunks are, so a late failure would
      // leave a partially-written store after a fully wasted job
      dims.foreach { d =>
        require(
          !coordDtype(df.schema(d).dataType).contains("M8"),
          s"zarr sink: zarr_format=3 has no core datetime64 data_type for dimension '$d' — use an int64 epoch column"
        )
      }
    }
    val compressor = opts.get("compressor") match {
      case Some("none") | Some("null") => None
      case Some("zlib") if v3 => Some("gzip") // v3 has no zlib codec; gzip is its spelling
      case Some(c) => Some(c)
      case None => Some("blosc:lz4")
    }
    // v3 chunk encode chain (encode order), computed once driver-side
    val v3Cfgs: Seq[String] =
      if (!v3) Nil
      else compressor.toSeq.map(ZarrStoreWriterV3.codecCfg(_, math.max(zdt.itemSize, 1))) ++
        (if (opts.get("checksum").contains("true")) Seq("""{"name": "crc32c"}""") else Nil)
    // string values: sparse cells inside a WRITTEN chunk and absent chunks
    // both read back as the fill string (default "") — one consistent value
    val fillStr: String = if (strValue) opts.get("fill_value").getOrElse("") else ""
    // structured values: fill is a base64 packed cell (default all-zero
    // bytes — zarr-python's own default for compound dtypes)
    val structValue = zdt.code == ZDtype.V
    val structFill: Array[Byte] =
      if (!structValue) null
      else
        opts.get("fill_value") match {
          case None => new Array[Byte](zdt.itemSize)
          case Some(b64) =>
            val raw = java.util.Base64.getDecoder.decode(b64)
            require(
              raw.length == zdt.itemSize,
              s"zarr sink: structured fill_value decodes to ${raw.length} B, cell is ${zdt.itemSize} B"
            )
            raw
        }
    val fillValue =
      if (strValue || structValue) 0.0 else opts.get("fill_value").map(_.toDouble).getOrElse(0.0)
    // unsigned targets (explicit `dtype`=u1/u2/u4): validate range instead of
    // silently masking — a -1 written as 255 is the sink's worst failure mode
    val (rangeMin, rangeMax): (Long, Long) = zdt.code match {
      case ZDtype.U1 => (0L, 255L)
      case ZDtype.U2 => (0L, 65535L)
      case ZDtype.U4 => (0L, 4294967295L)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    val rangeChecked = rangeMin != Long.MinValue
    if (rangeChecked)
      require(
        fillValue >= rangeMin && fillValue <= rangeMax,
        s"zarr sink: fill_value $fillValue out of range for unsigned dtype '$dtype' [$rangeMin, $rangeMax]"
      )

    val root = ZarrFileIO.toPath(path)
    val groupDir = group.map(g => new HPath(root, g)).getOrElse(root)
    val arrayDir = new HPath(groupDir, array)
    if (ZarrFileIO.exists(arrayDir, storageOptions)) {
      if (overwrite) ZarrFileIO.deleteRecursive(arrayDir, storageOptions)
      else
        throw new IllegalArgumentException(
          s"zarr array '$array' already exists at $groupDir — use mode('overwrite') to replace it " +
            "(partial in-place chunk updates are not supported)"
        )
    }

    // ---- coordinates: sorted distinct values per dim (small, driver-side
    // like the read path's coordFor); each becomes an AxisOrdinal lookup
    // table shipped in the plan, so indexing stays inside codegen.
    //
    // ONE aggregation job gathers every dim's distinct set AND null count
    // (one input scan with map-side partial merge — not D `distinct()`
    // scans); a high-cardinality dim fails in the first map task that
    // exceeds the bound, before anything reaches the driver.
    val maxCoordValues = opts.get("max_coord_values").map(_.toInt).getOrElse(10000000)
    // long-axis coordinate arrays: cells per chunk object (read-path
    // deferral + chunk-stats pruning pick these up symmetrically)
    val coordChunkValues = opts.get("coord_chunk_values").map(_.toInt).getOrElse(1000000)
    require(coordChunkValues > 0, "zarr sink: coord_chunk_values must be positive")
    val aggCols = dims.flatMap { d =>
      coordDtype(df.schema(d).dataType) // validate early with a clear message
      Seq(
        GraftBridge.column(
          graft.functions
            .BoundedCollectSet(
              GraftBridge.expression(col(d)),
              maxCoordValues,
              failOnOverflow = false // overflow = "long axis": route below, don't fail
            )
            .toAggregateExpression()
        ),
        count(when(col(d).isNull, 1))
      )
    }
    val aggRow = df.agg(aggCols.head, aggCols.tail: _*).head()
    // Per-dim axis plan. Common case (Left): the bounded one-job gather
    // returned the axis driver-side — sort locally, look ordinals up in an
    // AxisOrdinal table. Long axis (Right, cardinality past
    // max_coord_values): the values must NEVER sit on the driver or in the
    // plan — distinct + total sort + zipWithIndex assigns ordinals
    // distributed, the ordinal join becomes a shuffle join, and the
    // coordinate array is written chunk-by-chunk from executors. Same store
    // either way.
    val axes: Vector[(String, DataType, Either[Array[Any], (org.apache.spark.rdd.RDD[(Any, Long)], Int)])] =
      dims.zipWithIndex.map { case (d, di) =>
        val dt = df.schema(d).dataType
        require(aggRow.getLong(2 * di + 1) == 0L, s"zarr sink: dimension '$d' contains NULL")
        if (!aggRow.isNullAt(2 * di)) {
          val vals = aggRow.getSeq[Any](2 * di).toArray.sorted(externalOrdering(dt))
          require(vals.nonEmpty, s"zarr sink: dimension '$d' has no values (empty input)")
          (d, dt, Left(vals))
        } else {
          val sorted = df
            .select(col(d))
            .distinct()
            .orderBy(col(d))
            .rdd
            .map(_.get(0))
            .zipWithIndex()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = sorted.count()
          require(
            n <= Int.MaxValue.toLong,
            s"zarr sink: dimension '$d' has $n distinct values — beyond the per-axis Int bound"
          )
          (d, dt, Right((sorted, n.toInt)))
        }
      }
    val shape = axes.map {
      case (_, _, Left(vals)) => vals.length
      case (_, _, Right((_, n))) => n
    }
    val chunks = opts.get("chunks") match {
      case Some(cs) =>
        val c = cs.split(",").map(_.trim.toInt).toVector
        require(c.length == shape.length && c.forall(_ > 0), s"bad chunks '$cs' for rank ${shape.length}")
        c
      case None => shape.map(s => math.min(s, 256))
    }
    val nChunksVec = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    val gridStrides = IndexMath.strides(nChunksVec)
    val chunkStrides = IndexMath.strides(chunks)
    // `shards` (v3 only): cells per SHARD OBJECT per dim — each a multiple
    // of `chunks`, which become the inner chunks of a sharding_indexed
    // store. At object-store scale this is the write shape that matters:
    // thousands of inner chunks per PUT instead of one object per chunk.
    val shardsOpt: Option[Vector[Int]] = opts.get("shards").map { ss =>
      require(v3, "zarr sink: 'shards' requires zarr_format=3 (sharding_indexed is a v3 codec)")
      val sv = ss.split(",").map(_.trim.toInt).toVector
      require(
        sv.length == shape.length && sv.zip(chunks).forall { case (s, c) => s > 0 && s % c == 0 },
        s"bad shards '$ss': must be per-dim positive multiples of chunks ${chunks.mkString(",")}"
      )
      require(
        sv.map(_.toLong).product * zdt.itemSize <= Int.MaxValue,
        s"shard of ${sv.map(_.toLong).product} cells x ${zdt.itemSize} B exceeds the 2 GB object bound — use smaller shards"
      )
      sv
    }

    var indexed = df
    axes.zipWithIndex.foreach { case ((d, dt, plan), di) =>
      plan match {
        case Left(vals) =>
          val table = graft.functions.AxisTable(
            dt,
            vals.map(org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst),
            s"zarr sink: axis '$d'"
          )
          indexed = indexed.withColumn(s"__i$di", ordinalColumn(d, table, 0L))
        case Right((sorted, _)) =>
          // long axis: the ordinal map stays distributed — shuffle join on
          // the dim value, never a driver-side table past the bound
          val idxSchema = StructType(
            Seq(StructField("__v", dt, nullable = false), StructField(s"__i$di", LongType, nullable = false))
          )
          val idxDf = spark.createDataFrame(sorted.map { case (v, i) => Row(v, i) }, idxSchema)
          indexed = indexed.join(idxDf, indexed(d) === idxDf("__v")).drop("__v")
      }
    }
    // chunk ordinal + in-chunk offset as pure column arithmetic (`div` is
    // integral division — no double round-trip)
    val chunkExpr = dims.indices
      .map(di => expr(s"__i$di div ${chunks(di)}") * lit(gridStrides(di)))
      .reduce(_ + _)
    val localExpr = dims.indices
      .map(di => (col(s"__i$di") % lit(chunks(di))) * lit(chunkStrides(di)))
      .reduce(_ + _)
    val totalChunks = nChunksVec.map(_.toLong).product
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val chunkElems = chunks.map(_.toLong).product
    require(
      chunkElems * math.max(zdt.itemSize, 1) <= Int.MaxValue,
      s"chunk of ${chunkElems} elements x ${zdt.itemSize} B exceeds the 2 GB buffer bound — use smaller chunks"
    )

    val executorOpts = ZarrFileIO.executorOptions(storageOptions)
    val arrayDirStr = arrayDir.toString

    // ---- per-chunk value statistics (zone maps): on by default for
    // numeric/datetime dtypes on bounded grids; `chunk_stats=false` opts
    // out. Grids up to the flat cap (65536 chunks x ~40 B ≈ 3 MB attrs
    // doc + task-binary pruner) store per-chunk bounds in the attrs;
    // LARGER grids (up to flat_cap x block_len ≈ 2.7e8 chunks) switch to
    // the two-level layout — per-BLOCK rollups in the attrs, per-chunk
    // bounds in one side doc per block written by EXECUTORS (the driver
    // only ever collects <= flat_cap rollup records, never 1e6+ chunk
    // bounds). Sharded stores record bounds per INNER chunk — the scan's
    // pruning granularity — so a pruned inner chunk skips its byte-range
    // read inside the shard object. `stats.flat_cap` / `stats.block_len`
    // exist for spec-scale forcing of the hierarchical layout.
    val statsDomain: Option[String] =
      if (structValue) None else ZarrChunkStats.domainOf(zdt)
    val statsFlatCap: Long =
      opts.get("stats.flat_cap").map(_.toLong).getOrElse(ZarrChunkStats.FlatCap)
    val statsBlockLen: Long =
      opts.get("stats.block_len").map(_.toLong).getOrElse(ZarrChunkStats.DefaultBlockLen)
    require(statsFlatCap > 0 && statsBlockLen > 0, "stats.flat_cap / stats.block_len must be positive")
    val statsHier: Boolean = totalChunks > statsFlatCap
    val statsOn: Boolean =
      statsDomain.isDefined && totalChunks <= statsFlatCap * statsBlockLen &&
        opts.get("chunk_stats").forall(_.toBoolean)
    var statsAttrJson: Option[String] = None
    // grid past the two-level ceiling: stats are skipped — record WHY in
    // the attrs so the scan can warn instead of silently losing pruning
    val statsDroppedJson: Option[String] =
      if (statsDomain.isDefined && opts.get("chunk_stats").forall(_.toBoolean) &&
          totalChunks > statsFlatCap * statsBlockLen)
        Some(ZarrChunkStats.droppedJson(totalChunks, statsFlatCap * statsBlockLen, "ceiling"))
      else None
    def statsAttrMap: Map[String, String] =
      statsAttrJson.map(j => ZarrChunkStats.AttrKey -> j).toMap ++
        statsDroppedJson.map(j => ZarrChunkStats.DroppedAttrKey -> j).toMap

    /** Runs the write job carried by `rdd` and records its stats. Flat
      * grids collect the per-chunk bounds driver-side (bounded by the flat
      * cap); hierarchical grids shuffle the bounds by block (tiny — ~40 B
      * per WRITTEN chunk), write one side doc per block from executors,
      * and collect only the per-block rollups. */
    def finishStats(rdd: org.apache.spark.rdd.RDD[ChunkBounds]): Unit =
      if (!statsOn || !statsHier) {
        val rows = rdd.collect()
        if (statsOn) statsAttrJson = Some(ZarrChunkStats.toJson(ZarrChunkStats.docOfBounds(statsDomain.get, totalChunks, rows)))
      } else {
        val domain = statsDomain.get
        val blockLen = statsBlockLen
        val dirStr = arrayDirStr
        val eOpts = executorOpts
        val totC = totalChunks
        val nBlocks = (totC + blockLen - 1) / blockLen
        val rollParts = math.max(1L, math.min(shufflePartitions.toLong, nBlocks)).toInt
        val rollups: Array[(Long, Long, ChunkBounds)] = rdd
          .map(b => (b.ord / blockLen, b))
          .groupByKey(rollParts)
          .map { case (blk, bs) =>
            val doc = ZarrChunkStats.docOfBounds(domain, totC, bs)
            ZarrFileIO.writeString(new HPath(dirStr, s"${ZarrChunkStats.SideDir}/$blk"), eOpts, ZarrChunkStats.toJson(doc))
            (blk, bs.size.toLong, ZarrChunkStats.rollupRecord(blk, doc))
          }
          .collect()
        val rollDoc = ZarrChunkStats.docOfBounds(domain, nBlocks, rollups.map(_._3))
        statsAttrJson = Some(
          ZarrChunkStats.toJsonHier(
            ZarrChunkStats.Hier(
              domain,
              totC,
              blockLen,
              rollups.map(t => t._1 -> t._2).toMap,
              rollDoc
            )
          )
        )
      }

    // ---- the data job: cells travel as packed per-chunk fragments
    // (ZarrFragments) through one shuffle keyed by shard (by chunk when
    // unsharded), so each chunk's cells — and each shard's chunks — meet in
    // exactly one task, which prefills one chunk buffer at a time, overlays
    // the chunk's fragments and hands it to the ZarrChunkWriter of the meta
    // committed below. Unset cells keep the fill, so written-chunk and
    // absent-chunk reads agree. With stats on, each task also emits one
    // [min, max] record per chunk it wrote (byte-lexicographic for strings),
    // rolled up via finishStats and written into the array attributes as
    // chunk zone maps.
    val target = storeMeta(array, shape, chunks, dtype, v3, compressor, v3Cfgs).copy(
      dims = dims,
      fillValue = if (strValue || structValue) None else Some(fillValue),
      fillValueStr =
        if (strValue) Some(fillStr)
        else Option(structFill).map(java.util.Base64.getEncoder.encodeToString),
      shardShape = shardsOpt
    )
    val writer = new ZarrChunkWriter(target, arrayDirStr, executorOpts, stats = statsOn)
    // one reduce task per object at most: a shard (a chunk when unsharded)
    // is written by exactly one task
    val objects = shardsOpt.fold(totalChunks)(_.zip(shape).map { case (c, s) => ((s + c - 1) / c).toLong }.product)
    val parts = math.max(1L, math.min(shufflePartitions.toLong, objects)).toInt
    val prepared =
      indexed.select(chunkExpr.as("__chunk"), localExpr.as("__local"), col("value").as("__value"))
    val cellPut = new CellPut(df.schema("value").dataType, zdt, rangeChecked, rangeMin, rangeMax, dtype)
    finishStats(ZarrFragments.shuffle(prepared, writer.layout, cellPut, parts, "zarr sink").mapPartitions(writer.writeFragments))

    // ---- metadata (driver-side, after the data job): group marker, array
    // metadata, coordinate arrays, consolidated metadata
    if (v3) {
      val gj = new HPath(groupDir, "zarr.json")
      if (!ZarrFileIO.exists(gj, storageOptions))
        ZarrFileIO.writeString(gj, storageOptions, """{"zarr_format": 3, "node_type": "group"}""")
      val endianStr = if (zdt.bigEndian) "big" else "little"
      val statsAttrsJson: String =
        if (statsAttrMap.isEmpty) "{}"
        else statsAttrMap.map { case (k, j) => s""""$k": $j""" }.mkString("{", ", ", "}")
      val arrayDoc = shardsOpt match {
        case None if strValue =>
          // data_type "string": vlen-utf8 replaces the bytes codec
          val allCodecs = ("""{"name": "vlen-utf8"}""" +: v3Cfgs).mkString("[", ", ", "]")
          val dimNames = dims.map(x => s"""\"$x\"""").mkString("[", ", ", "]")
          s"""{"zarr_format": 3, "node_type": "array",
             |"shape": [${shape.mkString(",")}],
             |"data_type": "string",
             |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${chunks.mkString(",")}]}},
             |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
             |"fill_value": ${ZarrStoreWriter.jsonStr(fillStr)},
             |"codecs": $allCodecs,
             |"attributes": $statsAttrsJson,
             |"dimension_names": $dimNames}""".stripMargin
        case None =>
          ZarrStoreWriterV3.arrayJson(
            shape, chunks, v3DataTypeName(dtype), v3Cfgs, Some(fillValue), Some(dims),
            separator = "/", endian = endianStr,
            attrs = statsAttrMap
          )
        case Some(shards) if strValue =>
          // sharded strings: vlen-utf8 inner chunks inside shard objects;
          // chunk_grid carries the SHARD shape, the sharding codec nests
          // the inner chunk shape + vlen chain
          val innerChain = ("""{"name": "vlen-utf8"}""" +: v3Cfgs).mkString("[", ", ", "]")
          val shardingCfg =
            s"""{"name": "sharding_indexed", "configuration": {
               |"chunk_shape": [${chunks.mkString(",")}],
               |"codecs": $innerChain,
               |"index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
               |"index_location": "end"}}""".stripMargin
          val dimNames = dims.map(x => s"""\"$x\"""").mkString("[", ", ", "]")
          s"""{"zarr_format": 3, "node_type": "array",
             |"shape": [${shape.mkString(",")}],
             |"data_type": "string",
             |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${shards.mkString(",")}]}},
             |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
             |"fill_value": ${ZarrStoreWriter.jsonStr(fillStr)},
             |"codecs": [$shardingCfg],
             |"attributes": $statsAttrsJson,
             |"dimension_names": $dimNames}""".stripMargin
        case Some(shards) =>
          // chunk_grid carries the SHARD shape; the sharding codec nests the
          // inner chunk shape + codec chain
          val innerChain =
            (s"""{"name": "bytes", "configuration": {"endian": "$endianStr"}}""" +: v3Cfgs)
              .mkString("[", ", ", "]")
          val shardingCfg =
            s"""{"name": "sharding_indexed", "configuration": {
               |"chunk_shape": [${chunks.mkString(",")}],
               |"codecs": $innerChain,
               |"index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
               |"index_location": "end"}}""".stripMargin
          val withOuter = ZarrStoreWriterV3.arrayJson(
            shape, shards, v3DataTypeName(dtype), Nil, Some(fillValue), Some(dims),
            separator = "/", endian = endianStr,
            attrs = statsAttrMap
          )
          val doc = withOuter.replace(
            s""""codecs": [{"name": "bytes", "configuration": {"endian": "$endianStr"}}]""",
            s""""codecs": [$shardingCfg]"""
          )
          require(doc != withOuter, "sharded arrayJson rewrite failed")
          doc
      }
      ZarrFileIO.writeString(new HPath(arrayDir, "zarr.json"), storageOptions, arrayDoc)
    } else {
      val zgroup = new HPath(groupDir, ".zgroup")
      if (!ZarrFileIO.exists(zgroup, storageOptions))
        ZarrFileIO.writeString(zgroup, storageOptions, """{"zarr_format": 2}""")
      ZarrFileIO.writeString(
        new HPath(arrayDir, ".zarray"),
        storageOptions,
        if (strValue)
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}], "chunks": [${chunks.mkString(",")}],
             |"dtype": "|O", "order": "C", "compressor": ${ZarrStoreWriter.compressorJson(compressor)},
             |"fill_value": ${ZarrStoreWriter.jsonStr(fillStr)},
             |"filters": [{"id": "vlen-utf8"}]}""".stripMargin
        else if (structValue)
          // structured dtype is the raw JSON list; fill is the base64 cell
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}], "chunks": [${chunks.mkString(",")}],
             |"dtype": $dtype, "order": "C", "compressor": ${ZarrStoreWriter.compressorJson(compressor)},
             |"fill_value": "${java.util.Base64.getEncoder.encodeToString(structFill)}",
             |"filters": null}""".stripMargin
        else ZarrStoreWriter.zarrayJson(shape, chunks, dtype, compressor, Some(fillValue))
      )
      ZarrFileIO.writeString(
        new HPath(arrayDir, ".zattrs"),
        storageOptions,
        ZarrStoreWriter.zattrsJson(
          Some(dims),
          statsAttrMap
        )
      )
    }
    axes.foreach {
      case (d, cdt, Left(vals)) => writeCoordArray(groupDir, d, vals, cdt, v3, compressor, v3Cfgs, storageOptions)
      case (d, cdt, Right((sorted, n))) =>
        writeCoordArrayDistributed(groupDir, d, sorted, n, cdt, v3, compressor, v3Cfgs, storageOptions, coordChunkValues)
    }
    if (v3) consolidateV3(groupDir, storageOptions) else consolidate(groupDir, storageOptions)
    target
  }

  /** numpy dtype spelling → v3 core data_type name. */
  private def v3DataTypeName(dtype: String): String = {
    val kind = dtype.dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=')
    kind match {
      case "b1" => "bool"
      case "i1" => "int8"; case "u1" => "uint8"
      case "i2" => "int16"; case "u2" => "uint16"
      case "i4" => "int32"; case "u4" => "uint32"
      case "i8" => "int64"
      case "f2" => "float16"; case "f4" => "float32"; case "f8" => "float64"
      case other =>
        throw new IllegalArgumentException(s"zarr sink: no v3 core data_type for dtype '$dtype' ($other)")
    }
  }

  /** One coordinate cell → buffer, exact for integral/timestamp types
    * (shared by the driver-side and distributed coordinate writers). */
  private[zarr] def putCoordCell(dt: ZDtype, buf: ByteBuffer, i: Int, v: Any): Unit = v match {
    case x: java.lang.Integer => ZDtype.putLong(dt, buf, i, x.longValue())
    case l: java.lang.Long => ZDtype.putLong(dt, buf, i, l.longValue())
    case f: java.lang.Float => ZDtype.put(dt, buf, i, f.doubleValue())
    case d: java.lang.Double => ZDtype.put(dt, buf, i, d.doubleValue())
    case t @ (_: java.sql.Timestamp | _: java.time.Instant) => ZDtype.putLong(dt, buf, i, micros(t))
    case s: String => ZDtype.putFixedString(dt, buf, i, s) // fixed |S / <U cells
    case bd: java.math.BigDecimal => ZDtype.putUnsigned64(dt, buf, i, bd) // uint64 axis
    case other => throw new IllegalArgumentException(s"zarr sink: bad coord value $other")
  }

  /** The layout the sink gives an array it writes: v3 `c/`-keys and a
    * bytes-to-bytes codec chain, or v2 dotted keys and a compressor. */
  private[zarr] def storeMeta(
      name: String,
      shape: Vector[Int],
      chunks: Vector[Int],
      dtype: String,
      v3: Boolean,
      compressor: Option[String],
      v3Cfgs: Seq[String]
  ): ZarrArrayMeta =
    ZarrArrayMeta(
      name, shape, chunks, dtype, "C", if (v3) None else compressor, None, Vector(name), Map.empty,
      v3 = v3, keyEncoding = if (v3) "default" else "v2", keySeparator = if (v3) "/" else ".",
      v3Codecs = if (v3) v3Cfgs.toVector else Vector.empty
    )

  /** Writes the metadata of 1-D coordinate array `dim` — `n` cells in
    * `chunkLen`-cell chunks, numeric (fill 0) or vlen-utf8 (fill null) —
    * and returns the meta its chunks are written under. */
  private def writeCoordMeta(
      groupDir: HPath,
      dim: String,
      n: Int,
      chunkLen: Int,
      sparkType: DataType,
      v3: Boolean,
      compressor: Option[String],
      v3Cfgs: Seq[String],
      storageOptions: Map[String, String]
  ): ZarrArrayMeta = {
    val dir = new HPath(groupDir, dim)
    val dtype = coordDtype(sparkType)
    val str = sparkType == StringType
    if (v3) {
      require(
        !dtype.contains("M8"),
        s"zarr sink: zarr_format=3 has no core datetime64 data_type for dimension '$dim' — use an int64 epoch column"
      )
      ZarrFileIO.writeString(
        new HPath(dir, "zarr.json"),
        storageOptions,
        if (str)
          s"""{"zarr_format": 3, "node_type": "array",
             |"shape": [$n],
             |"data_type": "string",
             |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [$chunkLen]}},
             |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
             |"fill_value": null,
             |"codecs": ${("""{"name": "vlen-utf8"}""" +: v3Cfgs).mkString("[", ", ", "]")},
             |"attributes": {},
             |"dimension_names": ["$dim"]}""".stripMargin
        else
          ZarrStoreWriterV3.arrayJson(
            Vector(n), Vector(chunkLen), v3DataTypeName(dtype), v3Cfgs, Some(0.0),
            Some(Vector(dim)), separator = "/", endian = "little"
          )
      )
    } else {
      ZarrFileIO.writeString(
        new HPath(dir, ".zarray"),
        storageOptions,
        if (str)
          s"""{"zarr_format": 2, "shape": [$n], "chunks": [$chunkLen],
             |"dtype": "|O", "order": "C", "compressor": ${ZarrStoreWriter.compressorJson(compressor)},
             |"fill_value": null, "filters": [{"id": "vlen-utf8"}]}""".stripMargin
        else ZarrStoreWriter.zarrayJson(Vector(n), Vector(chunkLen), dtype, compressor, Some(0.0))
      )
      ZarrFileIO.writeString(new HPath(dir, ".zattrs"), storageOptions, ZarrStoreWriter.zattrsJson(Some(Vector(dim))))
    }
    storeMeta(dim, Vector(n), Vector(chunkLen), dtype, v3, compressor, v3Cfgs)
  }

  /** Writes coordinate chunk `c` from its `(offset, value)` cells: a full
    * chunk, zero- or ""-padded past the axis end (the zarr and numcodecs
    * VLenUTF8 conventions). */
  private def writeCoordChunk(writer: ZarrChunkWriter, c: Long, cells: Iterable[(Long, Any)]): Unit = {
    val dt = writer.meta.zdtype
    val len = writer.meta.chunks.head
    val out = writer.output()
    if (dt.code == ZDtype.VSTR) {
      val strs = Array.fill(len)("")
      cells.foreach { case (off, v) => strs(off.toInt) = v.asInstanceOf[String] }
      out.chunk(c, strs)
    } else {
      val buf = ByteBuffer.allocate(len * dt.itemSize).order(ByteOrder.LITTLE_ENDIAN)
      cells.foreach { case (off, v) => putCoordCell(dt, buf, off.toInt, v) }
      out.chunk(c, buf)
    }
    out.close()
  }

  /** Driver-side 1-D coordinate array: the whole axis in one chunk. */
  private[zarr] def writeCoordArray(
      groupDir: HPath,
      dim: String,
      vals: Array[Any],
      sparkType: DataType,
      v3: Boolean,
      compressor: Option[String],
      v3Cfgs: Seq[String],
      storageOptions: Map[String, String]
  ): Unit = {
    val cm = writeCoordMeta(groupDir, dim, vals.length, vals.length, sparkType, v3, compressor, v3Cfgs, storageOptions)
    val writer = new ZarrChunkWriter(cm, new HPath(groupDir, dim).toString, storageOptions)
    writeCoordChunk(writer, 0L, vals.indices.map(i => (i.toLong, vals(i))))
  }

  /** LONG-axis 1-D coordinate array: metadata driver-side, chunk objects
    * written FROM EXECUTORS out of the sorted (value, ordinal) RDD — the
    * axis values never materialize on the driver. 1M-cell chunks: a 10^9-
    * value axis is ~1000 objects, and the read path's deferred-coordinate
    * machinery (threshold, chunk cursors, stats pruning — lexicographic for
    * a label axis, whose binary UTF-8 sort order Spark's own matches)
    * picks it up symmetrically. */
  private def writeCoordArrayDistributed(
      groupDir: HPath,
      dim: String,
      sorted: org.apache.spark.rdd.RDD[(Any, Long)],
      n: Int,
      sparkType: DataType,
      v3: Boolean,
      compressor: Option[String],
      v3Cfgs: Seq[String],
      storageOptions: Map[String, String],
      coordChunkValues: Int
  ): Unit = {
    val chunkLen = math.min(n.toLong, coordChunkValues.toLong).toInt
    val nChunks = ((n.toLong + chunkLen - 1) / chunkLen).toInt
    val cm = writeCoordMeta(groupDir, dim, n, chunkLen, sparkType, v3, compressor, v3Cfgs, storageOptions)
    val writer = new ZarrChunkWriter(cm, new HPath(groupDir, dim).toString, ZarrFileIO.executorOptions(storageOptions))
    sorted
      .map { case (v, i) => (i / chunkLen, (i % chunkLen, v)) }
      .groupByKey(math.max(1, math.min(nChunks, sorted.sparkContext.defaultParallelism)))
      .foreach { case (c, cells) => writeCoordChunk(writer, c, cells) }
    sorted.unpersist(blocking = false)
  }

  /** Rebuild the root `zarr.json` consolidated metadata from the on-store
    * member documents — the FS-general sibling of
    * [[ZarrStoreWriterV3.consolidate]]. */
  private[zarr] def consolidateV3(groupDir: HPath, storageOptions: Map[String, String]): Unit = {
    val entries = ZarrFileIO.listDirNames(groupDir, storageOptions).sorted.flatMap { n =>
      ZarrFileIO
        .readStringIfExists(new HPath(new HPath(groupDir, n), "zarr.json"), storageOptions)
        .map(s => s""""$n": $s""")
    }
    ZarrFileIO.writeString(
      new HPath(groupDir, "zarr.json"),
      storageOptions,
      s"""{"zarr_format": 3, "node_type": "group",
         |"consolidated_metadata": {"kind": "inline", "must_understand": false,
         |"metadata": {${entries.mkString(",\n")}}}}""".stripMargin
    )
  }

  /** Rebuild `.zmetadata` from the on-store metadata files — the FS-general
    * sibling of [[ZarrStoreWriter.consolidate]], covering pre-existing
    * arrays in the group as well as the ones just written. */
  private[zarr] def consolidate(groupDir: HPath, storageOptions: Map[String, String]): Unit = {
    val entries = scala.collection.mutable.ListBuffer[String]()
    ZarrFileIO.readStringIfExists(new HPath(groupDir, ".zgroup"), storageOptions).foreach { s =>
      entries += "\".zgroup\": " + s
    }
    ZarrFileIO.listDirNames(groupDir, storageOptions).sorted.foreach { n =>
      Seq(".zarray", ".zattrs").foreach { mf =>
        ZarrFileIO
          .readStringIfExists(new HPath(new HPath(groupDir, n), mf), storageOptions)
          .foreach(s => entries += s""""$n/$mf": $s""")
      }
    }
    ZarrFileIO.writeString(
      new HPath(groupDir, ".zmetadata"),
      storageOptions,
      s"""{"zarr_format": 2, "metadata": {${entries.mkString(",\n")}}}"""
    )
  }
}
