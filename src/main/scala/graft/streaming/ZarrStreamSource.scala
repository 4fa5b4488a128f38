package graft.streaming

import graft.model._
import graft.sources.Coord
import graft.sources.zarr._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Structured-Streaming zarr source: micro-batch reads over a GROWING
  * append dimension (`option("stream.dim", "time")`) — the sensor/forecast
  * pattern where a store's time axis extends while the grid dims stay
  * fixed.
  *
  * Offsets are the CELL EXTENT of the stream dim (the array shape along
  * it), re-read from un-consolidated metadata every poll — so each batch
  * is the exact half-open index slab `[startExtent, endExtent)`, each
  * index emitted exactly once even when writers rewrite a trailing
  * partial chunk. Executors read only the new slab's chunks; the
  * stream-dim coordinate values (if a coordinate array exists) decode
  * executor-side through the same [[DeferredCoordSpec]] cursor machinery
  * the batch scan uses for long axes, with a fresh metadata snapshot per
  * batch so grown coordinate arrays are visible. Beyond the reference
  * (batch-only, SURVEY.md §2.9): this is the Spark-first answer to "the
  * store keeps growing".
  */
object ZarrStreamOffset {
  /** A checkpointed offset back to its extent; an offset without one (a
    * damaged or foreign checkpoint) throws rather than replaying the whole
    * array from extent 0. */
  def parse(json: String): ZarrStreamOffset = {
    val m = """"extent"\s*:\s*(\d+)""".r.findFirstMatchIn(json).getOrElse(
      throw new IllegalArgumentException(s"not a zarr stream offset (no \"extent\"): $json")
    )
    ZarrStreamOffset(m.group(1).toLong)
  }
}
final case class ZarrStreamOffset(extent: Long) extends Offset {
  override def json(): String = s"""{"extent": $extent}"""
}

/** One chunk-aligned stream-dim slab `[from, until)` with the metadata
  * SNAPSHOT it must be read under (the array grows between batches; the
  * snapshot pins shape/ragged-edge math) plus the per-batch coordinate
  * spec for the stream dim. */
final case class ZarrStreamPartition(
    meta: ZarrArrayMeta,
    streamCoord: Option[DeferredCoordSpec],
    from: Int,
    until: Int
) extends InputPartition

final class ZarrMicroBatchStream(
    store: ZarrStore,
    arrayName: String,
    streamDim: String,
    required: StructType,
    otherKeep: Vector[KeptSet], // kept sets per dim; stream dim entry ignored
    coords: Vector[Coord], // driver coords per dim (stream dim entry ignored)
    staticDeferred: Map[Int, DeferredCoordSpec], // long non-stream dims
    targetCells: Long
) extends MicroBatchStream {

  private def freshStore: ZarrStore =
    new ZarrStore(store.storePath, store.storageOptions, store.group, Some(false))

  private def freshMeta: ZarrArrayMeta = freshStore.arrayMeta(arrayName)

  private val baseMeta = store.arrayMeta(arrayName)
  private val streamDimIdx: Int = baseMeta.dims.indexOf(streamDim)
  require(streamDimIdx >= 0, s"stream.dim '$streamDim' is not a dimension of '$arrayName'")

  override def initialOffset(): Offset = ZarrStreamOffset(0L)

  override def latestOffset(): Offset =
    ZarrStreamOffset(freshMeta.shape(streamDimIdx).toLong)

  override def deserializeOffset(json: String): Offset = ZarrStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ZarrStreamOffset].extent
    val e = end.asInstanceOf[ZarrStreamOffset].extent
    if (e <= s) return Array.empty
    val fs = freshStore
    val meta = fs.arrayMeta(arrayName)
    require(
      meta.shape(streamDimIdx).toLong >= e,
      s"zarr stream: array '$arrayName' shrank below committed offset $e (shape ${meta.shape})"
    )
    // per-batch stream-dim coordinate snapshot: a coordinate array must
    // cover the slab (a coordinate is total); absent -> positional indices
    val streamCoord: Option[DeferredCoordSpec] =
      if (!fs.listArrays().contains(streamDim)) None
      else {
        val cm = fs.arrayMeta(streamDim)
        require(
          cm.rank == 1 && cm.shape.head.toLong >= e,
          s"zarr stream: coordinate '$streamDim' (shape ${cm.shape}) does not cover extent $e"
        )
        Some(DeferredCoordSpec(fs.arrayDir(streamDim), cm))
      }
    // chunk-aligned slabs packed to targetCells
    val chunk = meta.chunks(streamDimIdx)
    val cellsPerIdx = otherKeep.indices
      .collect { case d if d != streamDimIdx => otherKeep(d).length.toLong }
      .product
    val idxPerPart = math.max(chunk.toLong, (targetCells / math.max(1L, cellsPerIdx) / chunk) * chunk)
    val parts = Array.newBuilder[InputPartition]
    var from = s
    while (from < e) {
      // start at a chunk boundary when possible so slabs don't split chunks
      val alignedUntil = math.min(e, ((from / chunk) * chunk + math.max(idxPerPart, chunk)))
      val until = if (alignedUntil <= from) math.min(e, from + chunk) else alignedUntil
      parts += ZarrStreamPartition(meta, streamCoord, from.toInt, until.toInt)
      from = until
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrStreamReaderFactory(
      store.arrayDir(arrayName),
      required,
      ZarrFileIO.executorOptions(store.storageOptions),
      streamDimIdx,
      otherKeep,
      // kept-aligned eager coords for the fixed dims (same construction as
      // the batch scan); stream dim and deferred dims served elsewhere
      otherKeep.indices.flatMap { d =>
        if (d == streamDimIdx) None
        else coords(d).gather(otherKeep(d).length, otherKeep(d).apply).map(d -> _)
      }.toMap,
      staticDeferred
    )
}

/** Builds a per-partition run table (stream-dim slab x fixed kept sets)
  * and reads it through the batch [[ZarrColumnarReader]] — coordinate
  * serving, chunk IO, fills, and dtypes are exactly the batch path. */
final class ZarrStreamReaderFactory(
    arrayDir: String,
    required: StructType,
    storageOptions: Map[String, String],
    streamDimIdx: Int,
    otherKeep: Vector[KeptSet],
    eagerCoords: Map[Int, Coord],
    staticDeferred: Map[Int, DeferredCoordSpec]
) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zarr stream reads are columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[ZarrStreamPartition]
    val meta = p.meta
    val dimRuns: Vector[DimRuns] = meta.shape.indices.map { d =>
      val ks =
        if (d == streamDimIdx) KeptSet.Range(p.from, p.until)
        else otherKeep(d)
      DimRuns.fromKeptSet(ks, meta.chunks(d))
    }.toVector
    val total = dimRuns.map(_.nRuns.toLong).product
    val deferred = staticDeferred ++ p.streamCoord.map(streamDimIdx -> _)
    new ZarrColumnarReader(
      arrayDir,
      meta,
      meta.shape.indices.toVector, // streaming keeps every dim in the row
      required,
      ZarrInputPartition(0L, total),
      storageOptions,
      dimRuns,
      eagerCoords,
      deferred
    )
  }
}
