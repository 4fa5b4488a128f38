package graft.sources.zarr

import graft.model.{IndexMath, ResolvedSelection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType

/** Reader checks for specs: the rows a scan's columnar readers emit, and
  * the rows its selection must hold, decoded cell by cell WITHOUT the scan
  * readers — the whole value array through `readWholeArray`, coordinates
  * from eagerly read coordinate arrays. */
object CellOracle {

  /** Every row the factory's columnar readers emit over `parts`, in order. */
  def columnarRows(
      factory: PartitionReaderFactory,
      parts: Seq[InputPartition],
      schema: StructType
  ): Seq[Seq[Any]] = parts.flatMap { p =>
    val r = factory.createColumnarReader(p)
    val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    while (r.next()) {
      val it = r.get().rowIterator()
      while (it.hasNext) {
        val row = it.next()
        out += schema.indices.map(i => row.get(i, schema(i).dataType))
      }
    }
    r.close()
    out.toSeq
  }

  /** The selection's cells in C order: the coordinate values of the output
    * dims, then the cell value (Spark-internal representations). */
  def expectedRows(store: ZarrStore, meta: ZarrArrayMeta, sel: ResolvedSelection): Seq[Seq[Any]] = {
    val values = ZarrChunkIO.readWholeArray(store.arrayDir(meta.name), meta, store.storageOptions)
    val coords = meta.dims.zip(meta.shape).map { case (d, n) => store.coordFor(d, n) }
    val strides = IndexMath.strides(meta.shape)
    def walk(d: Int, flat: Long, prefix: Vector[Any]): Seq[Seq[Any]] =
      if (d == meta.rank) Seq(prefix :+ values.getValue(flat.toInt))
      else
        (0 until sel.keep(d).length).flatMap { i =>
          val g = sel.keep(d)(i)
          walk(d + 1, flat + g * strides(d), if (sel.dropped(d)) prefix else prefix :+ coords(d)(g))
        }
    walk(0, 0L, Vector.empty)
  }

  /** The same rows, in any order. */
  def sameCells(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.sortBy(_.toString) == b.sortBy(_.toString)
}
