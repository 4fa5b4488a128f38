package graft.api

import graft.model.DimSel
import graft.sources.zarr.{ZarrArrayMeta, ZarrStore}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Public API parity with the reference (SURVEY.md §7.4):
  * `scan_data` / `get_zarr_data_info` / `ZarrDataReader`
  * (reference: src/data_access/zarr_scanner.py:73-183, 186-268;
  * src/data_access/zarr_reader.py:83-384). Same surface, Spark-native
  * semantics: every frame is a lazy distributed scan, not an eager block.
  *
  * Concurrent-writer contract: per-JVM caches (shard byte-range indexes,
  * deferred-coordinate chunk stats) are version-keyed on each object's
  * (length, mtime) pair — the metadata one HEAD returns. An EXTERNAL
  * writer that rewrites an object in place with identical length inside
  * one mtime-granularity tick, or updates coordinate chunks without
  * touching the axis metadata document, can be served stale cache entries
  * until the next JVM. Zarr stores are conventionally written
  * immutably-by-key (write new keys, then flip metadata) — under that
  * convention, and for every store this library's own sink produces, the
  * caches are always coherent.
  *
  * Partitioning: with `chunkTargetCells` unset (the default), a scan walks
  * its chunks in ranges of 2^18 live cells and merges consecutive ranges
  * into partitions of up to max(2^18, ⌈live cells / P⌉) cells, where P is
  * `spark.sql.leafNodeDefaultParallelism` (else the context's default
  * parallelism), and of at most `spark.sql.files.maxPartitionBytes`
  * decoded row bytes — about one partition per core, as Spark sizes file
  * splits. An explicit `chunkTargetCells` still wins: one partition per
  * that many live cells (the `partition.target.cells` option). */
object ZarrScan {

  private[api] def selToOption(s: DimSel): String = s match {
    case DimSel.All => ":"
    case DimSel.Range(a, b) => s"$a:$b"
    case DimSel.Point(i) => i.toString
    case DimSel.Indices(idx) => idx.mkString(",")
  }

  private[api] def reader(
      spark: SparkSession,
      storePath: String,
      arrayName: String,
      storageOptions: Map[String, String],
      group: Option[String],
      consolidated: Option[Boolean],
      selectDims: Map[String, DimSel],
      chunkTargetCells: Option[Long]
  ): DataFrameReader = {
    var r = spark.read
      .format("zarr")
      .option("path", storePath)
      .option("array", arrayName)
    chunkTargetCells.foreach(t => r = r.option("partition.target.cells", t))
    group.foreach(g => r = r.option("group", g))
    consolidated.foreach(c => r = r.option("consolidated", c))
    storageOptions.foreach { case (k, v) => r = r.option(s"storage.$k", v) }
    selectDims.foreach { case (d, s) => r = r.option(s"select.$d", selToOption(s)) }
    r
  }

  /** Scan one array (Left) or every array in the store (Right) — parity with
    * `scan_data(store_path, array_name=None, ...)` (zarr_scanner.py:73-183). */
  def scanData(
      spark: SparkSession,
      storePath: String,
      arrayName: Option[String] = None,
      storageOptions: Map[String, String] = Map.empty,
      group: Option[String] = None,
      consolidated: Option[Boolean] = None,
      selectDims: Map[String, DimSel] = Map.empty,
      chunkTargetCells: Option[Long] = None
  ): Either[DataFrame, Map[String, DataFrame]] =
    arrayName match {
      case Some(a) =>
        Left(
          reader(spark, storePath, a, storageOptions, group, consolidated, selectDims, chunkTargetCells)
            .load()
        )
      case None =>
        val store = new ZarrStore(storePath, storageOptions, group, consolidated)
        Right(
          store
            .listArrays()
            .map(a =>
              a -> reader(spark, storePath, a, storageOptions, group, consolidated, selectDims, chunkTargetCells).load()
            )
            .toMap
        )
    }

  /** Legacy alias — parity with `scan_zarr_s3` (zarr_scanner.py:271-273). */
  @deprecated("use scanData", "0.1.0")
  def scanZarrS3(
      spark: SparkSession,
      storePath: String,
      arrayName: Option[String] = None,
      storageOptions: Map[String, String] = Map.empty
  ): Either[DataFrame, Map[String, DataFrame]] =
    scanData(spark, storePath, arrayName, storageOptions)

  /** Legacy alias — parity with `zarr_s3_info` (zarr_scanner.py:271-273). */
  @deprecated("use getZarrDataInfo", "0.1.0")
  def zarrS3Info(storePath: String, storageOptions: Map[String, String] = Map.empty): Map[String, ZarrArrayMeta] =
    getZarrDataInfo(storePath, storageOptions)

  /** Store-wide metadata aggregate — parity with `get_zarr_data_info`
    * (zarr_scanner.py:186-268). */
  def getZarrDataInfo(
      storePath: String,
      storageOptions: Map[String, String] = Map.empty,
      group: Option[String] = None,
      consolidated: Option[Boolean] = None
  ): Map[String, ZarrArrayMeta] =
    new ZarrStore(storePath, storageOptions, group, consolidated).storeInfo()
}

/** Advanced per-store reader — parity with the reference's `ZarrDataReader`
  * (zarr_reader.py:83-384). */
final class ZarrDataReader(
    spark: SparkSession,
    storePath: String,
    storageOptions: Map[String, String] = Map.empty,
    group: Option[String] = None,
    consolidated: Option[Boolean] = None,
    chunkTargetCells: Option[Long] = None
) {
  private val store = new ZarrStore(storePath, storageOptions, group, consolidated)

  def listArrays(): Seq[String] = store.listArrays()

  def getArrayInfo(name: String): ZarrArrayMeta = store.arrayMeta(name)

  def readArray(name: String, selectDims: Map[String, DimSel] = Map.empty): DataFrame =
    ZarrScan
      .reader(spark, storePath, name, storageOptions, group, consolidated, selectDims, chunkTargetCells)
      .load()

  /** Unlike the reference's sequential loop (zarr_reader.py:377-380), the
    * returned frames are independent lazy scans — they parallelize for free. */
  def readMultipleArrays(names: Seq[String]): Map[String, DataFrame] =
    names.map(n => n -> readArray(n)).toMap

  /** ALIGNED multi-array scan (beyond the reference): arrays sharing
    * dims/shape/chunks emit as ONE frame `[dims..., a, b, ...]` with a value
    * column per array — one scan, one chunk read per array per chunk, no
    * long-format self-join (the reference's users join the per-array frames
    * on the dim columns, a shuffle this avoids entirely). Dim predicates
    * push down once and prune every array's reads together. */
  def readAligned(names: Seq[String], selectDims: Map[String, DimSel] = Map.empty): DataFrame = {
    require(names.nonEmpty, "readAligned needs at least one array")
    var r = spark.read
      .format("zarr")
      .option("path", storePath)
      .option("arrays", names.mkString(","))
    chunkTargetCells.foreach(t => r = r.option("partition.target.cells", t))
    group.foreach(g => r = r.option("group", g))
    consolidated.foreach(c => r = r.option("consolidated", c))
    storageOptions.foreach { case (k, v) => r = r.option(s"storage.$k", v) }
    selectDims.foreach { case (d, s) => r = r.option(s"select.$d", ZarrScan.selToOption(s)) }
    r.load()
  }
}
