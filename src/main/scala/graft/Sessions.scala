package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify/Bench/CLI/tests share one config. */
object Sessions {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // default 64m lets AQE coalesce the final sort/agg exchanges of
      // mid-size results down to ONE partition (a 30MB sorted output is
      // "small" by bytes but serializes the sort); 8m keeps those stages
      // parallel at local scale without flooding tiny tasks
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Older testdata vintages wrote events.ts as parquet timestamp[ns];
      // Spark has no nanosecond timestamp type, so surface those as LongType
      // epoch nanos. The current vintage writes timestamp[us] (read as
      // TIMESTAMP_NTZ) — Tables.normalizeTs converts either shape to
      // epoch-nanos longs at the loader.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate: TopKStructs,
      // MinHashSignature, BoundedCollectSet, percentile) falls back to
      // SORT-based aggregation after this many distinct in-memory keys per
      // partition — the default 128 silently turns "map-side bounded heap"
      // into "sort the whole partition" for any real group cardinality.
      // Our buffers are small by construction (k-element heaps, 8-long
      // minhash sigs), so 64k keys is a few MB; the fallback still guards
      // the pathological many-keys x big-buffer case. Measured at sf0.1:
      // parity with the default (partitions there hold only ~2k groups and
      // sorting them is cheap); the setting is for real-scale partitions,
      // where a sort-based fallback re-sorts the ENTIRE per-partition pair
      // volume that the heap exists to avoid sorting.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // SQL-callable vec_dot / byte_dot / sorted_intersect_count
      .withExtensions(new GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
