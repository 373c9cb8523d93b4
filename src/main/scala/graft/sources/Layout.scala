package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout writers for scan pruning at scale — the other half of
  * predicate pushdown: pushdown only helps if the files are laid out so
  * predicates can skip IO.
  *
  *  - `writePartitioned`: Hive-style directory partitioning. A filter
  *    on the partition column becomes PartitionFilters at plan time —
  *    non-matching directories are never listed, let alone read. Right
  *    for LOW-cardinality routing columns (event_type, date, lang).
  *  - `writeRangeSorted`: range-repartition + in-file sort on a
  *    HIGH-cardinality column (timestamps, ids). Every file then owns a
  *    tight disjoint value range, so parquet row-group min/max stats
  *    skip whole files for range predicates — partition-pruning
  *    economics without exploding the directory count.
  *
  * Together with Bucketed (hash-bucketed join layout) these are the
  * three layout strategies a 100 TB table picks from by access pattern:
  * route-by-value, scan-by-range, join-by-key.
  */
object Layout {

  /** Write `df` Hive-partitioned by `partitionCols`. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Write `df` as `numFiles` parquet files with disjoint sorted ranges
    * of `rangeCol` (tight per-file and per-row-group min/max stats). */
  def writeRangeSorted(df: DataFrame, path: String, rangeCol: String,
                       numFiles: Int): Unit =
    rangeSorted(df, rangeCol, numFiles).write.mode("overwrite").parquet(path)

  /** `df` in the partitions [[writeRangeSorted]] writes, one per file. */
  def rangeSorted(df: DataFrame, rangeCol: String, numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, col(rangeCol))
      .sortWithinPartitions(col(rangeCol))

  /** Z-order (Morton-curve) layout over TWO numeric columns — the
    * multi-dimensional member of the layout family: `writeRangeSorted`
    * concentrates one column's ranges per file, a z-order interleaves
    * the bit patterns of both, so a rectangle predicate (a BETWEEN ∧
    * b BETWEEN) touches O(√files) instead of either single-column
    * extreme (all files for the non-sorted column). This is what
    * lakehouse OPTIMIZE ZORDER does; here it is one projection + one
    * range repartition.
    *
    * Mechanics: each column is min/max-scaled to a `bits`-bit integer
    * grid (the 2-row bounds aggregate is the only driver contact), the
    * two grids' bits interleave into one z-value via pure bitwise
    * Column expressions (codegen-friendly, no UDF), and the frame is
    * range-partitioned + sorted on z — every file then owns a compact
    * z-range = a compact rectangle union in (a, b) space, which parquet
    * min/max row-group stats prune on both columns at once. Null in
    * either column maps to grid cell 0 (nulls cluster, never spray). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): DataFrame = {
    zOrdered(df, colA, colB, numFiles, bits)
      .write.mode("overwrite").parquet(path)
    read(df.sparkSession, path)
  }

  /** `df` in the partitions [[writeZOrdered]] writes, one per file. The
    * bounds aggregate runs here, before the plan is returned. */
  def zOrdered(df: DataFrame, colA: String, colB: String, numFiles: Int,
               bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    // LOUD type gate: cast("double") of a string yields NULL, which
    // would silently collapse that dimension to grid cell 0 — a
    // degenerate single-column layout the caller believes is z-ordered
    Seq(colA, colB).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order column '$c' must be numeric, got $dt (timestamps: " +
          "project unix_micros first)")
    }
    val b = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    def grid(c: String, lo: Double, hi: Double): Column = {
      val scale = (1L << bits) - 1
      val cell =
        if (!(hi > lo)) lit(0L) // constant/empty column: one cell
        else least(lit(scale),
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * scale))
      coalesce(cell, lit(0L))
    }
    def bound(i: Int): Double = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
    val za = grid(colA, bound(0), bound(1))
    val zb = grid(colB, bound(2), bound(3))
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i))
    }
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Read back a layout written by the writers above. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a small-files parquet directory into ~`targetFileBytes`
    * files (the streaming-ingest hygiene pass: micro-batches write one
    * file per trigger per partition, and a 100 TB table of kilobyte
    * files dies by open() overhead and driver file-listing memory long
    * before it dies by data volume). Sizes from the actual on-disk
    * bytes, writes to `destPath` (never in place — the swap is the
    * caller's atomic rename/catalog update). Returns the file count
    * written. */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val src = spark.read.parquet(srcPath)
    // Hadoop FileSystem API, not java.io.File: input files are URIs on
    // whatever filesystem the table lives on (hdfs://, s3a://, file://) —
    // java.io.File sizes only local paths and silently returns 0 for the
    // rest, collapsing nFiles to 1 and funneling the table through a
    // single output partition.
    val hconf = spark.sparkContext.hadoopConfiguration
    val totalBytes = src.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    src.repartition(nFiles).write.mode("overwrite").parquet(destPath)
    nFiles
  }

  /** Read a parquet directory whose batches have EVOLVED schemas
    * (columns added over time): `mergeSchema` unions all file footers;
    * files missing a column yield typed nulls. The ingest-side answer
    * to additive schema evolution. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
