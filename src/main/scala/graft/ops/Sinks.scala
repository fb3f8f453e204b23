package graft.ops

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Write-side surface — the engine analog of the reference's load
  * phase across eras: SQLite/MySQL batch inserts
  * (/root/reference/src/etl_2016.py:20-36, src/etl_2020.py:108-138,
  * src/etl_2025.py:215-231) and report/file outputs
  * (src/etl_2022.py:161-165).
  *
  * Scale posture: columnar formats partitioned by a low-cardinality
  * column (partition pruning on read), bucketing for shuffle-free
  * joins on the bucket key, JDBC with batched writes + per-partition
  * connections. All writers are config only — callers pick the
  * `.save()` moment.
  */
object Sinks {

  /** Parquet writer, optionally hive-partitioned. `partitionBy` on a
    * low-cardinality column turns downstream equality filters into
    * directory pruning (no file even opened).
    */
  def parquet(df: DataFrame, partitionCols: Seq[String] = Nil,
              mode: String = "overwrite"): DataFrameWriter[Row] = {
    val w = df.write.format("parquet").mode(mode)
    if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)
  }

  /** CSV with header — the reference's interchange format
    * (etl_2016.py's input; output.csv in etl_2020.py).
    */
  def csv(df: DataFrame, mode: String = "overwrite"): DataFrameWriter[Row] =
    df.write.format("csv").mode(mode).option("header", "true")

  /** JSON-lines — the report/document output (etl_2022.py:161-165). */
  def jsonLines(df: DataFrame, mode: String = "overwrite"): DataFrameWriter[Row] =
    df.write.format("json").mode(mode)

  /** ORC — the other columnar interchange format Spark ships natively;
    * same predicate-pushdown/column-pruning behavior as parquet for
    * warehouses standardized on ORC.
    */
  def orc(df: DataFrame, mode: String = "overwrite"): DataFrameWriter[Row] =
    df.write.format("orc").mode(mode)

  /** Bucketed managed table: pre-shuffles rows into `nBuckets` by
    * `bucketCol` at write time, so later joins/aggregations on that
    * key read co-located buckets instead of shuffling 100 TB. Pair
    * with `sortBy` for sort-merge-ready buckets.
    */
  def bucketed(df: DataFrame, bucketCol: String, nBuckets: Int,
               sortCols: Seq[String] = Nil,
               mode: String = "overwrite"): DataFrameWriter[Row] = {
    val w = df.write.mode(mode).bucketBy(nBuckets, bucketCol)
    if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*)
  }

  /** Range-sorted parquet layout: range-repartition on `sortCols` then
    * sort within each partition, so every output file covers a
    * DISJOINT range of the sort key and each file is internally
    * ordered. Parquet footers then carry tight min/max stats per file
    * and row group, turning read-side range predicates on the sort key
    * into file- and row-group-level skips — the single biggest read
    * amplification lever for a 100 TB table scanned by time/key range
    * (the poor man's Z-order; for multi-column locality, bucket one
    * key and range-sort the other). Cost at write: one range exchange
    * (sampled bounds) + a per-partition sort, both spill-safe.
    */
  def sortedParquet(df: DataFrame, sortCols: Seq[String],
                    mode: String = "overwrite"): DataFrameWriter[Row] = {
    require(sortCols.nonEmpty, "sortedParquet needs at least one sort column")
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(col)
    df.repartitionByRange(cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.format("parquet").mode(mode)
  }

  /** JDBC writer configured the way the reference's pooled MySQL
    * loader is (etl_2025.py:128-156): batched inserts, bounded
    * parallelism (one connection per partition), explicit isolation.
    * Config-only here — executing needs a live database.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           user: String, password: String,
           batchSize: Int = 1000, maxConnections: Int = 8,
           mode: String = "append"): DataFrameWriter[Row] =
    df.coalesce(maxConnections)
      .write.mode(mode)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")

  /** [[parquet]] overwrite of `dir` returning the rows written, counted
    * by `observe()` in the write job itself (no read-back). */
  def parquetCounted(df: DataFrame, dir: String): Long = {
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation()
    parquet(df.observe(obs, count(lit(1)).as("n"))).save(dir)
    obs.get("n").asInstanceOf[Long]
  }

  private val manifestName = "_graft_manifest.json"

  /** Committed parquet write — the engine analog of the reference's
    * explicit transaction commit/rollback (etl_2018.py:69-92,
    * etl_2025.py:144-156): write the data, THEN write a manifest
    * recording the row count, so the manifest's existence is the
    * commit point. The count is captured with `observe()` during the
    * write job itself (no second pass); a failed/partial write leaves
    * no manifest and [[readCommitted]] refuses the directory — the
    * "rollback" needs no undo because readers never see uncommitted
    * state. Returns the committed row count.
    */
  def parquetCommitted(df: DataFrame, dir: String): Long = {
    val n = parquetCounted(df, dir)
    // temp-write + ATOMIC_MOVE: manifest existence must be the commit
    // point, so it can never be observed half-written (a torn
    // Files.writeString would read as "unparseable manifest" instead
    // of "uncommitted")
    val target = java.nio.file.Paths.get(dir, manifestName)
    val tmp = java.nio.file.Paths.get(dir, s".$manifestName.tmp")
    java.nio.file.Files.writeString(tmp, s"""{"rows": $n, "committed": true}""")
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    n
  }

  /** Read a [[parquetCommitted]] directory, refusing uncommitted or
    * torn state: a missing manifest means the writer never reached its
    * commit point; a row-count mismatch means the directory was
    * modified after commit. The verification count is metadata-only
    * (parquet footers), not a data scan.
    */
  def readCommitted(spark: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get(dir, manifestName)
    require(java.nio.file.Files.exists(p),
      s"$dir has no $manifestName — uncommitted write, refusing to read")
    val declared =
      """"rows":\s*(\d+)""".r.findFirstMatchIn(
        java.nio.file.Files.readString(p))
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"$dir: unparseable $manifestName"))
    val df = Sources.parquet(spark, dir)
    val actual = df.count()
    require(actual == declared,
      s"$dir: manifest declares $declared rows but parquet holds $actual")
    df
  }

  /** Small-file compaction — the table-maintenance pass every
    * long-running ingest needs: streaming/micro-batch sinks accrete
    * thousands of KB-sized parquet files whose per-file open/footer
    * cost eventually dominates scans. Rewrites `inDir` into
    * `outDir` with file count sized from the ACTUAL input bytes
    * (`ceil(bytes / targetFileBytes)`, metadata-only listing), so
    * output files land near the target size regardless of input
    * fragmentation. Uses `repartition` (round-robin, parallel) rather
    * than `coalesce`: coalesce would collapse the WRITE parallelism
    * to the output file count and leave skewed inputs skewed.
    *
    * Returns (input file count, output file count).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(conf)
    // refuse in-place (or nested) compaction: the overwrite write
    // would delete the input part files out from under the lazy scan
    // that is still reading them — data loss, not a rewrite
    val inQ = fs.makeQualified(in)
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
    require(inQ != outQ &&
      !(outQ.toString + "/").startsWith(inQ.toString + "/") &&
      !(inQ.toString + "/").startsWith(outQ.toString + "/"),
      s"compact target $outQ overlaps source $inQ — " +
        "write to a fresh directory, then swap")
    // recursive listing: a partitioned layout (key=.../part-*.parquet)
    // is still one compactable table
    val it = fs.listFiles(in, /* recursive = */ true)
    val parts = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toArray
    require(parts.nonEmpty, s"$inDir holds no parquet part files")
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .toInt
    Sources.parquet(spark, inDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    val outParts = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (parts.length, outParts)
  }
}
