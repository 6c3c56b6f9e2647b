package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-partition lineage + metrics checkpoints enabling exact resume
 * (BASELINE.json north_rule). The Spark-native re-expression of the
 * reference's two resume devices: the loaded-tile ledger
 * (src/loaders/shst/loadTiles:38-50, shst_loaded_tiles table) and the
 * previously-matched skip set (ShstMatchingWorkDatabaseService.js:120-144).
 *
 * Protocol (idempotent, crash-safe at work-unit granularity):
 *  1. work is partitioned by a deterministic unit key (cell id, road bucket,
 *     tile id — anything stable under re-runs)
 *  2. `remaining` anti-joins the unit keys against the ledger
 *  3. the caller processes only the remaining units
 *  4. `commit` overwrites each unit's result directory (dynamic partition
 *     overwrite → re-processing a crashed unit replaces, never duplicates)
 *     and THEN appends the ledger rows (n_rows + order-independent checksum
 *     per unit) — the ledger row is the commit point
 *
 * On a cluster the ledger would be an Iceberg table with snapshot isolation;
 * on local parquet the same dataflow applies with directory atomicity.
 */
object Lineage {

  private def emptyKeys(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("unit_key",
          org.apache.spark.sql.types.StringType))))

  /** Completed unit keys from the ledger: none when the ledger does not
    * exist yet. Any other read failure (a corrupt or foreign ledger) is an
    * error, never a silent full re-run. */
  def completedKeys(spark: SparkSession, ledgerPath: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerPath)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      emptyKeys(spark)
    else {
      val df = spark.read.parquet(ledgerPath)
      require(df.columns.contains("unit_key"),
        s"$ledgerPath is not a lineage ledger (columns: ${df.columns.mkString(", ")})")
      df.select("unit_key").distinct()
    }
  }

  /** Work rows whose unit key has no ledger entry yet (exact-resume filter). */
  def remaining(work: DataFrame, keyCol: String, ledgerPath: String): DataFrame =
    work.join(
      completedKeys(work.sparkSession, ledgerPath)
        .withColumnRenamed("unit_key", keyCol),
      Seq(keyCol), "left_anti")

  /** Order-independent content checksum per unit: sum of xxhash64 over the
    * canonical JSON of each row (stable across partitionings and run order). */
  private def unitMetrics(results: DataFrame, keyCol: String): DataFrame =
    results
      .withColumn("__rh", xxhash64(to_json(struct(results.columns.sorted.map(col): _*))))
      .groupBy(col(keyCol).as("unit_key"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__rh)").as("checksum"))

  /**
   * Commit processed units: per-unit dynamic-partition overwrite of results,
   * then append ledger rows (with row counts + checksums as the per-partition
   * metrics channel). Returns the ledger increment for inspection.
   */
  def commit(results: DataFrame, keyCol: String, resultPath: String,
      ledgerPath: String, runId: String): DataFrame = {
    writeResults(results, keyCol, resultPath)
    val ledger = unitMetrics(results, keyCol).withColumn("run_id", lit(runId))
    ledger.write.mode("append").parquet(ledgerPath)
    ledger
  }

  /** Dynamic-partition overwrite of the per-unit results (re-processing a
    * crashed unit replaces, never duplicates). */
  private def writeResults(results: DataFrame, keyCol: String, resultPath: String): Unit = {
    val spark = results.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      results.write.mode("overwrite").partitionBy(keyCol).parquet(resultPath)
    } finally {
      prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
  }

  // ---- ledger-on-SnapTable variants ----------------------------------------
  // The scaladoc above notes "on a cluster the ledger would be an Iceberg
  // table with snapshot isolation" — these are that form, over
  // [[graft.sources.SnapTable]]: the ledger increment lands as ONE atomic
  // snapshot commit (create-exclusive manifest), where a bare parquet append
  // can expose a half-written file list on object stores. Readers of the
  // ledger are snapshot-isolated from in-flight commits, and concurrent
  // committers of DIFFERENT unit batches serialize through the manifest CAS
  // instead of racing the directory.

  /** Completed unit keys from a SnapTable ledger (empty-safe). */
  def completedKeysSnap(spark: SparkSession, ledgerRoot: String): DataFrame =
    if (graft.sources.SnapTable.currentVersion(spark, ledgerRoot).isEmpty)
      emptyKeys(spark)
    else graft.sources.SnapTable.scan(spark, ledgerRoot)
      .select("unit_key").distinct()

  /** [[remaining]] against a SnapTable ledger. */
  def remainingSnap(work: DataFrame, keyCol: String, ledgerRoot: String): DataFrame =
    work.join(
      completedKeysSnap(work.sparkSession, ledgerRoot)
        .withColumnRenamed("unit_key", keyCol),
      Seq(keyCol), "left_anti")

  /** [[commit]] with the ledger increment landing as one atomic snapshot. */
  def commitSnap(results: DataFrame, keyCol: String, resultPath: String,
      ledgerRoot: String, runId: String): DataFrame = {
    writeResults(results, keyCol, resultPath)
    val ledger = unitMetrics(results, keyCol).withColumn("run_id", lit(runId))
    graft.sources.SnapTable.append(ledger, ledgerRoot)
    ledger
  }

  /** [[runIncremental]] over a SnapTable ledger: identical convergence, with
    * the commit point upgraded from "parquet files appeared" to "manifest
    * v(N+1) exists". */
  def runIncrementalSnap(work: DataFrame, keyCol: String, resultPath: String,
      ledgerRoot: String, runId: String)(process: DataFrame => DataFrame): Long = {
    val todo = remainingSnap(work, keyCol, ledgerRoot)
    if (todo.isEmpty) 0L
    else {
      val out = process(todo)
      require(out.columns.contains(keyCol),
        s"process() must preserve the unit key column '$keyCol'")
      commitSnap(out, keyCol, resultPath, ledgerRoot, runId)
        .agg(sum("n_rows")).collect()(0).getLong(0)
    }
  }

  /**
   * Run `process` over only the not-yet-committed work units and commit the
   * output. Calling this repeatedly after partial failures converges to the
   * complete result with no recomputation of finished units and no
   * duplicates (exact resume).
   */
  def runIncremental(work: DataFrame, keyCol: String, resultPath: String,
      ledgerPath: String, runId: String)(process: DataFrame => DataFrame): Long = {
    val todo = remaining(work, keyCol, ledgerPath)
    if (todo.isEmpty) 0L
    else {
      val out = process(todo)
      require(out.columns.contains(keyCol),
        s"process() must preserve the unit key column '$keyCol'")
      commit(out, keyCol, resultPath, ledgerPath, runId)
        .agg(sum("n_rows")).collect()(0).getLong(0)
    }
  }
}
