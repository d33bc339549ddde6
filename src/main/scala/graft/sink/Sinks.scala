package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.analyze.Analytics

/** Output surface of the reference (SURVEY §2.1 S5/S8/S9/S10; S12, the
  * nested analysis document, is [[graft.analyze.AnalysisDoc.render]]),
  * re-expressed as Spark writers. The canonical store is partitioned
  * parquet — `partitionBy(city, date)` is the scalable analog of the
  * reference's SQLite B-tree indexes on (city, date) (load.py:143-144):
  * partition pruning serves the same point lookups without an index
  * structure, and works at any number of files.
  */
object Sinks {

  /** S5/S10: CSV report sink (header, overwrite). The reference writes one
    * timestamped file (load.py:157-209); under Spark the path is a
    * directory and file-per-partition — single-file output via
    * coalesce(1) only when the result is known-small (summaries).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** S10 side summary: per-group multi-agg × round(2) (load.py:188-196). */
  def writeSummaryCsv(df: DataFrame, key: String, values: Seq[String], path: String): Unit =
    writeCsv(Analytics.summaryRounded(df, key, values), path, singleFile = true)

  /** S8: JSON-lines records sink (load.py:70-105's to_dict(records)). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S9 analog: partitioned parquet replaces the SQLite table + indexes.
    * Partition pruning on (city, date) is the index replacement that
    * scales; [[writeJdbc]] keeps literal single-node parity.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String] = Seq("city", "date")): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** S9 literal parity (load.py:107-155): relational sink via JDBC with
    * the reference's `if_exists='replace'` semantics plus the two B-tree
    * indexes it creates (idx on city, idx on date — load.py:143-144).
    * Index DDL runs over a plain JDBC connection after the write; Spark's
    * JDBC writer handles the table itself. Works against any JDBC target
    * (embedded Derby in tests; the reference's SQLite via a sqlite JDBC
    * driver in production).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                indexCols: Seq[String] = Seq("city", "date")): Unit = {
    // string columns must become VARCHAR, not the dialect's default
    // CLOB/TEXT — CLOB can't be indexed (the whole point of S9)
    val varchars = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(255)").mkString(", ")
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (varchars.nonEmpty) writer.option("createTableColumnTypes", varchars) else writer)
      .jdbc(url, table, new java.util.Properties())
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      indexCols.foreach { c =>
        st.executeUpdate(s"""CREATE INDEX idx_${table}_$c ON $table ("$c")""")
      }
      st.close()
    } finally conn.close()
  }

  /** Bucketed parquet table (SURVEY §4.2 "bucketing for co-located
    * joins"): persist pre-hash-distributed (and optionally pre-sorted)
    * data so every later equi-join or aggregation on the bucket key plans
    * ZERO exchanges — the shuffle is paid once at write time instead of
    * once per downstream query. This is the storage-level scale lever for
    * a 100 TB fact table that is joined on the same key by many
    * consumers; partitioned parquet ([[writePartitioned]]) prunes
    * point-lookups, bucketing removes join/agg shuffles. Both sides of a
    * join must use the same bucket count and key. `saveAsTable` is
    * required (bucket metadata lives in the catalog; a plain
    * `.parquet(path)` write cannot record it); `path` makes the table
    * external so the data outlives the session catalog.
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    nBuckets: Int, path: Option[String] = None,
                    sortCols: Seq[String] = Seq.empty): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    val base = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) base.sortBy(sortCols.head, sortCols.tail: _*) else base
    val located = path.fold(sorted)(p => sorted.option("path", p))
    located.saveAsTable(tableName)
  }

  /** The catalog table `<prefix>_b<n>_s<stamp>` of a persisted artifact
    * bucketed and sorted on `key` ([[graft.sink.BucketedMirror]],
    * [[graft.graph.EdgeIndex]]). A session-catalog hit returns at once.
    * Otherwise `leaf` returns the artifact's committed leaf — building
    * and committing it first if needed, with [[writeBucketed]] under the
    * name it is passed — and the table is registered over it with
    * bucket-spec DDL: no rewrite, no source scan. A failed build drops
    * the entry its write registered, so the catalog never names an
    * uncommitted leaf; entries of other content stamps name superseded
    * files and are dropped.
    */
  def bucketedTable(spark: SparkSession, prefix: String, stamp: String, key: String,
                    nBuckets: Int)(leaf: String => java.io.File): DataFrame = {
    val name = s"${prefix}_b${nBuckets}_s$stamp"
    if (!spark.catalog.tableExists(name)) {
      val location = try leaf(name) catch {
        case e: Throwable => spark.sql(s"DROP TABLE IF EXISTS $name"); throw e
      }
      dropTables(spark, s"${prefix}_*", _.endsWith(s"_s$stamp"))
      if (!spark.catalog.tableExists(name)) {
        val schema = graft.ReadCache.parquetLocal(spark, location).schema
        spark.sql(
          s"""CREATE TABLE $name (${schema.toDDL}) USING PARQUET
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
             |LOCATION '${location.getPath}'""".stripMargin)
      }
    }
    spark.table(name)
  }

  /** Drop the catalog entries `SHOW TABLES LIKE pattern` lists, except
    * those `keep` holds.
    */
  def dropTables(spark: SparkSession, pattern: String,
                 keep: String => Boolean = _ => false): Unit =
    spark.sql(s"SHOW TABLES LIKE '$pattern'").collect()
      .map(_.getAs[String]("tableName")).filterNot(keep)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}
