package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}

/** Parquet-backed metrics catalog.
  *
  * A "database" is a directory; each metrics is either `dbDir/<name>/` (our
  * writer's layout, §`WritableStore`) or `dbDir/<name>.parquet` (single-file
  * layout, e.g. driver testdata). This replaces the reference's bespoke
  * block/block-list format (`zikeiretsu/src/tsdb/storage/`, SPEC.md:23-77)
  * with Parquet: row-group min/max stats are the block index, files are the
  * blocks, directory listing is the metrics list.
  *
  * Timestamps: a metrics table's `ts` column is epoch-nano LongType. Parquet
  * `timestamp[ns]` columns are read as longs via
  * `spark.sql.legacy.parquet.nanosAsLong`; `timestamp[us]` columns (what
  * external writers typically produce) are read as `TimestampType` and
  * normalized to epoch-nano longs by [[Tables.normalizeTs]] on the way in —
  * the session-level [[graft.plans.NanoTsRewrite]] rule then unwraps literal
  * predicates over the normalized column back to native timestamp
  * comparisons so row-group pruning still happens at the scan.
  */
object Tables {

  /** Runtime confs every session needs before reading metrics tables. A
    * conf the session already set (at build time or by the user) wins;
    * only `SPARK_GRAFT_AQE_MIN_PARTITION_SIZE` in `env` overrides its key. */
  def configure(spark: SparkSession,
      env: Map[String, String] = sys.env): Unit = {
    val set = spark.conf.getAll
    def default(key: String, value: String): Unit =
      if (!set.contains(key)) spark.conf.set(key, value)
    default("spark.sql.legacy.parquet.nanosAsLong", "true")
    // read parquet timestamp[us] isAdjustedToUTC=false as TimestampType
    // (not TIMESTAMP_NTZ): under the UTC session pin below the instant is
    // identical, TimestampType comparisons push down to parquet stats, and
    // normalizeTs needs no per-type cast
    default("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // min/max/count meta-queries answered from parquet footers
    default("spark.sql.parquet.aggregatePushdown", "true")
    // the engine's time model is UTC epoch-nanos; pin the session so no
    // date/timestamp rendering ever depends on the host timezone
    default("spark.sql.session.timeZone", "UTC")
    // predicates over normalizeTs output fold back to native scan filters
    graft.plans.NanoTsRewrite.install(spark)
    // SCALE-ADAPTIVE post-shuffle parallelism (optimization guide §2.2):
    // AQE coalescing under `parallelismFirst` (default on) targets
    // totalBytes / defaultParallelism per partition but never goes below
    // `minPartitionSize`, whose 1 MB default caps a small intermediate's
    // parallelism at ⌈bytes/1MB⌉ tasks — a 12 MB post-shuffle frame runs
    // its whole downstream stage on 4 of 32 cores (measured: the
    // graph_triangles normalize+distinct stage, 2.9 s of task time in
    // 0.83 s of wall on 4 tasks; tpch_q9's final agg on 3). At
    // production scale the computed target (bytes/parallelism) is far
    // above any floor, so this setting is INERT there — it only governs
    // how small inputs spread over idle cores, which is exactly the
    // dimension that must adapt between a laptop bench and a 100 TB
    // cluster. Env-overridable, same contract as the fanOut guard.
    val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    env.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE")
      .fold(default(minPart, "64k"))(spark.conf.set(minPart, _))
  }

  /** Hadoop conf for catalog path operations — from the active session when
    * one exists (so object-store credentials and fs.* settings apply), else
    * the default. All path handling below goes through Hadoop
    * `FileSystem`/`Path`, never `java.io.File`, so a database dir can be
    * any supported scheme (`s3a://bucket/db`, `gs://…`), matching the
    * reference's cloud-block capability (`cloudstorage/gcp.rs:33-140`) the
    * Spark-native way: the object store IS the filesystem.
    */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(p: HPath): FileSystem = p.getFileSystem(hadoopConf())

  def metricsPath(dbDir: String, metrics: String): String = {
    val dir  = new HPath(dbDir, metrics)
    val file = new HPath(dbDir, metrics + ".parquet")
    val fs = fsFor(dir)
    if (fs.exists(dir) && fs.getFileStatus(dir).isDirectory) dir.toString
    else if (fs.exists(file)) file.toString
    else throw new IllegalArgumentException(s"unknown metrics '$metrics' in $dbDir")
  }

  /** Normalize a physical `ts` column to the engine's epoch-nano LongType.
    * Engine-written blocks already carry LongType nanos (untouched);
    * externally-written tables carry parquet `timestamp[us]`, which arrives
    * as `TimestampType` (see [[configure]]) and converts via
    * `unix_micros * 1000` — exact for every representable instant up to
    * year 2262 (Long ns range), and engine-identical to DuckDB's
    * `epoch_ns(ts)` on the same file, which is what the oracle compares.
    * Literal filters the caller stacks on the normalized column are folded
    * back to native timestamp predicates by [[graft.plans.NanoTsRewrite]],
    * so block/row-group pruning by time (SURVEY §2 row 2) is preserved.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast("timestamp")) * lit(1000L)).as("ts"))
      case _ => df
    }

  /** The whole table, writer partition columns (date bucketing) dropped. */
  def read(spark: SparkSession, dbDir: String, metrics: String): DataFrame =
    readRange(spark, dbDir, metrics, None, None)

  /** Range-aware read: applies the `[since, until)` ts predicate AND, for
    * date-bucketed tables, the equivalent predicate on the `__day` partition
    * column — directory-level pruning needs a filter on the partition column
    * itself; the ts filter alone only prunes row-groups via footer stats.
    */
  def readRange(spark: SparkSession, dbDir: String, metrics: String,
      since: Option[Long], until: Option[Long]): DataFrame = {
    configure(spark)
    val raw = normalizeTs(
      MetaMemo.read(spark, metricsPath(dbDir, metrics), mergeSchema = false))
    def dayStr(nanos: Long): String =
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(nanos, 86400L * 1000000000L)).toString
    val tsConds =
      since.map(s => col("ts") >= lit(s)).toSeq ++
        until.map(u => col("ts") < lit(u)).toSeq
    val dayConds =
      if (raw.columns.contains(WritableStore.PartitionCol))
        since.map(s => col(WritableStore.PartitionCol) >= lit(dayStr(s))).toSeq ++
          until.map(u => col(WritableStore.PartitionCol) <= lit(dayStr(u - 1))).toSeq
      else Nil
    val filtered = (tsConds ++ dayConds).reduceOption(_ && _).fold(raw)(raw.filter)
    if (raw.columns.contains(WritableStore.PartitionCol))
      filtered.drop(WritableStore.PartitionCol)
    else filtered
  }

  /** Save a frame as a bucketed catalog table: rows are hash-bucketed (and
    * optionally sorted) on the join/aggregation key at WRITE time, so
    * repeated joins and aggregations on that key run shuffle-free — the
    * co-located-join strategy for fact tables that outlive one query. (A
    * bucketed layout must live in the session catalog: bucket metadata has
    * no place in a bare parquet directory.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one column")
    val w0 = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 =
      if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
      else w0
    // an explicit path makes the table EXTERNAL: bucket metadata lives in
    // the session catalog, the files wherever the caller wants them
    // (scratch dir, object store) instead of the default warehouse dir
    val w2 = path.fold(w1)(p => w1.option("path", p))
    w2.format("parquet").saveAsTable(table)
  }

  /** All metrics names in the database dir (`.metrics` meta-table —
    * `query/executor/metrics_list.rs`). */
  def listMetrics(dbDir: String): Seq[String] = {
    val root = new HPath(dbDir)
    val fs = fsFor(root)
    val entries =
      if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty
    entries.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && !name.startsWith(".") && !name.startsWith("_"))
        Some(name)
      else if (st.isFile && name.endsWith(".parquet"))
        Some(name.stripSuffix(".parquet"))
      else None
    }.distinct.sorted
  }

  def metricsDf(spark: SparkSession, dbDir: String): DataFrame =
    metaFrame(spark, listMetrics(dbDir).map(Tuple1(_)),
      ("metrics", StringType, true))

  /** Meta-table rows as a frame with an explicit schema — no reflection
    * encoder derived per request. `Option` cells become nulls. */
  private def metaFrame(spark: SparkSession, rows: Seq[Product],
      cols: (String, DataType, Boolean)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(r.productIterator.map {
        case o: Option[_] => o.getOrElse(null)
        case v => v
      }.toSeq)).asJava,
      StructType(cols.map { case (n, t, nullable) =>
        StructField(n, t, nullable) }))
  }

  /** Data files ("blocks") of a metrics — `.describe`'s
    * updated_at/block_num (reference block metadata,
    * `describe_metrics.rs:95-112`). Recursive walk ([[MetaMemo.walk]]), so
    * date-bucketed layouts and object-store prefixes both walk the same
    * way. */
  private def dataFiles(dbDir: String, metrics: String): Seq[FileStatus] = {
    val root = new HPath(metricsPath(dbDir, metrics))
    MetaMemo.walk(fsFor(root), root).filter { st =>
      val name = st.getPath.getName
      name.endsWith(".parquet") && !name.startsWith("_")
    }
  }

  /** Per-file footer stats: (file, rows, ts min, ts max) read driver-side
    * from the Parquet footer — row-group metadata IS the block index (the
    * reference answers `.block_list`/`.describe` from its block-list file,
    * `storage/block_list/mod.rs:417-520`, never touching block data; the
    * Spark analog is footer row-group statistics, never touching data
    * pages). Metadata queries therefore cost zero data IO at any scale.
    */
  private def footerStats(spark: SparkSession, files: Seq[FileStatus])
      : Seq[(FileStatus, Long, Option[Long], Option[Long])] = {
    import scala.jdk.CollectionConverters._
    val readFooter = MetaMemo.footers(spark.sessionState.newHadoopConf())
    files.map { f =>
      val footer = readFooter(f)
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val tsField = footer.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == "ts")
      // stats carry the column's PHYSICAL int64 in its own unit: engine
      // blocks store ns longs (scale 1), external timestamp[us]/[ms]
      // annotations scale to the ns the describe/block_list contract
      // reports — same normalization as [[Tables.normalizeTs]], footer-side
      val nsScale: Long = tsField.flatMap { f =>
        import org.apache.parquet.schema.LogicalTypeAnnotation
        Option(f.asPrimitiveType().getLogicalTypeAnnotation).collect {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
              case _ => 1L
            }
        }
      }.getOrElse(1L)
      val tsStats =
        if (tsField.isEmpty) Nil
        else blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "ts")
            .map(_.getStatistics)
            .filter(st => st != null && st.hasNonNullValue)
            .map(st =>
              (st.genericGetMin.asInstanceOf[Number].longValue() * nsScale,
                st.genericGetMax.asInstanceOf[Number].longValue() * nsScale))
        }
      (f, rows, tsStats.map(_._1).minOption, tsStats.map(_._2).maxOption)
    }
  }

  /** `.describe`: per metrics — row count and ts range (`.describe` builds
    * updated_at/block_num/from/end from block metadata,
    * `query/executor/describe_metrics.rs:9-113`), footer-only (see
    * [[footerStats]]). */
  def describeDf(spark: SparkSession, dbDir: String,
      metricsFilter: Option[String]): DataFrame = {
    configure(spark)
    val names = metricsFilter.fold(listMetrics(dbDir))(m => Seq(m))
    val rows = names.map { m =>
      val files = dataFiles(dbDir, m)
      val updatedAt =
        files.map(_.getModificationTime).maxOption.getOrElse(0L) * 1000000L
      val stats = footerStats(spark, files)
      val rowNum = stats.map(_._2).sum
      val fromTs = stats.flatMap(_._3).minOption
      val endTs = stats.flatMap(_._4).maxOption
      (m, updatedAt, files.length.toLong, rowNum, fromTs, endTs)
    }
    metaFrame(spark, rows, ("metrics", StringType, true),
      ("updated_at", LongType, false), ("block_num", LongType, false),
      ("row_num", LongType, false), ("from_ts", LongType, true),
      ("end_ts", LongType, true)).orderBy("metrics")
  }

  /** `.block_list`: one row per parquet data file ("block"), with its ts
    * min/max (`describe_metrics.rs:116-158`). seq = position in
    * (block_start, path) order, mirroring the reference's block sequence
    * numbers. Footer-only — no data scan (see [[footerStats]]).
    */
  def blockListDf(spark: SparkSession, dbDir: String,
      metricsFilter: Option[String]): DataFrame = {
    configure(spark)
    val names = metricsFilter.fold(listMetrics(dbDir))(m => Seq(m))
    val rows = names.flatMap { m =>
      val withTs = footerStats(spark, dataFiles(dbDir, m)).collect {
        // empty files and ts-less tables carry no block range — not blocks
        case (f, rows, Some(start), Some(end)) if rows > 0 =>
          (f, rows, start, end)
      }
      withTs.sortBy { case (f, _, start, _) => (start, f.getPath.toString) }
        .zipWithIndex.map { case ((f, rowNum, start, end), i) =>
          (m, f.getModificationTime * 1000000L, i + 1, rowNum, start, end)
        }
    }
    metaFrame(spark, rows, ("metrics", StringType, true),
      ("updated_at", LongType, false), ("seq", IntegerType, false),
      ("row_num", LongType, false), ("block_start", LongType, false),
      ("block_end", LongType, false)).orderBy("metrics", "seq")
  }
}
