package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest downsample rollup store — the continuous-aggregate tier a TSDB
  * keeps beside its raw blocks so range aggregates over months of history
  * never rescan raw samples (the reference answers every aggregate from raw
  * blocks, e.g. `zikeiretsu/src/tsdb/query/executor/mod.rs`; materialized
  * rollups are the standard at-scale extension of that same engine shape —
  * the beyond-reference tier SURVEY.md §2.4's closing note and §7's
  * north-star extensions sanction).
  *
  * Layout: ONE parquet tree of per-bucket rows
  * `(keys..., bucket_ts, bucket_ns, n, min_c, max_c, sum_c, batch_key)`
  * partitioned by
  * `__day` (the [[WritableStore]] date-bucket convention, derived from
  * `bucket_ts` with the same integer floor-div, so [[rollup]]'s range
  * predicate prunes whole day directories at file listing). All value
  * aggregates are DECIMAL(18,2)-exact: sum-of-sums, min-of-mins, max-of-maxes
  * and count-of-counts are associative and order-free, so a rollup over
  * stored rows equals — bit for bit — the aggregate a direct pass over the
  * raw table would produce, at ANY coarser bucket that is an integer
  * multiple of the stored one. `bucket_ns` rides in every row (constant per
  * store — [[append]] validates new partials against it and every reader
  * dedups and guards on it) instead of a side meta file so the compactor and
  * the two-rename publish never face a multi-file consistency window.
  *
  * Ingest follows the sketch-store discipline
  * ([[graft.pipeline.Text.writeSketchStore]]): the base [[write]] stamps
  * `batch_key = "base"`; each streamed micro-batch [[append]]s partial
  * per-bucket rows under a replay-stable key, so an at-least-once
  * redelivery produces a DUPLICATE (bucket_ts, bucket_ns, batch_key) row
  * that [[rollup]] and [[compact]] drop before merging — effectively
  * exactly-once without a transactional table format. [[compact]] folds
  * accumulated partials back to one row per bucket under the shared
  * `.compact-*` two-rename protocol (crash self-heal via
  * [[graft.pipeline.Similarity.recoverCompact]]), preserving the tier
  * horizon in its batch key so tiered reads survive compaction.
  *
  * Dimensions: writers may pass `keyCols` (e.g. metric/host/event type) —
  * ONE store tree then holds millions of series, keyed per row, instead of
  * one tree per series (a file-listing catastrophe at 100 TB). Keys are
  * self-describing (any non-reserved column is a key), so every reader —
  * rollup, compact, tiering, stitching, routing — infers them from the
  * schema; [[rollup]]'s `keepKeys` folds ACROSS dropped dimensions (the
  * merges are associative across keys exactly as across time, so the
  * cross-key fold is exact). Serving budgets ([[route]] and the cascade
  * routers) stay on the TIME axis: the grain contract is per series, the
  * row count is buckets × series.
  *
  * Tiering: [[tierOff]] moves raw samples below a cutoff into the store;
  * [[tierOffStore]] cascades a fine store's old buckets into a coarser
  * store (1m → 1h → 1d: full resolution for a week, hourly for a year,
  * daily forever); [[cascadeRollup]] / [[tieredRollup]] stitch the tiers
  * back into one exact aggregate, and [[route]] serves a dashboard's
  * point-budget contract over the tiered layout without ever producing a
  * silently partial answer.
  *
  * 100 TB shape: the store is ~(raw rows / samples-per-bucket) in size —
  * KB-to-GB where raw is TB — and every query over it is a partition-pruned
  * scan + one combinable aggregation; nothing driver-side but scalars (the
  * loud metadata guards — bucket-width uniformity, tier horizons — read
  * single aggregated values off those same KB rows).
  */
object RollupStore {

  private val DayNs = 86400L * 1000000000L

  /** The store's own (reserved) column names. Every OTHER column in a
    * store row is a GROUP KEY — the dimensional continuous-aggregate
    * shape (one store tree holding millions of series, keyed by
    * e.g. metric/host/type, instead of one tree per series, which would
    * be a file-listing catastrophe at 100 TB). Keys are self-describing:
    * readers infer them from the schema, so rollup/compact/tiering/
    * stitching/routing all handle keyed stores with no extra reader
    * parameters, and a reader can DROP dimensions (fold across keys) —
    * every merge is associative across keys exactly as across time. */
  private val ReservedCols: Set[String] = Set("bucket_ts", "bucket_ns",
    "n", "min_c", "max_c", "sum_c", "sumsq_c", "batch_key", "hll", "hcnt",
    "hbounds", "distinct_est", WritableStore.PartitionCol)

  /** The group-key columns a store frame carries, in schema order. */
  private def keyColsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(ReservedCols)

  /** Writer-side key validation: reserved-name collisions and absent
    * columns must fail loudly before any row lands. */
  private def requireKeyCols(df: DataFrame, keyCols: Seq[String],
      context: String): Unit = {
    val clash = keyCols.filter(ReservedCols)
    require(clash.isEmpty,
      s"$context: key column(s) ${clash.mkString(", ")} collide with the " +
        "store's reserved column names")
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$context: key column(s) ${missing.mkString(", ")} absent from the " +
        "input frame")
  }

  /** Fail loudly when an existing store's key set differs from `keyCols`
    * — a keyless append into a keyed store (or vice versa) would land
    * null-keyed rows under parquet schema merge and silently split every
    * later fold. Absent/empty stores accept any key set. */
  private[graft] def requireKeys(spark: SparkSession, path: String,
      keyCols: Seq[String], context: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(live)) readableStore(spark, path).foreach { df =>
      val have = keyColsOf(df)
      require(have.sorted == keyCols.sorted,
        s"$context: store at $path is keyed by [${have.mkString(", ")}]; " +
          s"this writer's keys are [${keyCols.mkString(", ")}] — one " +
          "store holds exactly one key set")
    }
  }

  /** The per-bucket partial aggregation every writer shares: one row per
    * `bucketNanos`-wide floor bucket of `tsCol`, value stats in exact
    * DECIMAL(18,2). With `distinctCol` set, each row also carries an HLL
    * sketch of that dimension (KB-sized): union covers exactly the same
    * hash set a direct pass at any coarser grain would sketch, so
    * "distinct users over an arbitrary range" answers from the store
    * within the sketch's rank-error bound. (The ESTIMATE is not
    * bit-identical to a direct pass at mid cardinalities — DataSketches
    * estimates differently from its coupon/set/dense modes — which is why
    * the correctness gate compares against the exact count, not the
    * direct sketch.)
    *
    * With `histBoundsCents` set, each row additionally carries `hcnt`: the
    * per-bucket value-histogram counter array over that literal schedule
    * (+Inf tail slot) — plain longs, EXACTLY mergeable by vector addition,
    * so any coarser rollup's counters equal a direct pass and
    * [[graft.operators.TsOps.histogramQuantileFromCounts]] answers "p90
    * over an arbitrary range" from the store alone: the Prometheus
    * recording-rule shape (histogram buckets stored as counters). */
  private[graft] def rollupRows(df: DataFrame, bucketNanos: Long,
      valueCol: String, tsCol: String,
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyCols: Seq[String] = Nil, withVariance: Boolean = false): DataFrame = {
    require(bucketNanos > 0, s"bucketNanos must be positive: $bucketNanos")
    requireKeyCols(df, keyCols, "rollupRows")
    val dec = col(valueCol).cast("decimal(18,2)")
    // sum_c is pinned to decimal(28,2) — THE at-rest type every writer
    // (base write, append, compact, tierOffStore) shares, so parquet
    // schema merge never sees two decimal widths in one tree
    val aggs = Seq(count(lit(1)).as("n"), min(dec).as("min_c"),
      max(dec).as("max_c"), sum(dec).cast("decimal(28,2)").as("sum_c")) ++
      // variance dimension: the per-bucket sum of squares in EXACT
      // decimal — (n, sum, sumsq) make mean/variance/stddev over ANY
      // range a stored recording rule (sums of sums of squares are the
      // same associative fold as everything else). decimal(38,4) is the
      // pinned at-rest type: sum over it stays (38,4), so fold results
      // and stored rows never differ in width under schema merge
      (if (withVariance)
        Seq(sum(dec * dec).cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
      distinctCol.map(c => expr(s"hll_sketch_agg($c, $lgK)").as("hll")) ++
      (if (histBoundsCents.isEmpty) Nil else {
        // THE shared bucket assignment — stored counters must stay
        // bit-identical to the direct operator's
        val le = graft.operators.TsOps.histLeExpr(valueCol, histBoundsCents)
        (histBoundsCents :+ Long.MaxValue).zipWithIndex.map { case (b, i) =>
          sum((le === b).cast("long")).as(s"__h$i")
        }
      })
    val grouped = df
      .groupBy(keyCols.map(col) :+
        expr(graft.operators.TsOps.floorBucketSql(tsCol, bucketNanos))
          .as("bucket_ts"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_ns", lit(bucketNanos))
    if (histBoundsCents.isEmpty) grouped
    else {
      val slots = histBoundsCents.size + 1
      grouped
        .withColumn("hcnt", array((0 until slots).map(i =>
          col(s"__h$i")): _*))
        // the schedule rides in every row (the bucket_ns discipline): a
        // later append or read with a DIFFERENT schedule is detectable
        .withColumn("hbounds",
          expr(graft.operators.TsOps.boundsArraySql(histBoundsCents)))
        .drop((0 until slots).map(i => s"__h$i"): _*)
    }
  }

  /** Read-time finisher for the variance dimension: mean, population
    * variance, and stddev derived from a stats frame carrying
    * (n, sum_c, sumsq_c). The variance numerator n·sumsq − sum² is
    * computed in decimal and divided by n² before the one double cast —
    * the exactness bound is the decimal precision cap (38 digits), far
    * past any per-bucket magnitude; tests gate the derivation against
    * Spark's own var_pop. */
  def varianceStats(stats: DataFrame): DataFrame = {
    require(stats.columns.contains("sumsq_c"),
      "varianceStats: the frame carries no sumsq_c — write the store " +
        "with withVariance = true")
    val varNum = col("sumsq_c") * col("n") - col("sum_c") * col("sum_c")
    stats
      .withColumn("mean", (col("sum_c") / col("n")).cast("double"))
      .withColumn("var_pop",
        (varNum / (col("n") * col("n"))).cast("double"))
      .withColumn("stddev_pop", sqrt(col("var_pop")))
  }

  /** Expand stored `hcnt` counter rows to the (keys..., le, cnt) shape
    * [[graft.operators.TsOps.histogramQuantileFromCounts]] consumes —
    * bounds must be the schedule the store was built with. */
  def histogramCounts(stored: DataFrame, histBoundsCents: Seq[Long],
      keyCols: Seq[String]): DataFrame = {
    val all = histBoundsCents :+ Long.MaxValue
    val boundsArr =
      graft.operators.TsOps.boundsArraySql(all)
    // the caller's schedule must BE the store's — mislabeling counters
    // would serve silently wrong quantiles
    val checked = stored.withColumn("hcnt",
      when(assert_true(col("hbounds") ===
          expr(graft.operators.TsOps.boundsArraySql(histBoundsCents)),
        lit("histogramCounts: bounds schedule does not match the store's " +
          "hbounds")).isNull, col("hcnt")))
    checked
      .select(keyCols.map(col) :+ posexplode(col("hcnt")): _*)
      .select(keyCols.map(col) :+
        expr(s"element_at($boundsArr, pos + 1)").as("le") :+
        col("col").as("cnt"): _*)
      .filter(col("cnt") > 0)
  }

  /** `__day` partition value for a bucket row — the exact
    * [[WritableStore]] integer floor-div derivation, so range pruning and
    * the raw store's directory convention agree. */
  private def dayCol = date_from_unix_date(
    expr(s"(bucket_ts - pmod(bucket_ts, ${DayNs}L)) div ${DayNs}L")
      .cast("int")).cast("string")

  /** Build a rollup store from a raw frame: one atomic publish of the whole
    * tree (two-rename, crash leaves a complete store — [[AtomicDir]]). */
  def write(df: DataFrame, path: String, bucketNanos: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil, keyCols: Seq[String] = Nil,
      withVariance: Boolean = false): Unit = {
    val spark = df.sparkSession
    AtomicDir.publish(spark, path, "rollup store") { tmp =>
      rollupRows(df, bucketNanos, valueCol, tsCol, distinctCol, lgK,
        histBoundsCents, keyCols, withVariance)
        .withColumn("batch_key", lit("base"))
        .withColumn(WritableStore.PartitionCol, dayCol)
        // aligned write: one file per day directory, not one per
        // (task × day) — a store spanning D days written from P tasks
        // would otherwise land D×P near-empty files (measured 25× build
        // cost at 10× the span on the counter tier, same layout); the
        // extra shuffle moves only the KB-per-day folded rows
        .repartition(col(WritableStore.PartitionCol))
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Append one batch's per-bucket partial rows. `batchKey` must be unique
    * per logical batch and STABLE across retries of that batch —
    * [[graft.streaming.StreamIngest.rollupIngest]] derives it from
    * (checkpoint location, micro-batch id). An existing store's bucket
    * width and key set are validated FIRST (metadata-sized scans of the
    * KB store): one store holds exactly one grain and one key set, and a
    * mismatched append must fail loudly before it lands — mixed widths
    * under a shared batch key would otherwise collide in the replay dedup
    * and silently drop a grain, and a mis-keyed append would land
    * null-keyed rows under parquet schema merge. The two gates are
    * SEPARATE parameters on purpose: a long-lived appender that probed the
    * grain once at stream start skips the per-batch width probe with
    * `validateWidth=false`, but that must not silently disable the
    * independent key-set check too. */
  def append(df: DataFrame, path: String, batchKey: String,
      bucketNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil,
      validateWidth: Boolean = true, keyCols: Seq[String] = Nil,
      validateKeys: Boolean = true, withVariance: Boolean = false): Unit = {
    val spark = df.sparkSession
    if (validateWidth) requireGrain(spark, path, bucketNanos, "append")
    if (validateKeys) requireKeys(spark, path, keyCols, "append")
    rollupRows(df, bucketNanos, valueCol, tsCol, distinctCol, lgK,
      histBoundsCents, keyCols, withVariance)
      .withColumn("batch_key", lit(batchKey))
      .withColumn(WritableStore.PartitionCol, dayCol)
      .repartition(col(WritableStore.PartitionCol)) // one file per day
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(path)
  }

  /** The distinct bucket widths a store holds — a metadata-sized scan of
    * the KB store, so width drift is caught loudly (an arbitrary-first-row
    * read would make routing arithmetic nondeterministic under drift). */
  private def storeWidths(stored: DataFrame): Seq[Long] =
    stored.select("bucket_ns").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq

  /** The one width a store frame holds, None when it is empty (fully
    * trimmed) — the shared single-grain probe behind every width guard;
    * a mixed-width store (a writer that bypassed [[append]]'s
    * validation) always fails loudly HERE, never feeds arithmetic. */
  private def widthOf(stored: DataFrame, path: String): Option[Long] =
    storeWidths(stored) match {
      case Seq(bn) => Some(bn)
      case Seq() => None
      case ws => throw new IllegalStateException(
        s"rollup store at $path holds MIXED bucket widths " +
          s"${ws.mkString(", ")} — one store holds exactly one grain")
    }

  /** [[widthOf]] for a store known only by path: absent, schema-less,
    * or fully-trimmed trees are None. */
  private def storeWidthOpt(spark: SparkSession, path: String)
      : Option[Long] = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(live)) None
    else readableStore(spark, path).flatMap(widthOf(_, path))
  }

  /** Fail loudly when an existing store's grain differs from
    * `bucketNanos` (absent/empty stores accept any grain) — the write-
    * side width guard. A long-lived appender (streaming ingest) may run
    * this ONCE at stream start instead of per micro-batch: the probe
    * scans every accumulated partial file, and the read side's
    * uniform-width assert still catches a concurrent writer that
    * bypasses it. */
  private[graft] def requireGrain(spark: SparkSession, path: String,
      bucketNanos: Long, context: String): Unit =
    storeWidthOpt(spark, path).foreach(bn => require(bn == bucketNanos,
      s"$context: store at $path holds $bn-ns buckets; appending " +
        s"$bucketNanos-ns partials would mix grains in one store"))

  /** The one bucket width a store holds; empty or mixed stores fail. */
  private def storeBucketNs(stored: DataFrame, path: String): Long =
    widthOf(stored, path).getOrElse(throw new IllegalArgumentException(
      s"rollup store at $path is empty"))

  /** Self-heal crashed swaps, read, scope to `[since, until)` with `__day`
    * directory pruning + `bucket_ts` row-group pruning, and drop
    * at-least-once replay duplicates. The shared front half of every
    * store read. */
  private def scopedStore(spark: SparkSession, path: String,
      since: Option[Long], until: Option[Long]): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicDir.recover(fs, live, "rollup store")
    graft.pipeline.Similarity.recoverCompact(fs, live)
    scopedFrame(checkedRead(spark, path), since, until)
  }

  /** The scoping half of [[scopedStore]] over an already-read store frame
    * — lets a stitched read that listed the store once reuse the frame
    * instead of re-listing per window. */
  private def scopedFrame(raw: DataFrame, since: Option[Long],
      until: Option[Long]): DataFrame = {
    def dayStr(nanos: Long): String = java.time.LocalDate.ofEpochDay(
      Math.floorDiv(nanos, DayNs)).toString
    val conds =
      since.map(v => col("bucket_ts") >= lit(v)).toSeq ++
        until.map(v => col("bucket_ts") < lit(v)).toSeq ++
        since.map(v => col(WritableStore.PartitionCol) >= lit(dayStr(v))) ++
        until.map(v => col(WritableStore.PartitionCol) <= lit(dayStr(v - 1)))
    conds.reduceOption(_ && _).fold(raw)(raw.filter)
      // replay identity includes the group keys: a keyed store's batch
      // legitimately lands one row PER KEY per bucket under one batch_key
      .dropDuplicates(keyColsOf(raw) ++
        Seq("bucket_ts", "bucket_ns", "batch_key"))
  }

  /** A tier at rest, read ONCE per stitched call: self-healed, listed,
    * horizon computed. Absent or schema-less trees are None. With
    * `mirrorFirst`, a data-bearing store past index 0 without a horizon
    * fails loudly — data landed in a tier path not via tiering is a
    * wiring bug, and the check must not depend on which range a
    * dashboard happens to ask for. */
  private final case class TierAtRest(path: String, df: DataFrame,
      horizon: Option[Long])

  private def readTiers(spark: SparkSession, storePaths: Seq[String],
      context: String, mirrorFirst: Boolean): Seq[Option[TierAtRest]] = {
    val readable: Seq[Option[(String, DataFrame)]] = storePaths.map { p =>
      val live = new org.apache.hadoop.fs.Path(p)
      val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(live)) None
      else {
        AtomicDir.recover(fs, live, "rollup store")
        graft.pipeline.Similarity.recoverCompact(fs, live)
        readableStore(spark, p).map(p -> _)
      }
    }
    // ONE horizon probe across every readable tier (tier-tagged union →
    // grouped max) instead of one driver-blocking agg job PER tier: a
    // three-tier cascade's cold read paid three serial metadata jobs over
    // KB frames before any data work — per-request job count, not bytes,
    // is the stitched serving path's cost (guide §1). Total rows scanned
    // are identical; only the job boundary moves.
    val frames = readable.zipWithIndex.collect {
      case (Some((_, df)), i) => (df, i) }
    val horizons: Map[Int, Long] =
      if (frames.isEmpty) Map.empty
      else frames.map { case (df, i) =>
          df.select(lit(i).as("__tier"), horizonExpr.as("__h")) }
        .reduce(_ unionByName _)
        .groupBy("__tier").agg(max("__h").as("__h"))
        .collect().flatMap(r =>
          if (r.isNullAt(1)) None else Some(r.getInt(0) -> r.getLong(1)))
        .toMap
    readable.zipWithIndex.map { case (opt, i) =>
      opt.map { case (p, df) =>
        val h = horizons.get(i)
        if (mirrorFirst) require(i == 0 || h.nonEmpty,
          s"$context: tiered store at $p has data but no tier horizon" +
            " — only the FIRST (mirror) store may be horizonless; " +
            "stitch order must run mirror, then fine → coarse")
        TierAtRest(p, df, h)
      }
    }
  }

  /** A router's key predicate must reference ONLY the store's key
    * columns: a predicate on a value column (`n`, `sum_c`, a bucket stat)
    * would filter PARTIAL rows before the fold and silently change the
    * aggregates, not just which series are served. Validated by analyzing
    * the predicate against a keys-only projection of the store frame —
    * `col("host") === "x" && col("region").isin(...)` resolves,
    * `col("sum_c") > 5` fails loudly before any IO. The probe frame is
    * built FROM SCRATCH with only the key fields (no lineage): a
    * `select(keys).filter(f)` over the store frame would not do — the
    * analyzer resolves filter references through the projection to the
    * child's full schema (ResolveMissingReferences), silently admitting
    * value-column predicates. (Schema-level analysis, robust to Spark's
    * Column internals — attribute-walking the unresolved tree would miss
    * names inside ColumnNode wrappers.) */
  private[storage] def requireKeyPredicate(f: Column, keyed: DataFrame,
      context: String, keyCols: Seq[String] = Nil): Unit = {
    val keys = if (keyCols.nonEmpty) keyCols else keyColsOf(keyed)
    val spark = keyed.sparkSession
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(keys.map(keyed.schema(_))))
    try { probe.filter(f); () }
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$context: key filter references non-key column(s) — the " +
            s"store's keys are [${keys.mkString(", ")}]; a predicate on " +
            "a value column would filter partial rows before the fold " +
            s"and corrupt the aggregates (${e.getMessage})")
    }
  }

  /** Apply a validated key predicate to every readable tier's frame —
    * widths and horizons stay computed from the UNFILTERED frames (the
    * filter is a serving concern; a series with no pre-horizon rows must
    * not make the router believe the store was never tiered). */
  private def filterTiers(tiers: Seq[Option[TierAtRest]],
      keyFilter: Option[Column], context: String)
      : Seq[Option[TierAtRest]] =
    keyFilter.fold(tiers) { f =>
      tiers.flatten.headOption.foreach(t =>
        requireKeyPredicate(f, t.df, context))
      tiers.map(_.map(t => t.copy(df = t.df.filter(f))))
    }

  /** Merge partial per-bucket rows — from one store, several tiers, or a
    * raw-side [[rollupRows]] pass — into one row per `coarseNanos` bucket.
    * Input needs (bucket_ts, bucket_ns, n, min_c, max_c, sum_c) and
    * optionally `hll` / (`hcnt`, `hbounds`). All merges are associative
    * and order-free (sum/min/max/count, HLL union, counter vector-add), so
    * the fold equals a direct pass regardless of how partials are split
    * across tiers. In-plan guards ride THROUGH kept aggregates (a dropped
    * side column would be pruned before it could fire): every partial's
    * width must nest into `coarseNanos`; with `uniformWidth`, partials
    * sharing a coarse bucket must also agree on width (the single-store
    * invariant — a cascade legitimately mixes widths across tiers and
    * turns this off); histogram partials must share one bounds schedule.
    */
  private def mergeFold(partials: DataFrame, coarseNanos: Long,
      uniformWidth: Boolean, keepKeys: Option[Seq[String]] = None)
      : DataFrame = {
    require(coarseNanos > 0, s"coarseNanos must be positive: $coarseNanos")
    // group keys ride the schema; keepKeys folds ACROSS the dropped
    // dimensions (associative merges make the cross-key fold exact)
    val allKeys = keyColsOf(partials)
    val keys = keepKeys.fold(allKeys) { ks =>
      val unknown = ks.filterNot(allKeys.contains)
      require(unknown.isEmpty,
        s"rollup: key column(s) ${unknown.mkString(", ")} not among the " +
          s"store's keys [${allKeys.mkString(", ")}]")
      ks
    }
    val hasHll = partials.columns.contains("hll")
    val hasHist = partials.columns.contains("hcnt")
    val hasVar = partials.columns.contains("sumsq_c")
    val checkedN = when(
      assert_true(pmod(lit(coarseNanos), col("bucket_ns")) === 0,
        lit(s"rollup: coarseNanos $coarseNanos is not a multiple of the " +
          "stored bucket width")).isNull, col("n"))
    val aggs = Seq(sum(checkedN).as("n"), min("min_c").as("min_c"),
      max("max_c").as("max_c"), sum("sum_c").as("sum_c")) ++
      (if (hasVar)
        Seq(sum("sumsq_c").cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
      (if (uniformWidth) Seq(min("bucket_ns").as("__bnmin"),
        max("bucket_ns").as("__bnmax")) else Nil) ++
      (if (hasHll) Seq(expr("hll_union_agg(hll, true)").as("hll")) else Nil) ++
      (if (hasHist) Seq(udaf(new graft.pipeline.Text.CmsMergeAgg)
        .apply(col("hcnt")).as("hcnt"),
        min("hbounds").as("__hbmin"), max("hbounds").as("__hbmax")) else Nil)
    val grouped = partials
      .groupBy(keys.map(col) :+
        expr(graft.operators.TsOps.floorBucketSql("bucket_ts",
          coarseNanos)).as("bucket_ts"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val widthChecked =
      if (!uniformWidth) grouped
      else grouped // one grain per store: a second width (a writer that
        // bypassed append's validation) fails here, never double-counts
        .withColumn("n", when(assert_true(
          col("__bnmin") === col("__bnmax"),
          lit("rollup store: partials carry MIXED bucket widths — one " +
            "store holds exactly one grain")).isNull, col("n")))
        .drop("__bnmin", "__bnmax")
    val boundsChecked =
      if (!hasHist) widthChecked
      else widthChecked // one schedule per store: mixed-schedule partials
        // (same slot count, so the vector add would silently mislabel)
        // fail here, not silently
        .withColumn("hbounds", when(assert_true(
          col("__hbmin") === col("__hbmax"),
          lit("rollup store: partials carry DIFFERENT histogram bound " +
            "schedules — every append must use the store's histBoundsCents"))
          .isNull, col("__hbmin")))
        .drop("__hbmin", "__hbmax")
    if (hasHll) boundsChecked.withColumn("distinct_est",
      expr("hll_sketch_estimate(hll)")) else boundsChecked
  }

  /** Answer a range aggregate at `coarseNanos` granularity from the store
    * alone — no raw scan. `coarseNanos` must be a multiple of the stored
    * bucket width (buckets then nest exactly); `[since, until)` must be
    * coarse-bucket-aligned so no partially-covered coarse bucket can be
    * emitted. Duplicate (bucket_ts, bucket_ns, batch_key) partials — an
    * at-least-once replay that landed between compactions — are dropped
    * before the merge. The `__day` predicate prunes day directories at
    * file listing; the `bucket_ts` predicate prunes row groups inside
    * surviving files.
    */
  def rollup(spark: SparkSession, path: String, coarseNanos: Long,
      since: Option[Long] = None, until: Option[Long] = None,
      keepKeys: Option[Seq[String]] = None): DataFrame = {
    require(coarseNanos > 0, s"coarseNanos must be positive: $coarseNanos")
    for (v <- since ++ until)
      require(Math.floorMod(v, coarseNanos) == 0,
        s"rollup: range bound $v is not aligned to coarseNanos $coarseNanos" +
          " — a partially-covered coarse bucket would report partial stats")
    mergeFold(scopedStore(spark, path, since, until), coarseNanos,
      uniformWidth = true, keepKeys)
  }

  /** Serving bounds round OUTWARD to whole `g`-buckets (a dashboard shows
    * complete buckets; the exact-bounds contract stays on [[rollup]]).
    * `private[storage]`: [[CounterStore.route]] shares the arithmetic. */
  private[storage] def widenTo(since: Long, until: Long, g: Long): (Long, Long) =
    (Math.floorDiv(since, g) * g, (Math.floorDiv(until - 1, g) + 1) * g)

  /** Grain from the WIDENED span: the point budget is a hard contract, so
    * re-derive until the widened bucket count fits — JUMP to the widened
    * span's own ceil-grain each time (a unit step would crawl); g only
    * grows and widening adds at most one bucket per edge, so this
    * converges in a couple of rounds. */
  private def fitGrain(since: Long, until: Long, maxPoints: Int, g0: Long,
      roundUp: Long => Long): Long = {
    var g = g0
    var done = false
    while (!done) {
      val (lo, hi) = widenTo(since, until, g)
      if ((hi - lo) / g <= maxPoints) done = true
      else g = roundUp((hi - lo + maxPoints - 1) / maxPoints)
    }
    g
  }

  /** Serving-layer grain router — the maxDataPoints contract a dashboard
    * backend implements: answer `[since, until)` under a point budget from
    * the cheapest adequate source. The target grain is
    * `max(1, ⌈span/maxPoints⌉)`; a target at or above the stored bucket
    * width rounds UP to the next stored-width multiple and answers from
    * the STORE (partition-pruned KB rows — at 100 TB this is the
    * difference between reading kilobytes and terabytes); only a budget
    * demanding finer-than-stored resolution falls back to the raw table.
    * Serving bounds widen outward to whole grain buckets (a dashboard
    * shows complete buckets; the exact-bounds contract stays on
    * [[rollup]]). Output carries `grain_ns` and `source` so the caller —
    * and the tests — can see which path answered.
    *
    * TIER-AWARE: when the store has a [[tierOff]] horizon, raw no longer
    * holds the pre-horizon samples, so (a) any store-grain answer is
    * STITCHED — store buckets below the horizon, raw re-aggregated at the
    * same grain at/after it — and (b) a budget demanding finer-than-stored
    * resolution over a pre-horizon range CLAMPS to the stored grain (the
    * finest resolution that still exists) and stitches, labeled
    * `source="stitched"`. The pre-tiering behavior — serve the raw
    * remnant and label it "raw" — would be a silently partial answer; it
    * is now impossible by construction. A range entirely at/after the
    * horizon still serves raw at the requested fine grain.
    *
    * KEY PUSHDOWN: `keyFilter` (a predicate over the store's key columns
    * only — validated loudly) prunes BOTH sides before any stitch: the
    * store scan (the predicate reaches the parquet reader as a pushed
    * filter over the KB rows) and the raw re-aggregation (at 100 TB,
    * "one series, zoomed" — the most common keyed dashboard query — must
    * never stitch millions of series and filter client-side). The tier
    * horizon is still read from the UNFILTERED store: the filter selects
    * which series are served, not whether the store was tiered into.
    */
  def route(spark: SparkSession, path: String, raw: DataFrame,
      since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyFilter: Option[Column] = None): DataFrame = {
    require(until > since, s"route: empty range [$since, $until)")
    require(maxPoints >= 1, "route needs a positive point budget")
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicDir.recover(fs, live, "rollup store") // serving must self-heal a
    graft.pipeline.Similarity.recoverCompact(fs, live) // crashed swap too
    val stored0 = checkedRead(spark, path)
    // width + horizon in one metadata job (see storeMetaProbe)
    val (bucketNs, horizon) = storeMetaProbe(spark, stored0, path)
    keyFilter.foreach(requireKeyPredicate(_, stored0, "route"))
    val stored = keyFilter.fold(stored0)(stored0.filter)
    val rawF = keyFilter.fold(raw)(raw.filter)
    // the raw fallback must produce the same schema the store serves —
    // a dashboard that selects distinct_est at a coarse zoom must not
    // break when a finer zoom routes to raw
    require(!stored.columns.contains("hll") || distinctCol.nonEmpty,
      "route: the store carries a distinct sketch — pass distinctCol so " +
        "the raw fallback serves the same schema")
    require(!stored.columns.contains("hcnt") || histBoundsCents.nonEmpty,
      "route: the store carries histogram counters — pass histBoundsCents" +
        " so the raw fallback serves the same schema")
    // horizon from the UNFILTERED store (probed above with the width): a
    // key slice with no pre-horizon rows must not flip the router into
    // believing the store is an untiered complete mirror (it would then
    // serve that series' empty store slice instead of its raw samples)
    def widened(g: Long): (Long, Long) = widenTo(since, until, g)
    def fit(g0: Long, roundUp: Long => Long): Long =
      fitGrain(since, until, maxPoints, g0, roundUp)
    val span = until - since
    val target = math.max(1L, (span + maxPoints - 1) / maxPoints)
    val toMult = (g: Long) => ((g + bucketNs - 1) / bucketNs) * bucketNs
    val gRaw = fit(target, identity)
    def stitchedAt(g: Long): DataFrame = {
      val (lo, hi) = widened(g)
      stitchTiers(spark, rawF,
        Seq(Some(TierAtRest(path, stored, horizon))), g, Some(lo),
        Some(hi), valueCol, tsCol, distinctCol, lgK, histBoundsCents)
        .withColumn("grain_ns", lit(g)).withColumn("source", lit("stitched"))
    }
    if (gRaw >= bucketNs) { // the store's resolution satisfies the budget
      val g = fit(toMult(gRaw), toMult)
      horizon match {
        case Some(_) => stitchedAt(g) // tiered lifecycle: the store holds
          // the pre-horizon past, raw the rest — stitch, never partial
        case None => // untiered: the store is the complete mirror —
          // served from the frame this call already self-healed and
          // read, not a second rollup() listing of the same tree
          val (lo, hi) = widened(g)
          mergeFold(scopedFrame(stored, Some(lo), Some(hi)), g,
              uniformWidth = true)
            .withColumn("grain_ns", lit(g))
            .withColumn("source", lit("store"))
      }
    } else {
      // the raw-only fast path must test the horizon against the
      // WIDENED lower bound, not the requested `since`: widening rounds
      // the first bucket down, and a first bucket dipping below the
      // horizon would silently miss the tiered-off samples inside it —
      // exactly the partial answer this router exists to prevent
      val (lo, hi) = widened(gRaw)
      if (horizon.forall(_ <= lo)) {
        // finer-than-stored budget over a range raw fully holds — grouped
        // by the store's own keys (and dims) so a fine zoom serves the
        // same series and the same schema
        val rows = rollupRows(graft.operators.TsOps.rangeFilter(rawF,
            Some(lo), Some(hi), tsCol), gRaw, valueCol, tsCol, distinctCol,
            lgK, histBoundsCents, keyColsOf(stored),
            withVariance = stored0.columns.contains("sumsq_c"))
          .drop("bucket_ns")
        (if (distinctCol.nonEmpty) // schema parity with the store path
          rows.withColumn("distinct_est", expr("hll_sketch_estimate(hll)"))
        else rows)
          .withColumn("grain_ns", lit(gRaw)).withColumn("source", lit("raw"))
      } else {
        // the budget demands finer-than-stored resolution over a range
        // whose pre-horizon samples no longer exist at that resolution:
        // clamp to the stored grain — a complete answer at the finest
        // resolution that still exists beats a silently partial fine one
        stitchedAt(fit(toMult(bucketNs), toMult))
      }
    }
  }

  /** Budget router with the AQP SAMPLE tier as the fine-zoom source —
    * the composition of the two serving tiers: a budget the exact store
    * can satisfy (target grain at or above the stored bucket width)
    * answers EXACTLY from the store's partition-pruned KB rows; a budget
    * demanding finer-than-stored resolution — where [[route]] would fall
    * back to re-aggregating the raw table — answers from the
    * deterministic [[SampleStore]] instead, reading 1/rate_den of the
    * bytes (at 100 TB: the dashboard drill-in that would otherwise scan
    * terabytes reads the GB-sized sample). ONE schema across every zoom
    * so a dashboard never re-binds columns: `(bucket_ts, n_sample,
    * est_count, est_sum_cents, est_var_cents2, rate_den, grain_ns,
    * source)` — exact answers carry `rate_den = 1` and a ZERO variance
    * bar (an exact count has no sampling randomness), sampled answers
    * carry the store's rate and the unbiased Horvitz-Thompson variance
    * of the sum (σ ≈ √var: the error bar printed beside the number).
    * Serves the complete-mirror lifecycle: a tiered (horizon-bearing)
    * store fails loudly — its post-horizon range lives in raw, which
    * this router deliberately does not read; route/routeCascade own the
    * tiered lifecycles.
    *
    * KEYED stores serve their dimensions through both zooms: the exact
    * path folds per series as any keyed rollup; the sampled path groups
    * the sampled RAW rows by the store's own key columns (they ride
    * every sampled row — the sample came from the same raw table), so a
    * fine zoom serves the same series the exact tiers do. `keyFilter`
    * (a predicate over the key columns only — validated loudly) prunes
    * both the store scan and the sampled scan before any aggregate, the
    * [[route]] key-pushdown contract: "one series, zoomed" never
    * estimates every series and filters client-side. */
  def routeSampled(spark: SparkSession, storePath: String,
      samplePath: String, since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value",
      keyFilter: Option[Column] = None): DataFrame =
    prepareSampled(spark, storePath, samplePath, valueCol,
      pinSample = false).route(since, until, maxPoints, keyFilter)

  /** The OPEN-ONCE face of [[routeSampled]] — a dashboard backend routes
    * thousands of zooms against one prepared pair of tiers, so the
    * per-store metadata work (self-heal, schema merge across the day
    * files, grain probe, horizon check, key inference, sample-store
    * validation) prices in once instead of per request: the ScaleProbe
    * `route_aqp_fine` burst showed the cold path 4× the exact raw
    * aggregation at 10× events purely on repeated metadata jobs, and
    * the prepared path is what a serving layer should hold (the
    * [[SampleStore.open]] open-once/estimate-many posture extended to
    * the router). `pinSample` persists the replay-deduped sample rows —
    * the BlinkDB serving stance; [[SampledRouter.close]] releases the
    * pin. */
  def prepareSampled(spark: SparkSession, storePath: String,
      samplePath: String, valueCol: String = "value",
      pinSample: Boolean = true): SampledRouter = {
    val live = new org.apache.hadoop.fs.Path(storePath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicDir.recover(fs, live, "rollup store")
    graft.pipeline.Similarity.recoverCompact(fs, live)
    val stored = checkedRead(spark, storePath)
    // width + horizon in one metadata job (see storeMetaProbe)
    val (bucketNs, horizon) = storeMetaProbe(spark, stored, storePath)
    val keys = keyColsOf(stored)
    require(horizon.isEmpty,
      "routeSampled serves a complete-mirror store — this store has a " +
        "tier horizon, so its post-horizon samples live in raw, which " +
        "this router does not read; use route()/routeCascade() for the " +
        "tiered lifecycle")
    val handle = SampleStore.open(spark, samplePath, pin = pinSample)
    try {
      val missing = keys.filterNot(handle.rows.columns.contains)
      require(missing.isEmpty,
        s"routeSampled: the store is keyed by [${keys.mkString(", ")}] " +
          s"but the sample rows lack ${missing.mkString(", ")} — sample " +
          "the same raw table the store rolls up")
      require(handle.rows.columns.contains(valueCol),
        s"routeSampled: the sample rows have no '$valueCol' column " +
          s"(columns: ${handle.rows.columns.mkString(", ")}) — a typo'd " +
          "valueCol must fail at prepare, not pin rows and then die on " +
          "the first fine zoom")
    } catch { case e: Throwable => handle.close(); throw e }
    SampledRouter(stored, bucketNs, keys, handle, valueCol)
  }

  /** A prepared store+sample serving pair (see [[prepareSampled]]):
    * every [[route]] call is pure plan construction over the already-
    * validated frames — no metadata jobs, no re-listing. */
  final case class SampledRouter private[storage] (stored: DataFrame,
      bucketNs: Long, keys: Seq[String],
      handle: SampleStore.SampleHandle, valueCol: String) {

    def route(since: Long, until: Long, maxPoints: Int,
        keyFilter: Option[Column] = None): DataFrame = {
      require(until > since, s"routeSampled: empty range [$since, $until)")
      require(maxPoints >= 1, "routeSampled needs a positive point budget")
      keyFilter.foreach(requireKeyPredicate(_, stored, "routeSampled",
        keys))
      val storedF = keyFilter.fold(stored)(stored.filter)
      val span = until - since
      val target = math.max(1L, (span + maxPoints - 1) / maxPoints)
      val gRaw = fitGrain(since, until, maxPoints, target, identity)
      if (gRaw >= bucketNs) {
        val toMult = (g: Long) =>
          ((g + bucketNs - 1) / bucketNs) * bucketNs
        val g = fitGrain(since, until, maxPoints, toMult(gRaw), toMult)
        val (lo, hi) = widenTo(since, until, g)
        mergeFold(scopedFrame(storedF, Some(lo), Some(hi)), g,
            uniformWidth = true)
          .select(keys.map(col) ++ Seq(col("bucket_ts"),
            col("n").as("n_sample"), col("n").as("est_count"),
            // sum_c is decimal(28,2); at extreme widths (cents nearing
            // 2^63) this non-ANSI cast nulls rather than fails — the
            // SAME width limit the sampled path's integer-cents
            // estimator acknowledges. Swap both emissions to decimal if
            // a store's per-bucket sums approach the long edge; the
            // estimator, not the width, is the schema contract here.
            (col("sum_c") * 100).cast("long").as("est_sum_cents"),
            lit(0L).as("est_var_cents2"), lit(1L).as("rate_den")): _*)
          .withColumn("grain_ns", lit(g))
          .withColumn("source", lit("store"))
      } else {
        val (lo, hi) = widenTo(since, until, gRaw)
        handle
          .estimateTimeBuckets(gRaw, valueCol, Some(lo), Some(hi),
            groupCols = keys, keyFilter = keyFilter)
          .withColumn("grain_ns", lit(gRaw))
          .withColumn("source", lit("sample"))
      }
    }

    /** Release the pinned sample (no-op for an unpinned prepare). */
    def close(): Unit = handle.close()
  }

  /** Age-based downsample tiering — the retention-policy lifecycle a TSDB
    * runs nightly: samples older than `cutoff` leave the raw table and
    * survive as rollup-store buckets (full resolution for the recent
    * window, aggregates forever — at 100 TB this is what makes "keep two
    * years" affordable). `cutoff` must be bucket-aligned so no bucket
    * straddles the tier boundary.
    *
    * Crash-safe and IDEMPOTENT: the tiered-off partials append under the
    * deterministic batch key `tier-<cutoff>`, so a retry after a crash
    * between the store append and the raw rewrite re-appends under the
    * SAME key and the replay dedup collapses it — the store can never
    * double-count a tier; the raw rewrite itself is an [[AtomicDir]]
    * two-rename publish (every crash point leaves a complete raw table,
    * either pre- or post-trim). Run with ingest to the affected range
    * quiesced — a retry's partial must be bit-identical for the
    * deterministic tier key's dedup to be exact (the compaction rule).
    */
  def tierOff(spark: SparkSession, rawPath: String, storePath: String,
      cutoff: Long, bucketNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil,
      keyCols: Seq[String] = Nil, withVariance: Boolean = false): Unit = {
    require(Math.floorMod(cutoff, bucketNanos) == 0,
      s"tierOff: cutoff $cutoff is not aligned to the $bucketNanos bucket" +
        " — a straddling bucket would be half raw, half rolled up")
    val rawLive = new org.apache.hadoop.fs.Path(rawPath)
    val fs = rawLive.getFileSystem(spark.sessionState.newHadoopConf())
    // readRawOrEmpty (not a bare read): a RETRY of an already-completed
    // full tierOff sees an emptied raw tree and must no-op, not die on
    // schema inference
    val raw = readRawOrEmpty(spark, rawPath, tsCol, valueCol, distinctCol)
    val old = raw.filter(col(tsCol) < cutoff)
    // nothing below the cutoff — a completed trim's retry, or a policy
    // cycle where no sample has aged yet: skip BOTH sides, so no
    // schema-less store dir is created by an empty append and no
    // unpartitioned raw tree is pointlessly rewritten (the probe is one
    // limit-1 scan with the ts predicate pushed down)
    if (old.isEmpty) return
    append(old, storePath, s"tier-$cutoff", bucketNanos, valueCol, tsCol,
      distinctCol, lgK, histBoundsCents, keyCols = keyCols,
      withVariance = withVariance)
    trimBelow(spark, fs, rawPath, "tiered raw table", cutoff, tsCol)
  }

  /** The partition-column chain a hive-layout tree encodes in its
    * directory names (`__day=…`, or a foreign writer's `pday=…/hr=…`),
    * outermost first — read off ONE root-to-files path, the layout every
    * partitioned writer produces. Empty for flat trees. A rewrite must
    * re-partition by exactly these columns: flattening would demote them
    * to data columns, and the NEXT append by the tree's own writer would
    * then mix root-level files with partition dirs — a layout Spark's
    * partition discovery rejects outright. */
  private def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    @scala.annotation.tailrec
    def walk(dir: org.apache.hadoop.fs.Path,
        acc: List[String]): List[String] =
      Option(fs.listStatus(dir)).getOrElse(Array.empty)
        .find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(s) =>
          walk(s.getPath, s.getPath.getName.takeWhile(_ != '=') :: acc)
        case None => acc.reverse
      }
    walk(root, Nil)
  }

  /** Trim a parquet tree to rows with `boundCol >= cutoff`. Fast path: a
    * `__day=`-partitioned tree with a day-aligned cutoff trims by DELETING
    * whole day directories — O(days dropped), never a rewrite of the
    * retained window (at 100 TB the rewrite would dwarf the rollup
    * itself). Each dir delete is atomic; a crash mid-way leaves extra
    * pre-cutoff dirs that the tier horizon already excludes from stitched
    * reads. Fallback (sub-day cutoff, flat tree, or a foreign hive
    * layout): atomic two-rename rewrite of the retained rows, PRESERVING
    * whatever partition chain the source tree encodes — a flat rewrite
    * would silently demote the partition columns and lose directory
    * pruning (and, for a foreign tree, break the external writer's next
    * append against partition discovery) forever after. */
  private def trimBelow(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      path: String, what: String, cutoff: Long, boundCol: String): Unit = {
    val dayDirs = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      path, s"${WritableStore.PartitionCol}=*"))).getOrElse(Array.empty)
    if (dayDirs.nonEmpty && Math.floorMod(cutoff, DayNs) == 0) {
      val cutDay = java.time.LocalDate.ofEpochDay(
        Math.floorDiv(cutoff, DayNs)).toString
      dayDirs.filter(_.getPath.getName.stripPrefix(
          s"${WritableStore.PartitionCol}=") < cutDay)
        .foreach(d => fs.delete(d.getPath, true))
      spark.catalog.refreshByPath(path)
    } else {
      // any other READABLE layout — flat files, a __day tree with a
      // sub-day cutoff, or an externally-partitioned tree — rewrites
      // atomically; skipping one silently would leave the appended rows
      // in raw and the NEXT cycle's higher cutoff would re-append them
      // under a different tier key, double-counting forever. Only a
      // schema-less tree (a completed full trim's retry) is a no-op.
      if (readTreeOrNone(spark, path).nonEmpty) {
        val pcols = partitionColsOf(fs, new org.apache.hadoop.fs.Path(path))
        AtomicDir.publish(spark, path, what) { tmp =>
          // re-read under the publish so the filter runs against the files
          // being replaced, not a stale cached plan
          val kept = spark.read.parquet(path).filter(col(boundCol) >= cutoff)
          if (pcols.nonEmpty) kept.write.partitionBy(pcols: _*).parquet(tmp)
          else kept.write.parquet(tmp)
        }
      }
    }
  }

  /** Cascade tiering, store → coarser store (1m buckets → 1h → 1d): fold
    * the fine store's buckets below `cutoff` into `coarseBucketNanos`
    * buckets appended to the coarse store, then trim the fine store. The
    * merges are the same associative folds every rollup uses — value
    * stats, HLL union, counter vector-add — so the cascade loses nothing a
    * coarse query could see. Same idempotence discipline as [[tierOff]]:
    * the deterministic `tier-<cutoff>` key dedups a retried append, the
    * trim is a directory drop or atomic rewrite, and the coarse store's
    * horizon bounds the fine store in stitched reads during the crash
    * window. Run with writes to the fine store quiesced. */
  def tierOffStore(spark: SparkSession, fineStorePath: String,
      coarseStorePath: String, cutoff: Long,
      coarseBucketNanos: Long): Unit = {
    require(Math.floorMod(cutoff, coarseBucketNanos) == 0,
      s"tierOffStore: cutoff $cutoff is not aligned to the " +
        s"$coarseBucketNanos coarse bucket — a straddling bucket would be " +
        "half fine, half coarse")
    val fine = scopedStore(spark, fineStorePath, None, Some(cutoff))
    // nothing below the cutoff (completed retry / no-op policy cycle):
    // skip before the width probe — an emptied fine store has no width
    // to read and an empty append would leave a schema-less coarse dir
    if (fine.isEmpty) return
    val fineBn = storeBucketNs(checkedRead(spark, fineStorePath),
      fineStorePath)
    require(coarseBucketNanos % fineBn == 0,
      s"tierOffStore: coarse width $coarseBucketNanos does not nest the " +
        s"fine store's $fineBn buckets")
    // an absent or empty coarse store accepts the first tier
    storeWidthOpt(spark, coarseStorePath).foreach(bn =>
      require(bn == coarseBucketNanos,
        s"tierOffStore: coarse store at $coarseStorePath holds $bn-ns " +
          s"buckets, not $coarseBucketNanos"))
    // and the key sets must agree — cascading a host-keyed store into a
    // type-keyed one would null-key every later fold
    requireKeys(spark, coarseStorePath, keyColsOf(fine), "tierOffStore")
    mergeFold(fine, coarseBucketNanos, uniformWidth = true)
      .drop("distinct_est") // a read-side derivation, not a stored column
      // the fold's sum-of-sums widened to decimal(38,2); the store's
      // at-rest type is the decimal(28,2) rollupRows writes — cast back
      // (lossless: 26 integer digits) so parquet schema merge stays clean
      .withColumn("sum_c", col("sum_c").cast("decimal(28,2)"))
      .withColumn("bucket_ns", lit(coarseBucketNanos))
      .withColumn("batch_key", lit(s"tier-$cutoff"))
      .withColumn(WritableStore.PartitionCol, dayCol)
      .repartition(col(WritableStore.PartitionCol)) // one file per day
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(coarseStorePath)
    val fineLive = new org.apache.hadoop.fs.Path(fineStorePath)
    trimBelow(spark,
      fineLive.getFileSystem(spark.sessionState.newHadoopConf()),
      fineStorePath, "tiered rollup store", cutoff, "bucket_ts")
  }

  /** One tier of a declarative retention policy: its at-rest store, bucket
    * width, and how long samples stay at this resolution before aging into
    * the next tier. The LAST tier's `keepNanos` is never read — the
    * coarsest tier retains forever. */
  final case class TierSpec(storePath: String, bucketNanos: Long,
      keepNanos: Long = Long.MaxValue)

  /** A policy cutoff: `now − keep` floored to the receiving tier's bucket
    * — and further to the DAY boundary whenever that width nests into a
    * day (day-aligned is then still bucket-aligned). The day floor is a
    * scale decision, not cosmetics: it keeps every cycle's raw/store trim
    * on [[trimBelow]]'s `__day` directory-drop fast path; an hour-aligned
    * cutoff over a day-partitioned 100 TB raw table would atomically
    * REWRITE the whole retained tree every cron cycle. The cost is up to
    * one extra day retained at the finer resolution — `keep` is a
    * minimum, the usual retention contract. */
  private def policyCutoff(nowNs: Long, keep: Long, bucketNanos: Long)
      : Long = {
    val w = if (DayNs % bucketNanos == 0) DayNs else bucketNanos
    Math.floorDiv(nowNs - keep, w) * w
  }

  /** Apply a retention policy — "full resolution for a week, hourly for a
    * year, daily forever" as ONE declarative call a maintenance daemon or
    * cron issues per cycle, instead of hand-computed [[tierOff]] /
    * [[tierOffStore]] cutoffs. `nowNs` is injectable (the dialect clock
    * discipline of `today()`, `QueryParser`'s `clock`): each cutoff
    * derives as `now − keep` aligned DOWN to the RECEIVING tier's bucket
    * width — deterministic for a given now, so the `tier-<cutoff>` batch
    * keys make a crashed or double-run cycle idempotent end to end (the
    * retried append collapses in the replay dedup; the retried trim
    * no-ops). Moves run raw → finest first, then down the cascade, so
    * every displaced bucket reaches its final tier within the SAME cycle
    * — coarse-first would strand below-coarse-cutoff samples in the fine
    * store until the next cycle. Keeps must not shrink down the cascade
    * (each coarser tier retains at least as long as the finer one above
    * it, checked AFTER bucket alignment) so the resulting horizons
    * satisfy [[cascadeRollup]]'s fine-to-coarse monotonicity — violations
    * fail loudly before any data moves. Bucket widths must nest
    * ([[tierOffStore]]'s guard re-checks per move). A cascade move whose
    * fine store does not exist yet (nothing has aged that far) is
    * skipped, not an error. Returns the (storePath, cutoff) pairs of this
    * cycle for the caller's maintenance log. `compactStores = true` folds
    * each store's accumulated partials after the moves — only with
    * ingest quiesced ([[compact]]'s contract).
    *
    * 100 TB shape: a cycle's cost is the displaced window's rollup (one
    * bounded pass over the aged days — at a daily cadence, 1/retention-th
    * of the raw table) plus metadata-sized store folds; the serving side
    * stays [[cascadeRollup]]'s store-buckets-plus-raw-remnant scan
    * (ScaleProbe `cascade_serve`). */
  def applyRetention(spark: SparkSession, rawPath: String,
      rawKeepNanos: Long, tiers: Seq[TierSpec], nowNs: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      compactStores: Boolean = false,
      keyCols: Seq[String] = Nil,
      withVariance: Boolean = false): Seq[(String, Long)] = {
    require(tiers.nonEmpty, "applyRetention needs at least one tier")
    val cutoffs = policyCutoffs("applyRetention",
      rawKeepNanos +: tiers.init.map(_.keepNanos), tiers, nowNs)
    tierOff(spark, rawPath, tiers.head.storePath, cutoffs.head,
      tiers.head.bucketNanos, valueCol, tsCol, distinctCol, lgK,
      histBoundsCents, keyCols, withVariance)
    runPolicyMoves(spark, tiers, cutoffs.tail, compactStores)
    tiers.map(_.storePath).zip(cutoffs)
  }

  /** Validated policy cutoffs for one cycle: keep-finiteness per move,
    * [[policyCutoff]] alignment against each RECEIVING tier, then the
    * loud shrink guard — all BEFORE any data moves. */
  private def policyCutoffs(context: String, keeps: Seq[Long],
      receiving: Seq[TierSpec], nowNs: Long): Seq[Long] = {
    val cutoffs = keeps.zip(receiving).map { case (keep, r) =>
      require(keep >= 0 && keep < Long.MaxValue,
        s"$context: keep $keep is not a finite non-negative duration — " +
          "only the LAST tier retains forever")
      policyCutoff(nowNs, keep, r.bucketNanos)
    }
    cutoffs.sliding(2).foreach {
      case Seq(fine, coarse) => require(coarse <= fine,
        s"$context: a coarser tier would cut at $coarse, NEWER than the " +
          s"finer tier's $fine — keeps must not shrink down the cascade " +
          "(after bucket alignment)")
      case _ =>
    }
    cutoffs
  }

  /** One cycle's store→store moves down the cascade plus the optional
    * compaction pass, shared by both policy variants. A fine store that
    * is absent or schema-less (nothing aged that far yet, or fully
    * drained by an equal-keep pass-through) skips its move — and the
    * compaction pass skips those trees too, so a cycle never crashes
    * AFTER its data has already moved. */
  private def runPolicyMoves(spark: SparkSession, tiers: Seq[TierSpec],
      moveCutoffs: Seq[Long], compactStores: Boolean): Unit = {
    def readable(p: String): Boolean = {
      val live = new org.apache.hadoop.fs.Path(p)
      live.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(live) && readableStore(spark, p).nonEmpty
    }
    tiers.sliding(2).toSeq.zip(moveCutoffs).foreach {
      case (Seq(fine, coarse), cut) =>
        if (readable(fine.storePath))
          tierOffStore(spark, fine.storePath, coarse.storePath, cut,
            coarse.bucketNanos)
      case _ =>
    }
    if (compactStores)
      tiers.map(_.storePath).filter(readable).foreach(compact(spark, _))
  }

  /** [[applyRetention]] for the RAW-LESS mirror lifecycle: the FIRST
    * [[TierSpec]] is the stream-maintained mirror ([[rollupIngest]]'s
    * complete store), its `keepNanos` how long full resolution stays
    * there before aging down the [[tierOffStore]] cascade; the last
    * tier retains forever. Same discipline as the raw-headed policy:
    * clock-injected cutoffs aligned down to each receiving tier's width,
    * deterministic tier keys absorbing crashed or double-run cycles,
    * fine-first move order, loud shrinking-keeps guard, no-op moves
    * skipped. Quiesce (or tolerate replay of) the ingest stream around a
    * cycle — a mirror append racing the trim is the standard streaming
    * at-least-once window the batch-key dedup and horizon scoping
    * already cover. Returns the (receiving storePath, cutoff) pairs. */
  def applyStoreRetention(spark: SparkSession, tiers: Seq[TierSpec],
      nowNs: Long, compactStores: Boolean = false): Seq[(String, Long)] = {
    require(tiers.size >= 2,
      "applyStoreRetention ages a mirror down a cascade — it needs the " +
        "mirror plus at least one coarser tier")
    val cutoffs = policyCutoffs("applyStoreRetention",
      tiers.init.map(_.keepNanos), tiers.tail, nowNs)
    runPolicyMoves(spark, tiers, cutoffs, compactStores)
    tiers.tail.map(_.storePath).zip(cutoffs)
  }

  /** The tier horizon: the highest cutoff any [[tierOff]] /
    * [[tierOffStore]] has appended — everything below it is served from
    * this store, whatever the finer tier still holds. Parsed from the
    * deterministic `tier-<cutoff>` batch keys and from the
    * `compact-<uuid>-h<cutoff>` keys [[compact]] stamps to carry the
    * horizon THROUGH compaction (metadata-sized aggregation over KB
    * rows). None if never tiered. */
  private def tierHorizon(stored: DataFrame): Option[Long] = {
    val r = stored.agg(max(horizonExpr)).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private def horizonExpr: Column = {
    val fromTier = when(col("batch_key").startsWith("tier-"),
      expr("CAST(substring(batch_key, 6) AS LONG)"))
    val fromCompact = expr(
      "CAST(nullif(regexp_extract(batch_key, '^compact-[0-9a-f]+-h(-?[0-9]+)$'" +
        ", 1), '') AS LONG)")
    coalesce(fromTier, fromCompact)
  }

  /** Bucket width + tier horizon in ONE metadata aggregation — the
    * serving cold path (route / prepareSampled) needs both, and two
    * separate driver-blocking jobs over the same KB store frame doubled
    * the per-request metadata cost (guide §1: the routed rows' time is
    * job count, not bytes). Same failure surface as [[storeBucketNs]] +
    * [[tierHorizon]]: empty and mixed-width stores fail identically. The
    * job reruns only when the store's files changed ([[MetaMemo.probe]]). */
  private def storeMetaProbe(spark: SparkSession, stored: DataFrame,
      path: String): (Long, Option[Long]) = MetaMemo.probe(spark, path) {
    val r = stored.agg(collect_set(col("bucket_ns")), max(horizonExpr))
      .head()
    val widths = r.getSeq[Long](0).sorted
    val bucketNs = widths match {
      case Seq(bn) => bn
      case Seq() => throw new IllegalArgumentException(
        s"rollup store at $path is empty")
      case ws => throw new IllegalStateException(
        s"rollup store at $path holds MIXED bucket widths " +
          s"${ws.mkString(", ")} — one store holds exactly one grain")
    }
    (bucketNs, if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** Stitch raw + tier stores into partial rows and fold at `coarseNanos`
    * — the shared core of [[tieredRollup]], [[cascadeRollup]] and
    * [[route]]'s tiered paths. `storePaths` runs fine → coarse; store i
    * serves `[horizon(store i+1), horizon(store i))` and raw serves
    * `[horizon(finest), ∞)`, so each sample is counted from exactly one
    * tier even DURING a tierOff's append-to-trim window (or after a crash
    * inside it), when the finer tier still holds already-tiered rows. A
    * store with no horizon record was never tiered into and serves
    * nothing; a missing or fully-trimmed store tree likewise (trim a tier
    * fully only after tiering its whole range onward — then its horizon
    * equals the next store's and the gap is empty). An absent/empty raw
    * tree — everything tiered off — serves zero raw rows instead of
    * failing schema inference. */
  /** Serving windows for a fine → coarse chain of stitched sources,
    * given each source's OWN horizon (None = serves to ∞, i.e. raw or a
    * mirror store): source i serves `[next present horizon below it ∨
    * since, own horizon ∧ until)`. This is THE exactly-once-per-sample
    * window discipline every stitched read shares — one implementation,
    * so a fix to the arithmetic cannot diverge between the raw-headed
    * and the raw-less lifecycles. Validates that present horizons run
    * newest (fine) to oldest (coarse). */
  private def tierWindows(context: String, horizons: Seq[Option[Long]],
      since: Option[Long], until: Option[Long])
      : Seq[(Option[Long], Option[Long])] = {
    val presentHs = horizons.flatten
    require(presentHs.sliding(2).forall(w =>
        w.length < 2 || w.head >= w.last),
      s"$context: tier horizons must run newest (fine) to oldest " +
        s"(coarse); got ${presentHs.mkString(", ")}")
    horizons.zipWithIndex.map { case (h, i) =>
      (Seq(horizons.drop(i + 1).flatten.headOption, since).flatten.maxOption,
        Seq(h, until).flatten.minOption)
    }
  }

  private def stitchTiers(spark: SparkSession, raw: DataFrame,
      tiers: Seq[Option[TierAtRest]], coarseNanos: Long,
      since: Option[Long], until: Option[Long],
      valueCol: String, tsCol: String, distinctCol: Option[String],
      lgK: Int, histBoundsCents: Seq[Long]): DataFrame = {
    // per-store horizons, fine → coarse: absent, unreadable, or
    // never-tiered-into (horizonless) stores skipped
    val present: Seq[(TierAtRest, Long)] =
      tiers.flatten.flatMap(t => t.horizon.map(t -> _))
    // raw heads the chain as the horizonless source serving to ∞ — the
    // same slot the mirror store occupies in the raw-less lifecycle
    val windows = tierWindows("stitchTiers",
      None +: present.map(p => Some(p._2)), since, until)
    val (rawLo, rawHi) = windows.head
    val rawScoped = graft.operators.TsOps.rangeFilter(raw, rawLo, rawHi,
      tsCol)
    val anySketch = present.exists(_._1.df.columns.contains("hll"))
    val anyHist = present.exists(_._1.df.columns.contains("hcnt"))
    // the variance dimension needs nothing from the caller (no column
    // name, no schedule) — the raw side simply mirrors whatever the
    // tiers carry, so stitched reads serve it with zero new parameters
    val anyVar = present.exists(_._1.df.columns.contains("sumsq_c"))
    require(!anySketch || distinctCol.nonEmpty,
      "stitchTiers: a tier carries a distinct sketch — pass distinctCol " +
        "so the raw side serves the same schema")
    require(!anyHist || histBoundsCents.nonEmpty,
      "stitchTiers: a tier carries histogram counters — pass " +
        "histBoundsCents so the raw side serves the same schema")
    // key inference reads ALL readable tiers, horizonless included: a
    // keyed store that has not been tiered into yet serves no rows but
    // still declares the dimension, so the stitched schema cannot flip
    // from unkeyed to keyed the day the first tierOff runs
    val keys = sharedKeys(tiers.flatten.map(t => (t.path, t.df)),
      "stitchTiers")
    val missing = keys.filterNot(rawScoped.columns.contains)
    require(missing.isEmpty,
      s"stitchTiers: the tiers are keyed by [${keys.mkString(", ")}] but " +
        s"the raw side lacks ${missing.mkString(", ")}")
    val cols = keys ++ Seq("bucket_ts", "bucket_ns", "n", "min_c", "max_c",
      "sum_c") ++ (if (anyVar) Seq("sumsq_c") else Nil) ++
      (if (anySketch) Seq("hll") else Nil) ++
      (if (anyHist) Seq("hcnt", "hbounds") else Nil)
    val rawPart = rollupRows(rawScoped, coarseNanos, valueCol, tsCol,
      if (anySketch) distinctCol else None, lgK,
      if (anyHist) histBoundsCents else Nil, keys, withVariance = anyVar)
      .select(cols.map(col): _*)
    val storeParts = present.zip(windows.tail).map { case ((t, _), (lo, hi)) =>
      scopedFrame(t.df, lo, hi).select(cols.map(col): _*)
    }
    mergeFold(storeParts.foldLeft(rawPart)(_.unionByName(_)), coarseNanos,
      uniformWidth = false)
  }

  /** The ONE key set a chain of stitched tiers shares — tiers keyed
    * differently (a wiring bug: someone cascaded a host-keyed store into
    * a type-keyed one) fail loudly, never fold across mismatched keys. */
  private def sharedKeys(tiers: Seq[(String, DataFrame)],
      context: String): Seq[String] = {
    val keyed = tiers.map { case (p, df) => (p, keyColsOf(df)) }
    keyed.map(_._2.sorted).distinct match {
      case Seq() => Nil
      case Seq(_) => keyed.head._2
      case _ => throw new IllegalStateException(
        s"$context: tiers carry DIFFERENT key sets — " +
          keyed.map { case (p, ks) => s"$p=[${ks.mkString(", ")}]" }
            .mkString("; "))
    }
  }

  /** Stitched read across one raw + one store tier: the rolled-up past
    * UNION the raw rows at-or-after the TIER HORIZON, re-aggregated at
    * `coarseNanos` — tier ranges are disjoint whole buckets (the
    * [[tierOff]] alignment contract), so the merge is the same associative
    * fold as any rollup and the base aggregates equal a direct pass over
    * the never-tiered table bit for bit. The horizon filter (not
    * "whatever raw holds") is load-bearing twice: during [[tierOff]]'s
    * append-to-trim window — and after a crash inside it — raw still
    * holds already-tiered samples, and without the filter the stitched
    * read would double-count them; and a LATE sample older than the
    * horizon that sneaks into raw is deliberately invisible here (the
    * out-of-order-beyond-retention write a TSDB rejects at ingest) rather
    * than sometimes-counted. A never-tiered table (no store yet) degrades
    * to the plain raw rollup. When the store carries `hll` / `hcnt`
    * dimensions, pass `distinctCol` / `histBoundsCents` and the stitched
    * result keeps them — distinct estimates and histogram quantiles
    * survive tiering through the same associative unions compaction uses.
    */
  def tieredRollup(spark: SparkSession, rawPath: String, storePath: String,
      coarseNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil): DataFrame =
    cascadeRollup(spark, rawPath, Seq(storePath), coarseNanos, valueCol,
      tsCol, distinctCol, lgK, histBoundsCents)

  /** Stitched read across a full tier cascade — raw plus stores fine →
    * coarse ("full resolution for a week, hourly for a year, daily
    * forever"), re-aggregated at `coarseNanos` (which must nest every
    * contributing tier's bucket width). Each tier serves exactly its
    * horizon window, so the base aggregates equal a direct pass over the
    * never-tiered table bit for bit, and sketch dimensions survive via
    * their associative unions. */
  def cascadeRollup(spark: SparkSession, rawPath: String,
      storePaths: Seq[String], coarseNanos: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil): DataFrame = {
    require(storePaths.nonEmpty, "cascadeRollup needs at least one store")
    val tiersRead = readTiers(spark, storePaths, "cascadeRollup",
      mirrorFirst = false)
    val raw = readRawOrEmpty(spark, rawPath, tsCol, valueCol, distinctCol,
      keyFieldsOf(tiersRead))
    stitchTiers(spark, raw, tiersRead, coarseNanos, None, None, valueCol,
      tsCol, distinctCol, lgK, histBoundsCents)
  }

  /** Stitched read over a RAW-LESS cascade — the stream-maintained
    * lifecycle: [[graft.streaming.StreamIngest.rollupIngest]] keeps the
    * finest store a complete mirror (its batch keys are replay ids, so it
    * has NO tier horizon of its own), and [[tierOffStore]] ages its old
    * buckets down the cascade. The mirror serves `[next tier's horizon,
    * ∞)` — exactly the window raw serves in [[cascadeRollup]] — and each
    * tiered store its own horizon window, so every bucket is counted from
    * exactly one tier even inside a tierOffStore's append-to-trim crash
    * window (the coarse horizon already excludes the fine rows the trim
    * has not yet removed). Without this read, the two features it
    * composes — stream-maintained stores and store→store tiering — would
    * each work alone but lose data when combined: a plain rollup of the
    * mirror misses everything tiered off, a horizon-gated stitch skips
    * the horizonless mirror entirely. Tiered stores (all but the first)
    * must carry horizons; a missing/empty tiered store serves nothing.
    * Sketch dimensions ride through the same associative merges as every
    * other stitched read. */
  def storeCascadeRollup(spark: SparkSession, storePaths: Seq[String],
      coarseNanos: Long): DataFrame = {
    require(storePaths.size >= 2,
      "storeCascadeRollup stitches a mirror store with its tiers — for " +
        "a single store use rollup()")
    stitchStores(spark, readTiers(spark, storePaths, "storeCascadeRollup",
      mirrorFirst = true), coarseNanos, None, None)
  }

  /** The raw-less stitching core shared by [[storeCascadeRollup]] and
    * [[routeStoreCascade]]: the first tier is the horizonless mirror
    * (serves `[next horizon, ∞)`), each tiered store its horizon window,
    * all scoped to `[since, until)` when given. Takes the [[readTiers]]
    * result so callers that already listed the stores don't pay the
    * metadata IO twice. */
  private def stitchStores(spark: SparkSession,
      tiers: Seq[Option[TierAtRest]], coarseNanos: Long,
      since: Option[Long], until: Option[Long]): DataFrame = {
    val horizons: Seq[Option[Long]] = tiers.map(_.flatMap(_.horizon))
    // the mirror is the horizonless head serving to ∞ — same window
    // discipline as raw in stitchTiers, one shared implementation
    val windows = tierWindows("storeCascadeRollup", horizons, since, until)
    val parts = tiers.zip(windows).flatMap { case (t, (lo, hi)) =>
      t.map(tier => scopedFrame(tier.df, lo, hi))
    }
    require(parts.nonEmpty, "storeCascadeRollup: no readable store")
    val anySketch = parts.exists(_.columns.contains("hll"))
    val anyHist = parts.exists(_.columns.contains("hcnt"))
    val anyVar = parts.exists(_.columns.contains("sumsq_c"))
    require(!anySketch || parts.forall(_.columns.contains("hll")),
      "storeCascadeRollup: some tiers carry a distinct sketch and some " +
        "do not — every tier must be written with the same dimensions")
    require(!anyHist || parts.forall(_.columns.contains("hcnt")),
      "storeCascadeRollup: some tiers carry histogram counters and some " +
        "do not — every tier must be written with the same dimensions")
    require(!anyVar || parts.forall(_.columns.contains("sumsq_c")),
      "storeCascadeRollup: some tiers carry the variance dimension and " +
        "some do not — every tier must be written with the same dimensions")
    val keys = sharedKeys(tiers.flatten.map(t => (t.path, t.df)),
      "storeCascadeRollup")
    val cols = keys ++ Seq("bucket_ts", "bucket_ns", "n", "min_c", "max_c",
      "sum_c") ++ (if (anyVar) Seq("sumsq_c") else Nil) ++
      (if (anySketch) Seq("hll") else Nil) ++
      (if (anyHist) Seq("hcnt", "hbounds") else Nil)
    mergeFold(parts.map(_.select(cols.map(col): _*)).reduce(_.unionByName(_)),
      coarseNanos, uniformWidth = false)
  }

  /** Self-heal and read a raw table; a fully-tiered-off tree (only
    * _SUCCESS left) serves ZERO rows — reads must degrade to the stores,
    * not die on schema inference. */
  private def readRawOrEmpty(spark: SparkSession, rawPath: String,
      tsCol: String, valueCol: String, distinctCol: Option[String],
      keyFields: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : DataFrame = {
    val rawLive = new org.apache.hadoop.fs.Path(rawPath)
    val fs = rawLive.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicDir.recover(fs, rawLive, "tiered raw table")
    readTreeOrNone(spark, rawPath).getOrElse {
      val fields = Seq(
        org.apache.spark.sql.types.StructField(tsCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(valueCol,
          org.apache.spark.sql.types.DoubleType)) ++
        distinctCol.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType)) ++
        // a keyed cascade whose raw tree is fully tiered off still needs
        // the key columns (typed from the store) in the zero-row frame
        keyFields
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(fields))
    }
  }

  /** The key columns' StructFields off the first present tier — the types
    * the synthesized empty raw frame must carry in a keyed cascade. */
  private def keyFieldsOf(tiers: Seq[Option[TierAtRest]])
      : Seq[org.apache.spark.sql.types.StructField] =
    tiers.flatten.headOption.toSeq.flatMap(t =>
      keyColsOf(t.df).map(k => t.df.schema(k)))

  /** [[route]] generalized over a full tier cascade: serve `[since,
    * until)` under a point budget from a raw table plus fine → coarse
    * stores. The finest resolution that still EXISTS varies along the
    * timeline (sample-level at/after the finest horizon, then each tier's
    * bucket width down the cascade), so the grain clamps to the WIDEST
    * bucket width among the tiers the widened range touches — a complete
    * answer at the finest grain every touched tier can serve, never a
    * silently partial one. Touch detection and grain fitting iterate to a
    * fixpoint (a coarser grain widens the bounds, which can touch a
    * coarser tier; g only grows, so this converges within the tier
    * count). A range raw fully holds still serves raw at the requested
    * fine grain, labeled "raw"; everything else stitches, labeled
    * "stitched".
    *
    * `keyFilter` prunes every tier's scan and the raw re-aggregation
    * before any stitch ([[route]]'s key-pushdown contract); widths and
    * horizons stay computed from the unfiltered frames. */
  def routeCascade(spark: SparkSession, rawPath: String,
      storePaths: Seq[String], since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyFilter: Option[Column] = None): DataFrame = {
    require(until > since, s"routeCascade: empty range [$since, $until)")
    require(maxPoints >= 1, "routeCascade needs a positive point budget")
    require(storePaths.nonEmpty, "routeCascade needs at least one store")
    // every store read ONCE: frames + horizons for stitching, widths for
    // routing (horizonless stores were never tiered into and don't route)
    val tiersRead = readTiers(spark, storePaths, "routeCascade",
      mirrorFirst = false)
    val tiersServe = filterTiers(tiersRead, keyFilter, "routeCascade")
    val raw = keyFilter.foldLeft(
      readRawOrEmpty(spark, rawPath, tsCol, valueCol, distinctCol,
        keyFieldsOf(tiersRead)))(_.filter(_))
    // present tiers fine → coarse, each with (bucket width, horizon)
    val present: Seq[(Long, Long)] = tiersRead.flatten.flatMap(t =>
      t.horizon.map(h => (storeBucketNs(t.df, t.path), h)))
    val (g, touchedAtG) = fitCascadeGrain(present, since, until,
      maxPoints, floorW = 1L)
    val (lo, hi) = widenTo(since, until, g)
    if (touchedAtG.isEmpty) {
      // raw holds the whole widened range — serve it at the fine grain,
      // grouped by the cascade's own keys for schema parity across zooms
      val rows = rollupRows(graft.operators.TsOps.rangeFilter(raw, Some(lo),
          Some(hi), tsCol), g, valueCol, tsCol, distinctCol, lgK,
          histBoundsCents, keyFieldsOf(tiersRead).map(_.name),
          withVariance = tiersRead.flatten
            .exists(_.df.columns.contains("sumsq_c")))
        .drop("bucket_ns")
      (if (distinctCol.nonEmpty)
        rows.withColumn("distinct_est", expr("hll_sketch_estimate(hll)"))
      else rows)
        .withColumn("grain_ns", lit(g)).withColumn("source", lit("raw"))
    } else
      stitchTiers(spark, raw, tiersServe, g, Some(lo), Some(hi), valueCol,
        tsCol, distinctCol, lgK, histBoundsCents)
        .withColumn("grain_ns", lit(g)).withColumn("source", lit("stitched"))
  }

  /** [[routeCascade]] for the RAW-LESS mirror lifecycle: serve `[since,
    * until)` under a point budget from a stream-maintained mirror store
    * plus its coarser tiers. There is no raw table, so the finest
    * servable resolution is the MIRROR's bucket width — a budget
    * demanding finer clamps UP to it — and below each tier horizon the
    * grain further clamps to the widest touched tier, iterated to a
    * fixpoint exactly as [[routeCascade]] does: a complete answer at the
    * finest grain every touched tier can serve, never a silently partial
    * one. Labeled `source="store"` when only the mirror is touched,
    * `"stitched"` otherwise. `keyFilter` prunes every tier's scan before
    * the stitch ([[route]]'s key-pushdown contract). */
  def routeStoreCascade(spark: SparkSession, storePaths: Seq[String],
      since: Long, until: Long, maxPoints: Int,
      keyFilter: Option[Column] = None): DataFrame = {
    require(until > since,
      s"routeStoreCascade: empty range [$since, $until)")
    require(maxPoints >= 1,
      "routeStoreCascade needs a positive point budget")
    require(storePaths.size >= 2,
      "routeStoreCascade routes over a mirror plus tiers — for a " +
        "single store use route()")
    // every store read ONCE: frames + horizons for stitching, widths for
    // routing; the loud horizonless-non-first check fires here too, so
    // wiring-bug detection never depends on which range a dashboard asks
    val tiersRead = readTiers(spark, storePaths, "routeStoreCascade",
      mirrorFirst = true)
    val tiersServe = filterTiers(tiersRead, keyFilter, "routeStoreCascade")
    // present coarser tiers fine → coarse: (bucket width, horizon)
    val present: Seq[(Long, Long)] = tiersRead.tail.flatten.flatMap(t =>
      t.horizon.map(h => (storeBucketNs(t.df, t.path), h)))
    // the fine floor: the mirror's width — or, when the mirror is absent
    // or fully aged out (ingest stopped longer than its keep ago), the
    // finest PRESENT tier's width, so the router serves the complete
    // coarser answer instead of dying on an empty store
    val mirrorOwnW: Option[Long] =
      tiersRead.head.flatMap(t => widthOf(t.df, t.path))
    val mirrorW: Long =
      mirrorOwnW.orElse(present.headOption.map(_._1)).getOrElse(
        throw new IllegalArgumentException(
          "routeStoreCascade: no readable tier to serve from"))
    val (g, touchedAtG) = fitCascadeGrain(present, since, until,
      maxPoints, floorW = mirrorW)
    val (lo, hi) = widenTo(since, until, g)
    if (touchedAtG.isEmpty && mirrorOwnW.nonEmpty)
      stitchStores(spark, tiersServe.take(1), g, Some(lo), Some(hi))
        .withColumn("grain_ns", lit(g)).withColumn("source", lit("store"))
    else // an empty mirror over an above-horizon range stitches to the
      // honest zero-row frame rather than erroring on "no readable store"
      stitchStores(spark, tiersServe, g, Some(lo), Some(hi))
        .withColumn("grain_ns", lit(g)).withColumn("source", lit("stitched"))
  }

  /** The router's shared grain discipline: clamp a budget-derived grain
    * to the widest tier the widened range touches, iterated to a
    * fixpoint (a coarser grain widens the bounds, which can touch a
    * coarser tier; g only grows, so this converges within the tier
    * count). `present` is the tier list fine → coarse as (bucket width,
    * horizon); `floorW` the finest servable width — 1 for raw-backed
    * routes, the mirror's bucket width for raw-less ones. Returns the
    * fixpoint grain and the tiers its widened range touches (empty ⇔
    * the finest source alone holds the whole widened range). */
  private[storage] def fitCascadeGrain(present: Seq[(Long, Long)],
      since: Long, until: Long, maxPoints: Int, floorW: Long)
      : (Long, Seq[(Long, Long)]) = {
    val target = math.max(1L, (until - since + maxPoints - 1) / maxPoints)
    def touched(g: Long): Seq[(Long, Long)] = {
      val (lo, hi) = widenTo(since, until, g)
      present.zipWithIndex.collect {
        case ((w, h), i) if lo < h &&
            hi > present.drop(i + 1).headOption.map(_._2)
              .getOrElse(Long.MinValue) => (w, h)
      }
    }
    val toFloor = (x: Long) => ((x + floorW - 1) / floorW) * floorW
    var g = fitGrain(since, until, maxPoints,
      toFloor(math.max(target, floorW)), toFloor)
    var stable = false
    while (!stable) {
      val widths = touched(g).map(_._1)
      if (widths.isEmpty) stable = true // finest source alone suffices
      else {
        val gMin = math.max(floorW, widths.max)
        val toMult = (x: Long) => ((x + gMin - 1) / gMin) * gMin
        val g2 = fitGrain(since, until, maxPoints,
          toMult(math.max(g, gMin)), toMult)
        if (g2 == g) stable = true else g = g2
      }
    }
    (g, touched(g))
  }

  /** Fold accumulated per-batch partials back to one row per bucket — the
    * IO compaction that caps file-listing cost as streamed batches pile up,
    * doubling as the durable replay repair (duplicate (bucket_ts,
    * bucket_ns, batch_key) rows collapse before the fold). The tier
    * horizon, if any, is re-stamped into the folded rows' batch key
    * (`compact-<uuid>-h<cutoff>`) so stitched reads survive compaction.
    * Shared `.compact-*` two-rename protocol; run with the ingest stream
    * stopped or quiesced — a batch replayed AFTER its partial was folded
    * is no longer detectable.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    graft.pipeline.Similarity.recoverCompact(fs, live)
    AtomicDir.compactPublish(spark, path, "compact rollup") { tmp =>
      val live0 = checkedRead(spark, path)
      storeBucketNs(live0, path) // mixed grains fail loudly, never fold
      val horizon = tierHorizon(live0)
      val key = horizon.fold(
        s"compact-${java.util.UUID.randomUUID().toString.take(8)}")(h =>
        s"compact-${java.util.UUID.randomUUID().toString.take(8)}-h$h")
      val hasHist = live0.columns.contains("hcnt")
      val cAggs = Seq(sum("n").as("n"), min("min_c").as("min_c"),
        max("max_c").as("max_c"),
        sum("sum_c").cast("decimal(28,2)").as("sum_c")) ++
        (if (live0.columns.contains("sumsq_c"))
          Seq(sum("sumsq_c").cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
        (if (live0.columns.contains("hll"))
          Seq(expr("hll_union_agg(hll, true)").as("hll")) else Nil) ++
        (if (hasHist)
          Seq(udaf(new graft.pipeline.Text.CmsMergeAgg)
            .apply(col("hcnt")).as("hcnt"),
            min("hbounds").as("__hbmin"), max("hbounds").as("__hbmax"))
        else Nil)
      val keys = keyColsOf(live0)
      val folded0 = live0
        .dropDuplicates(keys ++ Seq("bucket_ts", "bucket_ns", "batch_key"))
        .groupBy((keys ++ Seq("bucket_ts", "bucket_ns")).map(col): _*)
        .agg(cAggs.head, cAggs.tail: _*)
      val folded =
        if (!hasHist) folded0
        else folded0 // the schedule must survive the fold — and mixed
          // schedules fail here, not silently mislabel
          .withColumn("hbounds", when(assert_true(
            col("__hbmin") === col("__hbmax"),
            lit("rollup store: partials carry DIFFERENT histogram bound " +
              "schedules — every append must use the store's " +
              "histBoundsCents")).isNull, col("__hbmin")))
          .drop("__hbmin", "__hbmax")
      folded
        .withColumn("batch_key", lit(key))
        .withColumn(WritableStore.PartitionCol, dayCol)
        .repartition(col(WritableStore.PartitionCol)) // one file per day
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Read the store with schema merge and, when any file carries the
    * distinct sketch, an in-plan guard that EVERY row does: a writer that
    * appended hll-less partials into a sketch-bearing store (or vice
    * versa) must fail loudly at the next read — a silent null would make
    * every later distinct estimate undercount the streamed buckets.
    */
  private def checkedRead(spark: SparkSession, path: String): DataFrame =
    guardMixedDims(MetaMemo.read(spark, path, mergeSchema = true))

  private def guardMixedDims(df: DataFrame): DataFrame =
    Seq("hll" -> "distinctCol", "hcnt" -> "histBoundsCents",
        "sumsq_c" -> "withVariance")
      .foldLeft(df) { case (acc, (c, param)) =>
        if (acc.columns.contains(c))
          acc.withColumn(c, when(assert_true(col(c).isNotNull,
            lit(s"rollup store: mixed $c-bearing and $c-less partials — " +
              s"every append must pass the store's $param")).isNull,
            col(c)))
        else acc
      }

  /** Read a parquet tree, or None when it is absent or its schema cannot
    * be inferred (a created-but-empty or fully-trimmed tree) — the ONE
    * place the AnalysisException sniffing lives, so a Spark upgrade that
    * rewords the error is a one-line fix, not a silent no-op in three. */
  private def readTreeOrNone(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): Option[DataFrame] =
    try Some(MetaMemo.read(spark, path, mergeSchema))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.toLowerCase.contains("schema") ||
            e.getMessage.toLowerCase.contains("path does not exist") => None
    }

  /** [[checkedRead]], or None for a tree whose schema cannot be inferred
    * (a created-but-empty or fully-trimmed store). */
  private def readableStore(spark: SparkSession, path: String)
      : Option[DataFrame] =
    readTreeOrNone(spark, path, mergeSchema = true).map(guardMixedDims)
}
