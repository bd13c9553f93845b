package graft.storage

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Store metadata the serving read path pays for once per directory state,
  * not once per request — the analog of the reference's block-list LRU
  * (`storage/block_list/mod.rs:417-520`).
  *
  * Two facts are memoized per (session, path): the schema a directory read
  * infers, and a rollup store's metadata probe. An entry is valid while the
  * directory's [[fingerprint]] — every file's (path, length, mtime) — is
  * unchanged; any write, append, compaction or tier-off changes it. Only
  * the schema is kept, never a DataFrame: every [[read]] returns a fresh
  * frame (fresh attribute ids) and Spark still lists the files itself, so
  * rows are never stale. Bounded LRU per session, like [[CacheRegistry]].
  */
private[graft] object MetaMemo {
  /** Sorted (path, length, mtime ms) of every file under a directory. */
  type Fingerprint = Seq[(String, Long, Long)]
  private val MaxEntries = 64
  private final class Lru extends java.util.LinkedHashMap[(String, String),
      (Fingerprint, Any)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, String),
        (Fingerprint, Any)]): Boolean = size > MaxEntries
  }
  // weak keys: a session's entries go when the session does
  private val bySession = new java.util.WeakHashMap[SparkSession, Lru]
  /** Lookups answered from the memo / recomputed, since the JVM started. */
  val hits, misses = new AtomicLong

  /** Every file under `root` (or `root` itself when it is a file), walked
    * with `listStatus` only. `FileSystem.listFiles`, `listLocatedStatus`
    * and `FileStatus.getPermission` are off limits here: on local
    * filesystems `RawLocalFileSystem` loads a file's permissions by forking
    * a shell `ls`, and every `LocatedFileStatus` copies them, so a
    * recursive `listFiles` forks once per file (~250 ms for 30 files
    * against ~4 ms for this walk). A directory that vanishes mid-walk
    * throws `FileNotFoundException`, as `listFiles` did. */
  def walk(fs: FileSystem, root: HPath): Seq[FileStatus] = {
    def go(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(go)
      else Seq(st)
    go(fs.getFileStatus(root))
  }

  /** Footer reader for one pass over many files, sharing ONE
    * `HadoopReadOptions` built from `conf`. The one-argument
    * `ParquetFileReader.open(file)` is off limits: it builds a fresh Hadoop
    * `Configuration` per file, which re-parses the XML config resources
    * (~10 ms a file against ~0.1 ms for the footer decode itself). */
  def footers(conf: Configuration): FileStatus => ParquetMetadata = {
    val opts = HadoopReadOptions.builder(conf).build()
    st => {
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)
      try reader.getFooter finally reader.close()
    }
  }

  /** The [[Fingerprint]] of `path` — a superset of the files Spark's own
    * listing reads; None when the path is absent or vanishes mid-walk. */
  def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val p = new HPath(path)
    try Some(walk(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** `spark.read.parquet(path)` (with `mergeSchema` when asked), inferring
    * the schema only when this session has not inferred it for the same
    * files under the same schema-affecting confs. */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean)
      : DataFrame = {
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    var inferred: Option[DataFrame] = None
    val schema = memo(spark, path, s"schema merge=$mergeSchema " +
        schemaConfs(spark)) {
      inferred = Some(reader.parquet(path)); inferred.get.schema
    }
    inferred.getOrElse(reader.schema(schema).parquet(path))
  }

  /** `compute` (a metadata job over the store at `path`), rerun only when
    * the store's files changed since this session last ran it. */
  def probe[T](spark: SparkSession, path: String)(compute: => T): T =
    memo(spark, path, "probe")(compute)

  private def schemaConfs(spark: SparkSession): String =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || Set(
        "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.caseSensitive",
        "spark.sql.session.timeZone",
        "spark.sql.sources.partitionColumnTypeInference.enabled")(k)
    }.toSeq.sorted.mkString(",")

  private def memo[T](spark: SparkSession, path: String, what: String)(
      compute: => T): T = fingerprint(spark, path) match {
    case None => compute
    case Some(fp) =>
      val key = (path, what)
      def lru = bySession.computeIfAbsent(spark, _ => new Lru)
      bySession.synchronized(Option(lru.get(key))) match {
        case Some((`fp`, v)) => hits.incrementAndGet(); v.asInstanceOf[T]
        case _ =>
          misses.incrementAndGet()
          val v = compute
          bySession.synchronized(lru.put(key, (fp, v)))
          v
      }
  }
}
