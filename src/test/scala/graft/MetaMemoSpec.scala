package graft

import graft.storage.{DataPoint, MetaMemo, RollupStore, Tables, WritableStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The read-metadata memo: a schema or store probe is reused only while
  * the directory's files are unchanged, never across sessions, and never
  * at the cost of a stale row or a shared attribute. */
class MetaMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Sec = 1000000000L
  private val H = 3600L * Sec
  private val Day = 86400L * Sec

  private def store(dir: String) = new WritableStore(spark, dir, "m",
    Seq(StructField("v", DoubleType)), partitionByDay = true)

  private def push(s: WritableStore, from: Long, n: Int): Unit =
    s.pushMulti((0 until n).map(i =>
      DataPoint((from + i) * 60L * Sec, Seq(i.toDouble))))

  /** (hits, misses) the memo counted while `f` ran. */
  private def counted[T](f: => T): (T, Long, Long) = {
    val (h0, m0) = (MetaMemo.hits.get, MetaMemo.misses.get)
    val r = f
    (r, MetaMemo.hits.get - h0, MetaMemo.misses.get - m0)
  }

  test("an unchanged table is inferred once; an appended or compacted one " +
      "is inferred again and reads every row") {
    val db = SparkTestBase.tempDir("graft-memo-db")
    val s = store(db)
    push(s, 0, 3000) // spans three days
    s.persist()
    val (n1, _, miss1) = counted(Tables.read(spark, db, "m").count())
    assert(n1 == 3000 && miss1 == 1)
    val (n2, hit2, miss2) = counted(Tables.read(spark, db, "m").count())
    assert(n2 == 3000 && hit2 == 1 && miss2 == 0)
    push(s, 3000, 500)
    s.persist()
    val (n3, _, miss3) = counted(Tables.readRange(spark, db, "m",
      None, Some(10L * Day)).count())
    assert(n3 == 3500 && miss3 == 1)
    s.compact()
    val (n4, hit4, miss4) = counted(Tables.read(spark, db, "m").count())
    assert(n4 == 3500 && hit4 == 0 && miss4 == 1)
  }

  test("two sessions never share an entry") {
    val db = SparkTestBase.tempDir("graft-memo-sess")
    val s = store(db)
    push(s, 0, 100)
    s.persist()
    Tables.read(spark, db, "m").count()
    val other = spark.newSession()
    val (n, hit, miss) = counted(Tables.read(other, db, "m").count())
    assert(n == 100 && hit == 0 && miss == 1)
  }

  test("a schema conf change is a miss") {
    val db = SparkTestBase.tempDir("graft-memo-conf")
    val s = store(db)
    push(s, 0, 10)
    s.persist()
    val other = spark.newSession()
    Tables.read(other, db, "m").count()
    other.conf.set("spark.sql.caseSensitive", "true")
    val (_, hit, miss) = counted(Tables.read(other, db, "m").count())
    assert(hit == 0 && miss == 1)
  }

  test("a self-join of two reads of one table keeps both sides " +
      "independent") {
    val db = SparkTestBase.tempDir("graft-memo-join")
    val s = store(db)
    push(s, 0, 50)
    s.persist()
    val a = Tables.read(spark, db, "m")
    val (b, hit, _) = counted(Tables.read(spark, db, "m"))
    assert(hit == 1)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // next-minute pairs: 49 of them, impossible if both sides were one
    val pairs = a.join(b, b("ts") === a("ts") + lit(60L * Sec)).count()
    assert(pairs == 49)
  }

  test("the route probe reruns after tierOff and compact, and the " +
      "horizon it serves is the new one") {
    val base = SparkTestBase.tempDir("graft-memo-route")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    val rows = (0L until 3 * 24).map(h => (h * H + 7L, (h % 10).toDouble))
    rows.toDF("ts", "value").write.parquet(rawP)
    def served(): (Long, Long, Long) = {
      val (r, hit, miss) = counted(RollupStore.route(spark, stP,
        spark.read.parquet(rawP), 0L, 3 * Day, maxPoints = 3)
        .agg(sum("n")).head())
      (r.getLong(0), hit, miss)
    }
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    assert(served()._1 == rows.size)
    // unchanged store: both the schema read and the probe hit
    assert(served() == ((rows.size, 2, 0)))
    RollupStore.tierOff(spark, rawP, stP, cutoff = 2 * Day, bucketNanos = H)
    // a stale Day horizon would drop the second day: raw no longer has it
    assert(served() == ((rows.size, 0, 2)))
    RollupStore.compact(spark, stP)
    assert(served() == ((rows.size, 0, 2)))
  }

  test("a reader racing a persisting writer never sees a stale or " +
      "partial table below the persisted watermark") {
    val db = SparkTestBase.tempDir("graft-memo-race")
    val s = store(db)
    push(s, 0, 200)
    s.persist()
    @volatile var persisted = 200L // rows at minutes [0, persisted)
    @volatile var failed: Option[Throwable] = None
    val writer = new Thread(() =>
      try (1 to 12).foreach { k =>
        push(s, 200L * k, 200)
        s.persist()
        persisted = 200L * (k + 1)
      } catch { case e: Throwable => failed = Some(e) })
    writer.start()
    var reads = 0
    try while (writer.isAlive || reads < 3) {
      val w = persisted
      val got = Tables.readRange(spark, db, "m", None, Some(w * 60L * Sec))
        .agg(count(lit(1)), countDistinct("ts")).head()
      assert(got.getLong(0) == w && got.getLong(1) == w, s"watermark $w")
      reads += 1
    } finally writer.join()
    assert(failed.isEmpty && reads >= 3, failed)
  }

  test("configure keeps a conf the session set; the env override wins " +
      "for the AQE partition floor") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val s1 = spark.newSession()
    Tables.configure(s1, Map.empty)
    assert(s1.conf.get(key) == "64k") // unset: graft's default
    val s2 = spark.newSession()
    s2.conf.set(key, "2m")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    Tables.configure(s2, Map.empty)
    assert(s2.conf.get(key) == "2m")
    assert(s2.conf.get("spark.sql.parquet.aggregatePushdown") == "false")
    Tables.configure(s2, Map("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE" -> "128k"))
    assert(s2.conf.get(key) == "128k")
  }
}
