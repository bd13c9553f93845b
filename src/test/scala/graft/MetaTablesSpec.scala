package graft

import graft.storage.{DataPoint, Tables, WritableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `.metrics`, `.describe` and `.block_list` against an independent
  * derivation — per-file data reads and `java.io` mtimes, framed the way
  * the meta-tables were always framed (`toDF` over tuples) — on the three
  * table layouts: a day-partitioned tree, a single `<name>.parquet` file,
  * and a tree holding an empty file. Names, types, nullability, values and
  * order must all match. */
class MetaTablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Min = 60L * 1000000000L

  private lazy val db: String = {
    val dir = SparkTestBase.tempDir("graft-meta-db")
    val s = new WritableStore(spark, dir, "day",
      Seq(StructField("v", DoubleType)), partitionByDay = true)
    Seq((0, 2000), (2000, 1500)).foreach { case (from, n) =>
      s.pushMulti((from until from + n).map(i =>
        DataPoint(i * Min, Seq(i.toDouble))))
      s.persist()
    }
    val tmp = SparkTestBase.tempDir("graft-meta-single")
    (0L until 40L).map(i => (i * Min + 5L, i.toDouble)).toDF("ts", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "single.parquet").toPath)
    val holey = new java.io.File(dir, "holey").getPath
    val schema = StructType(Seq(StructField("ts", LongType, nullable = false),
      StructField("v", DoubleType)))
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      schema).write.parquet(holey)
    Seq((7L * Min, 1.0), (9L * Min, 2.0)).toDF("ts", "v")
      .write.mode("append").parquet(holey)
    dir
  }

  private def tablePath(m: String): java.io.File = {
    val d = new java.io.File(db, m)
    if (d.isDirectory) d else new java.io.File(db, s"$m.parquet")
  }

  private def blocks(m: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(tablePath(m)).filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
  }

  /** (rows, ts min, ts max) of one file, from its data. */
  private def stats(f: java.io.File): (Long, Option[Long], Option[Long]) = {
    val r = spark.read.parquet(f.getPath)
      .agg(count(lit(1)), min("ts"), max("ts")).head()
    (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
      Option(r.get(2)).map(_.asInstanceOf[Long]))
  }

  private val names = Seq("day", "holey", "single")

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test(".metrics lists every layout") {
    assertSame(Tables.metricsDf(spark, db), names.toDF("metrics"))
  }

  test(".describe matches a per-file derivation on every layout") {
    // the fixture holds every layout: an empty file, a single-file table
    // and a multi-file partitioned tree
    assert(blocks("holey").map(stats).exists(_._1 == 0))
    assert(!new java.io.File(db, "single").exists && blocks("single").size == 1)
    assert(blocks("day").size >= 4)
    val want = names.map { m =>
      val fs = blocks(m)
      val st = fs.map(stats)
      (m, fs.map(_.lastModified).maxOption.getOrElse(0L) * 1000000L,
        fs.length.toLong, st.map(_._1).sum, st.flatMap(_._2).minOption,
        st.flatMap(_._3).maxOption)
    }.toDF("metrics", "updated_at", "block_num", "row_num", "from_ts",
      "end_ts").orderBy("metrics")
    assertSame(Tables.describeDf(spark, db, None), want)
    assertSame(Tables.describeDf(spark, db, Some("holey")),
      want.filter(col("metrics") === "holey"))
  }

  test(".block_list matches a per-file derivation on every layout") {
    val want = names.flatMap { m =>
      blocks(m).map(f => (f, stats(f))).collect {
        case (f, (n, Some(lo), Some(hi))) if n > 0 => (f, n, lo, hi)
      }.sortBy { case (f, _, lo, _) =>
        (lo, new org.apache.hadoop.fs.Path(f.toURI).toString)
      }.zipWithIndex.map { case ((f, n, lo, hi), i) =>
        (m, f.lastModified * 1000000L, i + 1, n, lo, hi)
      }
    }.toDF("metrics", "updated_at", "seq", "row_num", "block_start",
      "block_end").orderBy("metrics", "seq")
    assertSame(Tables.blockListDf(spark, db, None), want)
    assertSame(Tables.blockListDf(spark, db, Some("day")),
      want.filter(col("metrics") === "day"))
  }
}
