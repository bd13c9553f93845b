package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, StructField}

import graft.storage.Tables

/** Benchmark harness entry: drives graft's public functions from outside.
  *
  * `graftbench.Main --workload <w> --inputs <dir> --work <dir> --out <file>
  *   --seconds <n> --trace <0|1>`
  *
  * Inputs come from the seeded generator (`perfbench/gen.py`); the raw
  * samples go to `--out` as JSON and `perfbench/run.py` turns them into
  * metrics. With `--trace 1` a SparkListener and the span recorder are on.
  */
object Main {
  final case class Args(workload: String, inputs: String, work: String,
      out: String, seconds: Int, trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--inputs"), need("--work"), need("--out"),
      need("--seconds").toInt, need("--trace") == "1")
  }

  /** One session config for every workload, so a conf change shows on all
    * three. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    val tracer = new Tracer(a.trace)
    val t0 = System.nanoTime()
    val spark = session()
    rec.addSetup("session_s", (System.nanoTime() - t0) / 1e9)
    val counters = if (a.trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      c
    } else null
    val ctx = Ctx(spark, a, rec, tracer, counters)
    try a.workload match {
      case "serve_mixed" => Serve.run(ctx)
      case "ingest_read" => Ingest.run(ctx)
      case "batch_heavy" => Batch.run(ctx, Batch.HeavyRows)
      case "batch_minhash" => Batch.run(ctx, Batch.MinhashRows)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      if (counters != null) org.apache.spark.BenchAccess.drain(spark.sparkContext)
      rec.write(a.out, tracer, counters)
      spark.stop()
    }
  }
}

final case class Ctx(spark: SparkSession, args: Main.Args, rec: Recorder,
    tracer: Tracer, counters: SparkCounters) {
  def trace: Boolean = args.trace
  def dir(name: String): File = {
    val d = new File(args.work, name)
    Fs.rm(d)
    d.getParentFile.mkdirs()
    d
  }
  def input(name: String): File = new File(args.inputs, name)

  /** Times one set-up step into the named setup series. */
  def setupStep[T](name: String)(body: => T): T = {
    val s = System.nanoTime()
    val r = body
    rec.addSetup(name, (System.nanoTime() - s) / 1e9)
    r
  }

  /** Records wall and process CPU time (`<name>_ns`, `<name>_cpu_ns`) at
    * a window edge; CPU time is not charged while the host runs other
    * guests, so the CPU per op it yields survives a noisy host. */
  def mark(name: String): Long = {
    val now = System.nanoTime()
    rec.put(s"${name}_ns", now)
    rec.put(s"${name}_cpu_ns", java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime)
    now
  }

  /** Sets the job group the traced run's listener keys on. */
  def group(id: String): Unit =
    if (trace) spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  /** Parquet data files under a table directory (hidden and marker files
    * excluded). */
  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)
    else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_")) 1 else 0
}

/** A generated metrics table: sorted epoch-nano `ts` plus three value
  * fields held as integer cents. Answers are checked against it with a
  * row count and an order-independent checksum. */
final class Rows(val ts: Array[Long], val cents: Array[Array[Long]]) {
  val n: Int = ts.length
  private val prefix: Array[Long] = {
    val p = new Array[Long](n + 1)
    var i = 0
    while (i < n) { p(i + 1) = p(i) + Rows.rowSum(ts(i), cents(i)); i += 1 }
    p
  }

  def lowerBound(x: Long): Int = {
    var lo = 0; var hi = n
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /** (rows, checksum) of the half-open index range [lo, hi). */
  def slice(lo: Int, hi: Int): (Long, Long) =
    ((hi - lo).toLong, prefix(hi) - prefix(lo))

  def range(since: Long, until: Long): (Long, Long) =
    slice(lowerBound(since), lowerBound(until))

  /** Σ value cents over [since, until) — what a rollup's `sum_c` adds to. */
  def valueCents(since: Long, until: Long): Long = {
    var s = 0L; var i = lowerBound(since); val hi = lowerBound(until)
    while (i < hi) { s += cents(i)(0); i += 1 }
    s
  }

  def dataPoints(lo: Int, hi: Int): Seq[graft.storage.DataPoint] =
    (lo until hi).map { i =>
      graft.storage.DataPoint(ts(i), cents(i).toSeq.map(c => c / 100.0))
    }
}

object Rows {
  val Fields: Seq[StructField] = Seq("value", "v1", "v2")
    .map(StructField(_, DoubleType, nullable = true))

  def rowSum(ts: Long, c: Array[Long]): Long =
    ts * 31L + c(0) * 7L + c(1) * 11L + c(2) * 13L

  def load(f: File): Rows = {
    val ts = Array.newBuilder[Long]
    val cs = Array.newBuilder[Array[Long]]
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().foreach { line =>
      val p = line.split(',')
      ts += p(0).toLong
      cs += Array(p(1).toLong, p(2).toLong, p(3).toLong)
    } finally src.close()
    new Rows(ts.result(), cs.result())
  }

  def cents(d: Double): Long = math.round(d * 100.0)

  /** Columns of a column-oriented JSON table (`Output.columnJson`). */
  def jsonColumns(c: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, IndexedSeq[Any]] = {
    import scala.jdk.CollectionConverters._
    c.fieldNames().asScala.map { name =>
      name -> c.get(name).elements().asScala.map { v =>
        if (v.isTextual) v.asText()
        else if (v.isIntegralNumber) v.asLong()
        else if (v.isNumber) v.decimalValue().doubleValue()
        else if (v.isNull) null
        else v.toString
      }.toIndexedSeq
    }.toMap
  }

  def parseTs(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: String =>
      val t = java.time.OffsetDateTime.parse(s).toInstant
      t.getEpochSecond * 1000000000L + t.getNano
    case other => throw new AssertionError(s"unexpected ts value $other")
  }

  /** (rows, checksum) of a returned table given as named columns. */
  def summarize(cols: Map[String, IndexedSeq[Any]]): (Long, Long) = {
    val ts = cols.getOrElse("ts", throw new AssertionError("no ts column"))
    val vs = Seq("value", "v1", "v2").map(c =>
      cols.getOrElse(c, throw new AssertionError(s"no $c column")))
    var sum = 0L
    ts.indices.foreach { i =>
      sum += rowSum(parseTs(ts(i)), vs.map(v => v(i) match {
        case d: Double => cents(d)
        case n: java.lang.Number => cents(n.doubleValue())
        case o => throw new AssertionError(s"unexpected value $o")
      }).toArray)
    }
    (ts.length.toLong, sum)
  }

  def expectEq(what: String, got: (Long, Long), want: (Long, Long)): Unit =
    if (got != want) throw new AssertionError(
      s"$what: got rows/checksum $got, expected $want")
}
