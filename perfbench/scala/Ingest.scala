package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import graft.ql.Engine
import graft.storage.{Tables, WritableStore}

/** ingest_read: one writer pushing journaled 100-row batches into a
  * day-partitioned `WritableStore` (synchronous persist every
  * [[PersistEvery]] pushes, no timer), beside one reader issuing uncached
  * dialect range queries through `Engine.execute` over persisted ranges. */
object Ingest {
  val HourNs: Long = 3600L * 1000000000L
  val MarkNs: Long = 10L * 1000000000L
  val BatchRows = 100
  val PersistEvery = 20
  val WarmPushes = 100
  val WarmReads = 20
  val Metrics = "ingest"

  final case class Read(hours: Int, frac: Double)

  def lit(ns: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (base, rest, reads) = ctx.setupStep("load_s") {
      val rs = {
        val src = scala.io.Source.fromFile(ctx.input("reads.jsonl"), "UTF-8")
        try src.getLines().map { l =>
          val j = Serve.mapper.readTree(l)
          Read(j.get("hours").asInt(), j.get("frac").asDouble())
        }.toIndexedSeq finally src.close()
      }
      (Rows.load(ctx.input("base.csv")), Rows.load(ctx.input("batches.csv")), rs)
    }
    val baseN = base.n
    // the rows pushed so far and those still to push; the reader takes the
    // current value, whose rows below the watermark never change
    @volatile var all = new Rows(base.ts ++ rest.ts, base.cents ++ rest.cents)
    var batches = rest.n / BatchRows
    var cycles = 0
    // a writer faster than the generated stream never runs dry: the
    // generated batches repeat, shifted past the end of the previous copy
    // by whole 10 s marks, so every copy continues the same row grid
    def extend(): Unit = {
      cycles += 1
      val shift = cycles.toLong * rest.n * MarkNs
      all = new Rows(all.ts ++ rest.ts.map(_ + shift), all.cents ++ rest.cents)
      batches += rest.n / BatchRows
    }
    def batch(b: Int): (Int, Int) =
      (baseN + b * BatchRows, baseN + (b + 1) * BatchRows)

    val db = ctx.dir("ingest/db")
    def open(): WritableStore = new WritableStore(spark, db.getPath, Metrics,
      Rows.Fields, partitionByDay = true, journaled = true)
    val store = ctx.setupStep("store_build_s") {
      val st = open()
      st.pushMulti(all.dataPoints(0, baseN))
      require(st.persist() == baseN, "base day persisted short")
      st
    }
    val engine = new Engine(spark, db.getPath)
    val journal = new File(new File(db, WritableStore.JournalDirName), Metrics)
    val table = new File(db, Metrics)
    // every row below the watermark is persisted
    val watermark = new AtomicLong(all.ts(baseN - 1) + 1)
    var acked = baseN // rows acknowledged by push, in ts order

    def readOnce(phase: String, r: Read, id: String): Unit = {
      val span = r.hours * HourNs
      val start = all.ts(0) - Math.floorMod(all.ts(0), MarkNs)
      val room = math.max(0L, watermark.get() - start - span)
      val since = start + (r.frac * (room / MarkNs)).toLong * MarkNs
      val q = "with use_cache = false, format = json, format_datetime = false " +
        s"select * from $Metrics where ts in ('${lit(since)}', +${r.hours} hours);"
      val tr = ctx.tracer
      var files = -1L
      ctx.rec.timed(phase, "read", s"range_${r.hours}h",
        Map("req" -> id, "files" -> files))(
        if (!ctx.trace) engine.execute(q)
        else tr.span("request", id, "read") {
          val iq = tr.span("ql.interpret", id, "read")(engine.interpret(q))
          ctx.group(s"$id/frame")
          val df = tr.span("ql.frame", id, "read")(engine.frame(iq))
          tr.span("spark.plan", id, "read")(df.queryExecution.executedPlan)
          ctx.group(s"$id/render")
          val out = tr.span("ql.render", id, "read") {
            graft.ql.Output.columnJson(df, java.time.ZoneOffset.UTC, false)
          }
          files = Serve.PlanFiles.files(df)
          out
        }) { out =>
        val got = Rows.summarize(Rows.jsonColumns(Serve.mapper.readTree(out)))
        Rows.expectEq(s"read $q", got, all.range(since, since + span))
        got._1
      }
    }

    var persists = 0
    var journalRewrites = 0
    var journalFilesMax = 0
    val journalBytesPerRow = scala.collection.mutable.ArrayBuffer.empty[Double]
    def journalFiles: Int = Fs.dataFiles(journal)

    def pushOnce(phase: String, b: Int): Unit = {
      val (lo, hi) = batch(b)
      val dps = all.dataPoints(lo, hi)
      val before = if (ctx.trace) journalFiles else 0
      val o = ctx.rec.timed(phase, "push", "push")(store.pushMulti(dps))(_ =>
        BatchRows.toLong)
      if (o.ok) acked = hi
      if (ctx.trace) {
        val after = journalFiles
        if (after < before + 1) journalRewrites += 1
        journalFilesMax = math.max(journalFilesMax, after)
      }
      if ((b + 1) % PersistEvery == 0) {
        if (ctx.trace) journalBytesPerRow +=
          Fs.bytes(journal).toDouble / math.max(1, store.bufferedCount)
        ctx.group(s"persist-$persists")
        val buffered = store.bufferedCount
        val p = ctx.rec.timed(phase, "persist", "persist")(store.persist()) {
          n => if (n != buffered) throw new AssertionError(
            s"persist wrote $n of $buffered buffered rows"); n
        }
        ctx.group(null)
        persists += 1
        if (ctx.trace) journalRewrites += 1
        if (p.ok) watermark.set(all.ts(hi - 1) + 1)
      }
    }

    var nextBatch = 0
    // untimed warm pass: pushes with their persists, and a read after every
    // few, until the JIT has compiled both paths
    ctx.setupStep("warm_s") {
      (0 until WarmPushes).foreach { i =>
        pushOnce("warm", nextBatch); nextBatch += 1
        if (i % (WarmPushes / WarmReads) == 0)
          readOnce("warm", reads(i % reads.length), s"warm-$i")
      }
    }

    val deadline = ctx.mark("timed.start") + ctx.args.seconds * 1000000000L
    val reader = new Thread(() => {
      var k = 0
      while (System.nanoTime() < deadline) {
        readOnce("timed", reads((WarmPushes + k) % reads.length), s"timed-$k")
        k += 1
      }
    }, "bench-reader")
    reader.start()
    while (System.nanoTime() < deadline) {
      if (nextBatch >= batches) extend()
      pushOnce("timed", nextBatch); nextBatch += 1
    }
    ctx.rec.put("writer.end_ns", System.nanoTime())
    reader.join()
    ctx.mark("timed.end")
    ctx.rec.put("stream_cycles", cycles)
    ctx.rec.put("data_files", Fs.dataFiles(table))
    ctx.rec.put("journal_files_max", journalFilesMax)
    ctx.rec.put("journal_rewrites", journalRewrites)
    ctx.rec.put("journal_bytes_per_row", journalBytesPerRow.toSeq)
    ctx.rec.put("fields", Rows.Fields.length)

    // recovery: abandon the live store with rows still buffered, reopen
    // on the same directory (journal replay), then persist and compact
    val unpersisted = store.bufferedCount
    ctx.rec.put("unpersisted_rows", unpersisted)
    var reopened: WritableStore = null
    ctx.rec.timed("recover", "reopen", "reopen")(open()) { s =>
      reopened = s
      ctx.rec.put("replayed_rows", s.bufferedCount)
      if (s.bufferedCount != unpersisted) throw new AssertionError(
        s"replayed ${s.bufferedCount} rows, $unpersisted were unpersisted")
      s.bufferedCount.toLong
    }
    if (reopened != null) {
      ctx.rec.timed("recover", "persist", "final_persist")(reopened.persist())(
        n => n)
      ctx.rec.put("rows_stored", acked)
      ctx.rec.put("bytes_after_persist", Fs.bytes(table) + Fs.bytes(journal))
      ctx.rec.timed("recover", "verify", "recovery_check")(
        Tables.read(spark, db.getPath, Metrics).collect()) { rs =>
        val cols = Seq("ts", "value", "v1", "v2").zipWithIndex.map {
          case (c, i) => c -> rs.map(r => r.get(i): Any).toIndexedSeq }.toMap
        Rows.expectEq("every acknowledged push after reopen",
          Rows.summarize(cols), all.slice(0, acked))
        rs.length.toLong
      }
      ctx.group("compact")
      ctx.rec.timed("recover", "compact", "compact")(reopened.compact()) { n =>
        if (n != acked) throw new AssertionError(s"compact saw $n of $acked rows")
        n
      }
      ctx.group(null)
      ctx.rec.put("bytes_after_compact", Fs.bytes(table) + Fs.bytes(journal))
    }
  }
}
