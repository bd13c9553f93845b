package graftbench

import java.io.{BufferedInputStream, File}
import java.net.Socket
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.ql.{Engine, Interpreter, Output}
import graft.server.{ArrowFraming, QueryServer}
import graft.storage.{CacheRegistry, RollupStore, Tables, WritableStore}

/** serve_mixed: a closed loop of TCP clients against an in-process
  * `QueryServer` over one persisted metrics table and its 1-hour rollup. */
object Serve {
  val HourNs: Long = 3600L * 1000000000L
  val Clients = 3
  /** Requests per block of the generated sequence: every kind appears. */
  val Block = 10
  /** Whole blocks the traced run covers at least: three readings of each
    * kind, so every per-kind figure is a median. */
  val TracedBlocks = 3
  private val Untraced = new Tracer(false)

  final case class Req(kind: String, line: String, since: Long, until: Long,
      at: Long, n: Int) {
    def routed: Boolean = kind.startsWith("route_")
    def arrow: Boolean = kind == "arrow_range"
  }

  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def loadReqs(f: File): IndexedSeq[Req] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map { l =>
      val j = mapper.readTree(l)
      Req(j.get("kind").asText(), j.get("line").asText(),
        j.path("since").asLong(0L), j.path("until").asLong(0L),
        j.path("at").asLong(0L), j.path("n").asInt(0))
    }.toIndexedSeq finally src.close()
  }

  final class Client(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream
    def send(line: String): (String, Array[Byte]) = {
      out.write((line + "\n").getBytes("UTF-8")); out.flush()
      ArrowFraming.readFrame(in)
    }
    def close(): Unit = sock.close()
  }

  object PlanFiles extends AdaptiveSparkPlanHelper {
    /** Files the executed plan's scans listed after partition pruning;
      * a scan answered from the table cache lists none. */
    def files(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = ctx.setupStep("generate_s")(Rows.load(ctx.input("rows.csv")))
    val db = ctx.dir("serve/db")
    ctx.setupStep("store_build_s") {
      val st = new WritableStore(spark, db.getPath, "m", Rows.Fields,
        partitionByDay = true, locking = false)
      st.pushMulti(rows.dataPoints(0, rows.n))
      require(st.persist() == rows.n, "store build persisted a short table")
    }
    val rollup = ctx.dir("serve/rollup")
    ctx.setupStep("rollup_build_s") {
      RollupStore.write(Tables.read(spark, db.getPath, "m"),
        rollup.getPath, HourNs)
    }
    val raw = new File(db, "m").getAbsolutePath
    val dataFiles = Fs.dataFiles(new File(raw))
    ctx.rec.put("data_files", dataFiles)
    ctx.rec.put("user_rows", rows.n)
    def wire(r: Req): String =
      r.line.replace("$ROLLUP", rollup.getAbsolutePath).replace("$RAW", raw)

    val engine = new Engine(spark, db.getPath)
    val server = new QueryServer(engine)
    val port = server.start()
    val check = new Checker(rows, dataFiles)
    try {
      val warm = loadReqs(ctx.input("warm.jsonl"))
      val seq = loadReqs(ctx.input("requests.jsonl"))
      ctx.setupStep("warm_s") {
        closedLoop(ctx, "warm", port, Clients, warm, wire, check,
          limit = warm.length)
      }
      val seconds = ctx.args.seconds
      if (!ctx.trace)
        closedLoop(ctx, "timed", port, Clients, seq, wire, check,
          deadlineNs = System.nanoTime() + seconds * 1000000000L)
      else {
        // separate traced run: each request goes one-client over TCP,
        // in-process without spans and in-process with spans, in rotating
        // order, so the three readings share JIT and cache state
        val c = new Client(port)
        try {
          val deadline = System.nanoTime() + seconds * 1000000000L
          var i = 0
          while (i < TracedBlocks * Block || System.nanoTime() < deadline) {
            val r = seq(i % seq.length)
            val ways: Seq[() => Unit] = Seq(
              () => ctx.rec.timed("tcp1", "request", r.kind)(
                c.send(wire(r)))(check(r, _)),
              () => inProcess(ctx, engine, "inproc", i, r, wire, check, spans = false),
              () => inProcess(ctx, engine, "traced", i, r, wire, check, spans = true))
            (0 until 3).foreach(k => ways((i + k) % 3)())
            i += 1
          }
        } finally c.close()
        ctx.group(null)
      }
    } finally server.stop()
  }

  /** `clients` threads, one connection each, each sending its next request
    * only after the previous answer is read; stops at the deadline or after
    * `limit` requests. */
  def closedLoop(ctx: Ctx, phase: String, port: Int, clients: Int,
      seq: IndexedSeq[Req], wire: Req => String, check: Checker,
      deadlineNs: Long = Long.MaxValue, limit: Int = Int.MaxValue): Unit = {
    val next = new AtomicInteger(0)
    ctx.mark(s"$phase.start")
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        val c = new Client(port)
        var k = next.getAndIncrement()
        try while (System.nanoTime() < deadlineNs && k < limit) {
          val r = seq(k % seq.length)
          ctx.rec.timed(phase, "request", r.kind, Map("seq" -> k))(
            c.send(wire(r)))(check(r, _))
          k = next.getAndIncrement()
        } finally c.close()
      }, s"bench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    ctx.mark(s"$phase.end")
  }

  /** One request run in-process through the layer functions the server
    * calls, with one job group per request phase. */
  def inProcess(ctx: Ctx, engine: Engine, phase: String, i: Int, r: Req,
      wire: Req => String, check: Checker, spans: Boolean): Unit = {
    val spark = ctx.spark
    val tr = if (spans) ctx.tracer else Untraced
    val id = s"$phase-$i"
    var files = -1L
    var cacheHit: Option[Boolean] = None
    ctx.rec.timed(phase, "request", r.kind,
      Map("req" -> id, "files" -> files) ++
        cacheHit.map(h => "cache_hit" -> h))(
      tr.span("request", id, r.kind) {
        if (r.routed) {
          val j = mapper.readTree(wire(r))
          ctx.group(s"$id/frame")
          val df = tr.span("rollup.route", id, r.kind) {
            RollupStore.route(spark, j.get("store").asText(),
              spark.read.parquet(j.get("raw").asText()), r.since, r.until,
              j.get("maxPoints").asInt())
          }
          tr.span("spark.plan", id, r.kind)(df.queryExecution.executedPlan)
          ctx.group(s"$id/render")
          val cols = tr.span("ql.render", id, r.kind) {
            Output.columnJson(df, java.time.ZoneOffset.UTC, false)
          }
          files = PlanFiles.files(df)
          (s"""{"ok":true,"columns":$cols}""", Array.empty[Byte])
        } else {
          val q = mapper.readTree(r.line).get("query").asText()
          val iq = tr.span("ql.interpret", id, r.kind)(engine.interpret(q))
          val (tz, fmt, cached) = iq match {
            case s: Interpreter.SearchMetrics =>
              (s.tz, s.formatDatetime, Some(s.useCache))
            case _ => (java.time.ZoneOffset.UTC: java.time.ZoneId, false, None)
          }
          // the benchmark's touch log: a cached read finds the table
          // registered (hit) or loads it (miss)
          cacheHit = cached.filter(identity).map(_ => CacheRegistry.size > 0)
          ctx.group(s"$id/frame")
          val df0 = tr.span("ql.frame", id, r.kind)(engine.frame(iq))
          val df =
            if (r.arrow && fmt && df0.columns.contains("ts"))
              df0.withColumn("ts", graft.functions.FormatNanos.format_ns(
                org.apache.spark.sql.functions.col("ts"), tz.getId))
            else df0
          tr.span("spark.plan", id, r.kind)(df.queryExecution.executedPlan)
          ctx.group(s"$id/render")
          val resp = if (r.arrow) {
            val (bytes, n, _) = tr.span("ql.render", id, r.kind) {
              ArrowFraming.toIpcStream(df, Output.maxRenderRows)
            }
            (s"""{"ok":true,"format":"arrow","rows":$n,"bytes":${bytes.length}}""",
              bytes)
          } else {
            val cols = tr.span("ql.render", id, r.kind) {
              Output.columnJson(df, tz, fmt)
            }
            (s"""{"ok":true,"columns":$cols}""", Array.empty[Byte])
          }
          files = PlanFiles.files(df)
          resp
        }
      })(check(r, _))
  }

  /** Expected answers, computed from the generated rows. */
  final class Checker(rows: Rows, dataFiles: Int) {
    private def cols(node: JsonNode): Map[String, IndexedSeq[Any]] =
      Rows.jsonColumns(Option(node.get("columns")).getOrElse(
        throw new AssertionError("response has no columns")))

    private def longs(c: Map[String, IndexedSeq[Any]], name: String)
        : IndexedSeq[Long] =
      c.getOrElse(name, throw new AssertionError(s"no column $name")).map {
        case l: Long => l
        case d: Double => math.round(d)
        case o => throw new AssertionError(s"$name: unexpected $o")
      }

    def apply(r: Req, resp: (String, Array[Byte])): Long = {
      val (header, payload) = resp
      val node = mapper.readTree(header)
      if (!node.path("ok").asBoolean(false))
        throw new AssertionError(s"${r.kind}: ${node.path("error").asText()}")
      r.kind match {
        case "arrow_range" =>
          val (names, data) = ArrowFraming.fromIpcStream(payload)
          val c = names.zipWithIndex.map { case (n, i) =>
            n -> data.map(_(i)).toIndexedSeq }.toMap
          val got = Rows.summarize(c)
          Rows.expectEq(r.kind, got, rows.range(r.since, r.until))
          got._1
        case "range_1h" | "day_nocache" =>
          val got = Rows.summarize(cols(node))
          Rows.expectEq(r.kind, got, rows.range(r.since, r.until))
          got._1
        case "head_limit" =>
          val got = Rows.summarize(cols(node))
          val lo = rows.lowerBound(r.at)
          Rows.expectEq(r.kind, got, rows.slice(lo, math.min(rows.n, lo + r.n)))
          got._1
        case "tail_limit" =>
          val got = Rows.summarize(cols(node))
          val hi = rows.lowerBound(r.at + 1)
          Rows.expectEq(r.kind, got, rows.slice(math.max(0, hi - r.n), hi))
          got._1
        case "describe" =>
          val c = cols(node)
          val want = Seq(1L, rows.n.toLong, rows.ts.head, rows.ts.last,
            dataFiles.toLong)
          val got = Seq(longs(c, "row_num").length.toLong,
            longs(c, "row_num").sum, longs(c, "from_ts").head,
            longs(c, "end_ts").head, longs(c, "block_num").head)
          if (got != want) throw new AssertionError(
            s"describe: got $got, expected $want")
          1L
        case "block_list" =>
          val rn = longs(cols(node), "row_num")
          if (rn.length != dataFiles || rn.sum != rows.n)
            throw new AssertionError(s"block_list: ${rn.length} blocks / " +
              s"${rn.sum} rows, expected $dataFiles / ${rows.n}")
          rn.length.toLong
        case "metrics" =>
          val names = cols(node).getOrElse("metrics", IndexedSeq.empty)
          if (names != IndexedSeq("m"))
            throw new AssertionError(s"metrics: got $names")
          1L
        case _ => // routed frames: buckets cover the widened range exactly
          val c = cols(node)
          val grain = longs(c, "grain_ns")
          if (grain.isEmpty) throw new AssertionError(s"${r.kind}: no buckets")
          val g = grain.head
          val lo = Math.floorDiv(r.since, g) * g
          val hi = (Math.floorDiv(r.until - 1, g) + 1) * g
          val n = longs(c, "n").sum
          val sumC = c.getOrElse("sum_c", IndexedSeq.empty).map {
            case d: Double => Rows.cents(d)
            case l: Long => l * 100L
            case o => throw new AssertionError(s"sum_c: unexpected $o")
          }.sum
          val want = (rows.range(lo, hi)._1, rows.valueCents(lo, hi))
          if ((n, sumC) != want || grain.length > r.n)
            throw new AssertionError(s"${r.kind}: got n/sum_c ${(n, sumC)} " +
              s"in ${grain.length} buckets, expected $want in <= ${r.n}")
          grain.length.toLong
      }
    }
  }
}
