package graft.server

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.Executors
import org.apache.spark.sql.SparkSession

import graft.ql.{Ast, Engine, Interpreter, Output}

/** Remote-query server — the capability analog of the reference's Arrow
  * Flight `DoGet` endpoint (`query/executor/interface/arrow_flight_server/`):
  * a client ships query text, the server executes it and streams back a
  * columnar batch. Transport is line-framed over TCP (Flight's gRPC layer
  * is not available in this offline build — see README divergence note);
  * the PAYLOAD can be genuine Arrow:
  *
  *  - `{"query": "..."}` (or a raw query line) → one JSON response line
  *    `{"ok":true,"columns":{col:[...]}}` or `{"ok":false,"error":"..."}`;
  *  - `{"query": "...", "format": "arrow"}` → one JSON header line
  *    `{"ok":true,"format":"arrow","rows":N,"bytes":M}` followed by exactly
  *    M raw bytes: a standard Arrow IPC stream (schema + record batches)
  *    that any Arrow reader decodes — the same record-batch payload the
  *    reference's `do_get_handler.rs:16-53` ships, minus the gRPC wrapper.
  *
  * Concurrency: thread-per-connection; Spark schedules concurrent jobs from
  * multiple threads fairly within the one session (same model as a Spark
  * Thrift server).
  */
final class QueryServer(engine: Engine, port: Int = 0) {
  @volatile private var server: Option[ServerSocket] = None
  /** Set under the [[preparedRouters]] lock in [[stop]]: an in-flight
    * prepare that loses the race with shutdown sees it and closes its
    * fresh router instead of caching into the already-cleared map. */
  private var closed = false
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-server-conn"); t.setDaemon(true); t
  })
  /** Prepared sampled routers for `"pin": true` frames, one per
    * (store, sample, valueCol) — the server IS the long-lived serving
    * layer, so it owns the open-once lifecycle; released on [[stop]].
    *
    * LRU-capped (access-order, `SPARK_GRAFT_SERVER_MAX_PINS`, default
    * 32): each pinned pair persists the deduped sample rows in executor
    * memory, so an unbounded client-keyed map would let a path-cycling
    * client pin memory without bound. The eldest pair is closed when a
    * new distinct triple arrives past the cap — closing unpersists the
    * cache; an in-flight route on the evicted router still completes
    * (Spark recomputes de-cached rows), it just loses the pin. */
  private val maxPreparedRouters: Int =
    sys.env.get("SPARK_GRAFT_SERVER_MAX_PINS").map { v =>
      // validated loudly AT CONSTRUCTION: a cap <= 0 would make
      // removeEldestEntry evict (and close) every router the moment it
      // is inserted — pinned requests silently slower than unpinned,
      // no error anywhere — and a bare toInt on a typo'd value throws
      // with no hint which setting is at fault
      val n = try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_SERVER_MAX_PINS must be a positive int, got '$v'")
      }
      require(n >= 1,
        s"SPARK_GRAFT_SERVER_MAX_PINS must be >= 1, got $n — a " +
          "non-positive cap would evict every pin on insert")
      n
    }.getOrElse(32)
  private val preparedRouters = new java.util.LinkedHashMap[
      (String, String, String), graft.storage.RollupStore.SampledRouter](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, String, String),
        graft.storage.RollupStore.SampledRouter]): Boolean =
      if (size > maxPreparedRouters) { e.getValue.close(); true }
      else false
  }

  /** Per-key in-flight prepares, so [[pinnedRouter]]'s Spark metadata
    * jobs never run under the global LRU lock (a cold pin of pair B
    * must not stall the dashboard burst against already-prepared pair
    * A on a multi-second map lookup); same-key racers join the one
    * in-flight prepare instead of duplicating it. */
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String),
    java.util.concurrent.CompletableFuture[
      graft.storage.RollupStore.SampledRouter]]()

  /** The pinned-router lifecycle: cache hits hold the LRU lock for a
    * map lookup only; a miss prepares OUTSIDE the lock with a per-key
    * in-flight guard (one prepare per triple, concurrent keys
    * independent). `refresh = true` closes and re-prepares the triple
    * FIRST — the serving-layer verb that picks up appends (and a
    * post-prepare `tierOff`, which otherwise invalidates a pin
    * silently) without a server restart. */
  private def pinnedRouter(key: (String, String, String),
      refresh: Boolean): graft.storage.RollupStore.SampledRouter = {
    if (refresh) preparedRouters.synchronized {
      Option(preparedRouters.remove(key)).foreach(_.close())
    }
    val hit = preparedRouters.synchronized {
      Option(preparedRouters.get(key))
    }
    hit.getOrElse {
      val fut = new java.util.concurrent.CompletableFuture[
        graft.storage.RollupStore.SampledRouter]()
      val prev = inFlight.putIfAbsent(key, fut)
      if (prev != null) prev.join() // another thread is preparing
      else {
        // no non-local returns below: the catch must only ever see a
        // genuine prepare failure, never Scala control-flow throwables
        // (a NonLocalReturnControl swallowed here would hand racers
        // joining the future an exception instead of the router)
        try {
          // double-check after winning the in-flight slot: a racer may
          // have completed between our miss and the putIfAbsent
          val again = preparedRouters.synchronized {
            Option(preparedRouters.get(key))
          }
          val r = again.getOrElse {
            val fresh = graft.storage.RollupStore.prepareSampled(
              engine.spark, key._1, key._2, key._3)
            // cache under the same lock that stop() closes the map
            // under: once `closed` is set, a late prepare must not
            // park an orphaned router (and its pinned sample rows)
            // in a map nobody will ever close again
            val cached = preparedRouters.synchronized {
              if (closed) false
              else { preparedRouters.put(key, fresh); true }
            }
            if (!cached) {
              fresh.close()
              throw new IllegalStateException(
                "server is stopped; pinned router discarded")
            }
            fresh
          }
          fut.complete(r)
          r
        } catch { case t: Throwable =>
          // Throwable on purpose: with no non-local returns in scope,
          // anything landing here is a real failure, and a fatal error
          // (OOM, LinkageError) must still release joined racers —
          // an uncompleted future would park them forever
          fut.completeExceptionally(t); throw t
        } finally inFlight.remove(key)
      }
    }
  }

  def start(): Int = {
    val ss = new ServerSocket(port)
    server = Some(ss)
    val acceptor = new Thread(() => {
      try {
        while (!ss.isClosed) {
          val sock = ss.accept()
          pool.submit(new Runnable { def run(): Unit = handle(sock) })
        }
      } catch { case _: java.net.SocketException => /* closed */ }
    }, "graft-server-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    ss.getLocalPort
  }

  def stop(): Unit = {
    server.foreach(_.close())
    pool.shutdown()
    preparedRouters.synchronized {
      closed = true
      preparedRouters.values().forEach(_.close())
      preparedRouters.clear()
    }
  }

  private def handle(sock: Socket): Unit = {
    val in  = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
    // raw stream, not a Writer: arrow responses interleave a UTF-8 header
    // line with binary IPC bytes on the same connection
    val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    def writeLine(s: String): Unit = {
      out.write(s.getBytes("UTF-8")); out.write('\n'); out.flush()
    }
    try {
      var line = in.readLine()
      while (line != null) {
        // a malformed frame must produce an error response, never kill the
        // connection thread
        try {
          if (isRouteRequest(line)) {
            if (wantsArrow(line)) {
              val (header, bytes) = runRouteArrow(line)
              writeLine(header)
              if (bytes.nonEmpty) { out.write(bytes); out.flush() }
            } else writeLine(runRoute(line))
          } else if (wantsArrow(line)) {
            val (header, bytes) = runQueryArrow(parseRequest(line))
            writeLine(header)
            if (bytes.nonEmpty) { out.write(bytes); out.flush() }
          } else writeLine(runQuery(parseRequest(line)))
        } catch { case e: Exception =>
          writeLine(s"""{"ok":false,"error":${jsonStr("bad request: " + e.getMessage)}}""")
        }
        line = in.readLine()
      }
    } catch {
      case _: java.io.IOException => // client went away
    } finally sock.close()
  }

  /** `"format": "arrow"` in a JSON request frame selects Arrow IPC framing.
    * Raw (non-JSON) query lines never do — a query whose TEXT contains the
    * literal must not flip a line-oriented client into binary mode. (Inside
    * a JSON frame the query value has its quotes escaped, so the unescaped
    * pattern can't match embedded text there.) */
  private[server] def wantsArrow(line: String): Boolean = {
    val t = line.trim
    t.startsWith("{") && """"format"\s*:\s*"arrow"""".r.findFirstIn(t).isDefined
  }

  /** Accept `{"query": "..."}` or a raw query line. */
  private[server] def parseRequest(line: String): String = {
    val t = line.trim
    if (t.startsWith("{")) {
      val m = """"query"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      m.findFirstMatchIn(t) match {
        case Some(g) => unescapeJson(g.group(1))
        case None    => t
      }
    } else t
  }

  /** JSON string unescape, single left-to-right scan — chained
    * `String.replace` calls corrupt sequences like `\\n` (escaped backslash
    * followed by 'n') because earlier replacements consume characters that a
    * later rule would have needed intact. */
  private[server] def unescapeJson(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => sb.append('\n'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(c =>
                Character.digit(c, 16) >= 0) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2 // covers \" \\ \/ verbatim
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** A routed-serving request: a JSON frame carrying `maxPoints` — the
    * dashboard point-budget contract ([[graft.storage.RollupStore]]'s
    * routers) served over the same wire as dialect queries. The dialect
    * surface itself stays reference-parity; this is the serving tier's
    * remote face. */
  private[server] def isRouteRequest(line: String): Boolean = {
    val t = line.trim
    t.startsWith("{") && """"maxPoints"\s*:""".r.findFirstIn(t).isDefined
  }

  /** Parse and dispatch a routed request:
    * `{"maxPoints":n, "since":ns, "until":ns,
    *   "stores":["/fine","/coarse",...] | "store":"/p",
    *   "raw":"/rawParquet" (optional),
    *   "where":"host = 'web'" (optional key predicate, pushed down),
    *   "distinctCol":"uid", "histBoundsCents":[...], "tsCol", "valueCol"
    *   (optional)}`.
    * raw + 1 store → route; raw + N stores → routeCascade; N ≥ 2 stores
    * without raw → routeStoreCascade (the raw-less mirror lifecycle);
    * `"sample":"/sampleStore"` + 1 store without raw → routeSampled (the
    * AQP composition: fine zooms answer from the deterministic sample
    * with `rate_den` and the `est_var_cents2` error bar riding the
    * columns). A sample frame may add `"pin": true` to opt into this
    * server's PREPARED router for the (store, sample) pair —
    * [[graft.storage.RollupStore.prepareSampled]] runs once per pair
    * (sample rows pinned over the open-time FILE SNAPSHOT — from round
    * 13 the staleness is deterministic: same-session appends never
    * leak into a pinned frame) and every later pinned frame is pure
    * plan construction, the open-once dashboard-burst shape; the trade
    * is staleness (the prepared pair does not see later appends, and a
    * post-prepare `tierOff` on the store invalidates the pin silently
    * — omit `pin` for read-latest semantics, or add
    * `"refresh": true` to a pinned frame to close and re-prepare the
    * pair before serving: the serving-layer verb that picks up
    * yesterday's appends without a server restart). The response
    * carries `grain_ns`
    * and `source` like the in-process routers — a dashboard sees which
    * tier answered. */
  private def routeFrame(line: String): org.apache.spark.sql.DataFrame = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(line)
    def optStr(f: String): Option[String] =
      Option(node.get(f)).filterNot(_.isNull).map(_.asText())
    def reqLong(f: String): Long = Option(node.get(f)).filterNot(_.isNull)
      .map(_.asLong()).getOrElse(
        throw new IllegalArgumentException(s"route request needs '$f'"))
    val stores: Seq[String] =
      Option(node.get("stores")).filterNot(_.isNull).map { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(optStr("store").toSeq)
    require(stores.nonEmpty, "route request needs 'store' or 'stores'")
    val raw = optStr("raw")
    val since = reqLong("since")
    val until = reqLong("until")
    val maxPoints = reqLong("maxPoints").toInt
    val distinctCol = optStr("distinctCol")
    val hist: Seq[Long] = Option(node.get("histBoundsCents"))
      .filterNot(_.isNull).map { arr =>
        (0 until arr.size()).map(arr.get(_).asLong()).toSeq
      }.getOrElse(Nil)
    val keyFilter = optStr("where")
      .map(org.apache.spark.sql.functions.expr)
    val tsCol = optStr("tsCol").getOrElse("ts")
    val valueCol = optStr("valueCol").getOrElse("value")
    val spark = engine.spark
    import graft.storage.RollupStore
    val sample = optStr("sample")
    val pin = Option(node.get("pin")).exists(_.asBoolean(false))
    val refresh = Option(node.get("refresh")).exists(_.asBoolean(false))
    (sample, raw, stores) match {
      case (Some(sm), None, Seq(one)) if pin =>
        pinnedRouter((one, sm, valueCol), refresh)
          .route(since, until, maxPoints, keyFilter)
      case (Some(sm), None, Seq(one)) =>
        RollupStore.routeSampled(spark, one, sm, since, until,
          maxPoints, valueCol, keyFilter)
      case (Some(_), _, _) => throw new IllegalArgumentException(
        "a 'sample' route takes exactly one store and no 'raw' — the " +
          "sample tier IS the fine-zoom source")
      case (None, Some(r), Seq(one)) =>
        RollupStore.route(spark, one,
          graft.storage.MetaMemo.read(spark, r, mergeSchema = false), since,
          until, maxPoints, valueCol, tsCol, distinctCol, 12, hist, keyFilter)
      case (None, Some(r), many) =>
        RollupStore.routeCascade(spark, r, many, since, until, maxPoints,
          valueCol, tsCol, distinctCol, 12, hist, keyFilter)
      case (None, None, many) if many.size >= 2 =>
        RollupStore.routeStoreCascade(spark, many, since, until,
          maxPoints, keyFilter)
      case _ => throw new IllegalArgumentException(
        "a single store without 'raw' cannot route — pass 'raw' for the " +
          "tiered lifecycle or two-plus 'stores' for the raw-less mirror")
    }
  }

  private[server] def runRoute(line: String): String =
    try {
      val cols = Output.columnJson(routeFrame(line),
        java.time.ZoneOffset.UTC, false)
      s"""{"ok":true,"columns":$cols}"""
    } catch {
      case e: Exception =>
        s"""{"ok":false,"error":${jsonStr(String.valueOf(e.getMessage))}}"""
    }

  private[server] def runRouteArrow(line: String): (String, Array[Byte]) =
    try {
      val (bytes, rows, truncated) =
        ArrowFraming.toIpcStream(routeFrame(line), Output.maxRenderRows)
      val truncField = if (truncated) ""","truncated":true""" else ""
      (s"""{"ok":true,"format":"arrow","rows":$rows$truncField,"bytes":${bytes.length}}""",
        bytes)
    } catch {
      case e: Exception =>
        (s"""{"ok":false,"error":${jsonStr(String.valueOf(e.getMessage))}}""",
          Array.empty[Byte])
    }

  private[server] def runQuery(query: String): String =
    try {
      val iq = engine.interpret(query)
      val df = engine.frame(iq)
      val (tz, fmtDt) = iq match {
        case s: Interpreter.SearchMetrics => (s.tz, s.formatDatetime)
        case _ => (java.time.ZoneOffset.UTC: java.time.ZoneId, false)
      }
      val cols = Output.columnJson(df, tz, fmtDt)
      s"""{"ok":true,"columns":$cols}"""
    } catch {
      case e: Ast.ParseException =>
        s"""{"ok":false,"error":${jsonStr(e.getMessage)}}"""
      case e: Interpreter.QueryException =>
        s"""{"ok":false,"error":${jsonStr(e.getMessage)}}"""
      case e: Exception =>
        s"""{"ok":false,"error":${jsonStr(String.valueOf(e.getMessage))}}"""
    }

  /** Arrow-framed answer: header line + IPC stream bytes (empty on error —
    * an error is a plain JSON line, no binary follows). Honors the query's
    * tz/format_datetime exactly like the JSON path (ts becomes a rendered
    * string column), and flags truncation at the render cap. */
  private[server] def runQueryArrow(query: String): (String, Array[Byte]) =
    try {
      val iq = engine.interpret(query)
      val df0 = engine.frame(iq)
      val df = iq match {
        case s: Interpreter.SearchMetrics
            if s.formatDatetime && df0.columns.contains("ts") =>
          df0.withColumn("ts",
            graft.functions.FormatNanos.format_ns(
              org.apache.spark.sql.functions.col("ts"), s.tz.getId))
        case _ => df0
      }
      val (bytes, rows, truncated) =
        ArrowFraming.toIpcStream(df, Output.maxRenderRows)
      val truncField = if (truncated) ""","truncated":true""" else ""
      (s"""{"ok":true,"format":"arrow","rows":$rows$truncField,"bytes":${bytes.length}}""",
        bytes)
    } catch {
      case e: Exception =>
        (s"""{"ok":false,"error":${jsonStr(String.valueOf(e.getMessage))}}""",
          Array.empty[Byte])
    }
}

object QueryServer {
  /** `graft.server.QueryServer --db <dir> [--port n]` */
  def main(args: Array[String]): Unit = {
    var dbDir = "."
    var port  = 51033 // reference Flight default port
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--db"   => dbDir = args(i + 1); i += 2
        case "--port" => port = args(i + 1).toInt; i += 2
        case _        => i += 1
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val actual = new QueryServer(new Engine(spark, dbDir), port).start()
    System.err.println(s"[graft-server] listening on $actual (db=$dbDir)")
    Thread.currentThread.join()
  }
}

/** Client: ship a query to a running server, print the response
  * (reference client mode, `arrow_flight_client/mod.rs`). `--arrow`
  * requests Arrow IPC framing and prints the decoded batch as TSV. */
object QueryClient {
  def main(args: Array[String]): Unit = {
    val (hostPort, query, arrow) = args match {
      case Array(hp, q)            => (hp, q, false)
      case Array(hp, q, "--arrow") => (hp, q, true)
      case _ =>
        System.err.println("usage: QueryClient host:port \"query\" [--arrow]")
        sys.exit(2)
    }
    val Array(host, p) = hostPort.split(":")
    val sock = new Socket(host, p.toInt)
    try {
      val out = new PrintWriter(sock.getOutputStream, true)
      if (arrow) {
        val escaped = query.replace("\n", " ")
          .flatMap { case '\\' => "\\\\"; case '"' => "\\\""; case c => c.toString }
        out.println(s"""{"query": "$escaped", "format": "arrow"}""")
        val (header, bytes) = ArrowFraming.readFrame(sock.getInputStream)
        if (bytes.isEmpty) println(header)
        else {
          val (names, rows) = ArrowFraming.fromIpcStream(bytes)
          println(names.mkString("\t"))
          rows.foreach(r => println(r.map(String.valueOf).mkString("\t")))
        }
      } else {
        val in = new BufferedReader(
          new InputStreamReader(sock.getInputStream, "UTF-8"))
        out.println(query.replace("\n", " "))
        println(in.readLine())
      }
    } finally sock.close()
  }
}
