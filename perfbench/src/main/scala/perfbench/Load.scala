package perfbench

import java.io.{BufferedReader, DataInputStream, DataOutputStream,
  InputStreamReader, PrintWriter}
import java.net.{InetAddress, Socket}
import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.exec.CursorPager.Cursor
import graft.wire.{Envelope, GraftWireClient, Wire}
import graft.wire.GraftWireClient._

/** The load generator: closed-loop clients driving the host over loopback
  * with the engine's own [[GraftWireClient]] — `runQuery`, `waitForFinish`,
  * `getQueryData` pages, `nextForward` — each client waiting for every reply
  * before sending its next request.
  *
  * Every client walks its own op list from the ops file, in order, wrapping
  * if it runs out. When the time is up it finishes the cycle of op kinds it
  * is in, so each run holds whole cycles. Before that each client runs the
  * ops file's `warmup_ops` ops the same way, untimed: a count, not a time, so
  * the JIT has seen the same work when timing starts however fast the machine
  * is. Every page's rows are hashed (see [[ResultHash]]) and compared with the expected rows and hash;
  * the time spent hashing is taken out of the op's timeline.
  *
  * A traced run splits the untraced phase into two halves around a traced
  * phase:
  * spans around every client call (status polls are issued one by one, at
  * `waitForFinish`'s own interval, so each is a span), Ping round trips and
  * the engine's per-query metrics. After it, a few traced ops of each kind
  * are replayed in-process on the host.
  *
  *   Load <ops.json> <out.json> <wire port> <control port> <seconds> <trace 0|1> [corrupt]
  */
object Load {
  private val ReplaysPerKind = 3

  final case class Op(kind: String, sql: String, rows: Long, hash: String,
                      ordered: Boolean, digits: Int)

  private def ops(n: JsonNode): Vector[Op] = n.elements().asScala.map(o => Op(
    o.get("kind").asText(), o.get("sql").asText(), o.get("rows").asLong(),
    o.get("hash").asText(), o.get("ordered").asBoolean(), o.get("digits").asInt())
  ).toVector

  def main(args: Array[String]): Unit = {
    val spec = Json.read(Paths.get(args(0)))
    val port = args(2).toInt
    val control = new Control(args(3).toInt)
    val seconds = args(4).toDouble
    val traced = args(5) == "1"
    val limit = spec.get("page_limit").asInt()
    val firstPageOnly = spec.get("first_page_only").asBoolean()
    val cycle = spec.get("cycle").asInt()
    val warmup = spec.get("warmup_ops").asInt()
    val lists = spec.get("clients").elements().asScala.map(ops).toVector
    val client = new GraftWireClient(port)
    val corrupt = args.length > 6 && args(6) == "corrupt"
    val loop = new OpLoop(client, control, limit, firstPageOnly, corrupt)

    /** Every client runs its list from the start for `secs` seconds and at
      * least `minOps` ops, then to the end of its cycle; client `c` starts its
      * cycle at kind `c`, so concurrent clients do not run the same kind in
      * lockstep.
      */
    def phase(tr: Option[Trace], secs: Double, minOps: Int = 1): Map[String, Any] = {
      val records = new ConcurrentLinkedQueue[Map[String, Any]]()
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      val threads = lists.zipWithIndex.map { case (list, c) =>
        val t = new Thread(() => {
          var i = 0
          while (i < minOps || System.nanoTime() < deadline || i % cycle != 0) {
            val start = (System.nanoTime() - t0) / 1e9
            records.add(loop.run(list((i + c) % list.size), tr) ++
              Map("client" -> c, "start_s" -> start))
            i += 1
          }
        }, s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
        "ops" -> records.asScala.toVector)
    }

    // warm-up: the workload itself, untimed, until the JIT and caches settle
    phase(None, 0, warmup)
    val out = if (!traced) Map("timed" -> phase(None, seconds)) else {
      // the untraced phase is split around the traced one, so warming up
      // over the run does not bias the tracing overhead either way
      def untracedHalf(): (Map[String, Any], String, String) = {
        val before = control.ask("stats")
        val p = phase(None, seconds / 2)
        (p, before, control.ask("stats"))
      }
      val (u1, before1, after1) = untracedHalf()
      val pings = (1 to 50).map(_ => loop.ping(port))
      val tr = new Trace
      val tracedPhase = phase(Some(tr), seconds)
      val (u2, before2, after2) = untracedHalf()
      val untraced = Map[String, Any](
        "wall_s" -> (u1("wall_s").asInstanceOf[Double] + u2("wall_s").asInstanceOf[Double]),
        "ops" -> (u1("ops").asInstanceOf[Vector[Any]] ++ u2("ops").asInstanceOf[Vector[Any]]))
      // in-process replays run after the traced phase, so they do not change
      // the load the traced ops saw; up to ReplaysPerKind ops of each kind
      val replays = tracedPhase("ops").asInstanceOf[Vector[Map[String, Any]]]
        .filter(_.contains("sql")).groupBy(_("kind")).values
        .flatMap(_.sortBy(_("start_s").asInstanceOf[Double]).take(ReplaysPerKind))
        .map { o =>
          val sql = o("sql").asInstanceOf[String]
          val b64 = java.util.Base64.getEncoder.encodeToString(sql.getBytes("UTF-8"))
          Map("span_root" -> o("span_root"), "replay" -> Json.parse(control.ask(
            s"replay $limit ${if (firstPageOnly) 1 else 0} $b64")))
        }.toVector
      Map("timed" -> untraced, "traced" -> tracedPhase, "replays" -> replays,
        "stats" -> Seq(before1, after1, before2, after2).map(Json.parse),
        "ping_s" -> pings, "spans" -> tr.json)
    }
    Json.write(Paths.get(args(1)), out)
  }

  /** The host's control port: one line out, one JSON line back. */
  final class Control(port: Int) {
    def ask(line: String): String = {
      val s = new Socket(InetAddress.getLoopbackAddress, port)
      try {
        new PrintWriter(s.getOutputStream, true).println(line)
        new BufferedReader(new InputStreamReader(s.getInputStream, "UTF-8")).readLine()
      } finally s.close()
    }
  }

  /** Runs one op: submit, wait for Complete, page forward, check the rows. */
  final class OpLoop(client: GraftWireClient, control: Control, limit: Int,
                     firstPageOnly: Boolean, corrupt: Boolean) {
    private val PollMs = 25L // GraftWireClient.waitForFinish's default

    def run(op: Op, tr: Option[Trace]): Map[String, Any] = {
      val root = tr.map(_.open("op:" + op.kind, None))
      def span[T](name: String)(f: => T): T = (tr, root) match {
        case (Some(t), Some(r)) => t.time(name, r)(f)
        case _ => f
      }
      val t0 = System.nanoTime()
      var hashNs = 0L
      def at(): Double = (System.nanoTime() - t0 - hashNs) / 1e9
      var polls = 0
      var pages = 0
      var rows = 0L
      var complete, first, last = Double.NaN
      var reason: Option[String] = None
      val hash = new ResultHash(op.ordered, op.digits)
      val qid = span("wire.run_query")(client.runQuery(op.sql))
      qid match {
        case None => reason = Some("RunQueryResp::NotCreated")
        case Some(id) =>
          val status =
            if (tr.isEmpty) client.waitForFinish(id, maxWaitMs = 120000L)
            else {
              var s = span("wire.status_poll")(client.getQueryStatus(id))
              polls = 1
              while (!Set("Complete", "QueryNotFound").contains(s) &&
                  !s.startsWith("Error") && at() < 120.0) {
                span("client.poll_wait")(Thread.sleep(PollMs))
                s = span("wire.status_poll")(client.getQueryStatus(id))
                polls += 1
              }
              s
            }
          complete = at()
          if (status != "Complete") reason = Some(s"status $status")
          else {
            var cursor: Option[Cursor] = Some(graft.exec.CursorPager.Start)
            while (cursor.isDefined && reason.isEmpty) {
              val resp = span("wire.get_data")(
                client.getQueryData(id, cursor.get, limit, forward = true,
                  allowOverflow = false))
              if (pages == 0) {
                first = at()
                // the self-test's negative control: one bogus row on the first page
                if (corrupt) hash.add(Seq("corrupt"))
              }
              pages += 1
              resp match {
                case r: DataRecord =>
                  val h0 = System.nanoTime()
                  span("client.hash")(r.rows.foreach(hash.add))
                  hashNs += System.nanoTime() - h0
                  rows += r.rows.size
                  cursor = if (firstPageOnly) None else nextForward(r.offsets)
                  if (cursor.isEmpty) last = at()
                case DataEndOfFiles =>
                  last = at()
                  cursor = None
                case DataRowGroupNotFound =>
                  val c = cursor.get
                  reason = Some(s"RecordRowGroupNotFound at cursor " +
                    s"(${c.file},${c.rowGroup},${c.row})")
                case other => reason = Some(other.toString.take(200))
              }
            }
          }
      }
      root.foreach(r => tr.get.close(r))
      val wall = (System.nanoTime() - t0) / 1e9
      val got = hash.result()
      if (reason.isEmpty && (rows != op.rows || got != op.hash))
        reason = Some(s"wrong result: $rows rows, hash $got; " +
          s"expected ${op.rows} rows, hash ${op.hash}")
      val rec = Map[String, Any]("kind" -> op.kind, "ok" -> reason.isEmpty,
        "reason" -> reason, "complete_s" -> complete, "first_s" -> first,
        "last_s" -> last, "page_s" -> (last - complete), "wall_s" -> wall,
        "hash_s" -> hashNs / 1e9, "rows" -> rows, "pages" -> pages)
      val extra = qid.fold(Map.empty[String, Any]) { id =>
        val metrics = if (tr.isEmpty) Map.empty[String, Any] else
          client.getQueryMetrics(id).fold(Map.empty[String, Any])(m => Map(
            "scan_rows" -> m.scanRows, "files_read" -> m.filesRead))
        val layout = Json.parse(control.ask(s"forget $id"))
        val traced = if (tr.isEmpty) Map.empty[String, Any] else Map(
          "sql" -> op.sql, "status_polls" -> polls, "requests" -> (1 + polls + pages),
          "span_root" -> root.get.id)
        Map("layout" -> layout) ++ metrics ++ traced
      }
      rec ++ extra
    }

    /** Connect, Identify, Ping, Pong: the floor every wire request pays. */
    def ping(port: Int): Double = {
      val t0 = System.nanoTime()
      val sock = new Socket(InetAddress.getLoopbackAddress, port)
      try {
        val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
        val conn = Wire.randomU128()
        def send(name: Int, body: Array[Byte]): Unit = {
          val env = Envelope(msgNameId = name, msgId = Wire.randomU128(),
            requestId = Wire.randomU128(), sentFromConnectionId = Some(conn),
            msgData = body)
          Wire.write(out, env)
          val resp = Wire.read(in).getOrElse(sys.error("no reply"))
          require(resp.requestId == env.requestId, "request id mismatch")
        }
        send(Wire.Name.Identify, graft.wire.Json.identify("Connection", conn))
        send(Wire.Name.Ping, graft.wire.Json.bytes(graft.wire.Json.text("Ping")))
      } finally sock.close()
      (System.nanoTime() - t0) / 1e9
    }
  }
}

/** Hash of a result's rows, matching the expected hashes the benchmark's
  * runner computes with DuckDB. A row's text is its values joined by `|`:
  * null as `\N`, a double rounded half-even to `digits` significant digits
  * and printed as `%.{digits-1}e` (zero as `0`), a timestamp as epoch
  * microseconds, anything else as its string. The hash is the MD5 of the row
  * MD5s (hex) joined by `,`: in row order when `ordered`, else sorted.
  */
final class ResultHash(ordered: Boolean, digits: Int) {
  private val outer = java.security.MessageDigest.getInstance("MD5")
  private val inner = java.security.MessageDigest.getInstance("MD5")
  private val rowHashes = Vector.newBuilder[String]
  private val sb = new java.lang.StringBuilder
  private var n = 0L
  private val top = math.pow(10, digits)

  private def value(v: Any): Unit = v match {
    case null => sb.append("\\N")
    case d: java.lang.Double => double(d)
    case f: java.lang.Float => double(f.toDouble)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case other => sb.append(other.toString)
  }

  /** `%.{digits-1}e` of `d`, rounded half-even in double arithmetic: exact
    * for values with fewer significant digits than `digits`, and off only
    * within a rounding error of a tie otherwise.
    */
  private def double(d: Double): Unit = {
    if (d == 0.0) { sb.append('0'); return }
    val a = math.abs(d)
    def scaled(e: Int): Double = {
      val k = digits - 1 - e
      math.rint(if (k >= 0) a * math.pow(10, k) else a / math.pow(10, -k))
    }
    var e = math.floor(math.log10(a)).toInt
    var m = scaled(e)
    if (m >= top) { e += 1; m = scaled(e) }
    else if (m < top / 10) { e -= 1; m = scaled(e) }
    if (m >= top) { e += 1; m = math.rint(m / 10) }
    val ds = m.toLong.toString
    if (d < 0) sb.append('-')
    sb.append(ds.charAt(0)).append('.').append(ds, 1, ds.length).append('e')
      .append(if (e < 0) '-' else '+')
    if (math.abs(e) < 10) sb.append('0')
    sb.append(math.abs(e))
  }

  def add(row: Seq[Any]): Unit = {
    sb.setLength(0)
    var first = true
    row.foreach { v =>
      if (!first) sb.append('|')
      value(v)
      first = false
    }
    val h = ResultHash.hex(inner.digest(sb.toString.getBytes("UTF-8")))
    if (ordered) {
      if (n > 0) outer.update(','.toByte)
      outer.update(h.getBytes("US-ASCII"))
    } else rowHashes += h
    n += 1
  }

  def result(): String =
    if (ordered) ResultHash.hex(outer.digest())
    else ResultHash.md5(rowHashes.result().sorted.mkString(","))
}

object ResultHash {
  private val Hex = "0123456789abcdef".toCharArray

  def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = Hex((b(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))
}
