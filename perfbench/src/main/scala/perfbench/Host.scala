package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetAddress, ServerSocket}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.exec.{AsyncQueryRunner, CursorPager, ParquetRangeReader,
  ResultMaterializer}
import graft.wire.{GraftWireServer, Wire}

/** The serving process: one Spark session, one [[AsyncQueryRunner]] and one
  * [[GraftWireServer]] on a loopback port, arranged as in `graft.WireDemo`.
  *
  * Set-up builds the session, runner and server and runs the ops file's
  * `setup_warmup` ops in-process (small tables, the workload's query shapes),
  * `setups` times over in this JVM. It then prints one `READY {json}` line
  * with the set-up times and serves a line-oriented control
  * port for the load generator: `forget`, `replay`, `stats` and `quit`
  * (see [[control]]). The wire protocol has no forget, so releasing a result
  * goes through this side channel, outside the timed region.
  *
  *   Host <ops.json> <result_root> <trace 0|1> <setups>
  */
object Host {
  def main(args: Array[String]): Unit = {
    val spec = Json.read(Paths.get(args(0)))
    val root = Paths.get(args(1))
    val traced = args(2) == "1"
    val setups = args(3).toInt
    Files.createDirectories(root)
    // set-up, repeated in this JVM so setup_s can be a median: the first
    // counts from JVM start, later ones rebuild session, runner and server
    val times = Vector.newBuilder[Double]
    var serving: (SparkSession, AsyncQueryRunner, GraftWireServer) = null
    for (i <- 1 to setups) {
      if (serving != null) { serving._3.stop(); serving._1.stop() }
      val t0 = System.nanoTime()
      serving = setUp(spec, root)
      times += (if (i == 1) java.lang.management.ManagementFactory.getRuntimeMXBean
        .getUptime / 1e3 else (System.nanoTime() - t0) / 1e9)
    }
    val (spark, runner, server) = serving
    val counters = new StageCounters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val ctl = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val ready = Json.obj(
      "port" -> server.port, "control" -> ctl.getLocalPort, "setups_s" -> times.result(),
      "spark" -> spark.version, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "cores" -> spark.sparkContext.defaultParallelism)
    println(s"READY $ready")
    System.out.flush()
    var done = false
    try while (!done) {
      val sock = ctl.accept()
      try {
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
        val out = new PrintWriter(sock.getOutputStream, true)
        val words = in.readLine().split(" ")
        if (words(0) == "quit") done = true
        out.println(control(spark, runner, counters, root,
          spec.get("gc_between_ops").asBoolean(), words))
      } finally sock.close()
    } finally {
      server.stop()
      ctl.close()
      spark.stop()
    }
  }

  /** Session, runner and wire server, then the ops file's `setup_warmup` ops
    * run in-process: submit, wait, page every row with `pageArrow`, forget.
    */
  private def setUp(spec: JsonNode, root: Path)
      : (SparkSession, AsyncQueryRunner, GraftWireServer) = {
    val spark = graft.engine.GraftSession.getOrCreate("graft-perfbench")
    val runner = new AsyncQueryRunner(spark, root.toString)
    val server = new GraftWireServer(runner).start()
    val limit = spec.get("page_limit").asInt()
    spec.get("setup_warmup").elements().asScala.foreach { op =>
      val id = runner.submit(op.get("sql").asText())
      runner.waitForFinish(id, maxWaitMs = 120000L, pollMs = 5L) match {
        case AsyncQueryRunner.Complete(_) =>
          val pager = runner.results(id)
          var cur: Option[CursorPager.Cursor] =
            if (pager.totalRows > 0) Some(CursorPager.Start) else None
          while (cur.isDefined) cur = pager.pageArrow(cur.get, limit).next
        case other => sys.error(s"warm-up op failed: $other")
      }
      runner.forget(id, deleteFiles = true)
    }
    (spark, runner, server)
  }

  /** One control command; the reply is one JSON line.
    *
    *  - `forget <u128 query id>`: the result's file layout, then
    *    `AsyncQueryRunner.forget(id, deleteFiles = true)` and, if the ops
    *    file asks for it (`gc_between_ops`), a full GC;
    *  - `replay <limit> <first_page_only 0|1> <base64 sql>`: the op replayed
    *    in-process with spans around each layer call (see [[replay]]);
    *  - `stats`: Spark listener counters, GC time and resident memory;
    *  - `quit`: whether the result root is empty, then shut down.
    */
  private def control(spark: SparkSession, runner: AsyncQueryRunner,
                      counters: StageCounters, root: Path, gcBetweenOps: Boolean,
                      words: Array[String]): String = words(0) match {
    case "forget" =>
      val id = Wire.u128ToUuid(BigInt(words(1)))
      val layout = runner.status(id) match {
        case AsyncQueryRunner.Complete(rs) => Layout.of(rs)
        case _ => Json.obj("files" -> 0, "empty_files" -> 0, "row_groups" -> 0,
          "bytes" -> 0L, "rows" -> 0L)
      }
      runner.forget(id, deleteFiles = true)
      if (gcBetweenOps) System.gc()
      layout
    case "replay" =>
      val sql = new String(java.util.Base64.getDecoder.decode(words(3)), "UTF-8")
      replay(spark, root, sql, words(1).toInt, words(2) == "1")
    case "stats" => counters.snapshot()
    case "quit" =>
      val left = Files.list(root)
      val n = try left.count() finally left.close()
      Json.obj("result_root_entries" -> n, "hwm_kb" -> Mem.kb("VmHWM"))
    case other => Json.obj("error" -> s"unknown command $other")
  }

  /** The server's order of work for one op, each public layer call timed:
    * `QueryFacade.run`, the same frame to the `noop` sink (Bench's method),
    * `ResultMaterializer.materialize`, then a fresh `CursorPager` paged with
    * `pageArrow` (its first page is `pager.open`), a second fresh pager paged
    * with `page` (rows only, no Arrow) and every row group read once more
    * directly with `ParquetRangeReader.readRowGroup`.
    */
  private def replay(spark: SparkSession, root: Path, sql: String, limit: Int,
                     firstPageOnly: Boolean): String = {
    val tr = new Trace
    val id = "replay-" + java.util.UUID.randomUUID()
    val opSpan = tr.open("replay", None)
    val df = tr.time("sql.analyze", opSpan)(graft.sql.QueryFacade.run(spark, sql))
    tr.time("engine.noop", opSpan)(
      df.write.format("noop").mode("overwrite").save())
    val rs = tr.time("materializer.materialize", opSpan)(
      ResultMaterializer.materialize(df, root.toString, id))
    def walk(name: String, step: (CursorPager, CursorPager.Cursor) =>
        (Option[CursorPager.Cursor], Long)): Long = {
      var bytes = 0L
      tr.within(name, opSpan) { walkSpan =>
        val pager = tr.time(name + ".new", walkSpan)(new CursorPager(spark, rs))
        var cur: Option[CursorPager.Cursor] =
          if (pager.totalRows > 0) Some(CursorPager.Start) else None
        var first = true
        while (cur.isDefined) {
          val (next, b) = tr.time(if (first) name + ".first" else name + ".next",
            walkSpan)(step(pager, cur.get))
          bytes += b
          cur = if (firstPageOnly) None else next
          first = false
        }
      }
      bytes
    }
    val ipcBytes = walk("pager.arrow", (p, c) => {
      val r = p.pageArrow(c, limit); (r.next, r.ipc.length.toLong)
    })
    walk("pager.rows", (p, c) => (p.page(c, limit).next, 0L))
    var reads = 0
    lazy val schema = new CursorPager(spark, rs).schema
    tr.within("pager.rowgroup_reads", opSpan) { readsSpan =>
      rs.files.foreach { f =>
        f.rowGroupRows.indices.foreach { g =>
          tr.time("pager.rowgroup_read", readsSpan)(ParquetRangeReader.readRowGroup(
            spark.sparkContext.hadoopConfiguration, f.path, g, schema))
          reads += 1
        }
      }
    }
    tr.close(opSpan)
    val layout = Layout.of(rs)
    Files.walk(Paths.get(rs.dir)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Json.obj("spans" -> tr.json, "rows" -> rs.totalRows,
      "ipc_bytes" -> ipcBytes, "rowgroup_reads" -> reads, "layout" -> layout)
  }
}

/** File layout of a materialized result: counts and Parquet bytes. */
object Layout {
  def of(rs: ResultMaterializer.ResultSet): String = Json.obj(
    "files" -> rs.files.size,
    "empty_files" -> rs.files.count(_.rowGroupRows.isEmpty),
    "row_groups" -> rs.files.map(_.rowGroupRows.size).sum,
    "bytes" -> rs.files.map(f => Files.size(Paths.get(f.path))).sum,
    "rows" -> rs.totalRows)
}

/** Resident memory of this process, from /proc (Linux). */
object Mem {
  def kb(field: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }
}

/** Spark scheduler counters, registered by the benchmark itself (traced runs
  * only): jobs, stages, tasks, summed task time, shuffle and spill bytes, and
  * per completed stage the ratio of its slowest task to its median task.
  */
final class StageCounters extends SparkListener {
  private var jobs, stages, tasks, taskNs, shuffleBytes, spillBytes = 0L
  private val taskTimes = scala.collection.mutable.Map.empty[(Int, Int), Vector[Long]]
  private val skew = Vector.newBuilder[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    val key = (e.stageId, e.stageAttemptId)
    taskTimes(key) = taskTimes.getOrElse(key, Vector.empty) :+ e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    taskTimes.remove(key).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      val p50 = sorted((sorted.size - 1) / 2)
      skew += sorted.last.toDouble / math.max(p50, 1L)
    }
  }

  def snapshot(): String = synchronized {
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    Json.obj("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_ns" -> taskNs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "skew" -> skew.result(), "gc_ms" -> gcMs,
      "rss_kb" -> Mem.kb("VmRSS"))
  }
}

/** In-memory spans: name, start, end, parent, and the op (root span) they
  * belong to; written out when the run ends.
  */
final class Trace {
  import Trace.Span
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Option[Span]): Span = synchronized {
    val id = spans.size
    val s = Span(id, parent.fold(id)(_.op), name, parent.fold(-1)(_.id),
      System.nanoTime(), -1L)
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = System.nanoTime()

  def time[T](name: String, parent: Span)(f: => T): T = within(name, parent)(_ => f)

  /** [[time]], handing the new span to the body as the parent of its own. */
  def within[T](name: String, parent: Span)(f: Span => T): T = {
    val s = open(name, Some(parent))
    try f(s) finally close(s)
  }

  def json: Seq[Map[String, Any]] = synchronized(spans.toSeq.map(s => Map(
    "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.start, "end_ns" -> s.end)))
}

object Trace {
  final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long,
                        var end: Long)
}

/** Minimal JSON helpers over the Jackson the engine already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(p: Path): JsonNode = mapper.readTree(p.toFile)

  def parse(s: String): JsonNode = mapper.readTree(s)

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case s: String => s
    case Some(x) => toJava(x)
    case None | null => null
    case x: Int => Integer.valueOf(x)
    case x: Long => java.lang.Long.valueOf(x)
    case x: Double => java.lang.Double.valueOf(x)
    case x: Boolean => java.lang.Boolean.valueOf(x)
    case x: JsonNode => x
    case other => other.toString
  }

  /** A JSON object; string values that are themselves JSON objects (such as
    * a nested [[obj]]) are embedded as objects.
    */
  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(toJava(
    kv.map { case (k, v) => k -> (v match {
      case s: String if s.startsWith("{") => parse(s)
      case other => other
    }) }.toMap))

  def write(p: Path, v: Map[String, Any]): Unit =
    mapper.writeValue(p.toFile, toJava(v))
}
