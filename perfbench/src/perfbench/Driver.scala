package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.aql.Engine
import graft.server.{AqlServer, WireKeys}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, udf}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One executed step of a client: a statement, or a row change plus its
  * COMMIT timed together. `stmts` lists the in-process statement ids. */
final case class StepRec(client: Int, step: Int, cls: String, ns: Long,
    ok: Boolean, statements: Int, bytes: Long, err: String, stmts: Seq[Long])

/** Executes a statement plan (written by run.py) against a fresh graft
  * database: set-up, then the clients' closed loops through AqlServer, and
  * with tracing on, the same steps in-process untraced and traced. Writes
  * raw records (samples, spans, stage metrics, plan facts) as JSON; run.py
  * turns them into metrics.
  *
  * Usage: Driver --plan FILE --data DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --cores N
  *        Driver --selftest 1 --cores N
  */
object Driver {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(cores = opt("cores"), appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try {
      if (opt.contains("selftest")) SelfTest.run(spark) else { run(spark, opt, sessionS); 0 }
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, opt: Map[String, String], sessionS: Double): Unit = {
    val plan = Json.mapper.readTree(Paths.get(opt("plan")).toFile)
    val data = Paths.get(opt("data"))
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Json.mapper.createObjectNode()

    out.put("session_s", sessionS)
    val su = out.putArray("setup_s")
    // an untraced run serves only the first database: the others are set up
    // to be timed and then dropped, so the retained heap holds one engine
    val engines = (0 until plan.get("setups").asInt).flatMap { k =>
      val t0 = System.nanoTime()
      val eng = setup(spark, plan, data, work.resolve(s"db$k"))
      su.add((System.nanoTime() - t0) / 1e9)
      if (traced || k == 0) Some(eng) else None
    }

    val clients = plan.get("clients").elements().asScala.toIndexedSeq
    val serverEng = engines(0)
    val root = Paths.get(serverEng.rootDir)
    val bytesBefore = dirBytes(root)
    val server = new AqlServer(serverEng, 0)
    val port = server.start()
    val captures = out.putArray("captures")
    val serverSeconds = if (traced) seconds / 3 else seconds
    val serverRecs = try {
      val key = new WireKeys(root, serverEng.settings.secretKeyCount).byHash.values.head
      runPhase(clients, serverSeconds, None, (i, _) =>
        if (clients(i).get("protocol").asText == "wire") new WireChannel(port, key)
        else new JsonChannel(port), captures)
    } finally server.stop()
    out.put("db_bytes_before", bytesBefore)
    out.put("db_bytes_after", dirBytes(root))
    putPhase(out.putObject("server"), serverRecs._1, serverRecs._2)

    if (traced) {
      val counts = serverRecs._1.map(_.size)
      runInProcess(engines(1), clients, counts, None, out.putObject("inproc"))
      val tracer = new Tracer(spark.sparkContext)
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      val tracedOut = out.putObject("traced")
      runInProcess(engines(2), clients, counts, Some(tracer), tracedOut)
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      putTrace(tracedOut, tracer, listener)
    }
    out.put("heap_mb", retainedHeapMb())
    Json.mapper.writeValue(Paths.get(opt("out")).toFile, out)
  }

  // ---- set-up ---------------------------------------------------------

  private def setup(spark: SparkSession, plan: JsonNode, data: Path, root: Path): Engine = {
    deleteTree(root)
    Files.createDirectories(root)
    val settings = plan.get("settings").fields().asScala
      .map(e => s"${e.getKey}: ${e.getValue.asText}\n").mkString
    Files.writeString(root.resolve(graft.catalog.Settings.FileName), settings)
    val eng = new Engine(spark, root.toString)
    plan.get("setup").elements().asScala.foreach { st =>
      val t0 = System.nanoTime()
      st.get("op").asText match {
        case "load" =>
          eng.execute(st.get("ddl").asText)
          var df: DataFrame = spark.read.parquet(data.resolve(st.get("file").asText + ".parquet").toString)
          Option(st.get("where")).foreach(w => df = df.where(w.asText))
          Option(st.get("pack")).foreach { p =>
            val pack = udf((xs: Seq[Float]) => graft.functions.Float32Unpack.pack(xs))
            df = df.withColumn(p.asText, pack(col(p.asText)))
          }
          val name = st.get("container").asText
          val cols = st.get("columns").elements().asScala.map(c => col(c.asText)).toSeq
          eng.catalog.overwrite(name, df.select(cols: _*).toDF(eng.catalog.get(name).columns.map(_._1): _*))
        case "aql" => eng.execute(st.get("aql").asText)
      }
      System.err.println(f"[perfbench] setup ${Option(st.get("container")).getOrElse(st.get("aql")).asText}%s " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    plan.get("warmup").elements().asScala.foreach { w =>
      eng.execute(w.asText) match {
        case Engine.ResultSet(df, id) =>
          eng.orderedResult(id).getOrElse(df).limit(eng.PageSize).collect()
        case _ => ()
      }
    }
    Option(plan.get("fill")).foreach(_.elements().asScala.foreach(a => eng.execute(a.asText)))
    eng
  }

  // ---- client loops ---------------------------------------------------

  /** Run every client on its own thread, closed loop: each sends its next
    * step when the previous one returned. A client leaves the measured
    * window at the first step marked `cycle` after the deadline, at
    * `limits(i)` steps, or when its steps run out. Without limits, a client
    * that has left the window keeps sending its next steps, unrecorded,
    * until every client has left it, so no client's last measured steps run
    * without the others' load. Returns each client's records and the
    * seconds it spent in the window. */
  private def runPhase(clients: IndexedSeq[JsonNode], seconds: Double,
      limits: Option[Seq[Int]], channel: (Int, ArrayBuffer[Long]) => Channel,
      captures: ArrayNode): (Seq[Seq[StepRec]], Seq[Double]) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val recs = clients.indices.map(_ => ArrayBuffer.empty[StepRec])
    val windowS = Array.fill(clients.size)(0.0)
    val inWindow = new java.util.concurrent.atomic.AtomicInteger(clients.size)
    val t0 = System.nanoTime()
    val threads = clients.indices.map { i =>
      val th = new Thread(() => try {
        val stmts = ArrayBuffer.empty[Long]
        val ch = channel(i, stmts)
        val steps = clients(i).get("steps")
        val limit = limits.map(_(i)).getOrElse(steps.size)
        val cursors = mutable.Map.empty[String, String]
        val kept = mutable.Map.empty[Int, ArrayNode]
        var s = 0
        def open = limits.isDefined || System.nanoTime() < deadline ||
          !steps.get(s).path("cycle").asBoolean(false)
        while (s < limit && s < steps.size && open) {
          recs(i) += runStep(i, s, steps.get(s), ch, stmts, cursors, kept, captures)
          s += 1
        }
        windowS(i) = (System.nanoTime() - t0) / 1e9
        inWindow.decrementAndGet()
        while (limits.isEmpty && s < steps.size && inWindow.get > 0) {
          // outside the window only a failed check is kept
          val r = runStep(i, s, steps.get(s), ch, stmts, cursors, kept, captures)
          if (!r.ok) recs(i) += r
          s += 1
        }
      } catch {
        // a client that cannot continue (say, a refused handshake) is one failure
        case e: Throwable => recs(i) += StepRec(i, -1, "client", 0L, ok = false, 0, 0L, e.toString, Nil)
      } finally {
        if (windowS(i) == 0.0) {
          windowS(i) = (System.nanoTime() - t0) / 1e9
          inWindow.decrementAndGet()
        }
      }, s"client-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
    (recs.map(_.toList), windowS.toSeq)
  }

  private def runStep(client: Int, idx: Int, step: JsonNode, ch: Channel,
      stmts: ArrayBuffer[Long], cursors: mutable.Map[String, String],
      kept: mutable.Map[Int, ArrayNode], captures: ArrayNode): StepRec = {
    val aql = step.get("aql")
    val texts = if (aql.isArray) aql.elements().asScala.map(_.asText).toList else List(aql.asText)
    val args = Option(step.get("args")).toSeq.flatMap(_.elements().asScala.map(_.asText))
    val expect = step.get("expect")
    stmts.clear()
    var bytes = 0L
    var last: Outcome = null
    val t0 = System.nanoTime()
    val untimed0 = ch.untimedNs
    val err = try {
      texts.foreach { t =>
        last = ch.exec("""\{(\w+)\}""".r.replaceAllIn(t, m => cursors(m.group(1))), args)
        bytes += last.bytes
      }
      None
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ns = System.nanoTime() - t0 - (ch.untimedNs - untimed0)
    val failure = err.orElse(Option(expect).flatMap(e => check(e, last, kept)))
    if (failure.isEmpty) {
      Option(step.get("open")).foreach(o => last.cursor.foreach(c => cursors(o.asText) = c))
      if (step.has("keep")) kept(idx) = last.rows
      if (expect != null && expect.has("capture") && captures != null) captures.synchronized {
        val c = captures.addObject()
        c.put("client", client)
        c.put("step", idx)
        val cols = c.putArray("columns")
        last.columns.foreach(cols.add)
        c.set[JsonNode]("rows", last.rows)
      }
    }
    StepRec(client, idx, step.get("cls").asText, ns, failure.isEmpty, texts.size, bytes,
      failure.getOrElse(""), stmts.toList)
  }

  /** The output checks a step carries; None when they all hold. */
  private def check(e: JsonNode, o: Outcome, kept: mutable.Map[Int, ArrayNode]): Option[String] = {
    val rows = o.rows
    def colIdx(name: String) = o.columns.indexWhere(_.equalsIgnoreCase(name))
    def fail(msg: String) = Some(s"$msg; got ${rows.toString.take(300)}")
    if (e.has("rows") && !Json.sameRows(e.get("rows"), rows)) return fail(s"expected rows ${e.get("rows").toString.take(300)}")
    if (e.has("count") && rows.size != e.get("count").asInt) return fail(s"expected ${e.get("count")} rows")
    if (e.has("max_rows") && rows.size > e.get("max_rows").asInt) return fail(s"LIMIT ${e.get("max_rows")} exceeded")
    if (e.has("key_range")) {
      val kr = e.get("key_range")
      val j = kr.get(0).asInt
      val want = (kr.get(1).asLong until kr.get(2).asLong).toSeq
      if (rows.elements().asScala.map(_.get(j).asLong).toSeq != want)
        return fail(s"expected keys [${kr.get(1)}, ${kr.get(2)})")
    }
    if (e.has("col_sum")) {
      val cs = e.get("col_sum")
      val j = cs.get(0).asInt
      val got = Json.mapper.getNodeFactory.numberNode(rows.elements().asScala.map(_.get(j).asDouble).sum)
      if (!Json.sameCell(cs.get(1), got)) return fail(s"expected sum ${cs.get(1)} of column $j")
    }
    if (e.has("pk_col")) {
      val j = colIdx(e.get("pk_col").asText)
      if (j < 0) return fail(s"no column ${e.get("pk_col")} in ${o.columns}")
      val lt = e.get("pk_lt").asLong
      if (rows.elements().asScala.exists(r => r.get(j).isNull || r.get(j).asLong < 0 || r.get(j).asLong >= lt))
        return fail(s"pk outside [0, $lt)")
    }
    if (e.has("score_col")) {
      val j = colIdx(e.get("score_col").asText)
      if (j < 0) return fail(s"no column ${e.get("score_col")} in ${o.columns}")
      val v = rows.elements().asScala.map(_.get(j).asDouble).toSeq
      if (v.zip(v.drop(1)).exists { case (a, b) => a < b }) return fail("scores not descending")
    }
    if (e.has("same_as")) kept.get(e.get("same_as").asInt) match {
      case Some(prev) if !Json.sameRows(prev, rows) => return fail("differs from an identical statement on the same version")
      case None => return Some(s"step ${e.get("same_as")} has no kept result")
      case _ => ()
    }
    None
  }

  private def putPhase(o: ObjectNode, recs: Seq[Seq[StepRec]], windowS: Seq[Double]): Unit = {
    val w = o.putArray("client_s")
    windowS.foreach(x => w.add(x))
    val a = o.putArray("steps")
    recs.flatten.foreach { r =>
      val s = a.addObject()
      s.put("client", r.client)
      s.put("step", r.step)
      s.put("cls", r.cls)
      s.put("ms", r.ns / 1e6)
      s.put("ok", r.ok)
      s.put("statements", r.statements)
      s.put("bytes", r.bytes)
      if (!r.ok) s.put("error", r.err.take(500))
      val st = s.putArray("stmts")
      r.stmts.foreach(id => st.add(id))
    }
  }

  // ---- in-process paths -----------------------------------------------

  /** Replay each client's first `counts(i)` steps on `eng` through the
    * in-process path. With a tracer, also record each served plan's
    * facts and the files every write statement added. */
  private def runInProcess(eng: Engine, clients: IndexedSeq[JsonNode],
      counts: Seq[Int], tracer: Option[Tracer], out: ObjectNode): Unit = {
    val lock = new Object
    val plans = out.putArray("plans")
    val root = Paths.get(eng.rootDir)
    def onPlan(stmt: Long, p: SparkPlan, rows: Int): Unit = plans.synchronized {
      val nodes = p.collectWithSubqueries { case n => n }
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      val o = plans.addObject()
      o.put("id", stmt)
      o.put("rows", rows)
      o.put("exchanges", nodes.count(n => n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[BroadcastExchangeExec]))
      o.put("scans", scans.size + nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
      o.put("files_read", scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
    }
    val writes = out.putArray("writes")
    val (recs, windowS) = runPhase(clients, 0, Some(counts), (_, stmts) => {
      val ch = new InProcessChannel(eng, lock, tracer, id => stmts += id, onPlan)
      if (tracer.isEmpty) ch
      else new Channel {
        // files added under the database root by each write step, taken
        // outside the step's spans and left out of its timing
        private var listingNs = 0L
        override def untimedNs: Long = listingNs
        private def listed(): Map[String, (Any, Long)] = {
          val t0 = System.nanoTime()
          try listFiles(root) finally listingNs += System.nanoTime() - t0
        }
        def exec(text: String, args: Seq[String]): Outcome = {
          val isWrite = text.trim.toUpperCase.matches("^(COMMIT|MERGE)\\b.*")
          val before = if (isWrite) listed() else Map.empty[String, (Any, Long)]
          val r = ch.exec(text, args)
          if (isWrite) {
            val after = listed()
            val old = before.values.map(_._1).toSet
            // new inodes only: a commit hard-links the files it does not rewrite
            val added = after.filter { case (_, (ino, _)) => !old.contains(ino) }
              .toSeq.distinctBy(_._2._1)
            val dataFile = """^data/([^/]+)@v(\d+)/[^/._][^/]*\.parquet$""".r
            val newest = added.map(_._1).collect { case dataFile(c, v) => (c, v.toInt) }.maxByOption(_._2)
            writes.synchronized {
              val w = writes.addObject()
              w.put("id", stmts.last)
              w.put("files", added.size)
              w.put("bytes", added.map(_._2._2).sum)
              w.put("index_bytes", added.filter(_._1.contains("/_index/")).map(_._2._2).sum)
              w.put("files_live", newest.map { case (c, v) =>
                after.keys.count { case dataFile(c2, v2) => c2 == c && v2.toInt == v; case _ => false }
              }.getOrElse(0))
            }
          }
          r
        }
      }
    }, null)
    putPhase(out, recs, windowS)
  }

  private def putTrace(o: ObjectNode, tracer: Tracer, listener: SpanListener): Unit = {
    val spans = o.putArray("spans")
    tracer.spans.foreach { s =>
      spans.addObject().put("id", s.id).put("stmt", s.stmt).put("name", s.name)
        .put("parent", s.parent).put("start_ms", s.start / 1e6).put("end_ms", s.end / 1e6)
    }
    val jobs = o.putArray("jobs")
    listener.jobSpans.asScala.foreach { case (j, s) => jobs.addObject().put("job", j).put("span", s.longValue) }
    val stages = o.putArray("stages")
    listener.stageAggs.foreach { a =>
      val s = stages.addObject()
      s.put("span", a.span).put("stage", a.stage).put("attempt", a.attempt).put("tasks", a.tasks)
        .put("run_ms", a.runMs).put("cpu_ms", a.cpuNs / 1e6).put("gc_ms", a.gcMs)
        .put("delay_ms", a.delayMs).put("shuffle_write", a.shuffleWrite)
        .put("shuffle_read", a.shuffleRead).put("spill", a.spill).put("in_bytes", a.inBytes)
        .put("in_records", a.inRecords).put("result_bytes", a.resultBytes)
      val d = s.putArray("durations")
      a.durations.foreach(x => d.add(x))
    }
  }

  // ---- helpers --------------------------------------------------------

  /** Regular files under `root`: relative path -> (inode, size). */
  private def listFiles(root: Path): Map[String, (Any, Long)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> (Files.getAttribute(p, "unix:ino"), Files.size(p))).toMap
    finally s.close()
  }

  /** Bytes stored under `root`, each hard-linked file counted once. */
  private def dirBytes(root: Path): Long =
    listFiles(root).values.toSeq.distinctBy(_._1).map(_._2).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Driver heap in use after full collections. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
