package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.{Core, Federation, PgClient, PgWire}
import graft.sources.PgFederation

/** The benchmark's JVM side. It drives the compiled program through its
  * public entry points only and writes one JSON result file that
  * `run.py` checks and turns into metrics.
  *
  * Usage: `perfbench.Harness <serve|federate> <conf.properties>`
  * or `perfbench.Harness exec <same arguments as graft.Cli exec>`.
  *
  * Every workload runs phase `A` untraced for the whole run, or, when
  * `trace=1`, phase `A` untraced for half the time and then phase `B`
  * with spans and Spark counters on, so one run yields both the layer
  * breakdown and the tracing overhead.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val mainMs = Trace.now()
    if (args.headOption.contains("exec")) ExecChild.run(args.drop(1).toList, mainMs)
    else {
      val p = new java.util.Properties()
      val r = Files.newBufferedReader(Paths.get(args(1)), UTF_8)
      try p.load(r) finally r.close()
      val conf = p.asScala.toMap
      val result = args(0) match {
        case "serve"    => ServeLoad.run(conf)
        case "federate" => Federate.run(conf)
        case m          => throw new IllegalArgumentException(s"unknown mode $m")
      }
      Files.write(Paths.get(conf("out")), result.getBytes(UTF_8))
    }
  }

  /** Phases of a run: (name, seconds, traced). */
  def phases(conf: Map[String, String]): Seq[(String, Double, Boolean)] = {
    val secs = conf("seconds").toDouble
    if (conf("trace") == "1") Seq(("A", secs / 2, false), ("B", secs / 2, true))
    else Seq(("A", secs, false))
  }

  def lines(path: String): Vector[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toVector

  def errText(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  /** Start tracing: spans on, counters registered with the context. */
  def startTrace(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    Trace.enabled = true
    c
  }

  /** Let the listener bus drain before counters are read. */
  def drain(): Unit = Thread.sleep(300)

  /** One timed operation, as the runner reads it. */
  final case class OpRec(id: String, cls: String, phase: String, ms: Double, ok: Boolean,
      err: String, rows: Long, extra: Seq[(String, String)] = Nil,
      start: Double = 0, end: Double = 0, client: Int = 0) {
    def json: String = Json.obj(Seq("id" -> Json.str(id), "cls" -> Json.str(cls),
      "phase" -> Json.str(phase), "ms" -> Json.num(ms), "ok" -> ok.toString, "err" -> Json.str(err),
      "rows" -> rows.toString, "start" -> Json.num(start), "end" -> Json.num(end)) ++ extra)
  }

  def result(setup: Seq[(String, Double)], ops: Seq[OpRec], checks: Seq[(String, Boolean, String)],
      layer: Seq[(String, String)]): String =
    Json.obj(Seq(
      "setup" -> Json.obj(setup.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> Json.arr(ops.map(_.json)),
      "checks" -> Json.arr(checks.map { case (w, ok, d) =>
        Json.obj(Seq("what" -> Json.str(w), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "layer" -> Json.obj(layer),
      "spans" -> Trace.json))

  def str(v: Any): String = v match {
    case null => null
    case ts: java.sql.Timestamp => ts.toString.stripSuffix(".0")
    case ldt: java.time.LocalDateTime => ldt.toString.replace('T', ' ')
    case other => other.toString
  }
}

import Harness._

/** `exec` as `graft.Cli exec` runs it, with the same Core calls timed:
  * session, one `addCsvTable` per bound name, `execute`, `pretty`. Prints
  * the pretty table, then one `PERFBENCH ` JSON line with the spans,
  * counters and JVM figures.
  */
object ExecChild {
  def run(args: List[String], mainMs: Double): Unit = {
    Trace.enabled = true
    val s0 = Jvm.sample()
    val spark = Trace.span("core.session", "exec")(Core.session("graft-cli"))
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    var sql: String = null
    val csvs = mutable.LinkedHashMap[String, Vector[String]]()
    var argv = args
    while (argv.nonEmpty) argv match {
      case "--csv" :: b :: t =>
        val i = b.indexOf('=')
        csvs(b.take(i)) = csvs.getOrElse(b.take(i), Vector.empty) :+ b.drop(i + 1); argv = t
      case q :: t => sql = q; argv = t
      case Nil =>
    }
    spark.sparkContext.setLocalProperty("perfbench.op", "add_csv_table")
    Trace.span("core.add_csv_table", "exec") {
      csvs.foreach { case (n, ps) => Core.addCsvTable(spark, n, ps) }
    }
    val df = Trace.span("core.execute", "exec") {
      spark.sparkContext.setLocalProperty("perfbench.op", "query")
      Core.execute(spark, sql)
    }
    val text = Trace.span("core.pretty", "exec")(Core.pretty(df, 100))
    println(text)
    drain()
    val inferJobs = counters.byOp.get("add_csv_table").map(_.size).getOrElse(0)
    val csvMb = csvs.values.flatten.map(p => new File(p).length()).sum / 1e6
    val line = Json.obj(Seq("main_ms" -> Json.num(mainMs), "csv_infer_jobs" -> inferJobs.toString,
      "csv_mb" -> Json.num(csvMb), "jvm" -> Jvm.delta(s0),
      "spark" -> counters.summary(counters.jobs.values.asScala), "spans" -> Trace.json))
    spark.stop()
    println("PERFBENCH " + line)
  }
}

/** The pgwire workload: an in-process server over shared parquet
  * tables and `clients` concurrent connections running seeded
  * statement sequences (`ops_<client>.tsv`: class TAB sql).
  */
object ServeLoad {
  private val WriteCols = Seq("k", "v", "d")

  def run(conf: Map[String, String]): String = {
    val setup = mutable.ArrayBuffer[(String, Double)]()
    def timed[T](k: String)(f: => T): T = {
      val t = Trace.now(); try f finally setup += (k -> (Trace.now() - t))
    }
    val t0 = Trace.now()
    val spark = timed("session_ms")(Core.session("perfbench-serve"))
    timed("register_ms") {
      conf("tables").split(",").foreach { kv =>
        val Array(n, p) = kv.split("=", 2)
        graft.engine.Serve.registerShared(spark, n, Seq(p), "parquet")
      }
      spark.sql(s"CREATE TABLE wt (k BIGINT, v STRING, d DOUBLE) USING parquet LOCATION '${conf("wt_dir")}'")
    }
    val server = timed("wire_start_ms")(PgWire.start(spark, 0))
    val port = server.boundPort
    val clients = conf("clients").toInt
    val plans = (0 until clients).map(c => lines(s"${conf("ops_prefix")}$c.tsv").map { l =>
      val i = l.indexOf('\t'); (l.take(i), l.drop(i + 1))
    })
    val payloads = conf("payloads").split(",").toVector.map(p => lines(p).map(_.split("\t", -1).toSeq))
    val committed = new AtomicLong(0) // rows in wt once every finished write is counted
    val started = new AtomicLong(0)   // rows in wt once every started write lands
    val sampleEvery = conf("sample_every").toInt
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Vector[Vector[String]])]()
    val connectMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    def connect(): PgClient = {
      val t = Trace.now()
      val c = Trace.span("pgwire.connect", "connect")(new PgClient("127.0.0.1", port))
      connectMs.add(Trace.now() - t)
      c
    }

    /** Run one op on `conn`; returns the rows it produced or wrote. */
    def exec(conn: PgClient, cls: String, sql: String): (Long, Vector[Vector[String]]) = cls match {
      case "copyout" => val r = conn.copyOut(sql); (r.size.toLong, r)
      case "write" if sql.startsWith("copyin:") =>
        val rows = payloads(sql.stripPrefix("copyin:").toInt)
        started.addAndGet(rows.size)
        val n = conn.copyIn("wt", WriteCols, rows.iterator)
        committed.addAndGet(n)
        (n, null)
      case "write" =>
        val n = sql.split("\\), \\(").length.toLong
        started.addAndGet(n)
        conn.query(sql)
        committed.addAndGet(n)
        (n, null)
      case "fresh" =>
        val c = connect()
        try { val r = c.query(sql)._2; (r.size.toLong, r) } finally c.close()
      case _ => val r = conn.query(sql)._2; (r.size.toLong, r)
    }

    // one untimed pass over the first op of each class warms the
    // planner, codegen and the wire path; it is part of set-up
    timed("warmup_ms") {
      val c = connect()
      try plans.head.groupBy(_._1).values.map(_.head).foreach { case (cls, sql) => exec(c, cls, sql) }
      finally c.close()
    }
    setup += ("total_s" -> (Trace.now() - t0) / 1000)

    var counters: Counters = null
    var jvmPhase = ""
    val next = Array.fill(clients)(1) // each client's position in its plan, across phases
    for ((phase, secs, traced) <- phases(conf)) {
      if (traced) counters = startTrace(spark)
      Jvm.resetPeak()
      val s0 = Jvm.sample()
      val deadline = Trace.now() + secs * 1000
      val threads = (0 until clients).map { ci =>
        val t = new Thread(() => {
          var conn = connect()
          val plan = plans(ci)
          val seen = mutable.Map[String, Int]().withDefaultValue(0) // ops per class, for sampling
          var i = next(ci)
          def record(id: String, cls: String, start: Double, ok: Boolean, err: String, rows: Long): Unit = {
            val end = Trace.now()
            ops.add(OpRec(id, cls, phase, end - start, ok, err, rows, start = start, end = end, client = ci))
          }
          while (Trace.now() < deadline) {
            val (cls, sql) = plan(i % plan.size)
            val id = s"$phase-c$ci-$i"
            val start = Trace.now()
            try {
              val (n, r) = Trace.span(s"pgwire.$cls", id)(exec(conn, cls, sql))
              record(id, cls, start, ok = true, null, n)
              if (r != null && cls != "fresh" && seen(cls) % sampleEvery == 0) samples.add((cls, sql, r))
              seen(cls) += 1
              if (cls == "write") {
                // read-after-write: the rows must be visible to this
                // connection's next statement, whatever others did since
                val lo = committed.get()
                val rs = Trace.now()
                val cnt = Trace.span("pgwire.readback", id + "r") {
                  conn.query("SELECT count(*) AS n FROM wt")._2.head.head.toLong
                }
                val hi = started.get()
                val ok = cnt >= lo && cnt <= hi
                record(id + "r", "readback", rs, ok, if (ok) null else s"count $cnt outside [$lo, $hi]", 1)
              }
            } catch {
              case e: Throwable =>
                record(id, cls, start, ok = false, errText(e), 0)
                try conn.close() catch { case _: Throwable => }
                conn = connect()
            }
            i += 1
          }
          next(ci) = i
          conn.close()
        }, s"perfbench-client-$ci")
        t.start(); t
      }
      threads.foreach(_.join())
      if (traced) { drain(); jvmPhase = Jvm.delta(s0); Trace.enabled = false }
    }

    // checks, outside the timed phases
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val probe = new PgClient("127.0.0.1", port)
    val finalCount = try probe.query("SELECT count(*) AS n FROM wt")._2.head.head.toLong finally probe.close()
    checks += (("written rows reappear in count(*)", finalCount == committed.get(),
      s"count(*) = $finalCount, committed = ${committed.get()}"))
    val engine = spark.newSession()
    val engineMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    samples.asScala.toSeq.take(conf("max_samples").toInt).foreach { case (cls, sql, wire) =>
      val t = Trace.now()
      val rows = try Core.execute(engine, sql).collect().toVector catch {
        case e: Throwable => checks += ((s"engine $cls", false, errText(e) + " :: " + sql)); null
      }
      if (rows != null) {
        engineMs.getOrElseUpdate(cls, mutable.ArrayBuffer()) += Trace.now() - t
        val eng = rows.map(r => r.toSeq.map(str).toVector)
        val ok = Compare.sameRows(wire, eng)
        checks += ((s"wire = engine ($cls)", ok, if (ok) "" else s"$sql :: wire ${wire.take(3)} engine ${eng.take(3)}"))
      }
    }
    server.close()

    val opList = ops.asScala.toSeq
    val layer = mutable.ArrayBuffer[(String, String)](
      "connect_ms" -> Json.arr(connectMs.asScala.map(Json.num)),
      "engine_ms" -> Json.obj(engineMs.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }))
    if (counters != null) {
      layer += ("jvm" -> jvmPhase)
      layer += ("spark" -> Json.obj(attribute(counters, opList.filter(_.phase == "B")).map {
        case (id, js) => id -> counters.summary(js) }))
    }
    spark.stop()
    result(setup.toSeq, opList, checks.toSeq, layer.toSeq)
  }

  /** Map each server job (group `pgwire-<pid>-<seq>`) to the client op
    * whose window holds its submission: first learn which client thread
    * owns each backend pid from unambiguous jobs, then use that to break
    * ties between overlapping ops of different clients.
    */
  def attribute(c: Counters, ops: Seq[OpRec]): Map[String, Seq[Job]] = {
    val jobs = c.jobs.values.asScala.toSeq.filter(j => j.group != null && j.group.startsWith("pgwire-"))
    def pid(j: Job) = j.group.split("-")(1)
    def cands(j: Job) = ops.filter(o => o.start <= j.submitMs + 1 && j.submitMs <= o.end + 1)
    val owner = jobs.flatMap(j => cands(j).map(_.client).distinct match {
      case Seq(one) => Some(pid(j) -> one)
      case _ => None
    }).groupBy(_._1).map { case (p, v) => p -> v.groupBy(_._2).maxBy(_._2.size)._1 }
    jobs.flatMap { j =>
      val cs = cands(j)
      owner.get(pid(j)).map(cl => cs.filter(_.client == cl)).getOrElse(cs).headOption.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

/** Value-level comparison of text rows (multiset): numbers compare with
  * a relative tolerance, everything else as text.
  */
object Compare {
  private def num(s: String): Option[Double] =
    if (s == null) None else scala.util.Try(s.toDouble).toOption
  def sameCell(a: String, b: String): Boolean = (num(a), num(b)) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }
  def sameRows(a: Seq[Seq[String]], b: Seq[Seq[String]]): Boolean = {
    def key(r: Seq[String]) = r.map(v => num(v).map(d => f"$d%.6e").getOrElse(String.valueOf(v))).mkString("\u0001")
    a.size == b.size && a.map(key).sorted.zip(b.map(key).sorted).forall { case (x, y) =>
      x == y || x.split("\u0001", -1).zip(y.split("\u0001", -1)).forall { case (p, q) => sameCell(p, q) }
    }
  }
}

/** The federation workload: Postgres shards read as `federate --pg`
  * reads them (one whole-table leg per shard, unioned) or in pushdown
  * form, then one statement over the union; and scatter writes with
  * `PgFederation.writeShards`, as `publish` writes.
  */
object Federate {
  def run(conf: Map[String, String]): String = {
    val shards = conf("shards").split(",").toSeq.map { hp => val Array(h, p) = hp.split(":"); (h, p.toInt) }
    val table = conf("table")
    val cols = conf("columns").split(",").toSeq
    val setup = mutable.ArrayBuffer[(String, Double)]()
    val t0 = Trace.now()
    val spark = Trace.span("core.session", "setup")(Core.session("perfbench-federate"))
    setup += ("session_ms" -> (Trace.now() - t0))
    val opsIn = lines(conf("ops_file")).map(_.split("\t", -1).toSeq)
    val legDirect = mutable.ArrayBuffer[(Double, Long)]()

    def frame(form: String): org.apache.spark.sql.DataFrame = {
      val legs = shards.map { case (h, p) =>
        Trace.span("pgfed.probe", "frame") {
          if (form == "whole") PgFederation.pgTableWhole(spark, h, p, table)
          else PgFederation.pgTable(spark, h, p, table, cols, "l_orderkey", 2,
            where = Some(form.stripPrefix("pushdown:")))
        }
      }
      Trace.span("pgfed.union", "frame")(Federation.unionShards(legs))
    }

    /** The legs' remote SELECT through PgClient alone: remote + wire + decode. */
    def direct(form: String): Unit = {
      val where = if (form == "whole") "" else " WHERE " + form.stripPrefix("pushdown:")
      val t = Trace.now()
      var n = 0L
      shards.foreach { case (h, p) =>
        val c = new PgClient(h, p)
        try {
          val (fs, rows) = c.query(s"SELECT * FROM $table$where")
          val types = fs.map { case (_, oid) => PgFederation.sparkType(oid) }
          rows.foreach(r => r.zip(types).foreach { case (v, dt) => if (v != null) PgFederation.parse(v, dt) })
          n += rows.size
        } finally c.close()
      }
      legDirect += ((Trace.now() - t, n))
    }

    def shardCounts(t: String): Seq[Long] = shards.map { case (h, p) =>
      val c = new PgClient(h, p)
      try c.query(s"SELECT count(*) FROM $t")._2.head.head.toLong finally c.close()
    }

    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val ops = mutable.ArrayBuffer[OpRec]()

    def runOp(phase: String, i: Int, op: Seq[String]): Unit = {
      val id = s"$phase-$i"
      spark.sparkContext.setLocalProperty("perfbench.op", id)
      val t = Trace.now()
      op match {
        case Seq("read", form, sql) =>
          try {
            val text = Trace.span("federate.read", id) {
              frame(form).createOrReplaceTempView("lineitem")
              val df = Trace.span("core.execute", id)(Core.execute(spark, sql))
              Trace.span("core.pretty", id)(Core.pretty(df, 100))
            }
            ops += OpRec(id, "read", phase, Trace.now() - t, ok = true, null, 0, start = t, end = Trace.now(),
              extra = Seq("pretty" -> Json.str(text), "form" -> Json.str(form), "sql" -> Json.str(sql)))
          } catch { case e: Throwable =>
            ops += OpRec(id, "read", phase, Trace.now() - t, ok = false, errText(e), 0, start = t, end = Trace.now())
          }
          if (Trace.enabled) direct(form)
        case Seq("write", seed, rows) =>
          val before = shardCounts(conf("write_table"))
          val df = spark.range(0, rows.toLong, 1, shards.size).selectExpr(
            s"(id * 7919 + $seed) % 1000000007 AS k", "concat('w', CAST(id AS STRING)) AS v",
            "CAST(id % 1000 AS DOUBLE) / 10 AS d")
          val t1 = Trace.now()
          try {
            val n = Trace.span("pgfed.write", id)(PgFederation.writeShards(df,
              shards.map { case (h, p) => PgFederation.Shard(h, p, conf("write_table")) }))
            val ms = Trace.now() - t1
            val delta = shardCounts(conf("write_table")).zip(before).map { case (a, b) => a - b }
            val ok = n == delta.sum && n == rows.toLong
            if (!ok) checks += ((s"write $id", false, s"COPY tags $n, shard deltas $delta, rows $rows"))
            ops += OpRec(id, "write", phase, ms, ok, if (ok) null else "COPY tag mismatch", n, start = t1, end = t1 + ms)
          } catch { case e: Throwable =>
            ops += OpRec(id, "write", phase, Trace.now() - t1, ok = false, errText(e), 0, start = t1, end = Trace.now())
          }
        case other => throw new IllegalArgumentException(s"bad op $other")
      }
    }

    // set-up ends with `warmup_ops` untimed ops of the mix (the first
    // builds the first federated frame), so timing starts warm
    val f0 = Trace.now()
    var i = 1
    while (i <= conf("warmup_ops").toInt) { runOp("S", i, opsIn(i % opsIn.size)); i += 1 }
    setup += ("warmup_ms" -> (Trace.now() - f0))
    setup += ("total_s" -> (Trace.now() - t0) / 1000)

    val layer = mutable.ArrayBuffer[(String, String)]()
    for ((phase, secs, traced) <- phases(conf)) {
      val counters = if (traced) startTrace(spark) else null
      Jvm.resetPeak()
      val s0 = Jvm.sample()
      val deadline = Trace.now() + secs * 1000
      while (Trace.now() < deadline) { runOp(phase, i, opsIn(i % opsIn.size)); i += 1 }
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      if (traced) {
        drain()
        layer += ("jvm" -> Jvm.delta(s0))
        layer += ("spark" -> Json.obj(counters.byOp.map { case (k, v) => k -> counters.summary(v) }))
        layer += ("leg_direct" -> Json.arr(legDirect.map { case (ms, n) =>
          Json.obj(Seq("ms" -> Json.num(ms), "rows" -> n.toString)) }))
        Trace.enabled = false
      }
    }
    spark.stop()
    result(setup.toSeq, ops.toSeq, checks.toSeq, layer.toSeq)
  }
}
