package graft.engine

import graft.SparkSpec
import graft.sources.PgFederation

/** The v3 wire-protocol CLIENT and the federated source built on it,
  * driven against this repo's own [[PgWire]] server over real
  * loopback sockets — the full self-federation loop the reference
  * performs with its vendored Postgres connector.
  */
class PgClientSpec extends SparkSpec {

  private var server: PgWire.Server = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    Serve.registerShared(spark, "nation_pgc", Seq(s"$Sf/nation.parquet"), "parquet")
    server = PgWire.start(spark, 0)
  }

  override def afterAll(): Unit = {
    if (server != null) server.close()
    super.afterAll()
  }

  test("client round-trips rows and RowDescription OIDs; a server error leaves the connection usable") {
    val c = new PgClient("127.0.0.1", server.boundPort)
    try {
      val (fields, rows) =
        c.query("SELECT n_nationkey, n_name FROM nation_pgc ORDER BY n_nationkey LIMIT 3")
      assert(fields.map(_._1) === Vector("n_nationkey", "n_name"))
      assert(fields.map(_._2) === Vector(23, 25)) // int4 (the fixture's nation keys), text
      assert(rows === Vector(
        Vector("0", "NATION_0"), Vector("1", "NATION_1"), Vector("2", "NATION_2")))
      // E-then-Z discipline: the error surfaces with the server's
      // message and the SAME connection then runs the next statement
      val e = intercept[RuntimeException](c.query("SELECT * FROM no_such_pgc_table"))
      assert(e.getMessage.toLowerCase.contains("no_such_pgc_table"), e.getMessage)
      assert(c.query("SELECT 41 + 1 AS v")._2 === Vector(Vector("42")))
    } finally c.close()
  }

  test("typed text decoding through pgTable: bool/int/double/decimal/date/NULL/bytea") {
    spark.sql("""
      CREATE OR REPLACE GLOBAL TEMP VIEW pgc_types AS SELECT
        CAST(1 AS BIGINT) AS id, true AS b, CAST(7 AS INT) AS i,
        CAST(1.5 AS DOUBLE) AS d, CAST(2.25 AS DECIMAL(10,2)) AS dec,
        DATE'2024-01-02' AS dt, CAST(NULL AS STRING) AS s,
        X'0AFF' AS bin""")
    val df = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "global_temp.pgc_types", Seq("id", "b", "i", "d", "dec", "dt", "s", "bin"), "id", 1)
    import org.apache.spark.sql.types._
    assert(df.schema.map(_.dataType) === Seq(LongType, BooleanType, IntegerType,
      DoubleType, DecimalType(38, 18), DateType, StringType, BinaryType))
    val r = df.head()
    assert(r.getLong(0) === 1L && r.getBoolean(1) && r.getInt(2) === 7)
    assert(r.getDouble(3) === 1.5)
    assert(r.getDecimal(4).compareTo(new java.math.BigDecimal("2.25")) === 0)
    assert(r.getDate(5).toString === "2024-01-02")
    assert(r.isNullAt(6))
    assert(r.getAs[Array[Byte]](7).toSeq === Seq(0x0a.toByte, 0xff.toByte))
  }

  test("partitioned wire scan: equals the direct read, honors the partition count and remote pushdown") {
    val direct = spark.read.parquet(s"$Sf/nation.parquet")
      .selectExpr("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val fed = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "nation_pgc", Seq("n_nationkey", "n_name", "n_regionkey"), "n_nationkey", 3)
    assert(fed.rdd.getNumPartitions === 3)
    assert(fed.orderBy("n_nationkey").collect().map(_.toSeq).toSeq === direct)
    // the shared predicate ships inside every partition's remote query
    val filtered = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "nation_pgc", Seq("n_nationkey", "n_regionkey"), "n_nationkey", 3,
      where = Some("n_regionkey = 2"))
    assert(filtered.collect().forall(_.getInt(1) === 2))
    assert(filtered.count() === direct.count(_(2) == 2))
    // a predicate matching nothing: structurally empty, not an error
    val none = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "nation_pgc", Seq("n_nationkey"), "n_nationkey", 3,
      where = Some("n_regionkey = 99"))
    assert(none.count() === 0)
  }

  test("NULL partition keys are not dropped: the first range carries the IS NULL leg") {
    // min/max ignore NULLs, so without the explicit leg these rows
    // would fall outside every range predicate — silent data loss
    spark.sql("""CREATE OR REPLACE GLOBAL TEMP VIEW pgc_nulls AS
      SELECT CAST(1 AS BIGINT) AS id, 'a' AS v
      UNION ALL SELECT CAST(2 AS BIGINT), 'b'
      UNION ALL SELECT CAST(NULL AS BIGINT), 'n1'
      UNION ALL SELECT CAST(NULL AS BIGINT), 'n2'""")
    val df = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "global_temp.pgc_nulls", Seq("id", "v"), "id", 2)
    assert(df.count() === 4)
    assert(df.filter(org.apache.spark.sql.functions.col("id").isNull).count() === 2)
    // and the pushdown still composes with the NULL leg's parentheses
    val f = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "global_temp.pgc_nulls", Seq("id", "v"), "id", 2, where = Some("v <> 'n1'"))
    assert(f.count() === 3)
  }

  test("empty remote table: schema discovered, zero rows, no bounds NPE") {
    spark.sql("""CREATE OR REPLACE GLOBAL TEMP VIEW pgc_empty AS
      SELECT CAST(1 AS BIGINT) AS id, 'x' AS v WHERE 1 = 0""")
    val df = PgFederation.pgTable(spark, "127.0.0.1", server.boundPort,
      "global_temp.pgc_empty", Seq("id", "v"), "id", 3)
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.count() === 0)
  }

  test("copyOut: text-format escaping round-trips tabs, newlines, backslashes, NULLs, empties") {
    spark.sql("""
      CREATE OR REPLACE GLOBAL TEMP VIEW pgc_copy AS SELECT * FROM VALUES
        (1, 'plain'),
        (2, 'tab\there'),
        (3, 'new\nline'),
        (4, 'back\\slash'),
        (5, CAST(NULL AS STRING)),
        (6, '')
      AS t(id, v)""")
    val c = new PgClient("127.0.0.1", server.boundPort)
    try {
      val rows = c.copyOut("SELECT id, v FROM global_temp.pgc_copy ORDER BY id")
      assert(rows === Vector(
        Vector("1", "plain"),
        Vector("2", "tab\there"),
        Vector("3", "new\nline"),
        Vector("4", "back\\slash"),
        Vector("5", null),
        Vector("6", "")))
      // the same rows through DataRow framing decode identically
      val viaQuery = c.query("SELECT id, v FROM global_temp.pgc_copy ORDER BY id")._2
      assert(rows === viaQuery)
      // a server error mid-COPY surfaces and the connection stays usable
      val e = intercept[RuntimeException](c.copyOut("SELECT * FROM no_such_copy_table"))
      assert(e.getMessage.toLowerCase.contains("no_such_copy_table"), e.getMessage)
      assert(c.query("SELECT 7 AS v")._2 === Vector(Vector("7")))
    } finally c.close()
  }

  test("splitCopyLine decodes the full pg control-char escape set a real server emits") {
    val c = new PgClient("127.0.0.1", server.boundPort)
    try {
      // our own server never writes \b \f \v — a real Postgres does
      assert(c.splitCopyLine("a\\bb\tc\\fd\te\\vf") ===
        Vector("a\bb", "c\fd", "e\u000Bf"))
      assert(c.splitCopyLine("\\N\t\t\\\\N") === Vector(null, "", "\\N"))
      // trailing empty field survives; unknown escapes pass through verbatim
      assert(c.splitCopyLine("x\t") === Vector("x", ""))
      assert(c.splitCopyLine("\\q") === Vector("\\q"))
    } finally c.close()
  }

  test("copyIn: writes land typed, escaping is splitCopyLine's exact inverse, errors drain clean") {
    val loc = java.nio.file.Files.createTempDirectory("graft-copyin-spec")
    spark.sql(s"""CREATE TABLE pgc_sink (id BIGINT, v STRING, d DOUBLE)
      USING parquet LOCATION '$loc'""")
    val c = new PgClient("127.0.0.1", server.boundPort)
    try {
      val n = c.copyIn("pgc_sink", Seq("id", "v", "d"), Iterator(
        Seq("1", "plain", "1.5"),
        Seq("2", "tab\there", "0.1"),
        Seq("3", "new\nline", null),
        Seq("4", "back\\slash and \\N literal", "-0.0"),
        Seq("5", null, "2.5")))
      assert(n === 5L)
      // read back over the wire: COPY text escaping must round-trip
      val back = c.copyOut("SELECT id, v, d FROM pgc_sink ORDER BY id")
      assert(back === Vector(
        Vector("1", "plain", "1.5"),
        Vector("2", "tab\there", "0.1"),
        Vector("3", "new\nline", null),
        Vector("4", "back\\slash and \\N literal", "-0.0"),
        Vector("5", null, "2.5")))
      // a bad target errors with the server's message; connection lives
      val e = intercept[RuntimeException](
        c.copyIn("no_such_sink", Seq("id"), Iterator.empty))
      assert(e.getMessage.toLowerCase.contains("no_such_sink"), e.getMessage)
      assert(c.query("SELECT 9 AS v")._2 === Vector(Vector("9")))
      // escapeCopy is the exact inverse of splitCopyLine per field
      val tricky = Seq("a\tb", "c\nd", "e\\f", "\\N", "", "plain")
      assert(c.splitCopyLine(tricky.map(c.escapeCopy).mkString("\t")) === tricky.toVector)
    } finally {
      c.close()
      spark.sql("DROP TABLE IF EXISTS pgc_sink")
    }
  }

  test("copyIn: caller-side mid-stream failure sends CopyFail — no partial append, wire stays usable") {
    val loc = java.nio.file.Files.createTempDirectory("graft-copyfail-spec")
    spark.sql(s"CREATE TABLE pgc_fail (id BIGINT, v STRING) USING parquet LOCATION '$loc'")
    val c = new PgClient("127.0.0.1", server.boundPort)
    try {
      val boom = new RuntimeException("client iterator blew up")
      val it = Iterator.tabulate(10000) { i =>
        if (i == 7000) throw boom else Seq(i.toString, s"v$i")
      }
      val e = intercept[RuntimeException](c.copyIn("pgc_fail", Seq("id", "v"), it))
      assert(e eq boom)
      // the COPY was aborted all-or-nothing: nothing landed...
      assert(spark.table("pgc_fail").count() === 0L)
      // ...and the SAME connection is past the subprotocol, usable
      assert(c.query("SELECT 5 AS v")._2 === Vector(Vector("5")))
    } finally {
      c.close()
      spark.sql("DROP TABLE IF EXISTS pgc_fail")
    }
  }

  test("writeTable: an unsupported column type fails fast client-side, not as silent NULLs") {
    val loc = java.nio.file.Files.createTempDirectory("graft-badtype-spec")
    spark.sql(s"CREATE TABLE pgc_bad (id BIGINT, v STRING) USING parquet LOCATION '$loc'")
    try {
      val src = spark.sql("SELECT CAST(1 AS BIGINT) AS id, array('a', 'b') AS v")
      val e = intercept[org.apache.spark.SparkException](
        PgFederation.writeTable(src, "127.0.0.1", server.boundPort, "pgc_bad", 1))
      assert(e.getMessage.contains("unsupported value type for COPY write-back") ||
        Option(e.getCause).exists(_.getMessage.contains("unsupported value type")),
        e.getMessage)
      assert(spark.table("pgc_bad").count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS pgc_bad")
  }

  test("cross-connection visibility: a connection that cached the table sees another's COPY commit") {
    val loc = java.nio.file.Files.createTempDirectory("graft-vis-spec")
    spark.sql(s"CREATE TABLE pgc_vis (id BIGINT) USING parquet LOCATION '$loc'")
    val a = new PgClient("127.0.0.1", server.boundPort)
    val b = new PgClient("127.0.0.1", server.boundPort)
    try {
      // A SELECTs first — its session now holds a cached (empty) file
      // listing of the relation
      assert(a.query("SELECT CAST(count(*) AS BIGINT) AS n FROM pgc_vis")._2
        === Vector(Vector("0")))
      // B commits a COPY on its own connection
      assert(b.copyIn("pgc_vis", Seq("id"), Iterator(Seq("1"), Seq("2"))) === 2L)
      // A's NEXT statement must see B's committed rows without any
      // REFRESH TABLE — pg's cross-session visibility (the server
      // invalidates every live session's cached relation on commit)
      assert(a.query("SELECT CAST(count(*) AS BIGINT) AS n FROM pgc_vis")._2
        === Vector(Vector("2")))
      // and the embedded root-session reader sees them too
      assert(spark.table("pgc_vis").count() === 2L)
    } finally {
      a.close(); b.close()
      spark.sql("DROP TABLE IF EXISTS pgc_vis")
    }
  }

  test("cross-connection visibility: a row-REMOVING write invalidates other connections' cached listings") {
    // Spark rejects TRUNCATE on external (explicit-LOCATION) tables
    // and self-referential overwrites, so the row-removal flavor here
    // is INSERT OVERWRITE from a literal — same writeTarget class,
    // same stale-listing risk (the OLD files are deleted; a cached
    // listing would throw FileNotFound, not read the new row).
    // TRUNCATE parsing itself is unit-pinned in CoreSpec.
    val loc = java.nio.file.Files.createTempDirectory("graft-trunc-spec")
    spark.sql(s"CREATE TABLE pgc_tr (id BIGINT) USING parquet LOCATION '$loc'")
    val a = new PgClient("127.0.0.1", server.boundPort)
    val b = new PgClient("127.0.0.1", server.boundPort)
    try {
      assert(b.copyIn("pgc_tr", Seq("id"), Iterator(Seq("1"), Seq("2"))) === 2L)
      // A caches the 2-row listing
      assert(a.query("SELECT CAST(count(*) AS BIGINT) AS n FROM pgc_tr")._2
        === Vector(Vector("2")))
      // B overwrites to empty; A's next statement must see 0 rows —
      // NOT a stale-listing FileNotFound / "REFRESH TABLE" error
      b.query("INSERT OVERWRITE TABLE pgc_tr SELECT CAST(9 AS BIGINT) AS id")
      assert(a.query(
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(id) AS BIGINT) AS m FROM pgc_tr")._2
        === Vector(Vector("1", "9")))
    } finally {
      a.close(); b.close()
      spark.sql("DROP TABLE IF EXISTS pgc_tr")
    }
  }

  test("writeTable: partitioned COPY write-back equals the source, concurrent commits serialize") {
    val loc = java.nio.file.Files.createTempDirectory("graft-wt-spec")
    spark.sql(s"""CREATE TABLE pgc_wt (n_nationkey INT, n_name STRING, n_regionkey INT)
      USING parquet LOCATION '$loc'""")
    try {
      val src = spark.read.parquet(s"$Sf/nation.parquet")
        .selectExpr("n_nationkey", "n_name", "n_regionkey")
      // 2 partitions (the local[4] budget) = 2 concurrent connections
      // = 2 COPY commits into ONE table — exercises the per-table
      // commit lock within the self-federation slot budget, see
      // graft.queries.Federated.selfServeSlots
      val writers = graft.queries.Federated.selfServeSlots(spark)
      assert(writers === 2)
      val n = PgFederation.writeTable(src, "127.0.0.1", server.boundPort, "pgc_wt", writers)
      assert(n === src.count())
      val back = spark.table("pgc_wt").orderBy("n_nationkey").collect().map(_.toSeq).toSeq
      val want = src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
      assert(back === want)
    } finally spark.sql("DROP TABLE IF EXISTS pgc_wt")
  }

  test("writeTable: DECIMAL/DATE/TIMESTAMP/BOOLEAN/BINARY land byte-equal after a wire round trip") {
    // the render cases existed; this proves them OVER THE WIRE — write
    // through COPY FROM STDIN, read back through both the server-side
    // table and a wire SELECT, value-identical on every typed column
    val loc = java.nio.file.Files.createTempDirectory("graft-wt-typed")
    spark.sql(s"""CREATE TABLE pgc_wt_typed (
        id BIGINT, dec DECIMAL(10,2), dt DATE, ts TIMESTAMP,
        b BOOLEAN, bin BINARY, s STRING, d DOUBLE)
      USING parquet LOCATION '$loc'""")
    try {
      val src = spark.sql("""SELECT * FROM VALUES
          (CAST(1 AS BIGINT), CAST(12.34 AS DECIMAL(10,2)), DATE'2024-02-29',
           TIMESTAMP'2024-02-29 23:59:58.123456', true, X'00FF7A',
           'tab\there', CAST(1.5 AS DOUBLE)),
          (CAST(2 AS BIGINT), CAST(-0.05 AS DECIMAL(10,2)), DATE'1970-01-01',
           TIMESTAMP'2001-01-01 00:00:00', false, X'',
           CAST(NULL AS STRING), CAST(-2.25E-3 AS DOUBLE)),
          (CAST(3 AS BIGINT), CAST(NULL AS DECIMAL(10,2)), CAST(NULL AS DATE),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BOOLEAN), CAST(NULL AS BINARY),
           'plain', CAST(NULL AS DOUBLE))
        AS t(id, dec, dt, ts, b, bin, s, d)""")
      val n = PgFederation.writeTable(src, "127.0.0.1", server.boundPort, "pgc_wt_typed", 1)
      assert(n === 3)
      // server-side readback: typed equality straight from the table
      val back = spark.table("pgc_wt_typed").orderBy("id").collect().map(_.toSeq).toSeq
      val want = src.orderBy("id").collect().map(_.toSeq).toSeq
      assert(back.map(_.map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }) === want.map(_.map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }))
      // wire readback: the text forms a foreign client would see
      val c = new PgClient("127.0.0.1", server.boundPort)
      try {
        val rows = c.query(
          "SELECT id, dec, dt, ts, b, bin, s, d FROM pgc_wt_typed ORDER BY id")._2
        assert(rows(0) === Vector("1", "12.34", "2024-02-29",
          "2024-02-29 23:59:58.123456", "t", "\\x00ff7a", "tab\there", "1.5"))
        assert(rows(1)(1) === "-0.05")
        assert(rows(1)(4) === "f")
        assert(rows(1)(5) === "\\x") // empty bytea, not NULL
        assert(rows(1)(6) === null)
        assert(rows(2).drop(1) === Vector(null, null, null, null, null, "plain", null))
      } finally c.close()
    } finally spark.sql("DROP TABLE IF EXISTS pgc_wt_typed")
  }

  test("SCRAM login: right password queries, wrong password and no password fail, mutual auth") {
    val secured = PgWire.start(spark, 0, password = Some("s3cret"))
    try {
      // the full live exchange: SASL(10) → Continue(11) → Final(12) → Ok(0)
      val c = new PgClient("127.0.0.1", secured.boundPort, password = Some("s3cret"))
      try assert(c.query("SELECT 1 AS one")._2 === Vector(Vector("1")))
      finally c.close()
      // wrong password: the server rejects the proof with 28P01
      val bad = intercept[RuntimeException](
        new PgClient("127.0.0.1", secured.boundPort, password = Some("nope")))
      assert(bad.getMessage.toLowerCase.contains("authentication"), bad.getMessage)
      // no password configured: the client refuses before sending SASL
      val none = intercept[RuntimeException](
        new PgClient("127.0.0.1", secured.boundPort))
      assert(none.getMessage.contains("no password was configured"), none.getMessage)
    } finally secured.close()
  }

  // ---- foreign-server quirk emulation (r19 verdict #4) -------------
  // The wire-federation path can never meet a real external PostgreSQL
  // in this sandbox (zero egress), so the classic interop traps a
  // foreign implementation springs — ParameterStatus storms and
  // NoticeResponse mid-query, ErrorResponse mid-COPY-IN (with and
  // without a trailing ReadyForQuery), EmptyQueryResponse — are
  // emulated by a scripted raw-socket server speaking just enough v3.

  /** One-connection scripted v3 server: answers the startup with
    * Ok+ReadyForQuery, then hands each received frame (type, payload)
    * to `script`, which writes raw response frames. Runs on a daemon
    * thread; close() tears it down.
    */
  private final class QuirkServer(
      script: (Char, Array[Byte], java.io.DataOutputStream) => Boolean)
      extends AutoCloseable {
    private val srv = new java.net.ServerSocket(
      0, 1, java.net.InetAddress.getLoopbackAddress)
    val port: Int = srv.getLocalPort
    private val t = new Thread(() => {
      try {
        val s = srv.accept()
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(s.getInputStream))
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(s.getOutputStream))
        // startup: length-prefixed, no type byte
        val len = in.readInt()
        in.readFully(new Array[Byte](len - 4))
        out.writeByte('R'); out.writeInt(8); out.writeInt(0) // AuthenticationOk
        QuirkServer.ready(out); out.flush()
        var open = true
        while (open) {
          val tpe = in.read()
          if (tpe < 0) open = false
          else {
            val l = in.readInt()
            val p = new Array[Byte](l - 4)
            in.readFully(p)
            open = script(tpe.toChar, p, out)
            out.flush()
          }
        }
        s.close()
      } catch { case _: Throwable => () }
    }, s"pg-quirk-$port")
    t.setDaemon(true)
    t.start()
    override def close(): Unit = { try srv.close() catch { case _: Throwable => () } }
  }

  private object QuirkServer {
    def cstr(s: String): Array[Byte] =
      (s.getBytes("UTF-8") :+ 0.toByte)
    def msg(out: java.io.DataOutputStream, tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
    }
    def ready(out: java.io.DataOutputStream): Unit =
      msg(out, 'Z', Array('I'.toByte))
    def paramStatus(out: java.io.DataOutputStream, k: String, v: String): Unit =
      msg(out, 'S', cstr(k) ++ cstr(v))
    def notice(out: java.io.DataOutputStream, m: String): Unit =
      msg(out, 'N', ('S'.toByte +: cstr("NOTICE")) ++ ('M'.toByte +: cstr(m)) :+ 0.toByte)
    def error(out: java.io.DataOutputStream, m: String): Unit =
      msg(out, 'E', ('S'.toByte +: cstr("ERROR")) ++ ('M'.toByte +: cstr(m)) :+ 0.toByte)
    /** RowDescription for one text column named `name` (oid 25). */
    def rowDesc1(out: java.io.DataOutputStream, name: String): Unit = {
      val bb = java.nio.ByteBuffer.allocate(2 + name.length + 1 + 18)
      bb.putShort(1).put(cstr(name)).putInt(0).putShort(0)
        .putInt(25).putShort(-1).putInt(-4).putShort(0)
      msg(out, 'T', java.util.Arrays.copyOf(bb.array(), bb.position()))
    }
    def dataRow1(out: java.io.DataOutputStream, v: String): Unit = {
      val b = v.getBytes("UTF-8")
      val bb = java.nio.ByteBuffer.allocate(2 + 4 + b.length)
      bb.putShort(1).putInt(b.length).put(b)
      msg(out, 'D', bb.array())
    }
    def commandComplete(out: java.io.DataOutputStream, tag: String): Unit =
      msg(out, 'C', cstr(tag))
  }

  test("quirk: ParameterStatus storm + NoticeResponse mid-query are framing, not data") {
    import QuirkServer._
    val shim = new QuirkServer({ (tpe, _, out) =>
      if (tpe == 'Q') {
        // a real server can interleave S and N anywhere in the response
        paramStatus(out, "application_name", "storm1")
        rowDesc1(out, "v")
        notice(out, "heads up: mid-query notice")
        dataRow1(out, "42")
        paramStatus(out, "TimeZone", "UTC")
        notice(out, "another one")
        commandComplete(out, "SELECT 1")
        ready(out)
        true
      } else tpe != 'X'
    })
    try {
      val c = new PgClient("127.0.0.1", shim.port, timeoutMs = 10000)
      try {
        val (fields, rows) = c.query("SELECT 42 AS v")
        assert(fields === Vector(("v", 25)))
        assert(rows === Vector(Vector("42")))
        // connection still usable after the storm
        assert(c.query("SELECT 42 AS v")._2 === Vector(Vector("42")))
      } finally c.close()
    } finally shim.close()
  }

  test("quirk: EmptyQueryResponse completes cleanly — no rows, no hang, wire reusable") {
    import QuirkServer._
    val shim = new QuirkServer({ (tpe, p, out) =>
      if (tpe == 'Q') {
        val sql = new String(p, 0, math.max(0, p.length - 1), "UTF-8")
        if (sql.trim.isEmpty) { msg(out, 'I', Array.emptyByteArray); ready(out) }
        else { rowDesc1(out, "v"); dataRow1(out, "7"); commandComplete(out, "SELECT 1"); ready(out) }
        true
      } else tpe != 'X'
    })
    try {
      val c = new PgClient("127.0.0.1", shim.port, timeoutMs = 10000)
      try {
        val (fields, rows) = c.query("")
        assert(fields.isEmpty && rows.isEmpty)
        assert(c.query("SELECT 7 AS v")._2 === Vector(Vector("7")))
      } finally c.close()
    } finally shim.close()
  }

  test("quirk: ErrorResponse mid-COPY-IN drains and surfaces the server error, wire reusable") {
    import QuirkServer._
    val sawFrames = new java.util.concurrent.atomic.AtomicReference[List[Char]](Nil)
    val shim = new QuirkServer({ (tpe, p, out) =>
      sawFrames.updateAndGet(tpe :: _)
      tpe match {
        case 'Q' if new String(p, "UTF-8").toUpperCase.contains("FROM STDIN") =>
          // CopyInResponse: text format, 1 column
          val bb = java.nio.ByteBuffer.allocate(1 + 2 + 2)
          bb.put(0.toByte).putShort(1).putShort(0)
          msg(out, 'G', bb.array())
          true
        case 'Q' =>
          rowDesc1(out, "v"); dataRow1(out, "9"); commandComplete(out, "SELECT 1"); ready(out)
          true
        case 'd' =>
          // the first data frame violates a fake constraint: error out
          // mid-subprotocol, like a real server aborting the COPY
          error(out, "value too long for type character varying(1)")
          true
        case 'c' | 'f' =>
          // server already errored; the end-of-copy frame just closes
          // the subprotocol — answer with ReadyForQuery only
          ready(out)
          true
        case 'X' => false
        case _   => true
      }
    })
    try {
      val c = new PgClient("127.0.0.1", shim.port, timeoutMs = 10000)
      try {
        val e = intercept[RuntimeException](
          c.copyIn("t", Seq("v"), Iterator(Seq("toolong"))))
        assert(e.getMessage.contains("value too long"), e.getMessage)
        // the client finished the subprotocol (CopyDone or CopyFail
        // reached the server) and the wire is reusable
        assert(sawFrames.get().exists(t => t == 'c' || t == 'f'), sawFrames.get())
        assert(c.query("SELECT 9 AS v")._2 === Vector(Vector("9")))
      } finally c.close()
    } finally shim.close()
  }

  test("quirk: ErrorResponse then hard close (no ReadyForQuery) reports the server error, not EOF") {
    import QuirkServer._
    val shim = new QuirkServer({ (tpe, p, out) =>
      tpe match {
        case 'Q' if new String(p, "UTF-8").toUpperCase.contains("FROM STDIN") =>
          // refuse the COPY outright and drop the link without Z — the
          // rudest spelling a foreign server can manage
          error(out, "permission denied for table t")
          out.flush()
          false
        case _ => tpe != 'X'
      }
    })
    try {
      val c = new PgClient("127.0.0.1", shim.port, timeoutMs = 10000)
      try {
        val e = intercept[RuntimeException](
          c.copyIn("t", Seq("v"), Iterator(Seq("x"))))
        assert(e.getMessage.contains("permission denied"), e.getMessage)
      } finally c.close()
    } finally shim.close()
  }
}
