package graft.sources

import graft.Tables
import graft.functions.Exact._
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface beyond parquet: CSV and JSON-lines, always with
  * EXPLICIT schemas on read (schema inference costs a full extra pass
  * over the data and types drift between runs — at 100 TB both are
  * unacceptable; the reference's analogue is its fixed block layout,
  * /root/reference/src/opusdb/memory/page.clj:16-38: readers never guess
  * the shape).
  *
  * Timestamps round-trip via an explicit ISO-8601 micros pattern so
  * CSV/JSON text forms are stable across engines and sessions (UTC is
  * pinned session-wide in build.sbt).
  */
object Formats {

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", TsFmt)
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", TsFmt)
      .csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write
      .mode("overwrite")
      .option("timestampFormat", TsFmt)
      .json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("timestampFormat", TsFmt)
      .json(path)

  /** ORC: the other columnar format with footer statistics + predicate
    * pushdown — same explicit-schema discipline (binary formats carry
    * their schema, but pinning it keeps reader behavior contractual).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  // ---------------------------------------------------------------------
  // Avro: the remaining common interchange format of a real lake. The
  // spark-avro connector isn't on this classpath, so the sink/source ride
  // the PUBLIC avro-mapred container I/O (AvroKeyOutputFormat /
  // AvroKeyInputFormat via the standard newAPIHadoop RDD bridge — the
  // same route Spark itself used pre-connector). Fully distributed: one
  // container file per partition on write, one task per block on read;
  // nothing driver-side but the schema string.
  // ---------------------------------------------------------------------

  /** Spark→Avro schema for the flat primitive types the engine's tables
    * carry. Timestamps intentionally absent: callers export them as
    * epoch-micros longs (explicit, engine-neutral — the same discipline
    * as the CSV/JSON ISO pattern).
    */
  private[graft] def avroSchemaFor(st: StructType, name: String): Schema = {
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val t = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case other => throw new IllegalArgumentException(
          s"avro sink: unsupported type $other for field ${f.name} " +
            "(export timestamps as epoch-micros longs)")
      }
      fields.add(new Schema.Field(f.name, t, null, null))
    }
    val rec = Schema.createRecord(name, null, "graft.sources", false)
    rec.setFields(fields)
    rec
  }

  def writeAvro(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val avroJson = avroSchemaFor(df.schema, "GraftRow").toString
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(avroJson))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(job.getConfiguration)
    if (fs.exists(p)) fs.delete(p, true) // overwrite semantics
    val n = df.schema.length
    df.rdd
      .mapPartitions { it =>
        // parse once per task; GenericRecord flows straight into the
        // OutputFormat (no Spark serialization — map-side write only)
        val schema = new Schema.Parser().parse(avroJson)
        it.map { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < n) { rec.put(i, row.get(i)); i += 1 }
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(
        path,
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        classOf[AvroKeyOutputFormat[GenericRecord]],
        job.getConfiguration)
  }

  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val fieldCount = schema.length
    val rows = spark.sparkContext
      .newAPIHadoopFile(
        path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable])
      .map { case (k, _) =>
        // materialize IN the map call: the record reader reuses its datum
        val rec = k.datum()
        val vals = new Array[Any](fieldCount)
        var i = 0
        while (i < fieldCount) {
          vals(i) = rec.get(i) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case v => v
          }
          i += 1
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
    spark.createDataFrame(rows, schema)
  }

  // ---------------------------------------------------------------------
  // q_csv_roundtrip — the CSV source/sink under the oracle gate: a
  // lineitem slice is written to CSV (header + explicit timestamp
  // format), read back with the EXPLICIT schema, and aggregated; the
  // oracle computes the same aggregate from the original parquet — so
  // the gate proves the text round-trip is value-exact (doubles print
  // shortest-round-trip, timestamps pin the ISO pattern), not just
  // schema-shaped. The write lands in ONE per-JVM temp dir (overwritten
  // on re-invocation, deleted at exit — Bench runs every query twice,
  // so per-call dirs would pile up in /tmp). The driver-local path is a
  // local-mode testing convenience; at scale the export→re-ingest path
  // writes to a shared filesystem the same way — one distributed write
  // + one scan, nothing driver-side.
  // ---------------------------------------------------------------------
  /** One temp dir per JVM and roundtrip format, overwritten on
    * re-invocation and deleted at exit.
    */
  private[graft] def roundtripDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_${name}_rt")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }

  private lazy val csvRoundtripDir: String = roundtripDir("csv")
  private lazy val jsonRoundtripDir: String = roundtripDir("json")
  private lazy val orcRoundtripDir: String = roundtripDir("orc")
  private lazy val avroRoundtripDir: String = roundtripDir("avro")

  val csvRoundtrip: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = csvRoundtripDir
    val slice = Tables
      .lineitem(s, d)
      .filter(col("l_orderkey") < 2000)
      .select(
        col("l_orderkey"),
        col("l_quantity"),
        col("l_extendedprice"),
        col("l_returnflag"),
        col("l_shipdate"))
    writeCsv(slice, tmp)
    readCsv(s, tmp, slice.schema)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        countDistinct(col("l_shipdate")).as("d_ship"))
      .orderBy(col("l_returnflag"))
  }

  val csvRoundtripSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |${sqlDsum("l_extendedprice")} AS sum_price,
       |count(DISTINCT l_shipdate) AS d_ship
       |FROM lineitem WHERE l_orderkey < 2000
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q_json_roundtrip — the JSON-lines source/sink under the oracle
  // gate, on the WORST-case columns: a micros timestamp (explicit ISO
  // pattern) and `props`, a string that itself CONTAINS JSON (quotes
  // and braces must survive the sink's escaping and the source's
  // unescaping byte-exactly). The gate pins that with an h32 checksum
  // sum over the round-tripped props and micros-exact min/max
  // timestamps; the oracle computes the identical aggregate from the
  // original parquet.
  // ---------------------------------------------------------------------
  val jsonRoundtrip: (SparkSession, String) => DataFrame = (s, d) => {
    import graft.functions.Hashing.h32
    val tmp = jsonRoundtripDir
    val slice = Tables
      .events(s, d)
      .filter(col("event_id") <= 5000)
      .select(
        col("event_id"),
        col("ts"),
        col("user_id"),
        col("event_type"),
        col("value"),
        col("props"))
    writeJson(slice, tmp)
    readJson(s, tmp, slice.schema)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("value_total"),
        countDistinct(col("user_id")).as("d_users"),
        min(unix_micros(col("ts"))).as("ts_min_us"),
        max(unix_micros(col("ts"))).as("ts_max_us"),
        sum(h32(9, col("props"))).as("props_checksum"))
      .orderBy(col("event_type"))
  }

  val jsonRoundtripSql: String =
    s"""SELECT event_type, count(*) AS n,
       |${sqlDsum("value")} AS value_total,
       |count(DISTINCT user_id) AS d_users,
       |min(epoch_us(ts)) AS ts_min_us, max(epoch_us(ts)) AS ts_max_us,
       |CAST(SUM(${graft.functions.Hashing.sqlH32(9, "props")}) AS BIGINT)
       |  AS props_checksum
       |FROM events WHERE event_id <= 5000
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_orc_roundtrip — the ORC source/sink under the oracle gate: the
  // other columnar format (footer stats + predicate pushdown), written
  // and read back with the explicit schema, decimals-as-doubles and
  // dates surviving bit-exactly.
  // ---------------------------------------------------------------------
  val orcRoundtrip: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = orcRoundtripDir
    val slice = Tables
      .orders(s, d)
      .filter(col("o_orderkey") < 5000)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice"),
        col("o_orderdate"))
    writeOrc(slice, tmp)
    readOrc(s, tmp, slice.schema)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderdate")).as("d_first"),
        max(col("o_orderdate")).as("d_last"))
      .orderBy(col("o_orderpriority"))
  }

  val orcRoundtripSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |${sqlDsum("o_totalprice")} AS sum_price,
       |min(o_orderdate) AS d_first, max(o_orderdate) AS d_last
       |FROM orders WHERE o_orderkey < 5000
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q_avro_roundtrip — the Avro row-format sink/source under the oracle
  // gate: a customer slice (long / int / double / string columns plus a
  // timestamp-as-micros long, the sink's documented export discipline)
  // written to Avro container files, read back with the explicit schema,
  // aggregated; the oracle computes the identical aggregate from the
  // original parquet, so the gate proves the binary round-trip is
  // value-exact across every primitive the sink supports.
  // ---------------------------------------------------------------------
  val avroRoundtrip: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = avroRoundtripDir
    val slice = Tables
      .customer(s, d)
      .filter(col("c_custkey") < 5000)
      .join(
        broadcast(Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(max(unix_micros(col("o_orderdate").cast("timestamp")))
            .as("last_order_us"))),
        col("c_custkey") === col("o_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_nationkey"),
        col("c_acctbal"),
        col("c_mktsegment"),
        col("last_order_us"))
    writeAvro(slice, tmp)
    readAvro(s, tmp, slice.schema)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("bal_total"),
        countDistinct(col("c_nationkey")).as("d_nations"),
        min(col("c_custkey")).as("k_min"),
        max(col("c_custkey")).as("k_max"),
        sum(length(col("c_name"))).as("name_chars"),
        max(col("last_order_us")).as("last_us"))
      .orderBy(col("c_mktsegment"))
  }

  val avroRoundtripSql: String =
    s"""SELECT c_mktsegment, count(*) AS n,
       |${sqlDsum("c_acctbal")} AS bal_total,
       |count(DISTINCT c_nationkey) AS d_nations,
       |min(c_custkey) AS k_min, max(c_custkey) AS k_max,
       |CAST(SUM(length(c_name)) AS BIGINT) AS name_chars,
       |max(last_order_us) AS last_us
       |FROM (SELECT c.*, o.last_order_us
       |  FROM customer c
       |  JOIN (SELECT o_custkey, max(epoch_us(o_orderdate)) AS last_order_us
       |        FROM orders GROUP BY o_custkey) o
       |    ON c.c_custkey = o.o_custkey
       |  WHERE c_custkey < 5000)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q_parquet_zstd — the parquet sink under a NON-DEFAULT codec (zstd,
  // the modern lake default: ~snappy decode speed at notably better
  // ratios — at 100 TB the codec choice is real money). A lineitem slice
  // is written with compression=zstd, read back, and aggregated
  // value-exact against the original-parquet oracle; SourcesSpec
  // additionally asserts from the written files' FOOTERS that every
  // column chunk really is ZSTD (an unavailable codec silently falling
  // back would otherwise still pass the value gate).
  // ---------------------------------------------------------------------
  private lazy val zstdRoundtripDir: String = roundtripDir("zstd")

  def writeParquet(df: DataFrame, path: String, codec: String): Unit =
    df.write.mode("overwrite").option("compression", codec).parquet(path)

  /** Distinct codec names used by the written files' column chunks, read
    * from the parquet footers — the honest "did the codec apply" check.
    */
  private[graft] def parquetCodecs(
      spark: SparkSession,
      path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    // footer metadata only: the context's conf, as MergeSink's own
    // footer reads use, not a copy of the session's
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root)
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
      .flatMap { p =>
        graft.ParquetFooters.read(p, conf).getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.toString))
      }
      .toSet
  }

  val zstdRoundtrip: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = zstdRoundtripDir
    val slice = Tables
      .lineitem(s, d)
      .filter(col("l_orderkey") < 4000)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity"),
        col("l_extendedprice"),
        col("l_returnflag"),
        col("l_shipdate"))
    writeParquet(slice, tmp, "zstd")
    s.read.schema(slice.schema).parquet(tmp)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_linenumber").cast("long")).as("sum_line"),
        dsum(col("l_extendedprice")).as("sum_price"),
        min(col("l_shipdate")).as("d_first"),
        max(col("l_shipdate")).as("d_last"))
      .orderBy(col("l_returnflag"))
  }

  val zstdRoundtripSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_line,
       |${sqlDsum("l_extendedprice")} AS sum_price,
       |min(l_shipdate) AS d_first, max(l_shipdate) AS d_last
       |FROM lineitem WHERE l_orderkey < 4000
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q_schema_evolution — reading a lake path whose files carry DIFFERENT
  // (compatible) schemas, the normal state of any long-lived dataset: a
  // producer adds a column and history keeps the old files. Two parquet
  // generations are written from orders — v1 without `o_priority_len`,
  // v2 with it — and read back through `mergeSchema=true`, which unions
  // the file schemas and nulls the missing column in v1 rows (exactly
  // DuckDB's `union_by_name`, so the twin is the same two-generation
  // UNION over the original table).
  //
  // Scale notes: mergeSchema=true footer-merges ALL files — O(files) at
  // planning time, which is why it's off by default; a production lake
  // pins the merged schema in a catalog instead. Here the merge IS the
  // feature under test. Round-8's lesson generalized: schema drift must
  // be an handled input, not an assumed-away impossibility.
  // ---------------------------------------------------------------------
  private lazy val evolutionDir: String = roundtripDir("evolve")

  val schemaEvolution: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = evolutionDir
    val orders = Tables.orders(s, d)
    // generation 1: the original producer schema (files live under the
    // same root a real lake would keep them — subdirs only for writing
    // convenience; the reader globs both).
    val v1 = orders
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // generation 2: producer added a derived column
    val v2 = orders
      .filter(col("o_orderkey") % 2 === 1)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        length(col("o_orderpriority")).cast("long").as("o_priority_len"))
    v1.write.mode("overwrite").parquet(s"$tmp/gen=1")
    v2.write.mode("overwrite").parquet(s"$tmp/gen=2")
    s.read
      .option("mergeSchema", "true")
      .parquet(s"$tmp/gen=1", s"$tmp/gen=2")
      .groupBy((col("o_custkey") % 10).as("cust_bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_priority_len").isNull, 1L).otherwise(0L))
          .as("n_old_schema"),
        sum(coalesce(col("o_priority_len"), lit(0L))).as("sum_priority_len"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("cust_bucket"))
  }

  val schemaEvolutionSql: String =
    s"""SELECT cust_bucket, count(*) AS n_orders,
       |CAST(SUM(CASE WHEN o_priority_len IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old_schema,
       |CAST(SUM(COALESCE(o_priority_len, 0)) AS BIGINT) AS sum_priority_len,
       |${sqlDsum("o_totalprice")} AS sum_price
       |FROM (
       |  SELECT o_custkey % 10 AS cust_bucket, o_totalprice,
       |         CAST(NULL AS BIGINT) AS o_priority_len
       |  FROM orders WHERE o_orderkey % 2 = 0
       |  UNION ALL
       |  SELECT o_custkey % 10, o_totalprice, CAST(length(o_orderpriority) AS BIGINT)
       |  FROM orders WHERE o_orderkey % 2 = 1)
       |GROUP BY cust_bucket ORDER BY cust_bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_json_malformed — PERMISSIVE ingestion of a dirty JSON-lines feed:
  // real event feeds always contain some syntactically broken lines
  // (truncated writes, producer bugs), and at 100 TB "fail the job" is
  // not an option while "silently drop" is not auditable. A feed is
  // generated with a deterministic subset of lines corrupted
  // (event_id ≡ 3 mod 7 → truncated JSON), read back in PERMISSIVE mode
  // with a `_corrupt_record` column, and aggregated: corrupt rows land
  // in an explicit '_corrupt' bucket with their raw text retained, good
  // rows aggregate normally. The oracle derives the same partition
  // arithmetic straight from the events table — so the gate proves the
  // reader classifies exactly the right rows as corrupt, value-exactly
  // parses the rest, and loses nothing.
  // ---------------------------------------------------------------------
  private lazy val malformedDir: String = roundtripDir("malformed")

  val jsonMalformed: (SparkSession, String) => DataFrame = (s, d) => {
    val tmp = malformedDir
    val lines = Tables
      .events(s, d)
      .select(
        when(
          col("event_id") % 7 === 3,
          concat(lit("{\"event_id\": "), col("event_id"), lit(", \"broken")))
          .otherwise(to_json(struct(
            col("event_id"),
            col("event_type"),
            col("user_id"),
            col("value"))))
          .as("value"))
    lines.write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("_corrupt_record", StringType)))
    s.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .groupBy(coalesce(col("event_type"), lit("_corrupt")).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("value_total"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"))
      .orderBy(col("bucket"))
  }

  val jsonMalformedSql: String =
    s"""SELECT
       |  CASE WHEN event_id % 7 = 3 THEN '_corrupt' ELSE event_type END AS bucket,
       |  count(*) AS n,
       |  ${sqlDsum("CASE WHEN event_id % 7 = 3 THEN NULL ELSE value END")} AS value_total,
       |  CAST(SUM(CASE WHEN event_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
       |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_csv_roundtrip" -> csvRoundtrip,
      "q_json_roundtrip" -> jsonRoundtrip,
      "q_orc_roundtrip" -> orcRoundtrip,
      "q_avro_roundtrip" -> avroRoundtrip,
      "q_parquet_zstd" -> zstdRoundtrip,
      "q_schema_evolution" -> schemaEvolution,
      "q_json_malformed" -> jsonMalformed)

  val oracleSql: Map[String, String] =
    Map(
      "q_csv_roundtrip" -> csvRoundtripSql,
      "q_json_roundtrip" -> jsonRoundtripSql,
      "q_orc_roundtrip" -> orcRoundtripSql,
      "q_avro_roundtrip" -> avroRoundtripSql,
      "q_parquet_zstd" -> zstdRoundtripSql,
      "q_schema_evolution" -> schemaEvolutionSql,
      "q_json_malformed" -> jsonMalformedSql)
}
