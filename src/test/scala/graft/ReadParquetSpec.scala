package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Tables.readParquet]]: a repeat read of unchanged files runs no
  * schema-inference job, plans what Spark's own inference plans, and any
  * change to the files, the options or the inference confs re-infers.
  */
class ReadParquetSpec extends SparkSpec {
  import ReadParquetSpec._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_readparquet_$tag").toString

  private def jobs[T](op: => T): (T, Int) = {
    val (out, n, _) = jobsAndCompiles(op)
    (out, n)
  }

  /** Same schema as the plain read, and the same rows in a sorted
    * projection of every column.
    */
  private def assertSameAsPlain(df: DataFrame, plain: DataFrame): Unit = {
    assert(df.schema == plain.schema)
    val cols = plain.columns.toSeq.map(c => col(s"`$c`"))
    def rows(d: DataFrame): Seq[Row] = d.select(cols: _*).orderBy(cols: _*).collect().toSeq
    val want = rows(plain)
    assert(want.nonEmpty)
    assert(rows(df) == want)
  }

  /** Reads `paths` twice through the helper: the first read may infer,
    * the second must be a hit that runs no job. Returns the hit.
    */
  private def warmRead(paths: String*): DataFrame = {
    Tables.readParquet(spark, paths: _*)
    val (hit, n) = jobs(Tables.readParquet(spark, paths: _*))
    assert(n == 0, s"repeat read of ${paths.mkString(",")} ran $n jobs")
    hit
  }

  private def withConf[T](k: String, v: String)(op: => T): T = {
    spark.conf.set(k, v)
    try op finally spark.conf.unset(k)
  }

  test("first read of a path runs one Spark job, a repeat read none") {
    val p = s"${tmpDir("jobs")}/region.parquet"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/region.parquet"), java.nio.file.Paths.get(p))
    val (first, n1) = jobs(Tables.readParquet(spark, p).schema)
    assert(n1 == 1, s"first read ran $n1 jobs")
    val (again, n2) = jobs(Tables.readParquet(spark, p).schema)
    assert(n2 == 0, s"repeat read ran $n2 jobs")
    assert(again == first)
  }

  test("equivalence: pyarrow-written fixtures") {
    Seq("orders", "embeddings", "documents", "region").foreach { t =>
      val p = s"$sf/$t.parquet"
      assertSameAsPlain(warmRead(p), spark.read.parquet(p))
    }
  }

  test("equivalence: Spark-written file with row metadata, field metadata, a non-nullable column") {
    val dir = s"${tmpDir("meta")}/t"
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder().putString("comment", "field note").build())))
    val rows = (0L until 10L).map(i => Row(i, s"v$i"))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    val footer = ParquetFooters.read(new Path(part), spark.sparkContext.hadoopConfiguration)
    assert(footer.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    val plain = spark.read.parquet(dir)
    assert(plain.schema("v").metadata.contains("comment"))
    assertSameAsPlain(warmRead(dir), plain)
  }

  test("equivalence: partitioned directory") {
    val dir = s"${tmpDir("part")}/t"
    spark.range(30)
      .select(col("id"), (col("id") % 3).as("p"), (col("id") * 7).cast("string").as("s"))
      .write.partitionBy("p").parquet(dir)
    val plain = spark.read.parquet(dir)
    assert(plain.schema("p").dataType == IntegerType)
    assertSameAsPlain(warmRead(dir), plain)
  }

  test("equivalence: NANOS table through loadAdaptive") {
    val dir = tmpDir("nanos")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(getClass.getResource("/nanos_fixture/events.parquet").getPath),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    Tables.events(spark, dir)
    val (hit, n) = jobs(Tables.events(spark, dir))
    assert(n == 0, s"repeat loadAdaptive ran $n jobs")
    // Spark reads TIMESTAMP(NANOS) only as raw LONG; decode it the way
    // loadAdaptive documents (integral micros, session-tz timestamp)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val plain = spark.read.parquet(s"$dir/events.parquet")
      assert(plain.schema("ts").dataType == LongType)
      assertSameAsPlain(hit,
        plain.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
    }
  }

  test("invalidation: a file with an extra column added under spark.sql.parquet.mergeSchema") {
    val dir = s"${tmpDir("added")}/t"
    spark.range(5).select(col("id").as("k"), lit("a").as("v"))
      .coalesce(1).write.parquet(dir)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(warmRead(dir).columns.toSeq == Seq("k", "v"))
      spark.range(5, 8).select(col("id").as("k"), lit("b").as("v"), col("id").as("w"))
        .coalesce(1).write.mode("append").parquet(dir)
      val (df, n) = jobs(Tables.readParquet(spark, dir))
      assert(n == 1, s"added file did not re-infer ($n jobs)")
      assert(df.columns.toSeq == Seq("k", "v", "w"))
      assertSameAsPlain(df, spark.read.parquet(dir))
    }
  }

  test("invalidation: a file rewritten in place") {
    val p = s"${tmpDir("rewrite")}/t.parquet"
    writeFile(spark, p, "message t { required int64 k; }", Seq(Seq(1L), Seq(2L)))
    assert(Tables.readParquet(spark, p).columns.toSeq == Seq("k"))
    writeFile(spark, p, "message t { required int64 k; required binary s (STRING); }",
      Seq(Seq(1L, "x"), Seq(2L, "y")))
    val (df, n) = jobs(Tables.readParquet(spark, p))
    assert(n == 1, s"rewritten file did not re-infer ($n jobs)")
    assertSameAsPlain(df, spark.read.parquet(p))
    assert(df.columns.toSeq == Seq("k", "s"))
  }

  test("invalidation: flipping spark.sql.parquet.binaryAsString") {
    val p = s"${tmpDir("binary")}/t.parquet"
    writeFile(spark, p, "message t { required int64 k; required binary b; }",
      Seq(Seq(1L, "x"), Seq(2L, "y")))
    assert(warmRead(p).schema("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      val (df, n) = jobs(Tables.readParquet(spark, p))
      assert(n == 1, s"conf flip did not re-infer ($n jobs)")
      assert(df.schema("b").dataType == StringType)
      assertSameAsPlain(df, spark.read.parquet(p))
    }
    val (back, n) = jobs(Tables.readParquet(spark, p))
    assert(n == 0 && back.schema("b").dataType == BinaryType)
  }

  test("every schema-less parquet read in src/main goes through Tables.readParquet") {
    // Spark's own reads, kept on purpose: per file, how many and why. A
    // miss through the helper costs one more listing and resolution than
    // a plain read, so a path written just before each read stays plain.
    val allowed: Map[String, (Int, String)] = Map(
      "Tables.scala" -> (2, "the helper's own inferring reads: a miss, and a path that " +
        "lists nothing, where Spark raises its own error"),
      "ReadBench.scala" -> (2, "times Spark's native scan, inference included"),
      "Layout.scala" -> (4, "each call rewrites the directory it reads " +
        "(partitioned copy, compaction input, DPP fact and dim)"),
      "TextPipeline.scala" -> (3, "reads an artifact just written to a fresh " +
        "temp directory (quality weights, silver weights, BPE merges)"),
      "Streams.scala" -> (2, "reads a stream's output just written to a fresh " +
        "directory; the sink's output resolves through its _spark_metadata log"),
      "Formats.scala" -> (1, "mergeSchema read of the directory it overwrites each call"),
      "MergeSink.scala" -> (1, "mergeSchema fallback for a bucket read without a " +
        "recorded schema; its file list changes with every version"))
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"source tree not found under ${root.toAbsolutePath}")
    val call = """\.parquet\(""".r
    // the nearest reader or writer a `.parquet(` call is chained on (a
    // property access, not a call such as `ParquetFooters.read(`)
    val builder = """\.(read|readStream|write|writeStream)\b(?!\s*\()""".r
    val found: Map[String, Seq[Int]] = files.map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      f.getFileName.toString -> call.findAllMatchIn(src).flatMap { m =>
        val chain = builder.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        val reads = chain.exists(b => b.group(1).startsWith("read"))
        if (reads && !src.substring(chain.get.end, m.start).contains(".schema("))
          Some(src.substring(0, m.start).count(_ == '\n') + 1)
        else None
      }.toSeq
    }.toMap
    val off = (found.keySet ++ allowed.keySet).toSeq.sorted.flatMap { f =>
      val lines = found.getOrElse(f, Nil)
      val want = allowed.get(f).map(_._1).getOrElse(0)
      if (lines.size == want) None
      else Some(s"$f: $want allowed, ${lines.size} at lines ${lines.mkString(",")}")
    }
    assert(off.isEmpty, s"schema-less parquet reads outside Tables.readParquet: $off")
  }
}

object ReadParquetSpec {

  /** Writes `rows` as one parquet file at `path`, replacing it, with
    * parquet-mr's example writer, which writes physical types Spark's
    * writer never emits (TIMESTAMP(NANOS), un-annotated BINARY). Values
    * are Long, Int or String, in `schema`'s field order.
    */
  def writeFile(
      spark: SparkSession,
      path: String,
      schema: String,
      rows: Seq[Seq[Any]]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(mt)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      r.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v, i) => throw new IllegalArgumentException(s"field $i: unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }
}
