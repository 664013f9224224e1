package graft

import org.apache.spark.sql.functions._

/** Tripwires pinning the driver-generated fixtures to FIXTURES.md.
  *
  * Round 8's incident: the driver regenerated /root/testdata and changed
  * `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS); the loader's
  * assumed unit collapsed Jan 2024 onto Jan 1970 and 30 oracle queries went
  * red with zero code changes. These assertions make ANY fixture drift fail
  * in seconds with "FIXTURE CHANGED" at the source, instead of as a pile of
  * mysterious oracle mismatches. If a failure here is an INTENTIONAL
  * regeneration, refresh FIXTURES.md per its instructions.
  */
class FixturesSpec extends SparkSpec {

  private val allSfs = Seq(
    "/root/testdata/sf0.001" -> 1000L,
    "/root/testdata/sf0.01"  -> 10000L,
    "/root/testdata/sf0.1"   -> 100000L)

  // (table, expected rows at sf0.001, expected schema as name:type pairs)
  private val pinned: Seq[(String, Long, Seq[(String, String)])] = Seq(
    ("region", 5L, Seq("r_regionkey" -> "int", "r_name" -> "string")),
    ("nation", 25L, Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int")),
    ("customer", 150L, Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string")),
    ("supplier", 10L, Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double")),
    ("part", 200L, Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double")),
    ("orders", 1500L, Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string")),
    ("lineitem", 6000L, Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz")),
    ("documents", 500L, Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint")),
    ("embeddings", 500L, Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int")))

  test("FIXTURE: every table matches its pinned schema and row count (sf0.001)") {
    pinned.foreach { case (name, rows, cols) =>
      val df = Tables.load(spark, sf, name)
      val got = df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
      assert(got == cols,
        s"FIXTURE CHANGED: $name schema is $got, pinned $cols — see FIXTURES.md")
      val n = df.count()
      assert(n == rows,
        s"FIXTURE CHANGED: $name has $n rows at sf0.001, pinned $rows")
    }
  }

  test("FIXTURE: events loads with a TIMESTAMP ts and pinned count (sf0.001)") {
    val ev = Tables.events(spark, sf)
    val got = ev.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
    val want = Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string")
    assert(got == want, s"FIXTURE CHANGED: events schema is $got, pinned $want")
    assert(ev.count() == 1000L, "FIXTURE CHANGED: events rows at sf0.001 != 1000")
  }

  test("FIXTURE: key columns are dense 0-based ranges (sf0.001)") {
    val sentinels = Seq(
      ("region", "r_regionkey", 0L, 4L), ("nation", "n_nationkey", 0L, 24L),
      ("customer", "c_custkey", 0L, 149L), ("supplier", "s_suppkey", 0L, 9L),
      ("part", "p_partkey", 0L, 199L), ("orders", "o_orderkey", 0L, 1499L),
      ("lineitem", "l_orderkey", 0L, 1499L),
      ("documents", "doc_id", 0L, 499L), ("embeddings", "vec_id", 0L, 499L))
    sentinels.foreach { case (t, k, lo, hi) =>
      val r = Tables.load(spark, sf, t)
        .agg(min(col(k).cast("long")).as("lo"), max(col(k).cast("long")).as("hi"))
        .head()
      assert(r.getLong(0) == lo && r.getLong(1) == hi,
        s"FIXTURE CHANGED: $t.$k range [${r.getLong(0)}, ${r.getLong(1)}], " +
          s"pinned [$lo, $hi]")
    }
  }

  test("FIXTURE: documents/embeddings counts pinned at every sf") {
    // the corpus tables don't scale uniformly with SF (FIXTURES.md):
    // 500/500 at sf0.001 and sf0.01, 5000/2000 at sf0.1 — several text
    // and ANN lanes calibrate against these sizes
    val expect = Seq(
      ("/root/testdata/sf0.001", 500L, 500L),
      ("/root/testdata/sf0.01", 500L, 500L),
      ("/root/testdata/sf0.1", 5000L, 2000L))
    expect.foreach { case (dir, nDocs, nVecs) =>
      assert(Tables.documents(spark, dir).count() == nDocs,
        s"FIXTURE CHANGED: $dir documents != $nDocs")
      assert(Tables.embeddings(spark, dir).count() == nVecs,
        s"FIXTURE CHANGED: $dir embeddings != $nVecs")
    }
  }

  test("TRIPWIRE: events.ts decodes into a sane calendar year at EVERY sf") {
    // The round-8 failure mode: a wrong unit lands 1000x off — 1970 (ns read
    // as us) or year 56970 (us read as ns). Any unit error trips this; a mere
    // data refresh inside the 2020s does not.
    allSfs.foreach { case (dir, rows) =>
      val ev = Tables.events(spark, dir)
      val r = ev.agg(
        year(min(col("ts"))).as("ymin"), year(max(col("ts"))).as("ymax"),
        count(lit(1)).as("n")).head()
      val (ymin, ymax, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(ymin >= 2020 && ymax <= 2030,
        s"FIXTURE/LOADER BROKEN: $dir events.ts years [$ymin, $ymax] outside " +
          "[2020, 2030] — timestamp unit mismatch between the parquet footer " +
          "and Tables.events decode (see FIXTURES.md, round-8 verdict)")
      assert(n == rows, s"FIXTURE CHANGED: $dir events has $n rows, pinned $rows")
    }
  }

  test("NANOS regression: the adaptive loader decodes a TIMESTAMP(NANOS) file") {
    // The current driver fixture is MICROS, so the nanos branch (the one
    // round 7 ran on, and the one a mixed-unit lake hits) would otherwise
    // have zero coverage. A committed pyarrow-written events-shaped file
    // with a physical timestamp[ns] column pins it: the footer probe must
    // report NANOS, and the decode must land in Jan 2024 — not 1970
    // (div-by-1000 of micros) or 56970 (missing div of nanos).
    val dir = getClass.getResource("/nanos_fixture").getPath
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    assert(Tables.eventsTsUnit(spark, dir) == TimeUnit.NANOS)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val r = ev
      .agg(year(min(col("ts"))), month(min(col("ts"))), count(lit(1)))
      .head()
    assert(r.getInt(0) == 2024 && r.getInt(1) == 1 && r.getLong(2) == 20L,
      s"nanos decode broken: year=${r.getInt(0)} month=${r.getInt(1)} n=${r.getLong(2)}")
    // minute-granularity fixture: the decoded micros must be exact
    val secs = ev
      .agg(sum(unix_micros(col("ts")) % 60000000L))
      .head()
      .getLong(0)
    assert(secs == 0L, s"sub-minute residue $secs — lossy nanos decode")
  }

  test("MIXED-UNIT directory: nanos and micros files in ONE table path") {
    // the producer-upgraded-mid-history lake: the same logical table
    // holds files with different physical timestamp units. loadAdaptive
    // must dispatch the decode PER FILE GROUP and union — a single
    // spark.read.schema() cannot express this. Build the mixed dir from
    // the committed nanos fixture + a Spark-written (micros) copy of the
    // same 20 rows shifted by one day.
    val nanosSrc = getClass.getResource("/nanos_fixture/events.parquet").getPath
    val mixed = java.nio.file.Files.createTempDirectory("graft_mixed").toString
    val tableDir = s"$mixed/events.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(nanosSrc),
      java.nio.file.Paths.get(s"$tableDir/part-nanos.parquet"))
    // micros generation: decode the nanos fixture, shift +1 day, write
    // through Spark (which emits TIMESTAMP(MICROS))
    val shifted = Tables
      .events(spark, getClass.getResource("/nanos_fixture").getPath)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))
    shifted
      .coalesce(1)
      .write
      .mode("append")
      .parquet(tableDir)
    // Spark's write adds its own part files + _SUCCESS alongside the
    // copied nanos part — exactly the heterogeneous layout under test
    val ev = Tables.events(spark, mixed)
    val r = ev
      .agg(
        count(lit(1)),
        countDistinct(col("ts")),
        year(min(col("ts"))),
        year(max(col("ts"))))
      .head()
    assert(r.getLong(0) == 40L, s"expected 40 rows, got ${r.getLong(0)}")
    // 20 original instants + 20 shifted by a day = 40 distinct; a unit
    // error on either group would collapse or explode this
    assert(r.getLong(1) == 40L, s"expected 40 distinct ts, got ${r.getLong(1)}")
    assert(r.getInt(2) == 2024 && r.getInt(3) == 2024,
      s"mixed decode left years [${r.getInt(2)}, ${r.getInt(3)}]")
    // both generations must agree instant-for-instant: shifting the
    // nanos-decoded half forward a day must reproduce the micros half
    val halves = ev
      .withColumn("day", dayofmonth(col("ts")))
      .groupBy(col("day"))
      .count()
      .collect()
      .map(row => row.getInt(0) -> row.getLong(1))
      .toMap
    assert(halves.values.sum == 40L, halves.toString)
    // the STREAMING source cannot per-file-dispatch (one readStream
    // schema) — on a mixed dir it must fail loudly, not decode the
    // minority group 1000x off
    val e = intercept[IllegalArgumentException] {
      Tables.eventsTsUnit(spark, mixed)
    }
    assert(e.getMessage.contains("mixes timestamp units"), e.getMessage)
  }

  test("a path rewritten in another timestamp unit is decoded by its new footer") {
    // The footer probe once cached per path for the JVM's life: after a
    // rewrite it kept decoding by the OLD unit (NANOS files read natively
    // fail, MICROS files taken for NANOS land 1000x off). Both directions.
    val instants = Seq(
      java.time.LocalDateTime.of(2024, 1, 15, 8, 30),
      java.time.LocalDateTime.of(2024, 6, 30, 23, 59, 59))
    val micros = instants.map { t =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def write(path: String, unit: String): Unit =
      ReadParquetSpec.writeFile(spark, path,
        s"message orders { required int64 o_orderkey; " +
          s"required int64 o_orderdate (TIMESTAMP($unit,false)); }",
        micros.zipWithIndex.map { case (us, k) =>
          Seq(k.toLong, if (unit == "NANOS") us * 1000L else us)
        })
    def dates(dir: String): Seq[java.time.LocalDateTime] =
      Tables.orders(spark, dir).orderBy(col("o_orderkey")).collect()
        .map(_.getAs[java.time.LocalDateTime]("o_orderdate")).toSeq
    Seq("MICROS" -> "NANOS", "NANOS" -> "MICROS").foreach { case (from, to) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_rewrite_$from").toString
      write(s"$dir/orders.parquet", from)
      assert(dates(dir) == instants, s"$from file misdecoded")
      write(s"$dir/orders.parquet", to)
      assert(dates(dir) == instants, s"$from file rewritten as $to misdecoded")
    }
  }
}
