package graft.infer

import graft.SparkSpec
import graft.core.TinyType._
import graft.infer.CellInference.RawCsv
import java.time.Instant

/** Date-parser corpus from the reference's tests (FIXTURES.md A9,
  * date_parser.rs:181-331) + cell-typing lattice (csv.rs:82-111,
  * schema.rs:526-554). */
class InferSpec extends SparkSpec {

  val mustParse = Seq(
    "2023-12-25T10:30:00Z",
    "2023-12-25T10:30:00+00:00",
    "2023-12-25T10:30:00-05:00",
    "2023-12-25T10:30:00.123Z",
    "2023-12-25T10:30:00",
    "2023-12-25T10:30:00.123",
    "2023-12-25T10:30:00.123456",
    "2023-12-25",
    "12/25/2023",
    "12-25-2023",
    "2023/12/25",
    "25.12.2023",
    "Dec 25, 2023",
    "December 25, 2023",
    "25 Dec 2023",
    "2023-12-25 10:30",
    "2023-12-25 10:30:00",
    "2023-12-25 10:30:00.123",
    "12/25/2023 10:30:00 AM"
  )

  val mustNotParse = Seq("13/25/2023", "12/32/2023", "2023-13-01", "3.14159",
    "hello world", "", "true")

  test("driver-side date parser: corpus") {
    mustParse.foreach { s =>
      assert(DateFormats.tryParse(s).isDefined, s"should parse: $s")
    }
    mustNotParse.foreach { s =>
      assert(DateFormats.tryParse(s).isEmpty, s"should NOT parse: $s")
    }
  }

  test("ambiguity: month-first wins (01/02/2023 = Jan 2)") {
    val got = DateFormats.tryParse("01/02/2023").get
    assert(got == Instant.parse("2023-01-02T00:00:00Z"))
    // unambiguous day-first still parses via the d/M fallback
    assert(DateFormats.tryParse("25/12/2023").get ==
      Instant.parse("2023-12-25T00:00:00Z"))
  }

  test("tz handling: offsets normalize to UTC; naive assumed UTC") {
    assert(DateFormats.tryParse("2023-12-25T10:30:00-05:00").get ==
      Instant.parse("2023-12-25T15:30:00Z"))
    assert(DateFormats.tryParse("2023-12-25T10:30:00").get ==
      Instant.parse("2023-12-25T10:30:00Z"))
  }

  test("distributed parseExpr agrees with driver-side parser") {
    import spark.implicits._
    val df = (mustParse ++ mustNotParse).toDF("s")
    val got = df.select(DateFormats.parseExpr(org.apache.spark.sql.functions.col("s"))
      .as("ts"), org.apache.spark.sql.functions.col("s")).collect()
    got.foreach { r =>
      val s = r.getString(1)
      val expected = DateFormats.tryParse(s)
      val sparkVal = if (r.isNullAt(0)) None else Some(r.getTimestamp(0).toInstant)
      assert(sparkVal == expected, s"mismatch for '$s': spark=$sparkVal scala=$expected")
    }
  }

  test("parseExpr equals the try_to_timestamp chain cell for cell " +
       "(codegen and interpreted, two session zones)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{coalesce, col, lit, trim, try_to_timestamp}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import java.time.{OffsetDateTime, ZoneOffset}
    import java.time.format.DateTimeFormatter

    // every pattern rendered from seeded instants: 1-digit fields,
    // offsets, fractions and AM/PM come from the draws
    val rnd = new scala.util.Random(20231225L)
    val rendered = DateFormats.all.flatMap { p =>
      val f = DateTimeFormatter.ofPattern(p, java.util.Locale.US)
      Seq.fill(12) {
        val at = OffsetDateTime.of(1970 + rnd.nextInt(130), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60),
          rnd.nextInt(1000000) * 1000,
          ZoneOffset.ofTotalSeconds((rnd.nextInt(105) - 48) * 900))
        at.format(f)
      }
    }
    val cells: Seq[String] = rendered ++ rendered.map(c => s"  $c ") ++
      rendered.map(_.toLowerCase) ++ rendered.map("\t" + _) ++
      Seq("Mar 15, 1995", "2023-02-30", "2023-01-05x", "someday", "", null)
    val oracle = coalesce(DateFormats.all.map(f =>
      try_to_timestamp(trim(col("s")), lit(f))): _*)

    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    try {
      for (mode <- modes; zone <- Seq("UTC", "America/New_York")) {
        (mode + ("spark.sql.session.timeZone" -> zone)).foreach {
          case (k, v) => spark.conf.set(k, v)
        }
        // an RDD-backed frame: a local relation would be folded by the
        // optimizer instead of running the generated code
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(cells.map(Row(_)), 4),
          StructType(Seq(StructField("s", StringType))))
        val rows = df.select(col("s"), DateFormats.parseExpr(col("s")), oracle).collect()
        assert(rows.length == cells.length)
        val mismatches = rows.filter(r => r.get(1) != r.get(2))
        assert(mismatches.isEmpty,
          s"$mode $zone: ${mismatches.take(5).mkString("; ")}")
        val parsed = rows.filter(r => !r.isNullAt(2)).map(_.getString(0)).toSet
        assert(rendered.forall(parsed), s"$zone: a rendered pattern did not parse")
      }
    } finally {
      Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.fallback").foreach(spark.conf.unset)
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("cell classification lattice (csv.rs:82-111)") {
    assert(CellInference.classify("123") == TInteger)
    assert(CellInference.classify("-42") == TInteger)
    assert(CellInference.classify("1.5") == TDecimal)
    assert(CellInference.classify("-3.14") == TDecimal)
    assert(CellInference.classify("true") == TBoolean)
    assert(CellInference.classify("false") == TBoolean)
    assert(CellInference.classify("True") == TString)   // Rust bool parse is exact
    assert(CellInference.classify("2023-12-25") == TDate)
    assert(CellInference.classify("2023-12-25T10:30:00Z") == TDateTime)
    assert(CellInference.classify("") == TNull)
    assert(CellInference.classify("hello") == TString)
    // i64 overflow falls through to decimal
    assert(CellInference.classify("99999999999999999999") == TDecimal)
  }

  test("column resolution: nulls don't vote, mixed→String, always nullable") {
    assert(resolve(Seq(TInteger, TInteger, TNull)) == (TInteger, true))
    assert(resolve(Seq(TNull, TNull)) == (TString, true))
    assert(resolve(Seq(TInteger, TDecimal)) == (TString, true))
    assert(resolve(Seq(TBoolean)) == (TBoolean, true))
  }

  test("CSV read with tinyetl semantics end-to-end") {
    val dir = tmpDir("csvread")
    val f = new java.io.File(s"$dir/in.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id,name,price,active,when,note")
    w.println("1,Alice,9.99,true,2023-12-25,hi")
    w.println("2,Bob,12.50,false,12/26/2023,")
    w.println("3,,0.25,true,Dec 27, ok") // note: 'Dec 27' won't parse → mixed col
    w.close()
    val df = CellInference.readCsv(spark, f.getPath)
    val sch = df.schema
    assert(sch("id").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("price").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sch("active").dataType == org.apache.spark.sql.types.BooleanType)
    // 'when' column: two dates + one non-date → String (mixed)
    assert(sch("when").dataType == org.apache.spark.sql.types.StringType)
    assert(sch.fields.forall(_.nullable))
    assert(df.columns.toSeq == Seq("id", "name", "price", "active", "when", "note"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[String]("name") == "Alice")
    assert(rows(2).isNullAt(1)) // empty cell → null
  }

  test("tinyetl:type=json field metadata survives a parquet round-trip") {
    import graft.core.TinyType
    import spark.implicits._
    val dir = tmpDir("meta_rt")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(TinyType.JsonMetaKey, "json").build()
    val df = Seq((1L, """{"a":1}""")).toDF("id", "payload")
      .select($"id", $"payload".as("payload", meta))
    assert(df.schema("payload").metadata.contains(TinyType.JsonMetaKey))
    df.write.mode("overwrite").parquet(s"$dir/m.parquet")
    val back = spark.read.parquet(s"$dir/m.parquet")
    assert(back.schema("payload").metadata.contains(TinyType.JsonMetaKey),
      "parquet.rs:45-77 parity: json tag must revive on read")
    assert(back.schema("payload").metadata.getString(TinyType.JsonMetaKey) == "json")
    assert(graft.core.TinyType.fromSpark(
      back.schema("payload").dataType, back.schema("payload").metadata).name == "json")
  }

  test("all-date CSV column becomes timestamp") {
    val dir = tmpDir("csvdates")
    val f = new java.io.File(s"$dir/in.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id,d")
    w.println("1,2023-12-25")
    w.println("2,12/26/2023")
    w.close()
    val df = CellInference.readCsv(spark, f.getPath)
    assert(df.schema("d").dataType == org.apache.spark.sql.types.TimestampType)
    val vals = df.orderBy("id").collect().map(_.getTimestamp(1).toInstant.toString)
    assert(vals.toSeq == Seq("2023-12-25T00:00:00Z", "2023-12-26T00:00:00Z"))
  }

  /** Writes `bytes` to `dir/name`, making its directories. */
  private def put(dir: String, name: String, bytes: Array[Byte]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def gzip(s: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.util.zip.GZIPOutputStream(buf)
    out.write(utf8(s))
    out.close()
    buf.toByteArray
  }

  /** Header fixtures, each a path Spark's CSV reader takes. */
  private def headerFixtures(dir: String): Seq[String] = {
    def text(name: String, s: String): String = put(dir, name, utf8(s))
    val gz = put(dir, "gz/in.csv.gz", gzip("g1,\"g,2\"\n1,2\n"))
    // the alphabetically first file is the smallest: Spark's first
    // split is the largest file's, so its header names the columns
    text("multi/a.csv", "small1,small2\n1,2\n")
    text("multi/m.csv", "big1,big2,big3\n" + "1,2,3\n" * 200)
    text("multi/z.csv", "mid1\n" + "1\n" * 50)
    text("multi/empty.csv", "")
    Seq(
      text("quoted.csv", "\"a,b\",\"say \"\"hi\"\"\",c\n1,2,3\n"),
      text("bom.csv", "\uFEFFid,name\n1,a\n"),
      text("dups.csv", "a,,a,A,\n1,2,3,4,5\n"),
      text("blank.csv", "\n\nx,y\n1,2\n"),
      gz,
      s"$dir/multi",
      text("header_only.csv", "h1,h2\n"),
      text("empty.csv", ""))
  }

  test("rawCsv names the columns as Spark's header read does, " +
      "without a Spark job") {
    import org.apache.spark.sql.types.StringType
    for (p <- headerFixtures(tmpDir("csv_header"))) {
      val (RawCsv(raw, _), jobs, _) = observeRun(CellInference.rawCsv(spark, p))
      assert(jobs == 0, s"$p: $jobs Spark jobs")
      val spark0 = spark.read.options(CellInference.RawCsvOptions).csv(p)
      assert(raw.columns.toSeq == spark0.columns.toSeq, p)
      assert(raw.schema.fields.forall(_.dataType == StringType), p)
      // the header line is skipped in every file, as before
      assert(raw.collect().map(_.toSeq).toSet ==
        spark0.collect().map(_.toSeq).toSet, p)
    }
    // no files at all: Spark's own read error, not an empty schema
    val none = tmpDir("csv_header_none")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      CellInference.rawCsv(spark, none))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA")
    intercept[org.apache.spark.sql.AnalysisException](
      spark.read.options(CellInference.RawCsvOptions).csv(none))
  }

  test("Connectors.readStream types a CSV directory as before, with the " +
      "header read off the job") {
    val dir = tmpDir("csv_stream")
    def put(name: String, s: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), s)
    put("a.csv", "id,price,active,when,note\n1,9.99,true,2023-12-25,\"x, y\"\n")
    put("b.csv", "id,price,active,when,note\n" +
      (2 to 40).map(i => s"$i,$i.5,false,12/26/2023,n$i\n").mkString)
    // the schema the stream had when Spark's own read named its columns
    val raw = spark.read.options(CellInference.RawCsvOptions).csv(dir)
    val (cols, sampleJobs, _) = observeRun(CellInference.inferColumns(raw))
    val before = CellInference.applyTypes(
      spark.readStream.schema(raw.schema)
        .options(CellInference.RawCsvOptions).csv(dir), cols)
    assert(sampleJobs > 0)
    val (stream, jobs, _) = observeRun(graft.sources.Connectors.readStream(
      spark, dir, Map("sourceType" -> "csv")))
    assert(stream.isStreaming)
    assert(stream.schema == before.schema)
    assert(jobs == 0, "the header and the sample are read on the driver")
  }

  /** Sample fixtures: each a path and the Spark confs its scan is
    * planned under. */
  private def sampleFixtures(dir: String): Seq[(String, Map[String, String])] = {
    def text(name: String, s: String): String = put(dir, name, utf8(s))
    val header = "id,amount,flag,when,note\n"
    def rows(from: Int, n: Int): String = (from until from + n).map(i =>
      s"$i,${i * 0.5},${i % 2 == 0},2023-12-${10 + i % 18},n$i\n").mkString
    // many small files over several partitions, none holding the
    // sample: `limit` scans them in rounds; equal lengths keep their
    // listing order
    (0 until 40).foreach(k =>
      text(f"small/part-$k%02d.csv", header + rows(k * 100, 40 + k % 7)))
    text("small/empty.csv", "")
    text("small/header_only.csv", header)
    // one file cut into splits that end mid-record
    val split = text("split.csv", header + rows(0, 3000))
    val gz = put(dir, "gz/in.csv.gz", gzip(header + rows(0, 1500)))
    text("glob/a.csv", header + rows(0, 600))
    text("glob/b.csv", header + rows(600, 700))
    text("glob/c.txt", "other\n1\n")
    // partition directories: their values join each sampled row
    text("parts/region=us/a.csv", header + rows(0, 30))
    text("parts/region=eu/b.csv", header + rows(30, 40))
    val few = Seq.tabulate(12)(i =>
      s"""$i,"1,5",${i % 2 == 0},"say ""hi"" $i",x\n""").mkString
    Seq(
      s"$dir/small" -> Map.empty[String, String],
      split -> Map("spark.sql.files.maxPartitionBytes" -> "4096"),
      gz -> Map.empty,
      s"$dir/glob/*.csv" -> Map.empty,
      s"$dir/parts" -> Map.empty,
      // a quoted comma, a doubled quote, a short row and a long row
      text("quoted.csv", header + few + "99,1.0\n100,2,true,x,y,z\n") -> Map.empty,
      text("bom.csv", "\uFEFF" + header + rows(0, 5)) -> Map.empty)
  }

  test("rawCsv's driver-side sample is the scan's first rows, in its " +
      "split order and typed alike, without a Spark job") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.{FilePartition,
      HadoopFsRelation, LogicalRelation}
    val dir = tmpDir("csv_sample")
    val fixtures = sampleFixtures(dir) ++
      headerFixtures(tmpDir("csv_sample_header")).map(_ -> Map.empty[String, String])
    for ((p, confs) <- fixtures; n <- Seq(CellInference.SampleRows, 7)) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (raw, jobs, _) = observeRun(CellInference.rawCsv(spark, p, n))
        assert(jobs == 0, s"$p: $jobs Spark jobs")
        // the frame the header-only rawCsv gave, and its sample job
        val before = spark.read.schema(raw.frame.schema)
          .options(CellInference.RawCsvOptions).csv(p)
        val want = before.limit(n).collect().toSeq.map(_.toSeq.map(
          v => if (v == null) null else v.toString))
        assert(raw.sample == want, p)
        assert(raw.columns == CellInference.inferColumns(before, n), p)
        def pieces(plan: org.apache.spark.sql.execution.SparkPlan) =
          plan.collectFirst { case s: FileSourceScanExec => s }.get
            .inputRDD.partitions.toSeq
            .flatMap { case fp: FilePartition => fp.files.toSeq }
            .map(f => (f.urlEncodedPath, f.start, f.length))
        val relation = raw.frame.queryExecution.analyzed.collectFirst {
          case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
        }.get
        val order = CellInference.scanOrder(spark, relation)
          .map(f => (f.urlEncodedPath, f.start, f.length))
        assert(order == pieces(spark.read.text(p).queryExecution.sparkPlan), p)
        assert(order == pieces(before.queryExecution.sparkPlan), p)
        assert(order == pieces(raw.frame.queryExecution.sparkPlan), p)
      } finally confs.keys.foreach(spark.conf.unset)
    }
    // the layouts exercise what they name
    val (small, split) = (s"$dir/small", s"$dir/split.csv")
    assert(spark.read.text(small).rdd.getNumPartitions > 1)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try assert(spark.read.text(split).rdd.getNumPartitions > 10)
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val (_, sampleJobs, _) = observeRun(CellInference.inferColumns(
      spark.read.options(CellInference.RawCsvOptions).csv(small)))
    assert(sampleJobs > 1, "limit scans the small files in rounds")
    val (typed, readJobs, _) = observeRun(CellInference.readCsv(spark, small))
    assert(readJobs == 0)
    assert(typed.schema.map(_.dataType.typeName) ==
      Seq("long", "double", "boolean", "timestamp", "string"))
  }
}
