package graft

import graft.core.GraftError
import graft.engine.YamlJob

/** CLI surface tests + golden e2e mirrors of the reference's example
  * scripts (examples/01 csv→json, examples/06 transforms — the sqlite
  * target becomes parquet since no JDBC driver jar ships in this env;
  * the assertions are the reference's own: price_cents == 129999,
  * heavy-item count). */
class CliSpec extends SparkSpec {
  import Main._

  private def writeText(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }

  test("parse: subcommands and flags") {
    assert(parse(Nil) == Help)
    assert(parse(List("--help")) == Help)
    assert(parse(List("generate-default-config")) == GenDefault)
    assert(parse(List("run", "j.yaml")) == RunYaml("j.yaml"))

    val t = parse(List("in.csv", "out.parquet", "--transform", "x=row.a * 2",
      "--preview", "5", "--truncate", "--batch-size", "500",
      "--log-level", "warn")).asInstanceOf[Transfer]
    assert(t.cfg.source == "in.csv" && t.cfg.target == "out.parquet")
    assert(t.cfg.transform.inline.contains("x=row.a * 2"))
    assert(t.preview.contains(5) && t.cfg.truncate)
    assert(t.cfg.sourceOptions("fetchsize") == "500")
    assert(t.cfg.targetOptions("batchsize") == "500")
    assert(t.logLevel == "warn")

    val dm = parse(List("in.csv", "out.parquet", "--decimal-mode", "exact"))
      .asInstanceOf[Transfer]
    assert(dm.cfg.decimalMode == "exact")
    assert(YamlJob.fromYaml(YamlJob.render(dm.cfg)).decimalMode == "exact")
    intercept[GraftError.Configuration](
      parse(List("a", "b", "--decimal-mode", "f16")))

    // file wins over inline (cli.rs:183-191)
    val both = parse(List("a.csv", "b.parquet",
      "--transform", "x=1", "--transform-file", "t.lua")).asInstanceOf[Transfer]
    assert(both.cfg.transform.file.contains("t.lua"))
    assert(both.cfg.transform.inline.isEmpty)

    intercept[GraftError.Configuration](parse(List("only-one-arg")))
    intercept[GraftError.Configuration](parse(List("a", "b", "--bogus")))
    intercept[GraftError.Configuration](parse(List("a", "b", "--preview", "x")))
    intercept[GraftError.Configuration](parse(List("a", "b", "--log-level", "spam")))
  }

  test("generate-config output round-trips through YamlJob") {
    val cmd = parse(List("generate-config", "in.csv", "out.parquet",
      "--transform", "c=row.a * 2", "--truncate")).asInstanceOf[GenConfig]
    val yaml = YamlJob.render(cmd.cfg)
    val back = YamlJob.fromYaml(yaml)
    assert(back.source == "in.csv" && back.target == "out.parquet")
    assert(back.transform.inline.contains("c=row.a * 2"))
    assert(back.truncate)
  }

  test("generate-default-config template loads as a valid job") {
    val cfg = YamlJob.fromYaml(Main.defaultConfig)
    assert(cfg.source == "employees.csv")
    assert(cfg.target == "employees.parquet")
    assert(!cfg.truncate)
  }

  test("golden 01: basic csv → json") {
    val dir = tmpDir("cli_ex01")
    writeText(s"$dir/input.csv",
      """id,name,email
        |1,John Doe,john.doe@example.com
        |2,Jane Smith,jane.smith@example.com
        |3,Bob Johnson,bob.johnson@example.com
        |""".stripMargin)
    val rc = runTransfer(
      parse(List(s"$dir/input.csv", s"$dir/output.json"))
        .asInstanceOf[Transfer].cfg,
      preview = None, dryRun = false, logLevel = "error")
    assert(rc == 0)
    val out = spark.read.json(s"$dir/output.json")
    assert(out.count() == 3)
    assert(out.filter(out("id") === 1).head.getAs[String]("name") == "John Doe")
  }

  test("golden 06: csv with transforms (price_cents == 129999, heavy count)") {
    val dir = tmpDir("cli_ex06")
    writeText(s"$dir/products.csv",
      """product_code,name,unit_price,category_id,weight_kg
        |SKU001,Laptop Pro,1299.99,1,2.5
        |SKU002,Office Chair,249.50,2,15.0
        |SKU003,Coffee Maker,89.99,3,3.2
        |SKU004,Wireless Mouse,39.99,1,0.15
        |SKU005,Standing Desk,599.00,2,25.8
        |""".stripMargin)
    val transforms = "full_name=row.product_code .. ': ' .. row.name; " +
      "price_cents=row.unit_price * 100; " +
      "weight_lb=row.weight_kg * 2.20462; is_heavy=row.weight_kg > 10"
    val rc = runTransfer(
      parse(List(s"$dir/products.csv", s"$dir/products.parquet",
        "--transform", transforms)).asInstanceOf[Transfer].cfg,
      preview = None, dryRun = false, logLevel = "error")
    assert(rc == 0)
    val out = spark.read.parquet(s"$dir/products.parquet")
    val first = out.filter(out("product_code") === "SKU001").head
    assert(first.getAs[Double]("price_cents") == 129999.0)
    assert(first.getAs[String]("full_name") == "SKU001: Laptop Pro")
    assert(out.filter(out("is_heavy")).count() == 2)
  }

  test("golden 10: csv → avro round-trip via CLI") {
    val dir = tmpDir("cli_ex10")
    writeText(s"$dir/in.csv",
      """id,name,score,active
        |1,alpha,9.5,true
        |2,beta,7.25,false
        |""".stripMargin)
    val rc = runTransfer(
      parse(List(s"$dir/in.csv", s"$dir/out.avro"))
        .asInstanceOf[Transfer].cfg,
      preview = None, dryRun = false, logLevel = "error")
    assert(rc == 0)
    val back = graft.sources.AvroConnector.read(spark, s"$dir/out.avro")
    assert(back.count() == 2)
    val r = back.filter(back("id") === 1L).head
    assert(r.getAs[String]("name") == "alpha")
    assert(r.getAs[Double]("score") == 9.5)
    assert(r.getAs[Boolean]("active"))
  }

  test("csv → orc → parquet round-trip via CLI (extension + --source-type routing)") {
    val dir = tmpDir("cli_orc")
    writeText(s"$dir/in.csv",
      """id,name,score,active
        |1,alpha,9.5,true
        |2,beta,7.25,false
        |""".stripMargin)
    assert(runTransfer(parse(List(s"$dir/in.csv", s"$dir/mid.orc"))
      .asInstanceOf[Transfer].cfg, None, dryRun = false, "error") == 0)
    assert(runTransfer(parse(List(s"$dir/mid.orc", s"$dir/out.parquet"))
      .asInstanceOf[Transfer].cfg, None, dryRun = false, "error") == 0)
    val out = spark.read.parquet(s"$dir/out.parquet")
    assert(out.count() == 2)
    val r = out.filter(out("id") === 1L).head
    assert(r.getAs[String]("name") == "alpha" &&
      r.getAs[Double]("score") == 9.5 && r.getAs[Boolean]("active"))
    // extension-less orc via --source-type
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/mid.orc"),
      java.nio.file.Paths.get(s"$dir/noext"))
    assert(graft.sources.Connectors.read(spark, s"$dir/noext",
      Map("sourceType" -> "orc")).count() == 2)
  }

  test("golden 08+18: http download via CLI --source-type; YAML auth options") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val dir = tmpDir("cli_ex08")
    val csvBody = "id,name\n1,ann\n2,bo\n3,cy\n"
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b); ex.close()
    }
    // example 08's URL shape: no file extension, query string only
    server.createContext("/uc", (ex: HttpExchange) => respond(ex, 200, csvBody))
    server.createContext("/auth.csv", (ex: HttpExchange) => {
      val expect = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "testuser:testpass".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (Option(ex.getRequestHeaders.getFirst("Authorization")).contains(expect))
        respond(ex, 200, csvBody)
      else respond(ex, 401, "unauthorized")
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      // 08: extension-less URL + --source-type=csv → json target (the
      // reference's exact flag spelling, --source-type=csv)
      val rc = runTransfer(
        parse(List(s"http://127.0.0.1:$port/uc?id=1phaHg&export=download",
          s"$dir/people.json", "--source-type=csv")).asInstanceOf[Transfer].cfg,
        preview = None, dryRun = false, logLevel = "error")
      assert(rc == 0)
      val out = spark.read.json(s"$dir/people.json")
      assert(out.count() == 3)
      assert(out.filter(out("id") === 1).head.getAs[String]("name") == "ann")

      // 18: basic-auth options through a YAML job (the reference wires
      // auth via config files, examples/18/basic_auth_config.yaml)
      writeText(s"$dir/job.yaml",
        s"""version: "1.0"
           |source:
           |  uri: "http://127.0.0.1:$port/auth.csv"
           |  options:
           |    auth.basic.username: testuser
           |    auth.basic.password: testpass
           |target:
           |  uri: "$dir/out_auth.parquet"
           |options:
           |  truncate: true
           |""".stripMargin)
      val y = YamlJob.load(s"$dir/job.yaml")
      assert(runTransfer(y.cfg, y.preview, y.dryRun, "error") == 0)
      assert(spark.read.parquet(s"$dir/out_auth.parquet").count() == 3)
    } finally server.stop(0)
  }

  test("golden 11: schema-file enforcement, csv → live jdbc (Derby for sqlite)") {
    val dir = tmpDir("cli_ex11")
    // the reference's employees.csv + employee_schema.yaml shape
    // (examples/11, examples/schemas/employee_schema.yaml) — incl. the
    // extra top-level keys the loader must tolerate
    writeText(s"$dir/employees.csv",
      """employee_id,first_name,last_name,department,position,salary,hire_date,manager_id,is_full_time
        |1,John,Doe,Engineering,Senior Developer,85000.50,2020-01-15,,true
        |2,Jane,Smith,Marketing,Marketing Manager,75000.00,2019-03-20,5,true
        |3,Bob,Johnson,Engineering,Junior Developer,55000.00,2022-06-10,1,true
        |4,Alice,Brown,HR,HR Specialist,60000.00,2021-08-05,6,false
        |""".stripMargin)
    writeText(s"$dir/employee_schema.yaml",
      """columns:
        |  - name: employee_id
        |    type: integer
        |    nullable: false
        |  - name: first_name
        |    type: string
        |    nullable: false
        |  - name: salary
        |    type: decimal
        |    nullable: false
        |  - name: hire_date
        |    type: date
        |    nullable: false
        |  - name: manager_id
        |    type: integer
        |    nullable: true
        |  - name: is_full_time
        |    type: boolean
        |    nullable: false
        |estimated_rows: null
        |primary_key_candidate: employee_id
        |""".stripMargin)
    val target = s"jdbc:derby:$dir/emp;create=true#employees"

    // step 1-2 of run.sh: --preview 5 writes nothing
    val pv = parse(List(s"$dir/employees.csv", target,
      "--schema-file", s"$dir/employee_schema.yaml", "--preview", "5"))
      .asInstanceOf[Transfer]
    assert(runTransfer(pv.cfg, pv.preview, dryRun = false, "error") == 0)
    intercept[Exception] {
      graft.sources.Connectors.read(spark, target).collect()
    }

    // step 3: full transfer with schema validation
    val tr = parse(List(s"$dir/employees.csv", target,
      "--schema-file", s"$dir/employee_schema.yaml"))
      .asInstanceOf[Transfer]
    assert(runTransfer(tr.cfg, None, dryRun = false, "error") == 0)
    val out = graft.sources.Connectors.read(spark, target)
    assert(out.count() == 4)
    val john = out.filter(out("employee_id") === 1L).head
    assert(john.getAs[String]("first_name") == "John")
    assert(john.getAs[Double]("salary") == 85000.5)
    assert(john.getAs[java.sql.Timestamp]("hire_date").toInstant ==
      java.time.Instant.parse("2020-01-15T00:00:00Z"))
    assert(john.isNullAt(john.fieldIndex("manager_id")))
    assert(john.getAs[Boolean]("is_full_time"))
    assert(out.filter(out("is_full_time")).count() == 3)
  }

  test("explicit file:// URLs route like plain paths (examples/02)") {
    val dir = tmpDir("cli_fileproto")
    writeText(s"$dir/input.csv", "id,name\n1,alpha\n2,beta\n")
    val cfg = parse(List(s"file://$dir/input.csv", s"file://$dir/output.parquet"))
      .asInstanceOf[Transfer].cfg
    assert(runTransfer(cfg, None, dryRun = false, "error") == 0)
    val out = spark.read.parquet(s"$dir/output.parquet")
    assert(out.count() == 2)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.LongType)
  }

  test("json tier-1 round-trip golden (examples/17, file-based half)") {
    // the reference example's sqlite leg is env-blocked (no driver jar);
    // its FILE half — schema-file json typing → parquet with the
    // tinyetl:type tag → JSON sink with the document tree INTACT
    // (run.sh step 7: "First record with JSON intact") — mirrors here
    // with the example's own five records (setup_db.sql)
    val dir = tmpDir("cli_ex17")
    writeText(s"$dir/names.csv",
      """id,url,name,doc
        |1,https://example.com/user1,Alice Johnson,"{""age"": 30, ""city"": ""New York"", ""active"": true, ""tags"": [""developer"", ""manager""]}"
        |2,https://example.com/user2,Bob Smith,"{""age"": 25, ""city"": ""San Francisco"", ""active"": true, ""tags"": [""designer"", ""frontend""]}"
        |3,https://example.com/user3,Carol Davis,"{""age"": 35, ""city"": ""Boston"", ""active"": false, ""tags"": [""backend"", ""architect""]}"
        |4,https://example.com/user4,David Wilson,"{""age"": 28, ""city"": ""Seattle"", ""active"": true, ""tags"": [""devops"", ""security""]}"
        |5,https://example.com/user5,Eve Martinez,"{""age"": 32, ""city"": ""Austin"", ""active"": true, ""tags"": [""data"", ""analytics""]}"
        |""".stripMargin)
    writeText(s"$dir/names_schema.yaml",
      """columns:
        |  - name: id
        |    type: string
        |    nullable: false
        |  - name: url
        |    type: string
        |    nullable: false
        |  - name: name
        |    type: string
        |    nullable: false
        |  - name: doc
        |    type: json
        |    nullable: false
        |""".stripMargin)
    // csv + schema file → parquet (the json type tag must survive)
    val toParquet = graft.engine.JobConfig(
      source = s"$dir/names.csv",
      target = s"$dir/names_output.parquet",
      schemaFile = Some(s"$dir/names_schema.yaml"),
      truncate = true)
    assert(runTransfer(toParquet, None, dryRun = false, "error") == 0)
    val pq = spark.read.parquet(s"$dir/names_output.parquet")
    assert(pq.count() == 5)
    assert(pq.schema("doc").metadata
      .contains(graft.core.TinyType.JsonMetaKey), "json tag must survive parquet")
    // preview renders the json type (run.sh step 6)
    val prev = new graft.engine.TransferEngine(graft.engine.JobConfig(
      source = s"$dir/names_output.parquet",
      target = s"$dir/verify_output.json")).preview(spark, 2)
    assert(prev.contains("json"))
    // parquet → single-array json: the document tree is INTACT (a
    // nested object, not an escaped string) — reference json.rs:250-261
    val toJson = graft.engine.JobConfig(
      source = s"$dir/names_output.parquet",
      target = s"$dir/verify_output.json",
      targetOptions = Map("jsonArray" -> "true"),
      truncate = true)
    assert(runTransfer(toJson, None, dryRun = false, "error") == 0)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/verify_output.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(text.trim.startsWith("[") && text.trim.endsWith("]"))
    assert(text.contains("\"doc\":{"), "doc must be a nested object")
    assert(!text.contains("\\\"age\\\""), "doc must not be an escaped string")
    // values verifiable through Spark's own json reader too
    val back = spark.read.option("multiLine", "true")
      .json(s"$dir/verify_output.json")
    assert(back.count() == 5)
    val alice = back.filter(back("name") === "Alice Johnson")
      .select("doc.age", "doc.city").head
    assert(alice.getLong(0) == 30L && alice.getString(1) == "New York")
    // the plain (distributed JSONL) sink renders nested the same way
    val toJsonl = graft.engine.JobConfig(
      source = s"$dir/names_output.parquet",
      target = s"$dir/verify_jsonl.json",
      truncate = true)
    assert(runTransfer(toJsonl, None, dryRun = false, "error") == 0)
    val jl = spark.read.json(s"$dir/verify_jsonl.json")
    assert(jl.filter(jl("name") === "Eve Martinez")
      .select("doc.age").head.getLong(0) == 32L)
  }

  test("flag forms: --flag=value, bare --infer-schema, --version") {
    assert(parse(List("--version")) == graft.Main.Version)
    assert(parse(List("-V")) == graft.Main.Version)
    // README uses --source-type=csv; clap's --infer-schema takes no value
    val t = parse(List("in_noext", "out.parquet",
      "--source-type=csv", "--infer-schema", "--batch-size=500"))
      .asInstanceOf[Transfer]
    assert(t.cfg.sourceOptions("sourceType") == "csv")
    assert(t.cfg.sourceOptions("fetchsize") == "500")
    // explicit bool form still accepted
    val t2 = parse(List("a.csv", "b.parquet", "--infer-schema", "true"))
      .asInstanceOf[Transfer]
    assert(t2.cfg.source == "a.csv")
    // --version anywhere (clap behavior)
    assert(parse(List("a.csv", "b.parquet", "--version")) == graft.Main.Version)
    // a transform VALUE containing '=' and leading '--' stays intact
    val t3 = parse(List("a.csv", "b.parquet",
      "--transform", "--x=1; y=row.a")).asInstanceOf[Transfer]
    assert(t3.cfg.transform.inline.contains("--x=1; y=row.a"))
    // ... even when it reads like one of the verb's own --flag=value pairs
    val t4 = parse(List("a.csv", "b.parquet",
      "--transform", "--log-level=warn")).asInstanceOf[Transfer]
    assert(t4.cfg.transform.inline.contains("--log-level=warn"))
    // --flag=value works for every value flag of every verb
    assert(parse(List("check", "a.csv", "--rules=r.yaml"))
      .asInstanceOf[CheckCmd].rulesFile == "r.yaml")
    val smp = parse(List("sample", "in", "out", "--id=doc_id",
      "--fraction=0.5")).asInstanceOf[SampleCmd]
    assert(smp.id == "doc_id" && smp.fraction.contains(0.5))
    // a stray flag value names itself, not a misleading SOURCE/TARGET error
    val e = intercept[GraftError.Configuration](
      parse(List("a.csv", "b.parquet", "--infer-schema", "yes")))
    assert(e.getMessage.contains("unexpected argument") &&
      e.getMessage.contains("yes"))
  }

  test("usage lists every flag each verb's parser accepts") {
    val lines = usage.linesIterator.toVector
    val options = lines.dropWhile(_ != "Options:").mkString("\n")
    // a verb's usage entry: its `graft <verb>` line and the indented
    // continuation lines up to the next entry
    def entry(verb: String): String = {
      val from = lines.indexWhere(_.contains(s"graft $verb "))
      assert(from >= 0, s"usage has no 'graft $verb' entry")
      (lines(from) +: lines.drop(from + 1)
        .takeWhile(l => l.trim.nonEmpty && !l.contains("graft ")))
        .mkString("\n")
    }
    def mentions(text: String, flag: String): Boolean =
      s"(?<![\\w-])${java.util.regex.Pattern.quote(flag)}(?![\\w-])".r
        .findFirstIn(text).isDefined
    // --log-level applies to every verb and is documented once, under Options
    assert(mentions(options, "--log-level"))
    (transfer +: subcommands.values.toSeq).foreach { v =>
      val text = if (v == transfer) options else entry(v.name)
      (v.flags - "--log-level").foreach { f =>
        assert(mentions(text, f),
          s"usage for '${if (v == transfer) "transfer" else v.name}' " +
            s"does not mention $f")
      }
    }
  }

  test("--source-type forces the format for extension-less local files") {
    val dir = tmpDir("cli_srctype")
    writeText(s"$dir/data_noext", "x,y\n7,a\n8,b\n")
    val cfg = parse(List(s"$dir/data_noext", s"$dir/out.parquet",
      "--source-type", "csv")).asInstanceOf[Transfer].cfg
    assert(runTransfer(cfg, None, dryRun = false, "error") == 0)
    assert(spark.read.parquet(s"$dir/out.parquet").count() == 2)
    // without the flag, an extension-less path is a loud routing error
    intercept[IllegalArgumentException](
      graft.sources.Connectors.parse(s"$dir/data_noext"))
  }

  test("yaml: typed transform map + run-mode options (yaml_config.rs shape)") {
    val r = YamlJob.loadYaml(
      """version: 1
        |source:
        |  uri: "in_noext"
        |target:
        |  uri: "out.parquet"
        |options:
        |  batch_size: 500
        |  preview: 7
        |  dry_run: true
        |  log_level: warn
        |  source_type: csv
        |  transform:
        |    type: script
        |    value: |
        |      x = row.a + 1
        |      y = x * 2
        |""".stripMargin)
    assert(r.cfg.transform.script.exists(_.contains("y = x * 2")))
    assert(r.cfg.transform.inline.isEmpty)
    assert(r.cfg.sourceOptions("sourceType") == "csv")
    assert(r.cfg.sourceOptions("fetchsize") == "500")
    assert(r.preview.contains(7) && r.dryRun && r.logLevel == "warn")
    // type: none → no transform; unknown type is loud
    assert(YamlJob.loadYaml(
      """source: {uri: a.csv}
        |target: {uri: b.parquet}
        |options:
        |  transform: {type: none}
        |""".stripMargin).cfg.transform == graft.engine.TransformSpec())
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.csv}
        |target: {uri: b.parquet}
        |options:
        |  transform: {type: magic, value: x}
        |""".stripMargin))
    // a typed transform WITHOUT its value is loud, not a silent no-op
    val noValue = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.csv}
        |target: {uri: b.parquet}
        |options:
        |  transform: {type: script}
        |""".stripMargin))
    assert(noValue.getMessage.contains("needs a value"))
    // a bare `transform:` line (null value) means no transform, no NPE
    assert(YamlJob.loadYaml(
      """source: {uri: a.csv}
        |target: {uri: b.parquet}
        |options:
        |  transform:
        |  truncate: true
        |""".stripMargin).cfg.transform == graft.engine.TransformSpec())
    // malformed run-mode values fail with typed, named errors
    val badPreview = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.csv}
        |target: {uri: b.parquet}
        |options: {preview: ten}
        |""".stripMargin))
    assert(badPreview.getMessage.contains("preview"))
  }

  test("golden 13: reference YAML config verbatim (script transform, csv → json)") {
    // examples/13_yaml_config/basic_config.yaml + employees.csv, uris
    // adjusted to the scratch dir; multi-line script via the typed
    // transform map, string concat (..), tonumber + string.sub. The
    // committed employees_output.json accumulated rows across historic
    // reference runs, so the assertion targets one clean run's
    // semantics (its LAST rows, produced by this exact config).
    val dir = tmpDir("cli_ex13")
    writeText(s"$dir/employees.csv",
      """id,first_name,last_name,department,monthly_salary,hire_date,active
        |1,John,Doe,Engineering,8500.00,2020-03-15,true
        |2,Jane,Smith,Marketing,7200.00,2019-08-22,true
        |3,Bob,Johnson,Sales,6800.00,2021-01-10,true
        |4,Alice,Williams,Engineering,9200.00,2018-11-05,true
        |5,Charlie,Brown,HR,5900.00,2022-06-18,false
        |6,Diana,Davis,Finance,7800.00,2019-12-03,true
        |7,Eve,Wilson,Engineering,8800.00,2020-09-14,true
        |8,Frank,Miller,Sales,7100.00,2021-04-27,true
        |9,Grace,Taylor,Marketing,6500.00,2022-02-08,true
        |10,Henry,Anderson,IT,8200.00,2020-07-19,true
        |""".stripMargin)
    writeText(s"$dir/basic_config.yaml",
      s"""version: 1
         |
         |source:
         |  uri: "$dir/employees.csv"
         |
         |target:
         |  uri: "$dir/employees_output.json"
         |
         |options:
         |  batch_size: 1000
         |  infer_schema: true
         |  log_level: "info"
         |  transform:
         |    type: script
         |    value: |
         |      id = 55555
         |      full_name = row.first_name .. " " .. row.last_name
         |      annual_salary = row.monthly_salary * 12
         |      hire_year = tonumber(string.sub(row.hire_date, 1, 4))
         |      current_year = 2024
         |      years_service = current_year - hire_year
         |""".stripMargin)
    val rc = runTransfer(YamlJob.fromFile(s"$dir/basic_config.yaml"),
      None, dryRun = false, logLevel = "error")
    assert(rc == 0)
    val out = spark.read.json(s"$dir/employees_output.json")
    assert(out.count() == 10)
    // the reference golden's values for John Doe / Henry Anderson
    // numeric parity is by VALUE, types normalized to double (the
    // reference computes all Lua arithmetic in f64 — SURVEY §1.2 — and
    // its JSON printer drops the .0 on integral results; our compiler
    // keeps integer-only expressions integral, same values)
    val norm = out.selectExpr("first_name", "full_name",
      "cast(annual_salary as double) annual_salary",
      "cast(hire_year as double) hire_year",
      "cast(current_year as double) current_year",
      "cast(years_service as double) years_service",
      "cast(id as double) id")
    val john = norm.filter(norm("first_name") === "John").head
    assert(john.getAs[String]("full_name") == "John Doe")
    assert(john.getAs[Double]("annual_salary") == 102000.0)
    assert(john.getAs[Double]("hire_year") == 2020.0)
    assert(john.getAs[Double]("current_year") == 2024.0)
    assert(john.getAs[Double]("years_service") == 4.0)
    assert(john.getAs[Double]("id") == 55555.0) // transform overwrites the key
    val henry = norm.filter(norm("first_name") === "Henry").head
    assert(henry.getAs[Double]("annual_salary") == 98400.0)
    assert(norm.filter(norm("id") === 55555.0).count() == 10)
  }

  test("run job.yaml end-to-end with env substitution") {
    val dir = tmpDir("cli_yaml")
    writeText(s"$dir/in.csv", "a,b\n1,x\n2,y\n")
    writeText(s"$dir/job.yaml",
      s"""version: "1.0"
         |source:
         |  uri: "$dir/in.csv"
         |target:
         |  uri: "$dir/out.parquet"
         |options:
         |  transform: "a2=row.a * 2"
         |  truncate: true
         |""".stripMargin)
    val rc = runTransfer(YamlJob.fromFile(s"$dir/job.yaml"),
      None, dryRun = false, logLevel = "error")
    assert(rc == 0)
    assert(spark.read.parquet(s"$dir/out.parquet")
      .filter("a = 2").head.getAs[Long]("a2") == 4L)
  }

  test("curation yaml e2e: url → repetition → dedup → sample → sharded write") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("cli_curation")
    // corpus: 40 clean docs, 1 blocklisted-subdomain doc, 1 exact
    // duplicate of doc 0, 1 degenerate one-word-repeated doc
    val docs =
      (0L until 40L).map(i => (i, s"clean document number $i talks about topic ${i % 7} in fresh words $i")) ++
      Seq(
        (100L, "spammy doc citing http://evil.spam.example.com/buy now"),
        (101L, "clean document number 0 talks about topic 0 in fresh words 0"),
        (102L, ("spam " * 40).trim))
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs.parquet")
    writeText(s"$dir/job.yaml",
      s"""version: "1.0"
         |source:
         |  uri: "$dir/docs.parquet"
         |target:
         |  uri: "$dir/corpus"
         |curation:
         |  id_column: doc_id
         |  text_column: text
         |  blocklist: [spam.example.com]
         |  max_dup_word_frac: 0.8
         |  sample_fraction: 0.5
         |  observed: true
         |  shards:
         |    count: 4
         |    seed: 7
         |""".stripMargin)
    val r = YamlJob.load(s"$dir/job.yaml")
    val cur = r.curation.get
    assert(cur.idColumn == "doc_id" && cur.blocklist == Seq("spam.example.com"))
    assert(cur.shards.contains(YamlJob.ShardSpec(4, 7L)))
    assert(runCuration(r.cfg, cur, r.preview, r.dryRun, "error") == 0)

    val out = spark.read.parquet(s"$dir/corpus")
    // sharded layout: partition column present, all shards in range
    assert(out.columns.contains("shard") && out.columns.contains("shard_pos"))
    // (the partition column comes back as the inferred directory type)
    assert(out.select(col("shard").cast("long")).distinct().collect()
      .forall(_.getLong(0) < 4L))
    // blocked / duplicate / degenerate docs never survive ANY sample
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(100L) && !ids.contains(101L) && !ids.contains(102L))
    // the kept set is exactly the library pipeline's own answer —
    // CLI-vs-API parity, deterministic by construction
    val expect = graft.llm.Curation.pipeline(
        spark.read.parquet(s"$dir/docs.parquet"), "doc_id", "text",
        graft.llm.Curation.PipelineConfig(
          blocklist = Seq("spam.example.com"), maxDupWordFrac = 0.8,
          sampleFraction = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == expect, s"CLI kept $ids, API kept $expect")
    // rerun is bit-identical (deterministic shuffle): same (id, shard, pos)
    val before = out.select("doc_id", "shard", "shard_pos").collect().toSet
    assert(runCuration(r.cfg, cur, None, dryRun = false, "error") == 0)
    val after = spark.read.parquet(s"$dir/corpus")
      .select("doc_id", "shard", "shard_pos").collect().toSet
    assert(after == before)

    // preview/dry-run write nothing, even with a curation section
    writeText(s"$dir/job_dry.yaml",
      s"""version: "1.0"
         |source: {uri: "$dir/docs.parquet"}
         |target: {uri: "$dir/never_out"}
         |options: {dry_run: true}
         |curation:
         |  id_column: doc_id
         |  text_column: text
         |""".stripMargin)
    val d = YamlJob.load(s"$dir/job_dry.yaml")
    assert(runCuration(d.cfg, d.curation.get, d.preview, d.dryRun, "error") == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/never_out")))

    // unknown knobs and malformed values are loud, typed errors
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, sample_fracton: 0.1}
        |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, bucket: md5}
        |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {text_column: t}
        |""".stripMargin))
    // optional stage knobs parse
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, line_dedup_min_docs: 4, strip_tracking_params: true, strip_html: true, strip_markdown: true, fix_mojibake: true, normalize_unicode: nfc, substring_dedup_window: 50, soft_dedup: true}
        |""".stripMargin).curation
      .exists(c => c.lineDedupMinDocs.contains(4) && c.stripHtml &&
        c.stripTrackingParams &&
        c.stripMarkdown && c.fixMojibake && c.normalizeUnicode.contains("NFC") &&
        c.substringDedupWindow.contains(50) && c.softDedup))
    // corpus-wide knobs reject at LOAD time in stream mode
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, mode: stream, ts_column: ts, checkpoint: /tmp/c, substring_dedup_window: 50}
        |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, mode: stream, ts_column: ts, checkpoint: /tmp/c, soft_dedup: true}
        |""".stripMargin))
    // but an explicit soft_dedup: false streams fine
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, mode: stream, ts_column: ts, checkpoint: /tmp/c, soft_dedup: false}
        |""".stripMargin).curation.exists(!_.softDedup))
    // incremental reference snapshot: ${VAR} substitution applies
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, reference: "${PREV}/corpus.parquet"}
        |""".stripMargin, env = Map("PREV" -> "/snapshots/r6")).curation
      .exists(_.referenceUri.contains("/snapshots/r6/corpus.parquet")))
    // reference_bloom: expected-key sizing for the exact-hash prefilter
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, reference: prev.parquet, reference_bloom: 1000000}
        |""".stripMargin).curation
      .exists(_.referenceBloom.contains(1000000L)))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, normalize_unicode: NFD}
        |""".stripMargin))
    // compression band: lo:hi form parses; malformed/inverted are loud
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, compression_band: "0.2:0.95"}
        |""".stripMargin).curation
      .exists(_.compressionBand.contains((0.2, 0.95))))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, compression_band: "0.9:0.2"}
        |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, compression_band: "nope"}
        |""".stripMargin))
    val full = YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  token_budget: 5000000000
        |  token_budget_shards: 16
        |  contamination:
        |    probes_uri: "bench.parquet"
        |    n: 13
        |    max: 0.1
        |""".stripMargin).curation.get
    assert(full.tokenBudget.contains(5000000000L)) // > Int.MaxValue
    assert(!full.stripHtml)
    assert(full.tokenBudgetShards == 16)
    assert(full.contamination.contains(
      YamlJob.ContaminationSpec("bench.parquet", "text", 13, 0.1)))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  contamination: {n: 8}
        |""".stripMargin))
    // NESTED maps enforce the same unknown-key loudness as the top level
    val nestedTypo = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  contamination: {probes_uri: p.parquet, max_overlap: 0.05}
        |""".stripMargin))
    assert(nestedTypo.getMessage.contains("max_overlap"))
    val shardTypo = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  shards: {count: 4, sede: 7}
        |""".stripMargin))
    assert(shardTypo.getMessage.contains("sede"))
    // 64-bit shard seeds parse; ${VAR} reaches contamination.text_column
    val wide = YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  shards: {count: 4, seed: 5000000000}
        |  contamination: {probes_uri: "${BDIR}/p.parquet", text_column: "${PCOL}"}
        |""".stripMargin,
      env = Map("BDIR" -> "/bench", "PCOL" -> "snippet")).curation.get
    assert(wide.shards.contains(YamlJob.ShardSpec(4, 5000000000L)))
    assert(wide.contamination.contains(
      YamlJob.ContaminationSpec("/bench/p.parquet", "snippet", 8, 0.2)))
    // decontaminate_excise: full map, defaults, missing probes_uri and
    // nested typos are loud
    val ex = YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_excise: {probes_uri: "bench.parquet", window: 40}
        |""".stripMargin).curation.get
    assert(ex.decontaminateExcise.contains(
      YamlJob.DecontaminateExciseSpec("bench.parquet", "text", 40)))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_excise: {window: 40}
        |""".stripMargin))
    val exTypo = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_excise: {probes_uri: p.parquet, windw: 40}
        |""".stripMargin))
    assert(exTypo.getMessage.contains("windw"))
    // decontaminate_fuzzy: full map, defaults, missing probes_uri loud
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_fuzzy: {probes_uri: "bench.parquet", k: 12, w: 24}
        |""".stripMargin).curation.get.decontaminateFuzzy.contains(
      YamlJob.DecontaminateFuzzySpec("bench.parquet", "text", 12, 24)))
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_fuzzy: {probes_uri: "bench.parquet"}
        |""".stripMargin).curation.get.decontaminateFuzzy.contains(
      YamlJob.DecontaminateFuzzySpec("bench.parquet", "text", 16, 32)))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  decontaminate_fuzzy: {k: 12}
        |""".stripMargin))
    // dsir: full map, defaults, required keys, batch-only
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  dsir: {target_uri: "wiki.parquet", k: 500, buckets: 4096}
        |""".stripMargin).curation.get.dsir.contains(
      YamlJob.DsirSpec("wiki.parquet", 500, "text", 4096, 42L)))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  dsir: {target_uri: "wiki.parquet"}
        |""".stripMargin))
    val dsirStream = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  mode: stream
        |  ts_column: ts
        |  checkpoint: /tmp/ck
        |  dsir: {target_uri: "wiki.parquet", k: 10}
        |""".stripMargin))
    assert(dsirStream.getMessage.contains("dsir") &&
      dsirStream.getMessage.contains("cannot stream"))
    // c4_rules: bool form, map form with defaults, false = off, typos loud
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, c4_rules: true}
        |""".stripMargin).curation.get.c4Rules.contains(YamlJob.C4Spec()))
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, c4_rules: false}
        |""".stripMargin).curation.get.c4Rules.isEmpty)
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  c4_rules: {min_words_per_line: 4, bad_words: [tnt, acme]}
        |""".stripMargin).curation.get.c4Rules
      .contains(YamlJob.C4Spec(4, 3, Seq("tnt", "acme"))))
    // c4_rules bad_words_file: one term per line, '#' comments and
    // blanks skipped, ${VAR}-substituted path, appended after inline
    // terms; a missing file is loud at parse time
    val bwDir = java.nio.file.Files.createTempDirectory("c4bw")
    val bwFile = bwDir.resolve("blocklist.txt")
    java.nio.file.Files.write(bwFile,
      "# public blocklist\n\n tnt \nacme\n# tail comment\n".getBytes("UTF-8"))
    val withFile = YamlJob.loadYaml(
      s"""source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  c4_rules: {bad_words: [inline1], bad_words_file: "$${BWDIR}/blocklist.txt"}
        |""".stripMargin, env = Map("BWDIR" -> bwDir.toString))
    assert(withFile.curation.get.c4Rules
      .contains(YamlJob.C4Spec(5, 3, Seq("inline1", "tnt", "acme"))),
      s"file terms append to inline: ${withFile.curation.get.c4Rules}")
    val bwMissing = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  c4_rules: {bad_words_file: /nonexistent/blocklist.txt}
        |""".stripMargin))
    assert(bwMissing.getMessage.contains("/nonexistent/blocklist.txt"))
    // gopher_rules: plain bool knob
    assert(YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation: {id_column: id, text_column: t, gopher_rules: true}
        |""".stripMargin).curation.get.gopherRules)
    val c4Typo = intercept[GraftError.Configuration](YamlJob.loadYaml(
      """source: {uri: a.parquet}
        |target: {uri: b}
        |curation:
        |  id_column: id
        |  text_column: t
        |  c4_rules: {min_wordz: 4}
        |""".stripMargin))
    assert(c4Typo.getMessage.contains("min_wordz"))
    // the committed golden examples parse (uris are placeholders)
    val golden = YamlJob.load("examples/curation_job.yaml")
    assert(golden.curation.exists(c =>
      c.shards.contains(YamlJob.ShardSpec(64, 42L)) && c.observed))
    val sel = YamlJob.load("examples/target_selection.yaml",
      Map("CRAWL_DIR" -> "/c", "BENCH_DIR" -> "/b",
        "TARGET_DIR" -> "/t", "OUT_DIR" -> "/o")).curation.get
    assert(sel.gopherRules &&
      sel.decontaminateExcise.contains(
        YamlJob.DecontaminateExciseSpec("/b/eval.parquet", "text", 50)) &&
      sel.decontaminateFuzzy.contains(
        YamlJob.DecontaminateFuzzySpec("/b/eval.parquet", "text", 16, 32)) &&
      sel.dsir.contains(YamlJob.DsirSpec(
        "/t/reference_corpus.parquet", 100000, "text", 10000, 42L)) &&
      sel.observed)
    val inc = YamlJob.load("examples/incremental_ingest.yaml",
      Map("CRAWL_DIR" -> "/c", "PREV" -> "/p", "OUT_DIR" -> "/o"))
      .curation.get
    assert(inc.referenceUri.contains("/p") &&
      inc.referenceBloom.contains(10000000L) && inc.observed)
  }

  test("capstone yaml e2e: examples/pretrain_curation.yaml runs the " +
      "full curation surface verbatim (env-substituted paths)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("cli_capstone")
    // 56 distinct english words — longer than the 50-token window, so
    // 7 probe windows exist; english chars keep lang-id onside
    val evalPassage = "the quick brown fox jumps over a lazy dog while " +
      "bright morning sunlight warms seven small villages near ancient " +
      "rivers flowing gently toward distant emerald valleys where " +
      "careful farmers plant golden wheat beside tall oak trees and " +
      "children gather ripe apples under clear autumn skies before " +
      "winter arrives bringing quiet snow across peaceful mountain " +
      "slopes everywhere"
    // reversed word order: shares every WORD with the passage but no
    // 8-gram and no 50-token run — a corpus-internal shared span that
    // must NOT trip decontamination
    val sharedSpan = evalPassage.split(" ").reverse.mkString(" ")
    // one mid-token edit breaks every 50-token verbatim run (max run
    // 28 < 50 → excise finds nothing) while ~84% of 8-grams still
    // match → the DROP stage's case
    val fuzzyLeak = {
      val t = evalPassage.split(" "); t(27) = "caerful"; t.mkString(" ")
    }
    val footer = "all rights reserved contact the webmaster for details"
    def cleanDoc(i: Long) = s"plain english document number $i " +
      s"discusses subject ${i % 7} in fresh wording with several " +
      s"additional natural sentence words appended for weight $i"
    val docs: Seq[(Long, String)] =
      (0L until 40L).map(i => (i, cleanDoc(i))) ++ Seq(
        100L -> ("spam citing http://shop.spam.example.com/deal now " +
          "with other english words here"),
        101L -> s"unique body one about gardens and growth\n$footer",
        102L -> s"unique body two about oceans and tides\n$footer",
        103L -> s"unique body three about forests and trails\n$footer",
        104L -> s"unique body four about deserts and dunes\n$footer",
        105L -> s"first story begins here $sharedSpan",
        106L -> s"second story starts now $sharedSpan",
        107L -> cleanDoc(0), // exact duplicate → soft dedup weights
        108L -> ("twelve ordinary english words form this body before " +
          s"the leak arrives $evalPassage"),
        109L -> fuzzyLeak,
        110L -> ("das schnelle braune pferd springt über den faulen " +
          "zaun während die sonne über dem tal scheint"),
        111L -> ("die müden kinder gehen früh nach hause weil der " +
          "kalte winter schnee über die stadt bringt"),
        112L -> ("buy now " * 30).trim) // degenerate → repetition
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .write.parquet(s"$dir/crawl/documents.parquet")
    val seed = Seq(
      ("the quick brown fox jumps over the lazy dog near the river", "en"),
      ("seven small children gather apples under clear autumn skies", "en"),
      ("careful farmers plant golden wheat beside tall oak trees", "en"),
      ("bright morning sunlight warms the peaceful mountain villages", "en"),
      ("this document discusses several subjects in fresh wording", "en"),
      ("winter arrives bringing quiet snow across distant valleys", "en"),
      ("der schnelle braune fuchs springt über den faulen hund", "de"),
      ("sieben kleine kinder sammeln äpfel unter klarem herbsthimmel", "de"),
      ("sorgfältige bauern pflanzen goldenen weizen neben hohen eichen", "de"),
      ("helles morgenlicht wärmt die friedlichen bergdörfer im tal", "de"),
      ("dieses dokument behandelt mehrere themen in frischer sprache", "de"),
      ("der winter bringt leisen schnee über die fernen täler", "de"))
      .toDF("text", "lang")
    seed.write.parquet(s"$dir/seed/labeled.parquet")
    Seq(evalPassage).toDF("text").write.parquet(s"$dir/bench/eval.parquet")

    // the COMMITTED example file, driven verbatim via ${VAR} paths
    val env = Map("CRAWL_DIR" -> s"$dir/crawl", "SEED_DIR" -> s"$dir/seed",
      "BENCH_DIR" -> s"$dir/bench", "OUT_DIR" -> s"$dir/out")
    val r = YamlJob.load("examples/pretrain_curation.yaml", env)
    val cur = r.curation.get
    assert(cur.softDedup && cur.substringDedupWindow.contains(50) &&
      cur.decontaminateExcise.exists(_.window == 50) &&
      cur.tokenBudget.contains(800L) && cur.observed)
    assert(runCuration(r.cfg, cur, r.preview, r.dryRun, "error") == 0)
    val out = spark.read.parquet(s"$dir/out/corpus")
    val ids = out.select(col("doc_id")).collect().map(_.getLong(0)).toSet

    // CLI-vs-API parity under the full config
    val raw = spark.read.parquet(s"$dir/crawl/documents.parquet")
    val (lm, ls) = graft.llm.LangId.train(seed, "text", "lang",
      vocabSize = 2000)
    val pc = graft.llm.Curation.PipelineConfig(
      blocklist = Seq("spam.example.com"),
      langId = Some((lm, ls, Seq("en"))),
      maxDupWordFrac = 0.5, maxDupNgramFrac = 0.5, maxTopNgramFrac = 0.4,
      lineDedupMinDocs = Some(4), substringDedupWindow = Some(50),
      softDedup = true,
      decontaminateExciseProbes = Some(spark.read.parquet(s"$dir/bench/eval.parquet")),
      decontaminateExciseWindow = 50,
      contaminationProbes = Some(spark.read.parquet(s"$dir/bench/eval.parquet")),
      contaminationN = 8, maxContamination = 0.5,
      tokenBudget = Some(800L), tokenBudgetShards = 4)
    val expect = graft.llm.Curation.pipeline(raw, "doc_id", "text", pc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == expect, s"CLI kept $ids, API kept $expect")

    // stage-level semantics, asserted on the pre-budget pipeline so the
    // deterministic token cut can't hide a stage's output
    val full = graft.llm.Curation.pipeline(raw, "doc_id", "text",
        pc.copy(tokenBudget = None))
      .select("doc_id", "text", "contaminated_chars", "dup_count", "weight")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // URL / lang-id / repetition / contamination drops
    for (gone <- Seq(100L, 110L, 111L, 112L, 109L))
      assert(!full.contains(gone), s"doc $gone must not survive")
    // line dedup stripped the shared footer from all four carriers
    for (i <- 101L to 104L)
      assert(!full(i)._1.contains("rights reserved"), s"footer in $i")
    // substring dedup: keeper keeps the span, the other loses it
    assert(full(105L)._1.endsWith(sharedSpan), "keeper must keep the span")
    assert(full(106L)._1 == "second story starts now ",
      s"non-keeper must lose the span: ${full(106L)}")
    // soft dedup: both copies kept at weight 1/2
    assert(full(0L)._3 == 2L && full(0L)._4 == 0.5 &&
      full(107L)._3 == 2L && full(107L)._4 == 0.5)
    // decontaminate-excise: leak cut, doc KEPT, chars recorded
    assert(full(108L)._1 == "twelve ordinary english words form this " +
      "body before the leak arrives " && full(108L)._2 == evalPassage.length,
      s"excise: ${full(108L)}")
    // everything else reports 0 contaminated chars
    assert(full.filterKeys(_ != 108L).values.forall(_._2 == 0L))
    // the token budget genuinely cut (kept ⊂ pre-budget survivors)
    assert(ids.subsetOf(full.keySet) && ids.size < full.size,
      s"budget cut nothing: ${ids.size} of ${full.size}")
  }

  test("crawl-to-shards yaml e2e: .warc.gz source (#text) → consent + " +
      "hygiene → WebDataset .tar target; deterministic rerun") {
    import org.apache.spark.sql.functions.col
    import graft.sources.{TarSource, WarcSource}
    val dir = tmpDir("cli_warc_tar")
    // a small crawl: 10 clean pages, one with an X-Robots-Tag noai
    // objection, one with a meta-robots objection, one exact duplicate
    val docs =
      (0 until 10).map(i => (s"http://site.test/p/$i",
        s"clean page number $i about topic ${i % 3} in fresh words $i",
        null: String)) ++ Seq(
        ("http://site.test/p/90", "optout page via header", "X-Robots-Tag: noai"),
        ("http://site.test/p/91",
          "<meta name=\"robots\" content=\"noai\">optout page via meta",
          null),
        ("http://site.test/p/92",
          "clean page number 0 about topic 0 in fresh words 0", null))
    WarcSource.write(
      spark.createDataFrame(docs).toDF("uri", "payload", "hdrs"),
      s"$dir/crawl", "uri", "payload", extraHttpHeadersCol = "hdrs")
    writeText(s"$dir/job.yaml",
      s"""version: "1.0"
         |source:
         |  uri: "$dir/crawl#text"
         |target:
         |  uri: "$dir/shards.tar"
         |options:
         |  source_type: warc
         |  log_level: error
         |curation:
         |  id_column: target_uri
         |  text_column: text
         |  consent: true
         |  observed: true
         |""".stripMargin)
    val r = YamlJob.load(s"$dir/job.yaml")
    assert(r.curation.get.consent)
    assert(runCuration(r.cfg, r.curation.get, r.preview, r.dryRun,
      "error") == 0)
    // read the shards back through the adjacency reader: survivors =
    // the 10 clean pages minus the exact duplicate's loser (min-id
    // keep: ".../p/0" < ".../p/92"), minus both opt-outs
    val samples = TarSource.readSamples(spark, s"$dir/shards.tar")
    val keys = samples.select("key").collect().map(_.getString(0)).toSet
    assert(keys == (0 until 10).map(i => s"http://site.test/p/$i").toSet,
      s"got $keys")
    // text round-trips byte-exact; metadata rides in <key>.json
    val s0 = samples.filter(col("key") === "http://site.test/p/7").head
    val exts = s0.getMap[String, Array[Byte]](2)
    assert(new String(exts("txt"), "UTF-8") ==
      "clean page number 7 about topic 7 in fresh words 7"
        .replace("topic 7", "topic 1"))
    assert(new String(exts("json"), "UTF-8").contains("\"http_status\":200"))
    // deterministic rerun: identical shard bytes (mtime 0, stable ids)
    def shardSums(d: String): Map[String, Long] =
      java.nio.file.Files.list(java.nio.file.Paths.get(d)).toArray
        .map(_.toString).filter(_.endsWith(".tar")).map(f =>
          f.split('/').last ->
            java.util.Arrays.hashCode(
              java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(f))).toLong).toMap
    val before = shardSums(s"$dir/shards.tar")
    assert(runCuration(r.cfg, r.curation.get, None, dryRun = false,
      "error") == 0)
    assert(shardSums(s"$dir/shards.tar") == before)
  }

  test("compressed-JSONL-dump yaml e2e: a .jsonl.zst corpus (The " +
      "Pile's delivery shape) reads through `curation:` to parquet — " +
      "consent + exact dedup fire, stage counts assert the flow") {
    import spark.implicits._
    val dir = tmpDir("cli_jsonl_zst")
    // 10 clean docs + one exact duplicate of doc 0 + one meta-robots
    // opt-out — mirrors the crawl e2e's drop set on the dump container
    val docs =
      (0L until 10L).map(i =>
        (i, s"clean page number $i about topic ${i % 3} in fresh words $i")) ++
        Seq((90L, "clean page number 0 about topic 0 in fresh words 0"),
          (91L, "<meta name=\"robots\" content=\"noai\">optout page"))
    graft.sources.ZstdText.writeJsonl(
      docs.toDF("doc_id", "text").repartition(2), s"$dir/dump",
      compression = "zstd")
    writeText(s"$dir/job.yaml",
      s"""version: "1.0"
         |source:
         |  uri: "$dir/dump"
         |target:
         |  uri: "$dir/corpus.parquet"
         |options:
         |  source_type: jsonl
         |  log_level: error
         |curation:
         |  id_column: doc_id
         |  text_column: text
         |  consent: true
         |  observed: true
         |""".stripMargin)
    val r = YamlJob.load(s"$dir/job.yaml")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      assert(runCuration(r.cfg, r.curation.get, r.preview, r.dryRun,
        "error") == 0)
    }
    val printed = buf.toString("UTF-8")
    def stage(name: String): Long =
      s"(?m)^\\s+$name\\s+(\\d+)$$".r.findFirstMatchIn(printed)
        .map(_.group(1).toLong)
        .getOrElse(fail(s"stage '$name' not printed:\n$printed"))
    assert(stage("input") == 12L, printed)
    // consent folds into the per-row hygiene count: doc 91 drops here
    assert(stage("after_repetition") == 11L, printed)
    // exact dedup: doc 90 loses to doc 0 (min-id keep)
    assert(stage("after_dedup") == 10L, printed)
    assert(stage("kept") == 10L, printed)
    assert(printed.contains("Kept 10 rows"), printed)
    val ids = spark.read.parquet(s"$dir/corpus.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 10L).toSet, s"got $ids")
  }

  test("incremental ingest yaml e2e: examples/incremental_ingest.yaml " +
      "across two simulated days — day 2 drops exactly the re-crawled " +
      "content through the Bloom + reference anti-join") {
    val dir = tmpDir("cli_incr")
    def crawl(day: Int, rows: Seq[(Long, String)]): String = {
      val d = s"$dir/crawl$day"
      spark.createDataFrame(rows).toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    val day1Rows = (0L until 20L).map(i =>
      (i, s"day one page $i body with steady words ${i % 5} and $i"))
    val day2New = (100L until 110L).map(i =>
      (i, s"day two fresh page $i body with new words ${i % 4} and $i"))
    // day 2 re-crawls pages 0..9 byte-identically (new ids — a
    // re-crawl mints new fetch ids; only the CONTENT matches)
    val day2Recrawl = (0L until 10L).map(i =>
      (200L + i, s"day one page $i body with steady words ${i % 5} and $i"))
    val c1 = crawl(1, day1Rows)
    val c2 = crawl(2, day2New ++ day2Recrawl)
    // day 0 "previous snapshot": an empty corpus with the right schema
    spark.createDataFrame(Seq.empty[(Long, String)]).toDF("doc_id", "text")
      .write.parquet(s"$dir/out0/corpus.parquet")
    def runDay(crawlDir: String, prev: String, outDir: String): Long = {
      val env = sys.env ++ Map("CRAWL_DIR" -> crawlDir,
        "PREV" -> prev, "OUT_DIR" -> outDir)
      val r = YamlJob.load("examples/incremental_ingest.yaml", env)
      val out = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        runCuration(r.cfg, r.curation.get, r.preview, r.dryRun, "error")
      }
      assert(rc == 0)
      // the observed stage counts print per run; return day's
      // after_reference survivor count for the drop assertion
      val line = out.toString("UTF-8").linesIterator
        .find(_.trim.startsWith("after_reference")).getOrElse(
          fail("no after_reference stage count printed"))
      line.trim.split("\\s+")(1).toLong
    }
    val afterRef1 = runDay(c1, s"$dir/out0/corpus.parquet", s"$dir/out1")
    assert(afterRef1 == 20L, "empty snapshot must drop nothing")
    val day1Out = spark.read.parquet(s"$dir/out1/corpus.parquet")
    assert(day1Out.count() == 20)
    val afterRef2 = runDay(c2, s"$dir/out1/corpus.parquet", s"$dir/out2")
    // the 10 re-crawled pages drop at the reference stage: 20 in → 10
    assert(afterRef2 == 10L,
      s"day 2 must drop exactly the 10 re-crawled pages, kept $afterRef2")
    val day2Ids = spark.read.parquet(s"$dir/out2/corpus.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(day2Ids == (100L until 110L).toSet, s"got $day2Ids")
  }

  test("curation yaml mode=stream e2e: continuous ingest matches batch") {
    val dir = tmpDir("cli_curation_stream")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // corpus: 30 clean docs, 1 blocklisted doc, 1 exact duplicate of
    // doc 3, 1 degenerate repeated-word doc
    val docs =
      (0L until 30L).map(i =>
        (i, s"streamed clean document $i about topic ${i % 5} unique words $i", ts)) ++
      Seq(
        (100L, "spammy doc citing http://evil.spam.example.com/buy now", ts),
        (101L, "streamed clean document 3 about topic 3 unique words 3", ts),
        (102L, ("spam " * 40).trim, ts))
    spark.createDataFrame(docs).toDF("doc_id", "text", "ts")
      .write.parquet(s"$dir/docs.parquet")
    writeText(s"$dir/job.yaml",
      s"""version: "1.0"
         |source:
         |  uri: "$dir/docs.parquet"
         |target:
         |  uri: "$dir/corpus"
         |curation:
         |  id_column: doc_id
         |  text_column: text
         |  mode: stream
         |  ts_column: ts
         |  dedup_horizon: "10 minutes"
         |  checkpoint: "$dir/ckpt"
         |  blocklist: [spam.example.com]
         |  max_dup_word_frac: 0.8
         |""".stripMargin)
    val r = YamlJob.load(s"$dir/job.yaml")
    val cur = r.curation.get
    assert(cur.mode == "stream" && cur.tsColumn.contains("ts"))
    assert(cur.checkpoint.contains(s"$dir/ckpt"))
    assert(cur.dedupHorizon == "10 minutes" && cur.trigger == "available_now")
    assert(runCurationStream(r.cfg, cur, r.preview, r.dryRun, "error") == 0)

    val ids = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // blocked and degenerate docs never survive; the duplicate pair
    // keeps exactly one member (stream dedup keeps FIRST ARRIVAL, which
    // unlike the batch min-id rule is not ordained across file splits)
    assert(!ids.contains(100L) && !ids.contains(102L))
    assert((ids & Set(3L, 101L)).size == 1)
    // modulo that one identity, the stream's answer IS the batch
    // pipeline's answer on the same corpus
    val batchIds = graft.llm.Curation.pipeline(
        spark.read.parquet(s"$dir/docs.parquet"), "doc_id", "text",
        graft.llm.Curation.PipelineConfig(
          blocklist = Seq("spam.example.com"), maxDupWordFrac = 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids -- Set(3L, 101L) == batchIds -- Set(3L, 101L))
    assert(ids.size == batchIds.size)

    // a second AvailableNow run over the same checkpoint drains nothing
    // new: exactly-once output, no duplicated rows
    assert(runCurationStream(r.cfg, cur, None, dryRun = false, "error") == 0)
    assert(spark.read.parquet(s"$dir/corpus").count() == ids.size)

    // load-time loudness: stream mode without ts_column / checkpoint
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      s"""source: {uri: a.parquet}
         |target: {uri: b}
         |curation: {id_column: id, text_column: t, mode: stream, checkpoint: /tmp/c}
         |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      s"""source: {uri: a.parquet}
         |target: {uri: b}
         |curation: {id_column: id, text_column: t, mode: stream, ts_column: ts}
         |""".stripMargin))
    intercept[GraftError.Configuration](YamlJob.loadYaml(
      s"""source: {uri: a.parquet}
         |target: {uri: b}
         |curation: {id_column: id, text_column: t, mode: continuous}
         |""".stripMargin))
    // batch-only knobs are rejected loudly at run time
    intercept[GraftError.Configuration](
      runCurationStream(r.cfg, cur.copy(observed = true), None, false, "error"))
    intercept[GraftError.Configuration](
      runCurationStream(r.cfg,
        cur.copy(shards = Some(YamlJob.ShardSpec(4, 7L))), None, false, "error"))
    intercept[GraftError.Configuration](
      runCurationStream(r.cfg, cur, Some(5), false, "error"))
    intercept[GraftError.Configuration](
      runCurationStream(r.cfg.copy(skipExisting = true), cur, None, false, "error"))
    // persistSurvivors: rejected inside pipelineStream (advice r6 —
    // no silent ignore)
    intercept[GraftError.Configuration](
      runCurationStream(r.cfg,
        cur.copy(persistSurvivors = true), None, false, "error"))
    // corpus-wide knobs on an API-built spec reach pipelineStream's own
    // rejection instead of being dropped on the way
    for (c <- Seq(cur.copy(softDedup = true),
        cur.copy(lineDedupMinDocs = Some(4)),
        cur.copy(tokenBudget = Some(1000L))))
      intercept[GraftError.Configuration](
        runCurationStream(r.cfg, c, None, false, "error"))
  }

  test("profile subcommand: parse forms, box output, typed errors") {
    val p = parse(List("profile", "data.parquet",
      "--columns=a,b", "--exact")).asInstanceOf[Profile]
    assert(p.source == "data.parquet")
    assert(p.columns == Seq("a", "b") && p.exact)
    val p2 = parse(List("profile", "noext", "--source-type", "csv",
      "--log-level", "warn")).asInstanceOf[Profile]
    assert(p2.sourceOptions("sourceType") == "csv" && !p2.exact)
    assert(p2.logLevel == "warn")
    intercept[GraftError.Configuration](parse(List("profile")))
    intercept[GraftError.Configuration](parse(List("profile", "a", "--bogus")))
    intercept[GraftError.Configuration](parse(List("profile", "a", "b")))

    // end-to-end: profile a csv through the connector factory
    val dir = tmpDir("cli_profile")
    writeText(s"$dir/in.csv", "id,name\n1,ann\n2,\n3,ann\n")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runProfile(parse(List("profile", s"$dir/in.csv", "--exact"))
        .asInstanceOf[Profile])
    }
    assert(rc == 0)
    val rendered = out.toString("UTF-8")
    assert(rendered.contains("column_name") && rendered.contains("n_distinct"))
    assert(rendered.contains("exact distinct"))
    // name: 3 rows, 1 null, 1 distinct ("ann"); the box truncates cells
    // to 15 chars so assert on the raw profile frame instead
    val prof = graft.operators.TableProfile.summarize(
      graft.sources.Connectors.read(spark, s"$dir/in.csv"), exact = true)
    val name = prof.filter(prof("column_name") === "name").head
    assert(name.getLong(1) == 3L && name.getLong(2) == 1L &&
      name.getLong(3) == 1L && name.getString(4) == "ann")
  }

  test("check subcommand: YAML rules run, CI exit code, typed errors") {
    val c = parse(List("check", "d.parquet", "--rules", "r.yaml",
      "--source-type", "parquet")).asInstanceOf[CheckCmd]
    assert(c.source == "d.parquet" && c.rulesFile == "r.yaml")
    assert(c.sourceOptions("sourceType") == "parquet")
    intercept[GraftError.Configuration](parse(List("check")))
    intercept[GraftError.Configuration](parse(List("check", "a.csv")))
    intercept[GraftError.Configuration](
      parse(List("check", "a.csv", "--rules", "r.yaml", "--bogus")))

    // end-to-end: one passing + one failing rule → exit 1, both printed
    val dir = tmpDir("cli_check")
    writeText(s"$dir/in.csv", "id,v\n1,5\n2,\n3,9\n")
    writeText(s"$dir/rules.yaml",
      """checks:
        |  - type: not_null
        |    column: id
        |  - type: not_null
        |    column: v
        |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runCheck(parse(List("check", s"$dir/in.csv",
        "--rules", s"$dir/rules.yaml")).asInstanceOf[CheckCmd])
    }
    assert(rc == 1, "a failing check must flip the exit code")
    val rendered = out.toString("UTF-8")
    assert(rendered.contains("1 check(s) FAILED"))
    assert(rendered.contains("not_null"))

    // all-green run exits 0
    writeText(s"$dir/ok.yaml",
      """checks:
        |  - type: not_null
        |    column: id
        |  - type: unique
        |    columns: [id]
        |""".stripMargin)
    val rc2 = Console.withOut(new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")) {
      runCheck(parse(List("check", s"$dir/in.csv",
        "--rules", s"$dir/ok.yaml")).asInstanceOf[CheckCmd])
    }
    assert(rc2 == 0)

    // malformed rules fail at load with the entry index
    writeText(s"$dir/bad.yaml", "checks:\n  - type: bogus\n    column: id\n")
    val err = intercept[GraftError.Configuration] {
      runCheck(parse(List("check", s"$dir/in.csv",
        "--rules", s"$dir/bad.yaml")).asInstanceOf[CheckCmd])
    }
    assert(err.getMessage.contains("check #1") &&
      err.getMessage.contains("bogus"))
  }

  test("compact subcommand: parse forms, small-file rewrite e2e") {
    val c = parse(List("compact", "in_dir", "out_dir",
      "--target-file-mb", "64", "--cluster-by", "a,b"))
      .asInstanceOf[CompactCmd]
    assert(c.source == "in_dir" && c.target == "out_dir")
    assert(c.targetFileMb == 64 && c.clusterBy == Seq("a", "b"))
    assert(!c.rebalance)
    intercept[GraftError.Configuration](parse(List("compact", "only_src")))
    intercept[GraftError.Configuration](
      parse(List("compact", "a", "b", "--target-file-mb", "0")))
    intercept[GraftError.Configuration](
      parse(List("compact", "a", "b", "--cluster-by", "x", "--rebalance")))
    intercept[GraftError.Configuration](
      parse(List("compact", "a", "b", "--bogus")))

    // e2e: 30 fragment files collapse to one target-sized file with
    // identical content, stats printed
    import spark.implicits._
    val dir = tmpDir("cli_compact")
    (1L to 300L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(30).write.parquet(s"$dir/frag")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runCompact(parse(List("compact", s"$dir/frag", s"$dir/out.parquet",
        "--target-file-mb", "128")).asInstanceOf[CompactCmd])
    }
    assert(rc == 0)
    val rendered = out.toString("UTF-8")
    assert(rendered.contains("before: 30 files"))
    assert(rendered.contains("after:  1 files"))
    val got = spark.read.parquet(s"$dir/out.parquet")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == (1L to 300L).map(i => (i, s"v$i")))
  }

  test("manifest subcommand: parse forms, box e2e, typed errors") {
    val m = parse(List("manifest", "d.parquet", "--id", "doc_id",
      "--content", "text", "--shards", "4", "--seed", "9"))
      .asInstanceOf[ManifestCmd]
    assert(m.source == "d.parquet" && m.id == "doc_id" &&
      m.content == "text" && m.shards == 4 && m.seed == 9L)
    intercept[GraftError.Configuration](parse(List("manifest")))
    intercept[GraftError.Configuration](
      parse(List("manifest", "a.parquet", "--id", "x")))
    intercept[GraftError.Configuration](
      parse(List("manifest", "a.parquet", "--id", "x", "--content", "y",
        "--shards", "0")))

    import spark.implicits._
    val dir = tmpDir("cli_manifest")
    (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/in.parquet")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runManifest(parse(List("manifest", s"$dir/in.parquet",
        "--id", "doc_id", "--content", "text", "--shards", "4"))
        .asInstanceOf[ManifestCmd])
    }
    assert(rc == 0)
    val rendered = out.toString("UTF-8")
    assert(rendered.contains("Shard manifest") &&
      rendered.contains("xor_fingerprint") &&
      rendered.contains("content_chars"))
  }

  test("linkage subcommand: parse forms, e2e match, typed errors") {
    import spark.implicits._
    val lc = parse(List("linkage", "l.parquet", "r.parquet", "o.parquet",
      "--block", "b", "--score", "ln:rn,lc:rc:3", "--threshold", "0.9",
      "--max-block", "500")).asInstanceOf[LinkageCmd]
    assert(lc.block == "b" && lc.threshold == 0.9 && lc.maxBlock == 500)
    assert(lc.score == Seq(("ln", "rn", 1.0), ("lc", "rc", 3.0)))
    // repeatable --score appends
    assert(parse(List("linkage", "l", "r", "o", "--block", "b",
      "--score", "a:b", "--score", "c:d:2", "--threshold", "0.5"))
      .asInstanceOf[LinkageCmd].score ==
      Seq(("a", "b", 1.0), ("c", "d", 2.0)))
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r")))
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r", "o",
      "--score", "a:b", "--threshold", "0.5"))) // no --block
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r", "o",
      "--block", "b", "--threshold", "0.5"))) // no --score
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r", "o",
      "--block", "b", "--score", "a:b", "--threshold", "1.5")))
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r", "o",
      "--block", "b", "--score", "justonecol", "--threshold", "0.5")))
    intercept[GraftError.Configuration](parse(List("linkage", "l", "r", "o",
      "--block", "b", "--score", "a:b:-1", "--threshold", "0.5")))

    val dir = tmpDir("cli_linkage")
    Seq((1L, "martha", "b1"), (2L, "dixon", "b2"), (3L, "plain", "b3"))
      .toDF("left_id", "ln", "b").write.parquet(s"$dir/l.parquet")
    Seq((11L, "marhta", "b1"), (12L, "dicksonx", "b2"), (13L, "zzzz", "b3"))
      .toDF("right_id", "rn", "b").write.parquet(s"$dir/r.parquet")
    val rc = Console.withOut(new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")) {
      runLinkage(parse(List("linkage", s"$dir/l.parquet", s"$dir/r.parquet",
        s"$dir/o.parquet", "--block", "b", "--score", "ln:rn",
        "--threshold", "0.9")).asInstanceOf[LinkageCmd])
    }
    assert(rc == 0)
    val out = spark.read.parquet(s"$dir/o.parquet")
    assert(out.select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
  }

  test("dedup subcommand: parse forms, both modes e2e, typed errors") {
    import spark.implicits._
    val ec = parse(List("dedup", "in.parquet", "out.parquet",
      "--id", "doc_id", "--content", "a,b")).asInstanceOf[DedupCmd]
    assert(ec.content == Seq("a", "b") && ec.text.isEmpty)
    val nc = parse(List("dedup", "in.parquet", "out.parquet",
      "--id", "doc_id", "--text", "body", "--threshold", "0.6"))
      .asInstanceOf[DedupCmd]
    assert(nc.text.contains("body") && nc.threshold == 0.6)
    intercept[GraftError.Configuration](parse(List("dedup", "in")))
    intercept[GraftError.Configuration](parse(List("dedup", "in", "out",
      "--content", "a"))) // no --id
    intercept[GraftError.Configuration](parse(List("dedup", "in", "out",
      "--id", "x"))) // neither mode
    intercept[GraftError.Configuration](parse(List("dedup", "in", "out",
      "--id", "x", "--content", "a", "--text", "t"))) // both modes
    intercept[GraftError.Configuration](parse(List("dedup", "in", "out",
      "--id", "x", "--text", "t", "--threshold", "0")))

    val dir = tmpDir("cli_dedup")
    // exact: rows 1/3 share content; min-id 1 survives
    Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 10L))
      .toDF("doc_id", "a", "b").write.parquet(s"$dir/in.parquet")
    val quiet = new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")
    val rc = Console.withOut(quiet) {
      runDedup(parse(List("dedup", s"$dir/in.parquet", s"$dir/out.parquet",
        "--id", "doc_id", "--content", "a,b")).asInstanceOf[DedupCmd])
    }
    assert(rc == 0)
    val kept = spark.read.parquet(s"$dir/out.parquet")
    assert(kept.columns.toSeq.sorted == Seq("a", "b", "doc_id"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    // near-dup: one doc + its tailed variant form a component
    val body = "shared words appear in this document body many times " * 4
    Seq((1L, body), (2L, body + " tail"), (3L, "totally different content " +
      "with no overlap whatsoever in any shingle at all here"))
      .toDF("doc_id", "t").write.parquet(s"$dir/in2.parquet")
    val rc2 = Console.withOut(quiet) {
      runDedup(parse(List("dedup", s"$dir/in2.parquet", s"$dir/out2.parquet",
        "--id", "doc_id", "--text", "t", "--threshold", "0.5"))
        .asInstanceOf[DedupCmd])
    }
    assert(rc2 == 0)
    assert(spark.read.parquet(s"$dir/out2.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("drift subcommand: parse forms, e2e gate semantics, typed errors") {
    import spark.implicits._
    val nc = parse(List("drift", "b.parquet", "c.parquet",
      "--column", "v", "--bins", "5")).asInstanceOf[DriftCmd]
    assert(nc.column == "v" && nc.bins == 5 && !nc.categorical)
    assert(parse(List("drift", "b", "c", "--column", "lang",
      "--categorical")).asInstanceOf[DriftCmd].categorical)
    intercept[GraftError.Configuration](parse(List("drift", "b")))
    intercept[GraftError.Configuration](parse(List("drift", "b", "c")))
    intercept[GraftError.Configuration](parse(List("drift", "b", "c",
      "--column", "v", "--bins", "1")))

    val dir = tmpDir("cli_drift")
    (0 until 100).map(i => (i % 10).toDouble).toDF("v")
      .write.parquet(s"$dir/base.parquet")
    // identical distribution: stable, exit 0
    (0 until 100).map(i => (i % 10).toDouble).toDF("v")
      .write.parquet(s"$dir/same.parquet")
    // collapsed to one bin: heavy drift, exit 1
    Seq.fill(100)(9.0).toDF("v").write.parquet(s"$dir/shift.parquet")
    val quiet = new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")
    val ok = Console.withOut(quiet) {
      runDrift(parse(List("drift", s"$dir/base.parquet",
        s"$dir/same.parquet", "--column", "v")).asInstanceOf[DriftCmd])
    }
    assert(ok == 0)
    val bad = Console.withOut(quiet) {
      runDrift(parse(List("drift", s"$dir/base.parquet",
        s"$dir/shift.parquet", "--column", "v")).asInstanceOf[DriftCmd])
    }
    assert(bad == 1)
  }

  test("cdx-host subcommand: parse forms, summary print over a " +
      "multi-host archive, --out writes the text shape, typed errors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val c = parse(List("cdx-host", "arch/", "h1.test",
      "--out", "o.parquet")).asInstanceOf[CdxHostCmd]
    assert(c.archives == Seq("arch/") && c.host == "h1.test" &&
      c.out.contains("o.parquet"))
    // several day archives: every positional but the last
    val cm = parse(List("cdx-host", "day1/", "day2/", "day3/", "h1.test"))
      .asInstanceOf[CdxHostCmd]
    assert(cm.archives == Seq("day1/", "day2/", "day3/") &&
      cm.host == "h1.test")
    intercept[GraftError.Configuration](parse(List("cdx-host", "arch/")))
    intercept[GraftError.Configuration](
      parse(List("cdx-host", "a", "h", "--bogus")))

    val dir = tmpDir("cli_cdx_host")
    val rows = (0 until 12).map(i =>
      (s"http://h${i % 3}.test/p/$i", s"body $i"))
    graft.sources.WarcSource.write(
      rows.toDF("uri", "payload").repartitionByRange(3, col("uri")),
      dir, "uri", "payload", cdxIndex = true)
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runCdxHost(parse(List("cdx-host", dir, "h1.test"))
        .asInstanceOf[CdxHostCmd])
    }
    assert(rc == 0)
    val printed = out.toString("UTF-8")
    assert(printed.contains("4 records"), printed)
    // the box layout truncates cells; the host and each body show
    assert(printed.contains("http://h1.test/"), printed)
    assert(printed.contains("body 1") && printed.contains("body 10") &&
      printed.contains("body 4") && printed.contains("body 7"), printed)
    assert(!printed.contains("h0.test"), printed)

    // multi-archive: a second "day" unions its sidecar set in
    val dir2 = tmpDir("cli_cdx_host_day2")
    graft.sources.WarcSource.write(
      Seq(("http://h1.test/p/new", "body new")).toDF("uri", "payload"),
      dir2, "uri", "payload", cdxIndex = true)
    val out2 = new java.io.ByteArrayOutputStream()
    val rcm = Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      runCdxHost(parse(List("cdx-host", dir, dir2, "h1.test"))
        .asInstanceOf[CdxHostCmd])
    }
    assert(rcm == 0)
    val printed2 = out2.toString("UTF-8")
    assert(printed2.contains("5 records"), printed2)
    assert(printed2.contains("body new"), printed2)

    val tgt = s"${tmpDir("cli_cdx_out")}/h1.parquet"
    val quiet = new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")
    val rc2 = Console.withOut(quiet) {
      runCdxHost(parse(List("cdx-host", dir, "h1.test", "--out", tgt))
        .asInstanceOf[CdxHostCmd])
    }
    assert(rc2 == 0)
    val written = spark.read.parquet(tgt)
      .select("target_uri", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(written == Seq(1, 4, 7, 10)
      .map(i => (s"http://h1.test/p/$i", s"body $i")).toSet,
      s"got $written")
  }

  test("strip-exif subcommand: parse forms, e2e rewrite + flags, typed errors") {
    import spark.implicits._
    val c = parse(List("strip-exif", "m.parquet", "out.parquet",
      "--flags", "f.parquet")).asInstanceOf[StripExifCmd]
    assert(c.source == "m.parquet" && c.target == "out.parquet" &&
      c.flagsOut.contains("f.parquet"))
    intercept[GraftError.Configuration](parse(List("strip-exif", "m")))
    intercept[GraftError.Configuration](
      parse(List("strip-exif", "m", "o", "--bogus", "x")))

    val dir = tmpDir("cli_stripexif")
    Seq(
      (12L, "image", graft.llm.Exif.jpegExifFixture(12),
        null.asInstanceOf[String]),
      (7L, "image", graft.llm.Exif.jpegExifFixture(7),
        null.asInstanceOf[String]),
      (3L, "text", "hello".getBytes("UTF-8"), null.asInstanceOf[String])
    ).toDF("media_id", "media_type", "payload", "meta")
      .write.parquet(s"$dir/media.parquet")
    val quiet = new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8")
    val rc = Console.withOut(quiet) {
      runStripExif(parse(List("strip-exif", s"$dir/media.parquet",
        s"$dir/out.parquet", "--flags", s"$dir/flags.parquet"))
        .asInstanceOf[StripExifCmd])
    }
    assert(rc == 0)
    val out = spark.read.parquet(s"$dir/out.parquet")
      .orderBy("media_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(4))).toSeq ==
      Seq((3L, false), (7L, true), (12L, true)))
    // the rewritten payload carries no EXIF; the text row is untouched
    val p12 = out(2).getAs[Array[Byte]](2)
    assert(graft.llm.Exif.info(p12).get ==
      graft.llm.Exif.Info(false, false, false, 0))
    assert(new String(out(0).getAs[Array[Byte]](2), "UTF-8") == "hello")
    val flags = spark.read.parquet(s"$dir/flags.parquet")
      .orderBy("media_id").collect()
    assert(flags.map(_.getLong(0)).toSeq == Seq(7L, 12L))
    assert(flags(1).getBoolean(3) && flags(1).getBoolean(4)) // gps+serial
    // missing media columns: loud config error
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$dir/bad.parquet")
    intercept[GraftError.Configuration] {
      Console.withOut(quiet) {
        runStripExif(parse(List("strip-exif", s"$dir/bad.parquet",
          s"$dir/bad_out.parquet")).asInstanceOf[StripExifCmd])
      }
    }
  }

  test("sample subcommand: parse forms, both modes e2e, typed errors") {
    val f = parse(List("sample", "a.parquet", "b.parquet", "--id", "id",
      "--fraction", "0.25", "--complement", "--seed", "5"))
      .asInstanceOf[SampleCmd]
    assert(f.fraction.contains(0.25) && f.complement && f.seed == 5L)
    val w = parse(List("sample", "a.parquet", "b.parquet", "--id", "id",
      "--k", "10", "--weight", "score", "--by", "lang"))
      .asInstanceOf[SampleCmd]
    assert(w.k.contains(10) && w.weight.contains("score") &&
      w.by == Seq("lang"))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b")))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b",
      "--id", "x", "--fraction", "0.5", "--k", "3", "--weight", "w")))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b",
      "--id", "x", "--k", "3")))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b",
      "--id", "x", "--fraction", "2")))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b",
      "--id", "x", "--fraction", "0.5", "--weight", "w")))
    intercept[GraftError.Configuration](parse(List("sample", "a", "b",
      "--id", "x", "--k", "3", "--weight", "w", "--complement")))

    import spark.implicits._
    val dir = tmpDir("cli_sample")
    (1L to 400L).map(i => (i, (i % 9) + 1L)).toDF("id", "w")
      .write.parquet(s"$dir/in.parquet")
    // fraction + complement partition the corpus exactly
    def runIt(args: String*): Int =
      Console.withOut(new java.io.PrintStream(
        new java.io.ByteArrayOutputStream(), true, "UTF-8")) {
        runSample(parse(args.toList).asInstanceOf[SampleCmd])
      }
    assert(runIt("sample", s"$dir/in.parquet", s"$dir/s.parquet",
      "--id", "id", "--fraction", "0.3") == 0)
    assert(runIt("sample", s"$dir/in.parquet", s"$dir/c.parquet",
      "--id", "id", "--fraction", "0.3", "--complement") == 0)
    val ss = spark.read.parquet(s"$dir/s.parquet").select("id")
      .as[Long].collect().toSet
    val cc = spark.read.parquet(s"$dir/c.parquet").select("id")
      .as[Long].collect().toSet
    assert((ss & cc).isEmpty && ss.size + cc.size == 400)
    // weighted exact-k
    assert(runIt("sample", s"$dir/in.parquet", s"$dir/k.parquet",
      "--id", "id", "--k", "25", "--weight", "w") == 0)
    assert(spark.read.parquet(s"$dir/k.parquet").count() == 25L)
  }

  test("topk subcommand: parse forms, box output, typed errors") {
    val tk = parse(List("topk", "d.parquet", "--group", "lang,source",
      "--key", "n", "--id", "doc_id", "-k", "3", "--asc"))
      .asInstanceOf[TopKCmd]
    assert(tk.source == "d.parquet" && tk.groups == Seq("lang", "source"))
    assert(tk.key == "n" && tk.id == "doc_id" && tk.k == 3 && tk.asc)
    intercept[GraftError.Configuration](parse(List("topk")))
    intercept[GraftError.Configuration](           // missing --group
      parse(List("topk", "a.csv", "--key", "k", "--id", "i")))
    intercept[GraftError.Configuration](           // missing --key
      parse(List("topk", "a.csv", "--group", "g", "--id", "i")))
    intercept[GraftError.Configuration](
      parse(List("topk", "a.csv", "--bogus")))
    intercept[GraftError.Configuration](
      parse(List("topk", "a.csv", "--group", "g", "--key", "k",
        "--id", "i", "-k", "NaN")))

    // end-to-end through the connector factory + box renderer
    val dir = tmpDir("cli_topk")
    writeText(s"$dir/in.csv",
      "g,score,id\na,5,1\na,9,2\na,7,3\nb,4,4\n")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runTopK(parse(List("topk", s"$dir/in.csv", "--group", "g",
        "--key", "score", "--id", "id", "-k", "2")).asInstanceOf[TopKCmd])
    }
    assert(rc == 0)
    val rendered = out.toString("UTF-8")
    assert(rendered.contains("Top 2 per (g) by score descending"))
    assert(rendered.contains("rank"))
    // group a keeps ids 2 (score 9) then 3 (score 7); b keeps 4
    val body = rendered.linesIterator.filter(_.contains("│")).mkString("\n")
    assert(body.contains("9") && body.contains("7") && !body.contains("5"))
  }

  test("profile --numeric and --histogram modes: parse, output, typed errors") {
    val p = parse(List("profile", "d.parquet", "--numeric", "--exact",
      "--columns", "a,b")).asInstanceOf[Profile]
    assert(p.numeric && p.exact && p.columns == Seq("a", "b"))
    val h = parse(List("profile", "d.parquet", "--histogram", "price",
      "--bins", "7", "--range", "0:100")).asInstanceOf[Profile]
    assert(h.histogram.contains("price") && h.bins == 7 &&
      h.range.contains((0.0, 100.0)))
    intercept[GraftError.Configuration](parse(
      List("profile", "a", "--numeric", "--histogram", "x")))
    intercept[GraftError.Configuration](parse(
      List("profile", "a", "--bins", "many")))
    intercept[GraftError.Configuration](parse(
      List("profile", "a", "--range", "0-100")))
    intercept[GraftError.Configuration](parse(
      List("profile", "a", "--range", "lo:hi")))

    val dir = tmpDir("cli_profile_numeric")
    writeText(s"$dir/in.csv", "id,price,tag\n1,10.0,x\n2,20.0,y\n3,30.0,z\n")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      runProfile(parse(List("profile", s"$dir/in.csv", "--numeric",
        "--exact")).asInstanceOf[Profile])
    }
    assert(rc == 0)
    val rendered = out.toString("UTF-8")
    // --numeric with no --columns profiles every numeric column (id,
    // price) and skips the string column
    assert(rendered.contains("Numeric profile") && rendered.contains("exact"))
    assert(rendered.contains("price") && !rendered.contains("tag"))
    assert(rendered.contains("stddev") && rendered.contains("p95"))

    val out2 = new java.io.ByteArrayOutputStream()
    val rc2 = Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      runProfile(parse(List("profile", s"$dir/in.csv", "--histogram",
        "price", "--bins", "2", "--range", "0:30"))
        .asInstanceOf[Profile])
    }
    assert(rc2 == 0)
    val r2 = out2.toString("UTF-8")
    assert(r2.contains("Histogram") && r2.contains("2 bins") &&
      r2.contains("range 0.0..30.0"))
    assert(r2.contains("bin_lo") && r2.contains("bin_hi"))

    // all-string source: loud error, not an empty report
    writeText(s"$dir/str.csv", "a,b\nx,y\n")
    intercept[GraftError.Configuration] {
      Console.withOut(new java.io.PrintStream(
        new java.io.ByteArrayOutputStream())) {
        runProfile(parse(List("profile", s"$dir/str.csv", "--numeric"))
          .asInstanceOf[Profile])
      }
    }
  }

  test("--batch-size chunks file sinks via maxRecordsPerFile") {
    val dir = tmpDir("cli_batch")
    writeText(s"$dir/in.csv", "a\n1\n2\n3\n4\n")
    val cfg = parse(List(s"$dir/in.csv", s"$dir/out.parquet",
      "--batch-size", "2")).asInstanceOf[Transfer].cfg
    assert(runTransfer(cfg, None, dryRun = false, "error") == 0)
    val parts = new java.io.File(s"$dir/out.parquet")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(parts >= 2, s"expected chunked part files, got $parts")
  }

  test("preview and dry-run write nothing") {
    val dir = tmpDir("cli_preview")
    writeText(s"$dir/in.csv", "a\n1\n")
    val cfg = parse(List(s"$dir/in.csv", s"$dir/never.parquet"))
      .asInstanceOf[Transfer].cfg
    assert(runTransfer(cfg, Some(3), dryRun = false, "error") == 0)
    assert(runTransfer(cfg, None, dryRun = true, "error") == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/never.parquet")))
  }

  test("--quarantine routes invalid rows to the dead-letter target") {
    val dir = tmpDir("cli_quarantine")
    writeText(s"$dir/in.csv",
      """id,email,amount
        |1,a@b.com,10.50
        |,b@c.com,1.00
        |3,not-an-email,2.00
        |4,d@e.com,oops
        |5,f@g.com,3.25
        |""".stripMargin)
    writeText(s"$dir/schema.yaml",
      """columns:
        |  - name: id
        |    type: integer
        |    nullable: false
        |  - name: email
        |    type: string
        |    pattern: '^[^@]+@[^@]+$'
        |  - name: amount
        |    type: decimal
        |""".stripMargin)
    val cfg = parse(List(s"$dir/in.csv", s"$dir/good.parquet",
      "--schema-file", s"$dir/schema.yaml",
      "--quarantine", s"$dir/bad.parquet")).asInstanceOf[Transfer].cfg
    assert(cfg.quarantine.contains(s"$dir/bad.parquet"))
    assert(runTransfer(cfg, None, dryRun = false, "error") == 0)
    val good = spark.read.parquet(s"$dir/good.parquet")
    assert(good.count() == 2)
    assert(good.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5L))
    val bad = spark.read.parquet(s"$dir/bad.parquet")
    assert(bad.count() == 3)
    val reasons = bad.collect()
      .map(r => Option(r.get(r.fieldIndex("id"))).map(_.toString).orNull ->
        r.getAs[String]("_violations"))
      .toMap
    assert(reasons(null).contains("required column 'id' is null"))
    assert(reasons("3").contains("does not match pattern"))
    assert(reasons("4").contains("expected decimal"))
    // round-trips through YAML config
    val yamlCfg = YamlJob.fromYaml(YamlJob.render(cfg))
    assert(yamlCfg.quarantine == cfg.quarantine)
  }

  test("--quarantine without --schema-file is a loud config error") {
    intercept[GraftError.Configuration](
      parse(List("in.csv", "out.parquet", "--quarantine", "q.parquet")))
  }
}
