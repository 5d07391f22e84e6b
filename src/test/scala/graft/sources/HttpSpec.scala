package graft.sources

import graft.SparkSpec

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** HTTP(S) source success paths against a local auth-exercising server —
  * the same trick as the reference's test_env/http-server/server.py,
  * bound to 127.0.0.1 so it works in a zero-egress environment. */
class HttpSpec extends SparkSpec {

  private val csvBody = "id,name\n1,alpha\n2,beta\n3,gamma\n"
  private val countedGets = new java.util.concurrent.atomic.AtomicInteger

  private def withServer(f: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/open.csv", (ex: HttpExchange) =>
      respond(ex, 200, csvBody))
    server.createContext("/basic.csv", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString("user:pass".getBytes(UTF_8))
      if (auth.contains(expected)) respond(ex, 200, csvBody)
      else respond(ex, 401, "unauthorized")
    })
    server.createContext("/bearer.csv", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (auth.contains("Bearer tok123")) respond(ex, 200, csvBody)
      else respond(ex, 401, "unauthorized")
    })
    server.createContext("/header", (ex: HttpExchange) => {
      if (Option(ex.getRequestHeaders.getFirst("X-Api-Key")).contains("k9"))
        respond(ex, 200, csvBody)
      else respond(ex, 403, "forbidden")
    })
    server.createContext("/counted.csv", (ex: HttpExchange) => {
      countedGets.incrementAndGet()
      respond(ex, 200, "id,name\n1,alpha\n,beta\n3,gamma\n")
    })
    server.createContext("/boom.csv", (ex: HttpExchange) =>
      respond(ex, 500, "internal oops"))
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  test("open download routes by extension and reads with cell typing") {
    withServer { port =>
      val df = Connectors.read(spark, s"http://127.0.0.1:$port/open.csv")
      assert(df.count() == 3)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    }
  }

  test("basic auth via username/password options (http.rs:40-65)") {
    withServer { port =>
      // reference option names (README "Available HTTP Options")
      val df = Connectors.read(spark, s"http://127.0.0.1:$port/basic.csv",
        Map("auth.basic.username" -> "user", "auth.basic.password" -> "pass"))
      assert(df.count() == 3)
      // short-form aliases keep working
      assert(Connectors.read(spark, s"http://127.0.0.1:$port/basic.csv",
        Map("username" -> "user", "password" -> "pass")).count() == 3)
      // wrong password → 401 → typed Connection error with status + body
      val e = intercept[graft.core.GraftError.Connection](Connectors.read(spark,
        s"http://127.0.0.1:$port/basic.csv",
        Map("username" -> "user", "password" -> "wrong")))
      assert(e.getMessage.contains("HTTP 401") &&
        e.getMessage.contains("unauthorized"))
      assert(e.render.startsWith("Connection error:"))
    }
  }

  test("non-2xx statuses surface as typed actionable errors (http.rs:66-90)") {
    withServer { port =>
      val before = TestDownloads.files()
      val e = intercept[graft.core.GraftError.Connection](
        Connectors.read(spark, s"http://127.0.0.1:$port/boom.csv"))
      assert(e.getMessage.contains("HTTP 500") &&
        e.getMessage.contains("internal oops"))
      // the failed download must not leave a temp file behind
      assert(TestDownloads.files() == before)
    }
  }

  test("bearer token option") {
    withServer { port =>
      val df = Connectors.read(spark, s"http://127.0.0.1:$port/bearer.csv",
        Map("auth.bearer" -> "tok123"))
      assert(df.count() == 3)
      assert(Connectors.read(spark, s"http://127.0.0.1:$port/bearer.csv",
        Map("bearer_token" -> "tok123")).count() == 3) // alias
    }
  }

  test("custom header.* options + sourceType for extension-less urls") {
    withServer { port =>
      val df = Connectors.read(spark, s"http://127.0.0.1:$port/header",
        Map("header.X-Api-Key" -> "k9", "sourceType" -> "csv"))
      assert(df.count() == 3)
      val e = intercept[graft.core.GraftError.Configuration](
        Connectors.read(spark, s"http://127.0.0.1:$port/header",
          Map("header.X-Api-Key" -> "k9")))
      assert(e.getMessage.contains("sourceType"))
    }
  }

  test("a quarantine transfer downloads its source once") {
    withServer { port =>
      val dir = tmpDir("http_quarantine")
      val schema = s"$dir/schema.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(schema),
        "columns:\n  - name: id\n    type: integer\n    nullable: false\n")
      val cfg = graft.engine.JobConfig(
        source = s"http://127.0.0.1:$port/counted.csv",
        target = s"$dir/good.parquet",
        schemaFile = Some(schema),
        quarantine = Some(s"$dir/bad.parquet"))
      countedGets.set(0)
      assert(graft.Main.runTransfer(cfg, None, dryRun = false, "error") == 0)
      assert(countedGets.get == 1)
      assert(spark.read.parquet(s"$dir/good.parquet").count() == 2)
      assert(spark.read.parquet(s"$dir/bad.parquet").count() == 1)
    }
  }
}
