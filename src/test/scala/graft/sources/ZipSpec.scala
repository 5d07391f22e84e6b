package graft.sources

import java.nio.file.{Files, Paths}


import graft.SparkSpec

/** ZIP container + compressed-JSONL text dumps: round trips,
  * /usr/bin/zip interop both directions, zstd/gzip/plain parity. */
class ZipSpec extends SparkSpec {

  test("zip round trip: write → read preserves names, bytes; key rule " +
      "matches tar's; deterministic re-runs (fixed timestamps)") {
    import spark.implicits._
    val dir = tmpDir("zip_rt")
    val rows = (0 until 12).map(i => (f"k$i%03d", "txt", s"zip body $i"))
    val n = ZipSource.write(rows.toDF("k", "e", "c"), dir, "k", "e", "c")
    assert(n == 12)
    val back = ZipSource.read(spark, dir)
    assert(back.columns.toSeq ==
      Seq("file", "key", "ext", "content", "size"))
    val got = back.collect().map(r => (r.getString(1), r.getString(2),
      new String(r.getAs[Array[Byte]]("content"), "UTF-8"))).toSet
    assert(got == rows.toSet)
    // byte-stable rerun
    val dir2 = tmpDir("zip_rt2")
    ZipSource.write(rows.toDF("k", "e", "c"), dir2, "k", "e", "c")
    val f1 = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".zip")).sorted
    val f2 = Files.list(Paths.get(dir2)).toArray.map(_.toString)
      .filter(_.endsWith(".zip")).sorted
    assert(f1.length == f2.length)
    f1.zip(f2).foreach { case (a, b) =>
      assert(Files.readAllBytes(Paths.get(a)).toSeq ==
        Files.readAllBytes(Paths.get(b)).toSeq, s"$a != $b") }
  }

  test("system-zip interop: /usr/bin/unzip extracts our archives " +
      "byte-exactly; a /usr/bin/zip archive (with directories) reads " +
      "back, dirs skipped") {
    assume(Files.exists(Paths.get("/usr/bin/zip")), "no system zip")
    import spark.implicits._
    val dir = tmpDir("zip_interop")
    ZipSource.write(Seq(("s0001", "txt", "alpha body"))
      .toDF("k", "e", "c").coalesce(1), dir, "k", "e", "c")
    val archive = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".zip")).head
    val ex = tmpDir("zip_extract")
    val p1 = new ProcessBuilder("/usr/bin/unzip", "-o", archive, "-d", ex)
      .redirectErrorStream(true).start()
    assert(p1.waitFor() == 0, "unzip refused our archive")
    assert(new String(Files.readAllBytes(Paths.get(ex, "s0001.txt")),
      "UTF-8") == "alpha body")
    // reverse: system zip creates (with a directory entry)
    val src = tmpDir("zip_src")
    Files.createDirectories(Paths.get(src, "d"))
    Files.write(Paths.get(src, "d", "a.txt"), "beta".getBytes("UTF-8"))
    val sysZip = Paths.get(tmpDir("zip_sys"), "sys.zip").toString
    val p2 = new ProcessBuilder("/usr/bin/zip", "-r", sysZip, "d")
      .directory(new java.io.File(src)).redirectErrorStream(true).start()
    assert(p2.waitFor() == 0)
    val back = ZipSource.read(spark, sysZip).collect()
      .map(r => (r.getString(1), r.getString(2),
        new String(r.getAs[Array[Byte]]("content"), "UTF-8"))).toSet
    assert(back == Set(("d/a", "txt", "beta")), s"got $back")
  }

  test("jsonl dumps: zstd, gzip, and plain all parse identically; the " +
      "writer's temp files never linger; .jsonl.zst connector dispatch") {
    import spark.implicits._
    val df = (0 until 25)
      .map(i => (i.toLong, s"line text $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val byMode = Seq("zstd", "gzip", "none").map { mode =>
      val d = tmpDir(s"jsonl_$mode")
      val n = ZstdText.writeJsonl(df.repartition(3), d, mode)
      assert(n == 25)
      assert(!Files.list(Paths.get(d)).toArray.map(_.toString)
        .exists(_.contains("_tmp-")))
      mode -> ZstdText.readJsonl(spark, d)
        .select("doc_id", "text", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }.toMap
    val expect = (0 until 25).map(i =>
      (i.toLong, s"line text $i", if (i % 2 == 0) "en" else "de")).toSet
    byMode.foreach { case (m, got) => assert(got == expect, s"mode $m") }
    // factory dispatch on a single .jsonl.zst file
    val d = tmpDir("jsonl_dispatch")
    ZstdText.writeJsonl(df.coalesce(1), d, "zstd")
    val f = Files.list(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl.zst")).head
    assert(Connectors.read(spark, f).count() == 25)
  }

  test("frame-per-record zstd jsonl (separately-compressed frames " +
      "concatenated) reads as one stream — continuous mode") {
    val dir = tmpDir("jsonl_frames")
    val frames = (0 until 3).map(i =>
      com.github.luben.zstd.Zstd.compress(
        s"""{"doc_id":$i,"text":"frame $i"}\n""".getBytes("UTF-8")))
    Files.write(Paths.get(dir, "frames.jsonl.zst"),
      frames.reduce(_ ++ _))
    val got = ZstdText.readJsonl(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L))
  }
}
