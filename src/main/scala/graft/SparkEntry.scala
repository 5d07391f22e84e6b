package graft

import graft.infer.{CellInference, DateFormats}
import graft.llm.{Bloom, Boilerplate, Chat, Chunking, Code, Contamination, Curation, Dedup, Dsir, Exif, ImageText, LmScore, Multimodal, Packing, Paragraphs, Repetition, Sampling, Shuffling, Similarity, Spans, SubstringDedup, TextAnalysis, Urls}
import graft.sources.{AvroConnector, Connectors, WarcSource}
import graft.streaming.EventsStreaming
import graft.transform.Transform
import graft.validate.{SchemaFile, Validation}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] exercises one operator from SURVEY.md §2 (or
  * a first-class LLM-pipeline operator); [[oracleSql]] holds the DuckDB
  * equivalent over the same parquet tables. Column names are aligned on
  * both sides; doubles produced by arithmetic are rounded to 4dp on both
  * sides so the hash compare is stable across engines. Integer-typed
  * columns are cast to BIGINT in the oracle because the engine's type
  * system collapses all int widths to i64 (SURVEY §1.3).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The embeddings fixture's query vector (vec_id 0) as doubles —
    * shared by every similarity/ANN query. */
  // cast in-plan so the helper works on float AND double embedding
  // columns (the 10x/30x ramp corpora carry array<double>)
  private def queryVec(s: SparkSession, dir: String): Seq[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .head.getSeq[Double](0).toSeq

  /** DuckDB cosine-topK oracle against the vec_id-0 query vector — ONE
    * definition shared by the exact (q_topk_cosine), SRP (q_srp_topk)
    * and IVF (q_ivf_topk) oracles, so the cosine arithmetic can never
    * silently diverge between them. */
  private def cosineTopKSql(k: Int): String =
    s"""WITH s AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(q.qv,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM embeddings e,
       |    (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |)
       |SELECT vec_id, round(cos, 6) AS cosine FROM s
       |ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  /** Repo-local scratch space for round-trip queries (never outside repo). */
  /** Shared mojibake fixture: the clean sentence and its cp1252-mangled
    * form, derived by the artifact's own round-trip (UTF-8 bytes read
    * as windows-1252) — the exact corruption fixMojibake repairs. */
  private val mojibakeCleanSnippet: String =
    "caf\u00E9 \u201Cquoted\u201D \u2013 em\u2014dash\u2026 " +
      "na\u00EFve ch\u00E2teau \u00ABguillemets\u00BB 25\u00B0"
  private val mojibakeBadSnippet: String = new String(
    mojibakeCleanSnippet.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.Charset.forName("windows-1252"))

  /** 60-token planted passage for q_substring_dedup: longer than the
    * 50-token window so 11 windows land fully inside it in every
    * stamped doc — shared verbatim cross-doc, hence excised from all
    * but the keeper. Tokens are outside the corpus vocabulary so the
    * only cross-doc window collisions are the planted ones (plus the
    * original-text prefix each stamped copy shares with its source
    * doc, which the oracle replays identically). */
  private val substringDedupPassage: String =
    (1 to 60).map(i => s"sdp$i").mkString(" ")

  /** 60-token planted EVAL passage for q_decontaminate_excise: longer
    * than the 50-token window so 11 probe windows exist; tokens are
    * outside the corpus vocabulary so the ONLY corpus windows matching
    * the probe index are the planted stamps — expected output is pure
    * id-arithmetic (stamped docs lose exactly the appended passage). */
  private val decontamPassage: String =
    (1 to 60).map(i => s"dxp$i").mkString(" ")

  /** Planted WordPiece training corpus: the published worked example
    * (hug:10 pug:5 pun:12 bun:4 hugs:5) scaled per doc by
    * 1 + doc_id%2 — shared by q_wordpiece_train and the apply gate so
    * the two can never train on different corpora. */
  private def wordpieceCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(concat(
        expr("repeat('hug ', CAST(10 * (1 + doc_id % 2) AS INT))"),
        expr("repeat('pug ', CAST(5 * (1 + doc_id % 2) AS INT))"),
        expr("repeat('pun ', CAST(12 * (1 + doc_id % 2) AS INT))"),
        expr("repeat('bun ', CAST(4 * (1 + doc_id % 2) AS INT))"),
        expr("repeat('hugs ', CAST(5 * (1 + doc_id % 2) AS INT))"))
        .as("text"))

  /** Round-trip scratch root under the checkout the JVM runs in, so
    * two checkouts verifying at once never share files. */
  private def scratchRoot: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("user.dir"), "target", "tmp")

  private def scratch(name: String): String = {
    val p = scratchRoot.resolve(s"queries/$name")
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- aggregation over lineitem (new analytics surface, SURVEY §2.E) ---
    // Sums go through DECIMAL(18,4): the summands are exact 2-4dp decimal
    // quantities, so the decimal sum is EXACT and bit-identical to the
    // DuckDB oracle regardless of partitioning/summation order (double
    // sums would drift in the low bits and flicker at round() boundaries).
    "q_agg_pricing_summary" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // --- multi-table join analytics (TPC-H Q3 shape; new surface,
    // SURVEY §2.E): filters push into all three scans, revenue
    // aggregates partially map-side, and the top-10 is
    // TakeOrderedAndProject. The dimension join strategy is left to
    // AQE's size estimate (broadcast at this scale, shuffle join when
    // the filtered dimension outgrows the threshold at 100 TB) — no
    // forced broadcast hint. Exact decimal sums; ties broken by key. ---
    "q_top_orders" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), round(col("revenue"), 4).as("revenue"),
          col("o_orderdate"))
    },

    // --- six-table join analytics (TPC-H Q5 shape): the full
    // star-schema walk lineitem→orders→customer→supplier→nation→region
    // with a same-nation join condition; small dims broadcast under AQE,
    // the fact side shuffles once per non-broadcast join key, revenue is
    // an exact decimal sum per nation ---
    "q_regional_revenue" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).cast("double").as("revenue"))
        .select(col("n_name"), round(col("revenue"), 4).as("revenue"))
    },

    // --- TPC-H Q10 shape: revenue lost to returned items per customer
    // over one quarter — 3-table join + broadcast nation dim, exact
    // decimal agg, deterministic top-20 (revenue desc, custkey) ---
    "q_returned_items" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val lo = lit("1997-10-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          round(col("revenue"), 4).as("revenue"), col("c_acctbal"),
          col("n_name"))
    },

    // --- ranking window analytics (new surface, SURVEY §2.E): exact
    // decimal revenue per (supplier, part), row_number within supplier,
    // keep the top 3 — two shuffles total (partial-agg groupBy, then the
    // window repartition on supplier), deterministic via part tiebreak ---
    "q_supplier_rank" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      // ONE exchange for both operators: hash(l_suppkey) satisfies the
      // agg's ClusteredDistribution(l_suppkey, l_partkey) — a subset of
      // the clustering keys colocates every group — AND the window's
      // partitionBy(l_suppkey), so EnsureRequirements inserts nothing
      // after the explicit repartition. The groupBy-first shape would
      // exchange twice (agg keys, then window keys) for near-unique
      // (suppkey, partkey) groups map-side combine barely compresses.
      // Plan-asserted in PlanSpec.
      val rev = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(col("l_suppkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).as("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("rev").desc, col("l_partkey"))
      rev.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("l_suppkey"), col("l_partkey"),
          round(col("rev").cast("double"), 4).as("revenue"),
          col("rnk").cast("long").as("rnk"))
    },

    // --- P1 inline transform (all input cols kept; assignments see input row) ---
    "q_transform_inline" -> { (s, dir) =>
      Transform.inline(t(s, dir, "lineitem"),
        "gross=row.l_extendedprice * (1 - row.l_discount); " +
          "flag_up=string.upper(row.l_returnflag)")
        .select(col("l_orderkey"), col("l_linenumber"), col("gross"), col("flag_up"))
    },

    // --- P2 script transform (cross-line locals) ---
    "q_transform_script" -> { (s, dir) =>
      Transform.script(t(s, dir, "lineitem"),
        """disc_price = row.l_extendedprice * (1 - row.l_discount)
          |charged = disc_price * (1 + row.l_tax)""".stripMargin)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("disc_price"), col("charged"))
    },

    // --- P4 row filter (Lua truthiness predicate) ---
    "q_filter_rows" -> { (s, dir) =>
      Transform.filter(t(s, dir, "lineitem"),
        "row.l_quantity > 25 and row.l_returnflag == 'R'")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },

    // --- P6 Lua pattern functions over strings ---
    "q_lua_patterns" -> { (s, dir) =>
      Transform.inline(t(s, dir, "customer"),
        "digits=row.c_name:gsub('[^%d]', ''); seg_lower=string.lower(row.c_mktsegment)")
        .select(col("c_custkey"), col("digits"), col("seg_lower"))
    },

    // --- V5 multi-format date parsing round-trip ---
    "q_multiformat_dates" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val formatted = o.select(col("o_orderkey"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("us"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
        date_format(col("o_orderdate"), "dd.MM.yyyy").as("eu"))
      formatted.select(col("o_orderkey"),
        DateFormats.parseExpr(col("us")).as("parsed_us"),
        DateFormats.parseExpr(col("iso")).as("parsed_iso"),
        DateFormats.parseExpr(col("eu")).as("parsed_eu"))
    },

    // --- V1-V3 schema-file validation with typed defaults ---
    "q_validate_defaults" -> { (s, dir) =>
      val schema = SchemaFile.fromYaml(
        """columns:
          |  - name: c_custkey
          |    type: integer
          |    nullable: false
          |  - name: c_acctbal
          |    type: decimal
          |    default: "0.0"
          |  - name: c_mktsegment
          |    type: string
          |    pattern: '^[A-Z]+$'
          |""".stripMargin)
      val withNulls = t(s, dir, "customer")
        .withColumn("c_acctbal",
          when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      Validation(withNulls, schema)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    },

    // --- S1/T1 CSV round-trip with tinyetl cell typing ---
    "q_csv_roundtrip" -> { (s, dir) =>
      val out = scratch("csv_rt")
      t(s, dir, "lineitem").write.mode("overwrite")
        .option("header", "true").csv(out)
      CellInference.readCsv(s, out)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
    },

    // --- S2/T2 JSON round-trip (stringify-nested + date-sniff) ---
    "q_json_roundtrip" -> { (s, dir) =>
      val out = scratch("json_rt")
      t(s, dir, "nation").write.mode("overwrite").json(out)
      CellInference.readJson(s, out)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },

    // --- S4/T4 Avro round-trip via the hand-rolled distributed connector ---
    "q_avro_roundtrip" -> { (s, dir) =>
      val out = scratch("avro_rt")
      AvroConnector.write(t(s, dir, "orders"), out)
      AvroConnector.read(s, out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    },

    // --- ORC scan+sink round-trip through the connector factory (the
    // warehouse format Spark ships natively; long/double/string typed
    // columns survive). Oracle = identity over the source table ---
    "q_orc_roundtrip" -> { (s, dir) =>
      val out = scratch("orc_rt") + "/customer.orc"
      Connectors.write(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
        out, truncate = true)
      Connectors.read(s, out)
    },

    // --- WARC scan+sink round-trip (Common Crawl's container — the
    // canonical web-scale LLM-corpus input; beyond-reference like ORC).
    // Documents write as HTTP-response records (one gzip member per
    // record, warcinfo-led), read back through the stream parser, and
    // the HTTP envelope split is what reconstructs the text — so the
    // gate covers record framing, member-per-record gzip, header
    // case-insensitivity AND envelope parsing. Oracle = identity over
    // documents with the planted status ---
    "q_warc_roundtrip" -> { (s, dir) =>
      val out = scratch("warc_rt")
      val docs = t(s, dir, "documents").select(
        concat(lit("http://corpus.test/doc/"), col("doc_id")).as("uri"),
        col("text"))
      WarcSource.write(docs, out, "uri", "text")
      WarcSource.read(s, out)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          decode(col("http_body"), "UTF-8").as("text"),
          col("http_status"))
    },

    // --- WET extracted-text leg: documents become `conversion` records
    // (the Common Crawl WET shape), written member-per-record gzip and
    // read back through readWet — byte-exact text, conversion-record
    // framing, and the WET file-type routing all under one oracle.
    // Oracle = identity over documents ---
    "q_wet_text" -> { (s, dir) =>
      val out = scratch("wet_fixture")
      val docs = t(s, dir, "documents").select(
        concat(lit("http://corpus.test/doc/"), col("doc_id")).as("uri"),
        col("text"))
      WarcSource.write(docs.repartition(col("uri")), out, "uri", "text",
        asHttpResponse = false, recordType = "conversion")
      WarcSource.readWet(s, out).select(
        regexp_extract(col("target_uri"), "([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        col("text"))
    },

    // --- ZIP container round trip (how code corpora ship): one .txt
    // entry per document, fixed timestamps (byte-stable), interop
    // pinned against /usr/bin/zip in ZipSpec. Oracle = identity ---
    "q_zip_roundtrip" -> { (s, dir) =>
      val out = scratch("zip_rt")
      val entries = t(s, dir, "documents").select(
        lpad(col("doc_id").cast("string"), 8, "0").as("k"),
        lit("txt").as("e"), col("text").as("c"))
      graft.sources.ZipSource.write(entries, out, "k", "e", "c")
      graft.sources.ZipSource.read(s, out).select(
        col("key").cast("long").as("doc_id"),
        decode(col("content"), "UTF-8").as("text"))
    },

    // --- compressed-JSONL dump round trip (.jsonl.zst — The Pile's
    // delivery shape; Spark's own codec path needs native Hadoop for
    // zstd, absent here, so this leg is what makes such corpora
    // readable at all). Oracle = identity over (doc_id, text, lang) ---
    "q_jsonl_zst" -> { (s, dir) =>
      val out = scratch("jsonl_zst")
      graft.sources.ZstdText.writeJsonl(
        t(s, dir, "documents").select(col("doc_id"), col("text"),
          col("lang")),
        out, compression = "zstd")
      graft.sources.ZstdText.readJsonl(s, out)
        .select(col("doc_id"), col("text"), col("lang"))
    },

    // --- PDF text extraction (ISO 32000): every document becomes a
    // real multi-page PDF (FlateDecoded content streams, page tree,
    // xref) with planted parens/backslash specials, then reads back
    // page-by-page — object scan, /Kids order, stream inflate, literal
    // string escapes all under one identity oracle. Pages split at 200
    // chars; the oracle re-derives the split with substr ---
    "q_pdf_text" -> { (s, dir) =>
      import s.implicits._
      val out = scratch("pdf_shards")
      // the AT-SCALE shape: render → WebDataset tar shards → pagesFrom
      // over the content bytes. Loose file-per-document PDFs are fs-op
      // bound (~4 ms each measured — the 30x ramp hit 65 s on 15k
      // files), so the gate exercises the composition the scaladoc
      // prescribes; the loose-file read/write legs stay unit-pinned in
      // PdfSpec. 1-in-10 sample bounds render volume at big sf.
      val entries = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(
          col("doc_id"),
          concat(col("text"), lit(" tail(with)\\specials")).as("t"))
        .as[(Long, String)]
        .map { case (id, t) =>
          // half the corpus renders in the PDF 1.5+ ObjStm shape
          // (page tree inside a compressed object stream), half
          // classic — and half the ObjStm half ALSO rides predictor-12
          // PNG row filtering (the pdftex writer shape) — all to the
          // SAME oracle rows
          val stm = (id / 10) % 2 == 0
          (s"d$id", "pdf", graft.sources.PdfSource.render(
            t, pageChars = 200, objStm = stm,
            predictor = stm && (id / 10) % 4 == 0))
        }.toDF("k", "e", "c")
      graft.sources.TarSource.write(entries, out, "k", "e", "c")
      graft.sources.PdfSource.pagesFrom(
          graft.sources.TarSource.read(s, out)
            .filter(col("ext") === "pdf"),
          "key", "content")
        .select(
          regexp_extract(col("file"), "^d([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("page"), col("text"))
    },

    // --- CDX byte-range index: the archive is written WITH its
    // part-N.cdx sidecars, then a 20% URI subset is point-fetched —
    // index scan → broadcast URI filter → one seek+read per hit, no
    // shard scan anywhere. The oracle is the identity over the same
    // subset: if any offset/length/SURT were wrong the ranged read
    // would return the wrong record or die loudly ---
    "q_cdx_lookup" -> { (s, dir) =>
      val out = scratch("cdx_archive")
      val docs = t(s, dir, "documents").select(
        concat(lit("http://corpus.test/doc/"), col("doc_id")).as("uri"),
        col("text"))
      // realistic shard fan-out: a 1-partition fixture would write ONE
      // .warc.gz and serialize the file-granular read (the 100x ramp
      // measured exactly that) — hash the corpus across writers like
      // any production crawl job
      WarcSource.write(docs.repartition(col("uri")), out, "uri", "text",
        cdxIndex = true)
      val wanted = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 2)
        .select(concat(lit("http://corpus.test/doc/"), col("doc_id"))
          .as("uri"))
      graft.sources.CdxIndex.lookup(s, out, wanted)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          decode(col("http_body"), "UTF-8").as("text"))
    },

    // --- host-scoped CDX range lookup (the scan SURT sorting was
    // built for): the archive spans 7 hosts PLUS a prefix-lookalike
    // (host30.test — its reversed key 'test,host30)' extends
    // 'test,host3' but not 'test,host3)'), and lookupHost must return
    // exactly host3's records via the sidecar prefix scan — never a
    // lookalike's, never a shard scan. Oracle = identity over the same
    // host assignment arithmetic ---
    "q_cdx_host" -> { (s, dir) =>
      val out = scratch("cdx_hosts")
      val hostLabel = when(pmod(col("doc_id"), lit(13)) === 0,
        lit("host30"))
        .otherwise(concat(lit("host"), pmod(col("doc_id"), lit(7))))
      val docs = t(s, dir, "documents").select(
        concat(lit("http://"), hostLabel, lit(".test/doc/"),
          col("doc_id")).as("uri"),
        col("text"))
      WarcSource.write(docs.repartition(col("uri")), out, "uri", "text",
        cdxIndex = true)
      graft.sources.CdxIndex.lookupHost(s, out, "host3.test")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)", 1)
            .cast("long").as("doc_id"),
          decode(col("http_body"), "UTF-8").as("text"))
    },

    // --- revisit→original resolve, the OTHER half of the revisit
    // machinery (revisitHints DROPS a revisit-marked re-crawl without
    // hashing a byte; this recovers what the crawler said it
    // re-fetched): day-1 archive written CDX-indexed, then a day-2
    // hints frame re-visiting a third of the URIs with WARC-Refers-To
    // = the day-1 record id (read back from the archive — exactly the
    // pointer an incremental pipeline holds), resolved to day-one TEXT
    // via one broadcast URI join + ranged point fetches pinned on the
    // record id. No shard scan, no content re-hash. Oracle = identity
    // over the revisited third ---
    "q_revisit_resolve" -> { (s, dir) =>
      val out = scratch("revisit_day1")
      val docs = t(s, dir, "documents").select(
        concat(lit("http://corpus.test/doc/"), col("doc_id")).as("uri"),
        col("text"))
      WarcSource.write(docs.repartition(col("uri")), out, "uri", "text",
        cdxIndex = true)
      val hints = WarcSource.read(s, out)
        .filter(col("warc_type") === "response")
        .filter(regexp_extract(col("target_uri"), "([0-9]+)$", 1)
          .cast("long") % 3 === 1)
        .select(col("target_uri"),
          col("record_id").as("refers_to"),
          lit("urn:recrawl").as("record_id"),
          lit("2024-02-01T00:00:00Z").as("warc_date"),
          lit("sha1:planted").as("payload_digest"))
      graft.sources.CdxIndex.resolveRevisits(s, out, hints)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("text"))
    },

    // --- WAT outlink extraction → host link graph: documents carry a
    // WAT-shaped JSON payload (Envelope.Payload-Metadata
    // .HTTP-Response-Metadata.HTML-Metadata.Links) as `metadata`
    // records; readWatLinks explodes the outlinks per page and the
    // query aggregates to (src_host, dst_host) edge counts — the raw
    // material of PageRank-style quality priors over a crawl. The
    // oracle re-derives each link by json-extracting the SAME payload
    // string it reconstructs, not from id arithmetic ---
    "q_wat_links" -> { (s, dir) =>
      val out = scratch("wat_fixture")
      val id = col("doc_id")
      val l1 = concat(lit("http://dst"), pmod(id, lit(4)),
        lit(".test/x/"), id)
      val l2 = concat(lit("http://dst"), pmod(id + 1, lit(4)),
        lit(".test/y/"), id)
      val payload = concat(
        lit("{\"Envelope\":{\"Payload-Metadata\":" +
          "{\"HTTP-Response-Metadata\":{\"HTML-Metadata\":" +
          "{\"Links\":[{\"url\":\""), l1,
        lit("\"},{\"url\":\""), l2, lit("\"}]}}}}}"))
      val pages = t(s, dir, "documents").select(
        concat(lit("http://src"), pmod(id, lit(3)), lit(".test/page/"), id)
          .as("uri"),
        payload.as("payload"))
      WarcSource.write(pages.repartition(col("uri")), out, "uri",
        "payload", asHttpResponse = false, recordType = "metadata",
        httpContentType = "application/json")
      WarcSource.readWatLinks(s, out)
        .select(
          parse_url(col("target_uri"), lit("HOST")).as("src_host"),
          parse_url(col("link_url"), lit("HOST")).as("dst_host"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("links"))
    },

    // --- crawl-layer consent (r14 directive #4): robots.txt records in
    // the crawl evaluated per RFC 9309 for agent "ccbot" (group
    // selection, longest-match precedence, Allow-wins-ties),
    // X-Robots-Tag envelope directives, and meta-robots page tokens —
    // all derived from a WARC frame built over documents. Hosts rotate
    // doc_id%5: host0 disallows everything, host1 has a ccbot group
    // where Allow /p/2 outranks Disallow /p/, host2's group addresses a
    // DIFFERENT agent (no * fallback → allowed), host3's empty Disallow
    // allows all EXCEPT a query-string rule (Disallow: /p/*?print= —
    // RFC 9309 matches path + query, the r15 verdict's watch item),
    // host4 has no robots.txt at all. Every doc_id%11==0 page carries
    // a ?print=1 query so the query rule has both hit and miss cases
    // on every host. The oracle re-derives every flag from the SAME
    // planted strings (regexp over the reconstructed X-Robots-Tag
    // value and html — not from id arithmetic alone) ---
    "q_crawl_consent" -> { (s, dir) =>
      val out = scratch("crawl_consent")
      val m3 = pmod(col("doc_id"), lit(3))
      val host = concat(lit("host"), pmod(col("doc_id"), lit(5)),
        lit(".test"))
      val query = when(pmod(col("doc_id"), lit(11)) === 0,
        lit("?print=1")).otherwise(lit(""))
      val pages = t(s, dir, "documents").select(
        concat(lit("http://"), host, lit("/p/"), col("doc_id"), query)
          .as("uri"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("<meta name=\"robots\" content=\"noai\">"),
            col("text")))
          .otherwise(col("text")).as("payload"),
        when(m3 === 0, lit("X-Robots-Tag: noai"))
          .when(m3 === 1, lit("X-Robots-Tag: noindex, nofollow"))
          .otherwise(lit(null).cast("string")).as("hdrs"))
      val robotsRows = s.range(4).select(
        concat(lit("http://host"), col("id"), lit(".test/robots.txt"))
          .as("uri"),
        when(col("id") === 0, lit("User-agent: *\nDisallow: /"))
          .when(col("id") === 1,
            lit("User-agent: ccbot\nDisallow: /p/\nAllow: /p/2"))
          .when(col("id") === 2, lit("User-agent: otherbot\nDisallow: /"))
          .otherwise(lit("User-agent: *\nDisallow:\nDisallow: /p/*?print="))
          .as("payload"),
        lit(null).cast("string").as("hdrs"))
      WarcSource.write(pages.union(robotsRows).repartition(col("uri")),
        out, "uri", "payload", extraHttpHeadersCol = "hdrs")
      graft.llm.Consent.fromCrawl(WarcSource.read(s, out), "ccbot")
        .select(
          regexp_extract(col("target_uri"), "/p/([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("robots_disallowed"), col("xrobots_noai"),
          col("xrobots_noindex"), col("meta_noai"), col("meta_noindex"),
          col("consent_ok"))
    },

    // --- WebDataset tar round trip: documents become two-entry samples
    // (<key>.txt + <key>.json), write gzipped shards, stream-parse back
    // with adjacency grouping (readSamples — NO shuffle), rebuild
    // doc_id + text; checksums verified on every header in-flight.
    // Oracle = the roundtrip identity over documents ---
    "q_webdataset_roundtrip" -> { (s, dir) =>
      val out = scratch("webdataset_rt")
      val docs = t(s, dir, "documents")
      val key = lpad(col("doc_id").cast("string"), 8, "0")
      val entries = docs.select(key.as("k"), lit("txt").as("e"),
          col("text").as("c"))
        .union(docs.select(key.as("k"), lit("json").as("e"),
          concat(lit("""{"lang":""""), col("lang"), lit("\"}")).as("c")))
      graft.sources.TarSource.write(entries, out, "k", "e", "c", gzip = true)
      graft.sources.TarSource.readSamples(s, out)
        .select(col("key").cast("long").as("doc_id"),
          decode(element_at(col("exts"), "txt"), "UTF-8").as("text"),
          get_json_object(
            decode(element_at(col("exts"), "json"), "UTF-8"), "$.lang")
            .as("lang"))
    },

    // --- U1 engine spine: read csv → inline transform → write parquet ---
    "q_engine_transfer" -> { (s, dir) =>
      val csvDir = scratch("engine_csv")
      val outDir = scratch("engine_out")
      t(s, dir, "part").write.mode("overwrite")
        .option("header", "true").csv(csvDir)
      val cfg = graft.engine.JobConfig(
        source = s"$csvDir/*.csv",
        target = s"$outDir.parquet",
        transform = graft.engine.TransformSpec(
          inline = Some("retail_cents=row.p_retailprice * 100; " +
            "brand_lc=string.lower(row.p_brand)")),
        truncate = true)
      new graft.engine.TransferEngine(cfg).execute(s)
      s.read.parquet(s"$outDir.parquet")
        .select(col("p_partkey"), col("retail_cents"), col("brand_lc"))
    },

    // --- U1 + decimalMode="exact": the write-boundary DecimalType(38,18)
    // cast, end-to-end through the engine so the YAML `decimal_mode` flag
    // can't rot. The written file's decimal schema is asserted IN the
    // query (a silent no-op of the mode throws, failing the gate); the
    // compared values are the decimals cast back to double — an exact
    // round-trip (the cast goes through the double's shortest decimal
    // repr, which (38,18) holds losslessly for these magnitudes), and
    // the form the gate's float-vs-decimal normalization compares
    // robustly. key_half = suppkey * 1.5 exercises a derived column
    // (every value n/2, exactly representable in binary and decimal).
    "q_decimal_transfer" -> { (s, dir) =>
      val outDir = scratch("decimal_out")
      val cfg = graft.engine.JobConfig(
        source = s"$dir/supplier.parquet",
        target = s"$outDir.parquet",
        transform = graft.engine.TransformSpec(
          inline = Some("key_half=row.s_suppkey * 1.5")),
        decimalMode = "exact",
        truncate = true)
      new graft.engine.TransferEngine(cfg).execute(s)
      val back = s.read.parquet(s"$outDir.parquet")
      val dec = org.apache.spark.sql.types.DecimalType(38, 18)
      Seq("s_acctbal", "key_half").foreach { c =>
        val dt = back.schema(c).dataType
        require(dt == dec,
          s"decimal_mode=exact must write $c as $dec, found $dt")
      }
      back.select(col("s_suppkey"),
        col("s_acctbal").cast("double").as("acctbal"),
        col("key_half").cast("double").as("key_half"))
    },

    // --- S5–S9/T5–T9 JDBC spine, LIVE over the embedded Derby engine
    // that ships in Spark's own distribution: parquet → jdbc target
    // (create-on-write, reference truncate semantics, transfer.rs:92-118)
    // → jdbc source where the explicit partitionColumn triggers the
    // dialect-quoted MIN/MAX bounds probe and a genuinely partitioned
    // scan (odbc.rs:196-256 keyset idea). The sandbox has no
    // sqlite/pg/mysql/mssql endpoints, so this proves everything
    // dialect-INDEPENDENT in the JDBC path inside the oracle gate;
    // per-dialect DDL maps and coercions stay unit-pinned.
    "q_jdbc_roundtrip" -> { (s, dir) =>
      // PER-PROCESS directory: Derby databases are single-JVM (db.lck)
      // and a killed run leaves its lock behind — a shared path made
      // concurrent bench/verify/test JVMs poison each other (observed:
      // "Failed to start database" in an otherwise green bench). The
      // pid suffix gives every JVM its own database; reruns inside one
      // JVM still reuse theirs.
      val db = scratch("derby_rt_" + ProcessHandle.current().pid())
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(db))
      // derby.system.home is set once at harness startup
      // (Logs.derbyHomeToScratch in Verify and TestSpark) —
      // never from inside a query fn: the property is read a single
      // time at engine boot, so a late set here would be a racy no-op.
      val uri = s"jdbc:derby:$db/rt;create=true#supplier"
      Connectors.write(t(s, dir, "supplier"), uri, truncate = true)
      Connectors.read(s, uri, Map("partitionColumn" -> "s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
    },

    // --- P3 Lua-file transform: filters + row mutation + table return ---
    "q_lua_file" -> { (s, dir) =>
      val lua =
        """function transform(row)
          |  -- drop one segment and negative balances (nil-filter rules)
          |  if row.c_mktsegment == 'BUILDING' then
          |    return nil
          |  end
          |  if row.c_acctbal < 0 then return nil end
          |  local bal2 = row.c_acctbal * 2
          |  row.name_up = string.upper(row.c_name)
          |  return { c_custkey = row.c_custkey, name_up = row.name_up, bal2 = bal2 }
          |end""".stripMargin
      graft.transform.LuaFile(t(s, dir, "customer"), lua)
    },

    // ================== LLM-pipeline operators (llm/) ==================
    // The documents fixture has all-distinct texts, so dedup queries
    // union in deterministic duplicate copies (shifted doc_ids) to give
    // the operators real duplicates to find; the oracle mirrors the same
    // construction in SQL.

    // --- exact dedup: one (hash, id) shuffle, canonical = min(id) ---
    "q_dedup_exact" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.exact(docs.union(copies), "doc_id", Seq("text"))
    },

    // --- MinHash+LSH near-dup pairs, exact-Jaccard verified.
    // bands=32 (2 rows/band) makes recall at threshold 0.5 deterministic
    // in practice: P(miss) <= (1-s^2)^32 < 1e-4 at s=0.5, ~5e-9 at the
    // fixture's actual near-dup range; verified equal to the all-pairs
    // oracle on the driver's data.
    "q_minhash_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" graft dup tail")).as("text"))
      Dedup.minhashPairs(docs.union(variants), "doc_id", "text",
          nGram = 3, numHashes = 64, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // --- inverted index: term → sorted posting list via the capped
    // native collect (hot terms poison their own buffer and drop);
    // only (term, id) pairs shuffle. maxPostings=1000 actually fires
    // at sf0.01 (corpus-wide words exceed it and vanish). ---
    "q_inverted_index" -> { (s, dir) =>
      graft.llm.Indexing.invertedIndex(t(s, dir, "documents"),
        "doc_id", "text", minDf = 2, maxPostings = 1000)
    },

    // --- TF-IDF keyword extraction: top-3 characteristic terms per
    // document against the corpus itself (shared \W+ tokenizer; narrow
    // tf/df aggregations, text never shuffles). ---
    "q_tfidf_terms" -> { (s, dir) =>
      graft.llm.TfIdf.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // --- C4 cleaning rules (Raffel 2020 §2.2), line granularity: the
    // corpus is reshaped into 5-line pages by id arithmetic so every
    // rule fires — line keeps (terminal punct + >= 5 words + no
    // "javascript"), page drops ({ on every 10th, lorem ipsum on every
    // 13th, a shortened third line on every 7th starves the 3-sentence
    // minimum). Expected output is the same arithmetic replayed ---
    "q_c4_filter" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val l1 = concat(array_join(slice(toks, 1, 8), " "),
        when(pmod(col("doc_id"), lit(10)) === 0, lit(" {."))
          .otherwise(lit(".")))
      val l2 = concat(array_join(slice(toks, 9, 6), " "),
        when(pmod(col("doc_id"), lit(13)) === 0, lit(" lorem ipsum!"))
          .otherwise(lit("!")))
      val l3 = when(pmod(col("doc_id"), lit(7)) === 0,
        array_join(slice(toks, 15, 3), " "))
        .otherwise(concat(array_join(slice(toks, 15, 6), " "), lit("?")))
      val l4 = array_join(slice(toks, 21, 4), " ")
      val l5 = lit("please enable javascript to continue viewing.")
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", l1, l2, l3, l4, l5).as("text"))
      TextAnalysis.c4Filter(corpus, "text")
    },

    // --- within-document duplicate line/paragraph statistics (the
    // structural half of Gopher's repetition block): every 6th doc
    // repeats its first line twice more (dup_line_frac 2/5), every
    // 8th repeats its closing paragraph (dup_para_frac 1/3); the
    // char-mass twins weigh the same duplicates by length ---
    "q_line_repetition" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val l1 = array_join(slice(toks, 1, 10), " ")
      val l2 = array_join(slice(toks, 11, 8), " ")
      val l3 = array_join(slice(toks, 19, 8), " ")
      val base = concat(l1, lit("\n"), l2, lit("\n\n"), l3)
      val dupLines = concat(l1, lit("\n"), l2, lit("\n"), l1,
        lit("\n"), l1, lit("\n\n"), l3)
      val dupParas = concat(l1, lit("\n"), l2, lit("\n\n"), l3,
        lit("\n\n"), l3)
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(6)) === 0, dupLines)
          .otherwise(when(pmod(col("doc_id"), lit(8)) === 0, dupParas)
            .otherwise(base)).as("text"))
      Repetition.lineStats(corpus, "text")
        .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
          col("dup_line_char_frac"), col("n_paras"),
          col("dup_para_frac"), col("dup_para_char_frac"))
    },

    // --- Gopher quality rules (Rae 2021 A1.1), document statistics:
    // 3-line pages assembled by id arithmetic; a stopword tail
    // guarantees the stop-hit rule while the base word count still
    // straddles the 50-word floor; every 9th doc gains hash spam
    // (hash ratio), every 11th bullets on ALL THREE lines (the paper's
    // >90% bullet-line structural rule), every 13th an ellipsis-spam
    // block plus two ellipsis line endings (both ellipsis rules), every
    // 17th a numeric-token block (alpha fraction). Output = the signal
    // columns for EVERY page plus the keep decision from the unrounded
    // signals. Hash and ellipsis ratios are gated SEPARATELY at 0.1 —
    // the paper's per-symbol caps, not a combined ratio ---
    "q_gopher_filter" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val isBullet = pmod(col("doc_id"), lit(11)) === 0
      def bulleted(l: org.apache.spark.sql.Column) =
        when(isBullet, concat(lit("• "), l)).otherwise(l)
      val tail =
        lit(" we worked with that team and have seen it be of use to the end")
      val l1a = concat(array_join(slice(toks, 1, 30), " "), tail)
      val l1b = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(l1a, lit(" # # # # # # # # # #"))).otherwise(l1a)
      val l1 = bulleted(when(pmod(col("doc_id"), lit(17)) === 0,
        concat(l1b, lit((1 to 25).map(i => 100 + i).mkString(" ", " ", ""))))
        .otherwise(l1b))
      val l2a = array_join(slice(toks, 31, 15), " ")
      val l2 = bulleted(when(pmod(col("doc_id"), lit(13)) === 0,
        concat(l2a, lit(" ... ... ... ... ... ... ... ..."))).otherwise(l2a))
      val l3a = array_join(slice(toks, 46, 15), " ")
      val l3 = bulleted(when(pmod(col("doc_id"), lit(13)) === 0,
        concat(l3a, lit("…"))).otherwise(l3a))
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", l1, l2, l3).as("text"))
      val sig = TextAnalysis.gopherSignals(corpus, "text")
      def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
      sig.select(col("doc_id"), col("g_words"),
        r6(col("g_mean_word_len")).as("g_mean_word_len"),
        r6(col("g_hash_ratio")).as("g_hash_ratio"),
        r6(col("g_ellipsis_ratio")).as("g_ellipsis_ratio"),
        r6(col("g_bullet_line_frac")).as("g_bullet_line_frac"),
        r6(col("g_ellipsis_line_frac")).as("g_ellipsis_line_frac"),
        r6(col("g_alpha_word_frac")).as("g_alpha_word_frac"),
        col("g_stopword_hits"),
        (col("g_words").between(50L, 100000L) &&
          col("g_mean_word_len").between(3.0, 10.0) &&
          col("g_hash_ratio") <= 0.1 &&
          col("g_ellipsis_ratio") <= 0.1 &&
          col("g_bullet_line_frac") <= 0.9 &&
          col("g_ellipsis_line_frac") <= 0.3 &&
          col("g_alpha_word_frac") >= 0.8 &&
          col("g_stopword_hits") >= 2L).as("keep"))
    },

    // --- text analysis: quality, token estimate, lang-id, fingerprint.
    // A deterministic suffix with digits/upper/punct is appended so every
    // ratio path is exercised (the fixture text is pure [a-z ]).
    "q_text_analysis" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" The 42 Ok!")))
      TextAnalysis.analyze(d, "text").select(col("doc_id"),
        col("char_len"), col("word_count"),
        round(col("avg_word_len"), 6).as("avg_word_len"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("digit_ratio"), 6).as("digit_ratio"),
        round(col("upper_ratio"), 6).as("upper_ratio"),
        round(col("quality_score"), 6).as("quality_score"),
        col("token_estimate"), col("lang_guess"), col("fingerprint"))
    },

    // --- corpus profile: one-row dataset health aggregate. The shifted
    // copies carry only trailing whitespace, so the fingerprint's
    // whitespace normalization must collapse them (distinct_fingerprints
    // < n_docs measures exactly the duplication the copies injected) ---
    "q_corpus_profile" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit("  ")).as("text"))
      TextAnalysis.corpusProfile(docs.union(copies), "text")
    },

    // --- deterministic stratified sampling: per-language keep fractions
    // decided by a hash of the stable id (reproducible, invertible,
    // joinable — unlike df.sample). The portable Knuth bucket is used
    // here so the DuckDB oracle replays the identical arithmetic; the
    // default xxhash64 bucket is unit-pinned in CorpusOpsSpec. ---
    "q_stratified_sample" -> { (s, dir) =>
      Sampling.stratified(t(s, dir, "documents"), "lang", "doc_id",
          fractions = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.0),
          defaultFraction = 0.1, bucketFn = Sampling.portableBucket)
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // --- sample + complement partition EXACTLY (the held-out-split
    // contract, gated rather than unit-only): every doc appears once,
    // tagged by which side took it; the oracle replays the shared
    // threshold with the side decided by the same comparison ---
    "q_sample_complement" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val kept = Sampling.byHash(docs, "doc_id", 0.3, Sampling.portableBucket)
        .withColumn("side", lit("sample"))
      val rest = Sampling.byHashComplement(docs, "doc_id", 0.3,
          Sampling.portableBucket)
        .withColumn("side", lit("rest"))
      kept.union(rest)
    },

    // --- document chunking: overlapping fixed-token windows (the
    // splitter before embedding/RAG vectorization). Pure explode
    // projection, no shuffle; oracle replays slice arithmetic exactly ---
    "q_chunk_documents" -> { (s, dir) =>
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, overlap = 10)
    },

    // --- domain mixture: downsample to a target lang composition (the
    // training-recipe rebalance). One tiny count agg derives the largest
    // achievable total, then the same portable hash-threshold filter as
    // the stratified sample — the DuckDB oracle replays the WHOLE
    // derivation (counts → T* → thresholds → kept set) ---
    "q_domain_mixture" -> { (s, dir) =>
      Sampling.mixture(t(s, dir, "documents"), "lang", "doc_id",
          weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1),
          bucketFn = Sampling.portableBucket)
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // --- DSIR importance weights (Xie 2023): target = the corpus's
    // English documents, raw = everything; every document scores
    // Σ ln(p̂_target/p̂_raw) over its hashed unigram+bigram buckets —
    // EXACT integer micro-nats (per-bucket ratios quantized once), so
    // the oracle re-derives counts → Laplace ratios → per-doc sums and
    // compares integers, no double rounding anywhere ---
    "q_dsir_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      Dsir.weights(docs.select(col("doc_id"), col("text")),
          docs.filter(col("lang") === "en").select(col("text")),
          "text", buckets = 512, ns = Seq(1, 2))
        .select(col("doc_id"), col("dsir_logw_micro"))
    },

    // --- DSIR Gumbel-top-k resampling: keep the 120 raw documents with
    // the largest logw + Gumbel(id) under the portable seeded uniform —
    // the Gumbel-max trick, deterministic and fully replayed by the
    // oracle (same counts, same quantized ratios, same noise, same
    // micro-quantized ordering key, row_number <= k) ---
    "q_dsir_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      Dsir.resample(docs.select(col("doc_id"), col("text")),
          docs.filter(col("lang") === "en").select(col("text")),
          "doc_id", "text", k = 120, buckets = 512, ns = Seq(1, 2),
          seed = 7L)
        .select(col("doc_id"), col("dsir_logw_micro"))
    },

    // --- diversity-balanced sampling over embedding cells: PRE-TRAINED
    // literal centroids differing only in dims 0/1, so the real
    // nearest-centroid argmin provably reduces to the quadrant of
    // (e0, e1) — which the oracle replays as a CASE — while Spark runs
    // the full 64-dim distance argmin. Equal per-cell quota, sparsest
    // cell binds. ---
    "q_diversity_sample" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents: Array[Seq[Double]] = Array(
        Seq(0.2, 0.2) ++ Seq.fill(62)(0.0),
        Seq(0.2, -0.2) ++ Seq.fill(62)(0.0),
        Seq(-0.2, 0.2) ++ Seq.fill(62)(0.0),
        Seq(-0.2, -0.2) ++ Seq.fill(62)(0.0))
      Sampling.diversitySample(emb, "vec_id", "embedding", cents,
          bucketFn = Sampling.portableBucket)
        .select(col("vec_id"))
    },

    // --- deterministic train/val/test assignment: the hash range is
    // carved into contiguous label ranges (sorted-key order: test,
    // train, val), every row gets exactly one label — the leak-proof
    // split every training pipeline carves; oracle replays the CASE ---
    "q_assign_splits" -> { (s, dir) =>
      Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
          Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          bucketFn = Sampling.portableBucket)
        .select(col("doc_id"), col("lang"), col("split"))
    },

    // --- deterministic global shuffle: reproducible random order +
    // fixed shard assignment for training serving; per-shard positions
    // come from parallel per-shard sorts, never a global one ---
    "q_global_shuffle" -> { (s, dir) =>
      Shuffling.deterministicShuffle(t(s, dir, "documents"), "doc_id",
          seed = 7L, shards = 8)
        .select(col("doc_id"), col("shuffle_key"), col("shard"),
          col("shard_pos"))
    },

    // --- sequence packing: documents laid head-to-tail into 2048-token
    // packs, 4 deterministic sub-streams per source group (the
    // parallelism unit at scale), offsets from one running-sum window ---
    "q_pack_sequences" -> { (s, dir) =>
      val d = t(s, dir, "documents").withColumn("toks",
        TextAnalysis.tokenCountEstimate(col("text")).cast("long"))
      Packing.packSequences(d, orderCol = "doc_id", tokensCol = "toks",
          budget = 2048, groupCols = Seq("source"), subStreams = 4)
        .select(col("doc_id"), col("source"), col("stream"),
          col("pack_id"), col("pack_offset"), col("spans_boundary"))
    },

    // --- deterministic weighted interleave: virtual-time schedule over
    // a skewed derived domain (60/30/10 supply vs 0.5/0.3/0.2 target
    // weights), size-normalized so every stream prefix carries the
    // TARGET ratio. Shuffle-free projection after one tiny count
    // probe; the oracle replays counts → |s|/w scale → rounded
    // virtual times exactly ---
    "q_interleave" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 6, lit("web"))
          .when(pmod(col("doc_id"), lit(10)) < 9, lit("books"))
          .otherwise(lit("code")).as("dom"))
      graft.llm.Mixing.interleave(d, "dom", "doc_id",
        Map("web" -> 0.5, "books" -> 0.3, "code" -> 0.2), seed = 11L)
    },

    // --- deterministic token-budget cut: ~100k tokens of the corpus,
    // taken as per-shard prefixes in seeded shuffle-hash order (8
    // shards × 12500 tokens; no global running sum). Oracle replays
    // the portable key, shard windows and prefix filter exactly ---
    "q_token_budget" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.tokenCountEstimate(col("text")).cast("long").as("toks"))
      Sampling.tokenBudget(d, "doc_id", "toks",
        budget = 100000L, shards = 8, seed = 7L)
    },

    // --- PII redaction: deterministic contact strings are injected into
    // copies (the fixture text is clean prose) so every category and the
    // fixed email→card→phone→ip order are exercised — including a
    // Luhn-VALID card (4111111111111111, redacted) next to a Luhn-
    // INVALID 16-digit run (4111111111111112, left in place: the
    // checksum is the false-positive guard); originals prove the
    // no-match path leaves text byte-identical ---
    "q_pii_redaction" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tainted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" contact a.smith+hr@ex-mail.org or " +
            "+1 555-123-4567 via 192.168.10.42 card 4111111111111111 " +
            "order 4111111111111112 today")).as("text"))
      TextAnalysis.redactPii(docs.union(tainted), "text")
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ccs").cast("long").as("n_ccs"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"), col("redacted"))
    },

    // --- benchmark-contamination check: probe set = every 97th doc;
    // corpus additionally carries prefixed variants of those docs, whose
    // grams are a strict superset boundary-shifted — so the report spans
    // full hits (the probes themselves, contamination 1.0) and partial
    // hits (the variants, < 1.0) ---
    "q_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val variants = probes.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("prefix words added here "), col("text")).as("text"))
      Contamination.check(docs.union(variants), probes.select(col("text")),
        "doc_id", "text", "text", n = 8)
    },

    // --- per-SUITE contamination attribution: two benchmark "suites"
    // (every 97th doc = evalA, every 89th = evalB; doc 0 sits in BOTH,
    // pinning the a-gram-counts-toward-every-suite contract) over the
    // same corpus + prefixed variants as q_contamination. One row per
    // (doc, suite) sharing >= 1 gram; totals ride a shuffle-free
    // size() projection joined keys-only after the per-suite agg ---
    "q_contamination_by_suite" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pa = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(lit("evalA").as("suite"), col("text"))
      val pb = docs.filter(pmod(col("doc_id"), lit(89)) === 0)
        .select(lit("evalB").as("suite"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("prefix words added here "), col("text")).as("text"))
      Contamination.checkBySuite(docs.union(variants), pa.union(pb),
        "doc_id", "text", "text", "suite", n = 8)
    },

    // --- decontamination REMOVAL: drop documents sharing >= 50% of
    // their 8-grams with the probe set. Probe originals (ratio 1.0) and
    // prefixed variants (high ratio) must vanish; incidental low-ratio
    // overlaps survive. Oracle replays the unrounded ratio decision ---
    "q_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val variants = probes.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("prefix words added here "), col("text")).as("text"))
      Contamination.decontaminate(docs.union(variants),
          probes.select(col("text")), "doc_id", "text", "text", n = 8,
          maxContamination = 0.5)
        .select(col("doc_id"))
    },

    // --- substring-granularity decontamination: EXCISE the leaked
    // span, KEEP the document (Lee et al. 2021 machinery aimed at a
    // probe corpus — the field standard for eval-set leakage, where
    // q_decontaminate drops whole documents). The eval passage is
    // appended to every 5th doc; one extra row IS the passage (the
    // husk case). Expected output is id-arithmetic: stamped docs lose
    // exactly the appended span (contaminated_chars = its length), the
    // husk rebuilds to '', clean docs pass through with 0. Per-row
    // plan: probe windows collect once into a sorted-hash index; the
    // corpus pays one projection — no shuffle, no join (streamable,
    // unlike every other decontamination shape) ---
    "q_decontaminate_excise" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" " + decontamPassage)))
            .otherwise(col("text")).as("text"))
        .union(s.range(1).select(lit(10000001L).as("doc_id"),
          lit(decontamPassage).as("text")))
      val probes = s.range(1).select(lit(decontamPassage).as("text"))
      Contamination.decontaminateExcise(corpus, probes,
        "doc_id", "text", "text", w = 50, stride = 1)
    },

    // --- the matching REPORT surface: one row per (doc, merged
    // maximal contaminated span) with codepoint bounds — what the
    // excise pass above cuts, as an audit table (same corpus, same
    // probe, so the two gates can never drift) ---
    "q_contamination_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" " + decontamPassage)))
            .otherwise(col("text")).as("text"))
        .union(s.range(1).select(lit(10000001L).as("doc_id"),
          lit(decontamPassage).as("text")))
      val probes = s.range(1).select(lit(decontamPassage).as("text"))
      Contamination.contaminationSpans(corpus, probes,
          "doc_id", "text", "text", w = 50, stride = 1)
        .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"))
    },

    // --- EDIT-TOLERANT span decontamination (winnowing fingerprints →
    // gram-run clustering → overlap verify): a 359-char planted slab is
    // INSERTED at char offset 40 of every 7th doc, and every 14th doc's
    // copy carries a single same-length token edit in the middle — the
    // exact leak shape the verbatim window pass misses entirely. The
    // matched-gram-run bounds are id-arithmetic (first/last clean slab
    // gram), so the expected excision is the slab itself in BOTH
    // variants (the edit's corrupted grams bridge inside the cluster):
    // output text = the doc with the slab removed (two flanking spaces
    // survive), contaminated_chars = 359. Clean docs pass through
    // byte-identical with 0. Per-row plan: two bounded sorted probe
    // indexes ride the plan; no shuffle, no join (streamable) ---
    "q_decontaminate_fuzzy" -> { (s, dir) =>
      val slab = (1 to 60).map(i => f"qw$i%03d").mkString(" ")
      val slabEd = slab.replace("qw030", "xx030")
      val t0 = col("text")
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(t0.substr(lit(1), lit(40)), lit(" "),
            when(pmod(col("doc_id"), lit(14)) === 0, lit(slabEd))
              .otherwise(lit(slab)),
            lit(" "), t0.substr(lit(41), length(t0))))
          .otherwise(t0).as("text"))
      val probes = s.range(1).select(lit(slab).as("text"))
      Contamination.decontaminateFuzzy(corpus, probes,
        "doc_id", "text", "text")
    },

    // --- repetition metrics: per-doc duplicate-word / duplicate-n-gram /
    // modal-n-gram fractions from the one-pass native GramRepetition
    // stats (no explode, no shuffle). Copies with a 5x-repeated phrase
    // appended guarantee the high-repetition tail is exercised ---
    "q_repetition" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spammy = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(" buy now buy now buy now buy now buy now")).as("text"))
      Repetition.stats(docs.union(spammy), "text", n = 2)
        .select(col("doc_id"), col("n_words"), col("distinct_words"),
          col("dup_word_frac"), col("total_ngrams"), col("distinct_ngrams"),
          col("top_ngram_count"), col("dup_ngram_frac"), col("top_ngram_frac"))
    },

    // --- the SQL surface: registered sketch/vector functions driven
    // entirely through spark.sql over temp views — proves a SQL-only
    // user gets the same native expressions the Column API provides,
    // inside the acceptance gate (registration itself is unit-tested;
    // this pins end-to-end parse→plan→execute→results) ---
    "q_sql_surface" -> { (s, dir) =>
      graft.functions.SketchExprs.register(s)
      graft.functions.VectorExprs.register(s)
      t(s, dir, "documents").createOrReplaceTempView("documents_sql")
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_sql")
      s.sql("""
        SELECT d.doc_id,
               gram_repetition(d.text, 2).total AS total_bigrams,
               gram_repetition(d.text, 2).distinct AS distinct_bigrams,
               round(l2_norm(e.embedding), 6) AS l2_norm
        FROM documents_sql d
        JOIN embeddings_sql e ON d.doc_id = e.vec_id""")
    },

    // --- the flagship composite: the standard curation pipeline
    // (URL filter → repetition filter → exact dedup keep-min-id →
    // deterministic sample), one lazy plan. The corpus carries three
    // engineered families — blocklisted-URL copies, spam-repetition
    // copies, exact-duplicate copies — each of which a distinct stage
    // must remove; the oracle replays all four stages as CTEs, so a
    // silent failure of ANY stage breaks the hash ---
    "q_curation_pipeline" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spamUrl = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" via https://spam.example.com/x")).as("text"))
      val repetitive = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" buy now" * 30)).as("text"))
      val dupes = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
      // thresholds sit between the corpus' natural maxima (dup_ngram
      // 0.18, top_ngram 0.23 at sf0.1) and the injected spam (≥ 0.42):
      // real margins on both sides
      Curation.pipeline(docs.union(spamUrl).union(repetitive).union(dupes),
          "doc_id", "text",
          Curation.PipelineConfig(
            blocklist = Seq("spam.example.com"),
            maxDupWordFrac = 0.9, maxDupNgramFrac = 0.35,
            maxTopNgramFrac = 0.5, sampleFraction = 0.5,
            bucketFn = Sampling.portableBucket,
            // production shape: one tokenization pass materialized,
            // instead of re-evaluating the filter subtree per consumer
            persistSurvivors = true))
        .select(col("doc_id"))
    },

    // --- incremental (cross-snapshot) dedup: drop docs whose CONTENT
    // already exists in a reference snapshot (every 3rd doc's text,
    // with ids discarded to prove matching is by content hash). Anti-
    // join on 16-byte hashes only; oracle replays with null-safe text
    // equality ---
    "q_dedup_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("text"))
      Dedup.againstReference(docs, ref, "doc_id", Seq("text"))
        .select(col("doc_id"))
    },

    // --- Bloom-filter membership vs a reference corpus: the
    // fixed-byte-budget "might have seen" probe for crawl histories too
    // large for the exact sorted-set index. The hash family is the
    // portable 31/37 codepoint-polynomial pair mod 2^31-1 with
    // Kirsch–Mitzenmacher positions, so the oracle replays the EXACT
    // bit pattern — m=512 is deliberately undersized (~84% of bits set
    // by the ~170 ref keys at sf0.01) to FORCE false positives in-gate
    // (89 of 333 non-members at sf0.01), each reproduced bit-for-bit
    // by the oracle (a membership test per position via left join +
    // bool_and). No false negatives by construction: every ref doc
    // must flag true ---
    "q_bloom_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val bloomDf = Bloom.build(ref, col("text"), mBits = 512, k = 3)
      Bloom.probe(docs, bloomDf, col("text"), mBits = 512, k = 3)
        .select(col("doc_id"), col("might_seen"))
    },

    // --- code-corpus structural statistics (The Stack / StarCoder
    // family) over the REAL documents text: one fused walk per row;
    // every counter integer-exact and codepoint-based so the oracle is
    // plain string_split/regexp arithmetic ---
    "q_code_stats" -> { (s, dir) =>
      Code.stats(t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text")).drop("text")
    },

    // --- the structural KEEP filter over a planted code fixture
    // (doc_id % 7 plants: 0 clean source KEEP, 1 generated-file marker,
    // 2 base64 blob run 640 diluted by short lines (blob-only trip),
    // 3 hex digest run 560 (hex trip — and inherently the b64 cap too,
    // hex chars ⊂ the b64 class), 4 minified 1200-char line (line cap +
    // blob run), 5 symbol soup < 25% alnum, 6 a space-broken 990-char
    // line tripping ONLY the avg rule). Oracle rebuilds the fixture and
    // the exact integer threshold comparisons ---
    "q_code_filter" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(7))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("// SPDX-License-Identifier: MIT\nint main_"),
            id, lit("() {\n  return "), m.cast("string"), lit(";\n}\n")))
          .when(m === 1, concat(
            lit("# Code generated by protoc. DO NOT EDIT.\npackage pb\nvar x"),
            id, lit(" = 1\n")))
          .when(m === 2, concat(lit("payload = \""), repeat(lit("Zm9v+/=8"), 80),
            lit("\"\n"), repeat(lit("ok;\n"), 400)))
          .when(m === 3, concat(lit("digest = "), repeat(lit("a1b2c3d4"), 70),
            lit("\n"), repeat(lit("ok;\n"), 400)))
          .when(m === 4, repeat(lit("xy"), 600))
          .when(m === 5, concat(repeat(lit("$#@! "), 60), lit("\nend\n")))
          .otherwise(concat(repeat(lit("z "), 495), lit("\nok\n")))
          .as("code_text"))
      Code.filter(fixture, col("code_text")).select(col("doc_id"))
    },

    // --- license evidence per document (SPDX header, permissive /
    // copyleft phrases, Creative Commons path variant) over planted
    // headers; doc_id % 6 = 5 carries none → NULL spdx/cc, false flags ---
    "q_license_flags" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(6))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(
            lit("/* SPDX-License-Identifier: Apache-2.0 */\ncode_"), id))
          .when(m === 1, concat(lit("Permission is hereby granted, free of " +
            "charge, to any person obtaining a copy\nfn f"), id))
          .when(m === 2, concat(lit("This program is free software: you can " +
            "redistribute it under the GNU General Public License.\nmod m"), id))
          .when(m === 3, concat(lit("<a href=\"https://creativecommons.org/" +
            "licenses/by-nc-nd/4.0/\">CC BY-NC-ND</a>\n"), id))
          .when(m === 4, concat(
            lit("// SPDX-License-Identifier: GPL-3.0-only\nstruct S"), id))
          .otherwise(concat(lit("no license text here "), id))
          .as("code_text"))
      Code.licenseFlags(fixture, col("code_text"))
        .select(col("doc_id"), col("spdx_id"), col("permissive"),
          col("copyleft"), col("cc_variant"))
    },

    // --- image-text pair mining (the LAION construction: <img> tags →
    // (src, alt) pairs → alt-length floor) over planted HTML; doc_id%5
    // plants: 0 two good pairs, 1 single-quoted reversed-attr uppercase
    // tag, 2 missing/short alts (extracted but filtered), 3 no images,
    // 4 whitespace around '='. One posexplode over per-row extraction —
    // no shuffle; the oracle runs the IDENTICAL RE2-safe regexes ---
    "q_image_text_pairs" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(5))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("<p>intro</p><img src=\"https://cdn.ex/"),
            id, lit("/a.jpg\" alt=\"a red bicycle leaning on a wall\">" +
              "<img src=\"https://cdn.ex/"), id,
            lit("/b.png\" alt=\"two dogs playing in snow\">")))
          .when(m === 1, concat(lit("<IMG ALT='portrait of doc "), id,
            lit("' SRC='https://cdn.ex/"), id, lit("/c.webp'>")))
          .when(m === 2, concat(lit("<img src=\"https://cdn.ex/"), id,
            lit("/d.gif\"><img src=\"https://cdn.ex/"), id,
            lit("/e.jpg\" alt=\"ok\">")))
          .when(m === 3, concat(lit("plain text no images "), id))
          .otherwise(concat(lit("<img   src = \"https://cdn.ex/"), id,
            lit("/f.jpg\"  alt = \"autumn leaves on water\" >")))
          .as("html"))
      ImageText.pairs(fixture, "doc_id", "html")
    },

    // --- crawl opt-out signals (meta robots noai / noimageai /
    // noindex — the consent flags a compliant pipeline honors first);
    // doc_id%4 plants both AI tokens, classic noindex, the token in
    // PROSE (must not flag), and 'paranoia' inside a meta content
    // (word boundary must hold) ---
    "q_optout_flags" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(4))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(
            lit("<meta name=\"robots\" content=\"noai, noimageai\">page "), id))
          .when(m === 1, concat(
            lit("<meta name='robots' content='noindex, nofollow'>page "), id))
          .when(m === 2, concat(lit("we discuss noai policies in prose "), id))
          .otherwise(concat(
            lit("<meta property=\"og:title\" content=\"paranoia inc\"> "), id))
          .as("html"))
      TextAnalysis.optOutFlags(fixture, "html")
        .select(col("doc_id"), col("noai"), col("noimageai"), col("noindex"))
    },

    // --- chat-transcript (SFT) structure validation + stats +
    // role-tagged flattening over planted OpenAI-shape messages JSON;
    // doc_id%6 plants: 0 minimal valid pair, 1 valid with system head,
    // 2 user-user-assistant (alternation break), 3 unknown role, 4 odd
    // body ending on user, 5 garbage (parsed=false, NULL verdicts).
    // The oracle re-derives every verdict from the RAW JSON via
    // per-index json_extract_string — not from id arithmetic ---
    "q_chat_stats" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(6))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("""[{"role":"user","content":"question """),
            id, lit(""" "},{"role":"assistant","content":"answer """),
            id, lit("\"}]")))
          .when(m === 1, concat(
            lit("""[{"role":"system","content":"be helpful"},""" +
              """{"role":"user","content":"hi """), id,
            lit(""" "},{"role":"assistant","content":"hello there"}]""")))
          .when(m === 2, concat(
            lit("""[{"role":"user","content":"a"},""" +
              """{"role":"user","content":"b"},""" +
              """{"role":"assistant","content":"c """), id, lit("\"}]")))
          .when(m === 3, concat(lit("""[{"role":"user","content":"q """), id,
            lit(""" "},{"role":"bot","content":"r"}]""")))
          .when(m === 4, concat(
            lit("""[{"role":"user","content":"u1"},""" +
              """{"role":"assistant","content":"a1"},""" +
              """{"role":"user","content":"u2 """), id, lit("\"}]")))
          .otherwise(concat(lit("not json "), id))
          .as("j"))
      // boolean verdicts coalesce to false for unparsed rows (parsed
      // distinguishes) — the gate comparator's dtype normalization has
      // no stable ordering for NULLABLE booleans, and "garbage is not
      // a valid transcript" is the honest verdict anyway
      Chat.flatten(Chat.stats(fixture, "j"), "j")
        .select(col("doc_id"), col("parsed"), col("n_turns"),
          col("n_assistant"), col("assistant_chars"),
          coalesce(col("roles_valid"), lit(false)).as("roles_valid"),
          coalesce(col("alternation_valid"), lit(false))
            .as("alternation_valid"),
          col("flat_text"))
    },

    // --- SFT loss-mask spans: the half-open [s, e) codepoint ranges of
    // assistant content inside the flattened text (same planted
    // fixture as q_chat_stats); the oracle re-derives offsets from the
    // raw JSON via window prefix sums over the turn lengths ---
    "q_chat_spans" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(6))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("""[{"role":"user","content":"question """),
            id, lit(""" "},{"role":"assistant","content":"answer """),
            id, lit("\"}]")))
          .when(m === 1, concat(
            lit("""[{"role":"system","content":"be helpful"},""" +
              """{"role":"user","content":"hi """), id,
            lit(""" "},{"role":"assistant","content":"hello there"}]""")))
          .when(m === 2, concat(
            lit("""[{"role":"user","content":"a"},""" +
              """{"role":"user","content":"b"},""" +
              """{"role":"assistant","content":"c """), id, lit("\"}]")))
          .when(m === 3, concat(lit("""[{"role":"user","content":"q """), id,
            lit(""" "},{"role":"bot","content":"r"}]""")))
          .when(m === 4, concat(
            lit("""[{"role":"user","content":"u1"},""" +
              """{"role":"assistant","content":"a1"},""" +
              """{"role":"user","content":"u2 """), id, lit("\"}]")))
          .otherwise(concat(lit("not json "), id))
          .as("j"))
      Chat.assistantSpans(fixture, "j")
        .select(col("doc_id"), posexplode(col("assistant_spans")))
        .select(col("doc_id"), col("pos").as("span_idx"),
          col("col.s").as("s"), col("col.e").as("e"))
    },

    // --- preference-pair construction (reward-model / DPO prep): per
    // prompt, top- and bottom-scored responses with deterministic
    // tie-breaks (chosen ties → lowest id, rejected ties → highest);
    // scores planted as (doc_id*7)%3 so ties genuinely occur in-gate;
    // single-response prompts excluded ---
    "q_preference_pairs" -> { (s, dir) =>
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(50)).as("prompt_id"),
        concat(lit("resp "), col("doc_id").cast("string")).as("response"),
        pmod(col("doc_id") * 7, lit(3)).as("score"))
      Chat.preferencePairs(fixture, "prompt_id", "response", "score",
        "doc_id")
    },

    // --- structured page metadata (title / description / canonical /
    // og / lang) over planted HTML; doc_id%5 plants: 0 full page in
    // canonical attr order, 1 every attribute pair REVERSED, 2 a
    // multi-line title plus a second title (first must win, non-greedy
    // must stop at the first close), 3 tagless prose (all NULL), 4
    // empty-valued fields (NULL, not "") ---
    "q_page_meta" -> { (s, dir) =>
      val m = pmod(col("doc_id"), lit(5))
      val id = col("doc_id").cast("string")
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        when(m === 0, concat(
            lit("<html lang=\"en\"><head><title>Doc "), id,
            lit(" overview</title>\n<meta name=\"description\" " +
              "content=\"summary of doc "), id,
            lit("\">\n<link rel=\"canonical\" href=\"https://ex.com/"), id,
            lit("\">\n<meta property=\"og:title\" content=\"OG "), id,
            lit("\">\n<meta property=\"og:image\" " +
              "content=\"https://img.ex/"), id, lit(".jpg\"></head>")))
          .when(m === 1, concat(
            lit("<html lang=\"fr\"><meta content=\"rev summary "), id,
            lit("\" name=\"description\">" +
              "<link href=\"https://ex.com/rev/"), id,
            lit("\" rel=\"canonical\">" +
              "<meta content=\"REV OG "), id,
            lit("\" property=\"og:title\">")))
          .when(m === 2, concat(
            lit("<title>first\nline "), id,
            lit("</title><p>body</p><title>second</title>")))
          .when(m === 3, concat(lit("plain prose document "), id))
          .otherwise(lit("<title></title>" +
            "<meta name=\"description\" content=\"\">no values"))
          .as("html"))
      TextAnalysis.pageMeta(fixture, "html")
        .select(col("doc_id"), col("page_title"), col("meta_description"),
          col("canonical_url"), col("og_title"), col("og_image"),
          col("html_lang"))
    },

    // --- Count-Min frequency sketch (Cormode 2005): token counts at a
    // fixed d×w cell budget; w=64 is deliberately tiny so hash
    // collisions genuinely occur in-gate (3 of 31 keys overestimate
    // through ALL FOUR depths at sf0.01; 28 stay exact) and the
    // min-over-depths logic is exercised — the oracle replays the portable position family,
    // the cell table, and every estimate EXACTLY, collisions included ---
    "q_cms_freq" -> { (s, dir) =>
      import graft.operators.FreqSketch
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\W+")).as("tk"))
        .filter(length(col("tk")) > 0)
      val sketch = FreqSketch.build(toks, col("tk"), w = 64, d = 4)
      FreqSketch.estimate(sketch, toks.distinct(), "tk", 64, 4)
    },

    // --- fill-in-the-middle (Bavarian 2022 / StarCoder PSM) over the
    // REAL documents text: half the corpus (portable-hash selected,
    // seed 42) rewrites to <fim_prefix>P<fim_suffix>S<fim_middle>M with
    // hash-derived cut points; the oracle replays selection, both cuts,
    // and the exact rewritten string ---
    "q_code_fim" -> { (s, dir) =>
      Code.fim(t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", rate = 0.5, seed = 42L)
        .select(col("doc_id"), col("fim"), col("text"))
    },

    // --- the incremental-curation COMPOSITION: referenceSnapshot wired
    // through Curation.pipeline, ordered BEFORE in-batch dedup — a copy
    // (id+300000) of referenced content must vanish with its original
    // (reference stage), while copies of unreferenced content collapse
    // to min-id (dedup stage). Each stage is oracle-gated on its own
    // elsewhere; this row gates the ORDER of the composition. The
    // repetition thresholds sit at 1.0 (vacuously true) so the oracle
    // stays the two joins under test ---
    "q_curation_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(4)) === 0).select(col("text"))
      Curation.pipeline(docs.union(copies), "doc_id", "text",
          Curation.PipelineConfig(
            maxDupWordFrac = 1.0, maxDupNgramFrac = 1.0,
            maxTopNgramFrac = 1.0,
            referenceSnapshot = Some(ref),
            // the reference anti-join fans out into the dedup's two
            // consumers; materializing it keeps the downstream plans
            // small (driver planning time dominated this query, not
            // execution: 8 stages / 0.4s of task time inside ~1.8s)
            persistSurvivors = true))
        .select(col("doc_id"))
    },

    // --- incremental NEAR-dup dedup vs a reference snapshot: drop
    // batch docs whose jaccard to ANY reference doc reaches 0.5 —
    // originals of ref docs (jaccard 1.0) and their tailed near-copies
    // go; near-copies of NON-ref docs stay. bands=32 recall margin as
    // q_minhash_pairs; the oracle replays brute-force cross jaccard. ---
    "q_dedup_incremental_near" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val nearRef = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" graft dup tail")).as("text"))
      val nearOther = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" graft dup tail")).as("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("text"))
      Dedup.nearDupAgainstReference(
          docs.union(nearRef).union(nearOther), ref, "doc_id", "text",
          numHashes = 64, bands = 32, threshold = 0.5)
        .select(col("doc_id"))
    },

    // --- corpus-trained unigram LM scoring (perplexity-proxy quality
    // filter): vocab = top-30 words (corpus counts ~900 at sf0.01 vs 30
    // for the first excluded word — real margin), OOV floor 1/total.
    // Copies with
    // appended nonsense words exercise the floor; the oracle replays
    // training (counts → deterministic top-V cut) AND scoring ---
    "q_lm_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val noisy = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zzqqxx wwyyvv jjkkqq")).as("text"))
      val corpus = docs.union(noisy)
      val vocab = LmScore.unigramVocab(corpus, "text", vocabSize = 30)
      // denominator folded into the scoring plan (round-19): the frame
      // overload cross-joins the 1-row total instead of collecting it
      // with its own action + tokenize pass
      LmScore.score(corpus, "doc_id", "text", vocab,
        LmScore.totalTokensDf(corpus, "text"))
    },

    // --- PMI collocations (Church & Hanks): the word pairs that
    // co-occur far beyond their unigram frequencies — multi-word-unit
    // candidates for the tokenizer, the phrase signal unigram TF-IDF
    // cannot see. Keys-only pair aggregation + TakeOrdered top-k. ---
    "q_collocations" -> { (s, dir) =>
      LmScore.collocations(
        t(s, dir, "documents").select(col("text")), "text",
        minCount = 5, k = 25)
    },

    // --- CCNet perplexity bucketing (Wenzek et al. 2020): head/middle/
    // tail quality tiers cut at EXACT corpus-level perplexity terciles
    // (range-partitioned order statistics, no global sort) — the step
    // CCNet runs between LM scoring and sampling. The oracle replays
    // scoring and picks the same ceil(i*n/3)-th smallest proxies. ---
    "q_ccnet_buckets" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val vocab = LmScore.unigramVocab(docs, "text", vocabSize = 30)
      val scored = LmScore.score(docs, "doc_id", "text", vocab,
        LmScore.totalTokensDf(docs, "text"))
      LmScore.perplexityBuckets(scored, "doc_id")
    },

    // --- Unicode script profile: the writing-system language signal
    // (stopword lang-id only separates space-delimited Latin-script
    // languages; CJK/Cyrillic/Arabic identify by SCRIPT). One native
    // codegen'd pass counts codepoints per script class; multilingual
    // suffixes are planted per doc_id residue so every class exercises.
    // The oracle re-counts each class with RE2 script strips. ---
    "q_script_profile" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tagged = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" привет мир")))
        .when(pmod(col("doc_id"), lit(7)) === 1,
          concat(col("text"), lit(" 机器 学习 模型")))
        .when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" مرحبا שלום")))
        .when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" こんにちは 한국")))
        .otherwise(col("text")))
      tagged.select(col("doc_id"),
          graft.functions.UnicodeExprs.scriptProfile(col("text")).as("p"))
        .select(col("doc_id"), col("p.*"))
    },

    // --- multinomial Naive Bayes classifier (the trainable curation
    // filter: GPT-3's quality LR, CCNet's fastText lang-id, reduced to
    // the model trainable inside the engine): train on the doc_id%3==0
    // labeled seed, score the WHOLE corpus, argmax over classes with
    // ties to the alphabetically-first label. The oracle replays
    // training (deterministic vocab cut, smoothed likelihoods, doc
    // priors) AND scoring; the argmax runs on unrounded scores in both
    // engines so near-ties break identically ---
    "q_nb_classify" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val (model, stats) = graft.llm.NbClassifier.train(
        docs.where(pmod(col("doc_id"), lit(3)) === 0), "text", "lang",
        vocabSize = 200)
      graft.llm.NbClassifier.score(docs, "doc_id", "text", model, stats)
    },

    // --- char-n-gram language ID (the fastText/CCNet signal): the
    // same NB machinery trained over char 2-3-grams — the signal that
    // survives short/informal documents where stopword ratios and
    // word vocabularies go blind. Scoring is a PER-ROW projection
    // over literal in-plan maps (aggregate over the gram array): no
    // shuffle, and the same Column streams in curation mode=stream.
    // The oracle replays training (deterministic vocab cut) AND
    // per-position scoring; argmax on unrounded scores both sides. ---
    "q_lang_id" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val (model, stats) = graft.llm.LangId.train(
        docs.where(pmod(col("doc_id"), lit(3)) === 0), "text", "lang",
        vocabSize = 300)
      graft.llm.LangId.scoreAll(docs, "doc_id", "text", model, stats)
    },

    // --- corpus-trained BIGRAM LM with Stupid Backoff: scrambled
    // (word-reversed) copies keep their unigram score (same multiset)
    // but lose their bigrams — the order-sensitivity signal. The
    // oracle replays training (unigram vocab, context-restricted
    // bigram cut — both total-order-deterministic) AND scoring. ---
    "q_lm_bigram" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val scrambled = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text"))
      val corpus = docs.union(scrambled)
      val vocab = LmScore.unigramVocab(corpus, "text", vocabSize = 30)
      val bigrams = LmScore.bigramCounts(corpus, "text", vocab,
        bigramSize = 100)
      // denominator folded into the scoring plan (round-19, see q_lm_score)
      LmScore.scoreBigram(corpus, "doc_id", "text", vocab, bigrams,
        LmScore.totalTokensDf(corpus, "text"))
    },

    // --- repeated-substring spans: per-doc fraction of strided 40-char
    // windows whose hash occurs >= 2x corpus-wide. Copies share their
    // full prefix with the original (appended tail → aligned windows),
    // so both sides of each pair light up; untouched docs stay near 0.
    // Only (id, hash) pairs shuffle — text never leaves its row ---
    "q_repeated_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val extended = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" with an appended trailing remark"))
            .as("text"))
      Spans.stats(docs.union(extended), "doc_id", "text", k = 40, stride = 20)
    },

    // --- Unicode NFC normalization (native codegen'd expression —
    // content-hash dedup treats NFC and decomposed forms as different
    // docs without it). A third of the corpus gets combining-mark
    // text appended; DuckDB's nfc_normalize replays the composition ---
    "q_nfc_normalize" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val decomposed = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(" cafe\u0301 over Zu\u0308rich")).as("text"))
      docs.union(decomposed)
        .select(col("doc_id"),
          graft.functions.UnicodeExprs.nfc(col("text")).as("text"))
    },

    // --- mojibake repair: a fifth of the corpus gets a cp1252-mangled
    // snippet appended (generated by the artifact's own round-trip from
    // the clean form, so the fixture cannot carry a hand-typed byte
    // error); fixMojibake must restore it exactly and leave clean docs
    // byte-identical. The oracle's replace chain is GENERATED from the
    // same MojibakeFixes table ---
    "q_fix_mojibake" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corrupted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" " + mojibakeBadSnippet)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.fixMojibake(corrupted, "text")
    },

    // --- crawl HTML strip: a quarter of the corpus gets wrapped in
    // real markup (script with a bare '<' in its body, style, nested
    // tags, entities incl. the &amp;-last decode-order trap); the rest
    // passes through the same collapse/trim. Oracle replays the exact
    // regex chain (RE2-safe: no backreferences) ---
    "q_strip_html" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wrapped = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(
            lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
              "<style>p { color: red; }</style></head><body><p class=\"c\">"),
            col("text"),
            lit("</p><br/>Tom &amp; Jerry &lt;3&nbsp;&quot;quoted&quot;</body></html>")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.stripHtml(wrapped, "text")
    },

    // --- line-level dedup (CCNet-style): lines recurring in >= 5
    // distinct docs are boilerplate and get REMOVED from the text.
    // Two engineered footer lines land on ~1/3 and ~1/4 of the corpus;
    // the oracle replays split → doc-frequency → positional rebuild.
    // Analysis shuffles carry (id, pos, 8-byte hash) only ---
    "q_line_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val footered = docs.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nSubscribe to our newsletter today")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("\nCopyright 2024 Example Corp")).otherwise(lit("")))
          .as("text"))
      Paragraphs.dropCommon(footered, "doc_id", "text", minDocs = 5)
    },

    // --- the DROP decision built on Spans.stats (filterRepeatedSpans):
    // same corpus as q_repeated_spans, docs above the repeated-window
    // threshold removed; the oracle replays stats + the rounded-frac
    // filter + the id semi-join ---
    "q_filter_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val extended = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" with an appended trailing remark"))
            .as("text"))
      Spans.filterRepeatedSpans(docs.union(extended), "doc_id", "text",
          maxRepeatedFrac = 0.2, k = 40, stride = 20)
        .select(col("doc_id"))
    },

    // --- exact-substring span EXCISION (Lee et al. 2021 shape): the
    // duplicated span is removed from all-but-one occurrence and the
    // doc REBUILT from its surviving segments — originals (smaller
    // ids) keep their text, the tail-appended copies lose the shared
    // prefix and shrink to the unaligned remnant. The oracle replays
    // window→keeper→interval-merge→substr reassembly on the strings
    // themselves ---
    "q_span_excise" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val extended = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" with an appended trailing remark"))
            .as("text"))
      Spans.excise(docs.union(extended), "doc_id", "text",
        k = 40, stride = 20)
    },

    // --- cross-document exact substring dedup at TOKEN granularity
    // (Lee et al. 2021, the standard pretraining pass): a 60-token
    // passage is stamped onto every 7th doc; every >= 50-token span
    // shared verbatim across >= 2 docs is excised from all but its
    // (id, offset)-min keeper — the passage survives once, and each
    // stamped copy also loses its own original text back to the
    // original doc (they share that >= 50-token prefix when the doc is
    // long enough). The oracle replays windows by CONTENT (the
    // operator compares 64-bit hashes of the normalized window —
    // identical up to 2^-64 collisions) with offsets from a cumulative
    // token-length window, then the same keeper → islands → substr
    // reassembly as q_span_excise ---
    // stamp offset is 10M, NOT the usual +100000: this query rebuilds
    // TEXT per id, so a stamped id colliding with a real doc_id (the
    // 30x ramp corpus reaches 150k docs) would excise one doc with the
    // other's offsets — the offset must clear every ramp point
    "q_substring_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stamped = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" " + substringDedupPassage)).as("text"))
      SubstringDedup.excise(docs.union(stamped), "doc_id", "text",
        w = 50, stride = 1)
    },

    // --- winnowing document fingerprints (Schleimer 2003 / MOSS):
    // k-gram portable-polynomial hashes → sliding-window minimum with
    // rightmost ties → distinct (pos, fp) selections, density 2/(w+1)
    // with the hard >= w+k-1 match guarantee. The oracle replays gram
    // hashing (list_reduce fold), window minima, the rightmost
    // tie-break and the short-doc truncated-window rule in SQL —
    // fingerprint SELECTION itself is gated, closing the trade
    // documented on CharWindowHashes ---
    "q_winnow_fingerprints" -> { (s, dir) =>
      graft.llm.Indexing.winnowIndex(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 25, w = 16)
    },

    // --- corpus-level boilerplate: bigrams present in >= 15% of docs.
    // A fixed disclaimer is appended to a quarter of the corpus (20%
    // of the union) while the highest NATURAL bigram doc-frequency is
    // ~9% — so the output is exactly the injected phrase's bigrams,
    // with real margins on both sides of the threshold ---
    "q_boilerplate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stamped = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(" all rights reserved click here to subscribe")).as("text"))
      // totalDocs passed explicitly: two cheap narrow counts instead of
      // re-executing the whole union+concat lineage a third time
      Boilerplate.commonGrams(docs.union(stamped), "text",
        n = 2, minDocFrac = 0.15,
        totalDocs = Some(docs.count() + stamped.count()))
    },

    // --- per-doc boilerplate load against the discovered gram set:
    // the second half of the C4-style pass (commonGrams finds the
    // phrases, score measures how much of each document they occupy) ---
    "q_boilerplate_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stamped = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(" all rights reserved click here to subscribe")).as("text"))
      val corpus = docs.union(stamped)
      val boiler = Boilerplate.commonGrams(corpus, "text",
        n = 2, minDocFrac = 0.15,
        totalDocs = Some(docs.count() + stamped.count()))
      Boilerplate.score(corpus, "doc_id", "text", boiler)
    },

    // --- URL/domain hygiene: extract hostnames, flag blocklisted
    // domains. URLs (mixed case, ports, paths, a repeat) are injected
    // into copies so extraction, normalization, dedup and the blocklist
    // hit all show in the output; originals prove the no-URL path ---
    "q_url_analysis" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val linked = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" see https://spam.example.com/page " +
            "and https://Ok-Site.org:8080/x plus http://spam.example.com again"))
            .as("text"))
      // subdomain-only citations: blocked via the suffix rule, while the
      // lookalike superset (notspam.example.com) must NOT match
      val sub = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" via http://evil.spam.example.com/z " +
            "and https://notspam.example.com/ok")).as("text"))
      Urls.analyze(docs.union(linked).union(sub), "text",
          blocklist = Seq("spam.example.com"))
        .select(col("doc_id"), col("n_urls"),
          array_join(array_sort(col("domains")), ",").as("domains"),
          col("is_blocked"))
    },

    // --- the BROADCAST-TABLE blocklist path (filterBlockedLarge:
    // suffix semantics via a bounded host-suffix explode riding an
    // equi-join, then a keys-only anti-join) on the same engineered
    // corpus as q_url_analysis — survivors must equal the inline
    // filter's, which the oracle replays as one suffix predicate ---
    "q_url_filter_large" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val linked = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" see https://spam.example.com/page " +
            "and https://Ok-Site.org:8080/x plus http://spam.example.com again"))
            .as("text"))
      val sub = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" via http://evil.spam.example.com/z " +
            "and https://notspam.example.com/ok")).as("text"))
      import s.implicits._
      val blocked = Seq("spam.example.com").toDF("domain")
      Urls.filterBlockedLarge(docs.union(linked).union(sub),
          "doc_id", "text", blocked)
        .select(col("doc_id"))
    },

    // --- URL canonicalization: strip tracking query parameters
    // (utm_*, fbclid, gclid, …) from every URL while keeping real
    // parameters and fragments — three RE2-safe regexp passes shared
    // VERBATIM with the oracle (no lookahead, so both engines run the
    // identical patterns). Planted URLs exercise the three shapes:
    // leading tracked param with survivors behind it, trailing tracked
    // param, and a query that strips to nothing. ---
    "q_url_canonicalize" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.withColumn("text", concat(
        col("text"),
        lit(" see https://site"), pmod(col("doc_id"), lit(7)),
        lit(".example.com/a/"), col("doc_id"),
        lit("?utm_source=s"), col("doc_id"),
        lit("&page="), pmod(col("doc_id"), lit(5)),
        lit("&FBCLID=f"), col("doc_id"),
        lit("#sec and https://t.example.org/x?gclid=g"), col("doc_id"),
        lit("&utm_medium=email")))
      Urls.canonicalizeUrls(planted, "text")
        .select(col("doc_id"), col("text").as("canonical_text"))
    },

    // --- embedding storage prep: one-pass native L2 norm + symmetric
    // int8 quantization (trunc-toward-zero so the codes are exactly
    // replayable in SQL); codes joined to a string for the compare ---
    "q_quantize_embeddings" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
        round(graft.functions.VectorExprs.l2_norm(col("embedding")), 6)
          .as("l2_norm"),
        array_join(graft.functions.VectorExprs.quantize_int8(col("embedding")),
          ",").as("codes"))
    },

    // --- similarity: exact cosine scores against one query vector ---
    "q_similarity_scores" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      Similarity.scoresForQuery(emb, "vec_id", "embedding", qv, roundTo = 6)
    },

    // --- similarity: exact top-k by cosine (TakeOrderedAndProject — k rows
    // per partition then k at the driver; ties broken by vec_id, and the
    // cosines are bit-identical to the DuckDB oracle, so the selected set
    // is deterministic) ---
    "q_topk_cosine" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 25)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    },

    // --- similarity: IVF index probed with nprobe = nlist (every cell)
    // — exactly brute-force top-k, independent of the trained centroids,
    // so the whole IVF path (k-means build, cell assignment, probe
    // filter, in-cell cosine, ordering) is oracle-checked; the pruning
    // win itself (nprobe < nlist) stays unit-tested in LlmSpec ---
    // --- ANN: SRP index in its EXHAUSTIVE-probe degenerate case — with
    // one plane the multi-probe set {b, b^1} covers both buckets, so the
    // result is exactly brute-force topK while the whole index path
    // (native SrpBits build → probe computation → bucket pruning filter
    // → in-bucket exact cosine) runs for real. Same verification trick
    // as q_ivf_topk's nprobe = nlist; approximate-recall behavior stays
    // unit-tested (no SQL oracle can replay an approximation). ---
    "q_srp_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      val idx = Similarity.SrpIndex(planes = 1)
      idx.topK(idx.build(emb, "embedding"), "vec_id", "embedding", qv, k = 20)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    },

    "q_ivf_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      val idx = Similarity.IvfIndex(nlist = 8, kmeansIters = 2)
      val cents = idx.centroids(emb, "vec_id", "embedding")
      Similarity.IvfIndex(nlist = 8)
        .topK(idx.build(emb, "embedding", cents), cents,
          "vec_id", "embedding", qv, k = 15, nprobe = 8)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    },

    // --- product quantization + ADC scoring (Jégou 2011 — the
    // embedding COMPRESSION leg of 100 TB ANN): vectors encode to m=4
    // codes against per-block codebooks, the query builds a bounded
    // m×ksub lookup table, and every stored vector scores as 4 table
    // lookups. Gate configuration uses SEED codebooks (kmeansIters=0,
    // seeds = the 16 smallest vec_ids — SQL-derivable), so the oracle
    // replays the ENTIRE pipeline: per-block argmin encode, the
    // squared-L2 lookup table, the fixed-order 4-term ADC sum, and
    // the top-25 cut. Trained-codebook recall is unit-pinned. ---
    "q_pq_adc" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      val pq = Similarity.PqIndex(m = 4, ksub = 16, kmeansIters = 0)
      val books = pq.codebooks(emb, "vec_id", "embedding", dim = 64)
      pq.topK(pq.encode(emb, "embedding", books), "vec_id", books, qv,
          k = 25)
        .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_dist"))
    },

    // --- IVF-PQ with exact rerank (the FAISS IVFx,PQy production
    // recipe): coarse cells prune the scan, PQ codes shortlist by ADC,
    // only the shortlist touches raw vectors. Gate knobs (nprobe =
    // nlist, rerank >= corpus) make the output PROVABLY equal to exact
    // brute-force top-k — same oracle as q_ivf_topk/q_topk_cosine;
    // production-knob recall is unit-pinned. ---
    "q_ivfpq_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qv = queryVec(s, dir)
      val ivf = Similarity.IvfIndex(nlist = 8, kmeansIters = 2)
      val cents = ivf.centroids(emb, "vec_id", "embedding")
      val pq = Similarity.PqIndex(m = 4, ksub = 16, kmeansIters = 1)
      val books = pq.codebooks(emb, "vec_id", "embedding", dim = 64)
      val indexed = pq.encode(
        ivf.build(emb, "embedding", cents), "embedding", books)
      Similarity.IvfPq.topK(indexed, cents, pq, books,
          "vec_id", "embedding", qv, k = 12, nprobe = 8, rerank = 600000)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    },

    // --- multimodal: schema contract + batched decode stage (stubbed
    // codec, deterministic) over payload bytes ---
    "q_multimodal_features" -> { (s, dir) =>
      val media = Multimodal.mediaFromDocuments(s, s"$dir/documents.parquet")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"), col("channels"))
    },

    // --- multimodal REAL pixel decode: deterministic two-band PNGs
    // (every parameter derives arithmetically from the id) are built
    // in-flight, decoded with genuine javax.imageio, and the oracle
    // recomputes mean luminance / dominant bucket / band fraction from
    // the id arithmetic ALONE — the gate proves the decode recovered
    // the planted pixels. Text-byte payloads prove the honest
    // decoded=false boundary. ---
    "q_pixel_stats" -> { (s, dir) =>
      import s.implicits._
      val pngs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (900000L + id, Multimodal.pngFixture(id)))
        .toDF("media_id", "payload")
        .select(col("media_id"), lit("image").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      val texts = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("media_id"),
          lit("image").as("media_type"),
          encode(col("text"), "UTF-8").as("payload"),
          lit(null).cast("string").as("meta"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5) / 1e6 // tie-safe on ratio-of-integer cols
      Multimodal.pixelStats(pngs.unionByName(texts))
        .select(col("media_id"), col("width"), col("height"),
          r6(col("mean_luminance")).as("mean_luminance"),
          col("dominant_bucket"),
          r6(col("dominant_frac")).as("dominant_frac"),
          col("decoded"))
    },

    // --- perceptual image hashing: two independently-ENCODED copies of
    // each deterministic two-band PNG (same planted pixels, separate
    // ImageIO encodes) must hash IDENTICALLY — the provable exact
    // subcase that gates the decode → luminance → box-resample → DCT →
    // median-threshold chain end-to-end (the same gating style as the
    // simhash family); text payloads prove the decoded=false path. The
    // near-dup DISCRIMINATION semantics (brightness/contrast
    // invariance, banded pairs) stay unit-pinned in LlmSpec ---
    "q_phash_dedup" -> { (s, dir) =>
      import s.implicits._
      val ids = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id")).as[Long]
      val originals = ids.map(id => (900000L + id, Multimodal.pngFixture(id)))
        .toDF("media_id", "payload")
      val copies = ids.map(id => (950000L + id, Multimodal.pngFixture(id)))
        .toDF("media_id", "payload")
      val media = originals.unionByName(copies)
        .select(col("media_id"), lit("image").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
        .unionByName(t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id").as("media_id"),
            lit("image").as("media_type"),
            encode(col("text"), "UTF-8").as("payload"),
            lit(null).cast("string").as("meta")))
      val h = Multimodal.phash(media)
      val o = h.filter(col("media_id").between(900000L, 949999L))
        .select((col("media_id") - 900000L).as("doc_id"),
          col("phash").as("__pa"))
      val c = h.filter(col("media_id") >= 950000L)
        .select((col("media_id") - 950000L).as("doc_id"),
          col("phash").as("__pb"))
      val pairRows = o.join(c, Seq("doc_id"))
        .select((col("doc_id") + 950000L).as("media_id"),
          graft.llm.Dedup.hamming(col("__pa"), col("__pb")).as("hamming"),
          lit(true).as("decoded"))
      val textRows = h.filter(col("media_id") < 900000L)
        .select(col("media_id"), lit(null).cast("int").as("hamming"),
          col("decoded"))
      pairRows.unionByName(textRows)
    },

    // --- REAL MP4 frame extraction: deterministic minimal ISO-BMFF
    // fixtures (every sample's size and constant fill byte derive
    // arithmetically from the id; even ids split samples across two
    // chunks with a sentinel gap) are built in-flight and frame-sampled
    // through the REAL stsz/stsc/stco sample-table parse — the oracle
    // recomputes each extracted frame's exact bytes (as hex) from the
    // id arithmetic alone, so a matching hash proves the parser carved
    // the true sample ranges out of mdat. ---
    "q_frame_extract" -> { (s, dir) =>
      import s.implicits._
      val vids = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (950000L + id, Multimodal.mp4Fixture(id)))
        .toDF("media_id", "payload")
        .select(col("media_id"), lit("video").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      Multimodal.frameSample(vids, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).as("frame_len"),
          hex(col("frame")).as("frame_hex"))
    },

    // --- REAL MJPEG-style frame pixel stats: the fixture plants a
    // genuine ISO-BMFF container whose samples are complete encoded
    // images of solid (id, frame)-derived colors (the motion-JPEG
    // layout — frame decode needs no video codec), so the pipeline is
    // real sample-table extraction (stsz/stsc/stco) composed with a
    // real javax.imageio decode, and the oracle recomputes each
    // frame's exact stats from id arithmetic alone. A second media
    // set plants the same container around NON-image samples
    // (constant bytes — an inter-frame codec stand-in) to pin the
    // decoded=false contract inside the gate. ---
    "q_frame_stats" -> { (s, dir) =>
      import s.implicits._
      val mjpeg = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (960000L + id, Multimodal.mjpegFixture(id)))
        .toDF("media_id", "payload")
      val codecOnly = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(40)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val n = (2 + id % 3).toInt
          val samples = (0 until n).map(j =>
            Array.fill(12 + j)(((id * 7 + j * 13) % 256).toByte))
          (970000L + id, Multimodal.mp4WithSamples(samples))
        }
        .toDF("media_id", "payload")
      val vids = mjpeg.unionByName(codecOnly)
        .select(col("media_id"), lit("video").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5) / 1e6
      Multimodal.frameStats(vids)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"),
          r6(col("mean_luminance")).as("mean_luminance"),
          col("dominant_bucket"),
          r6(col("dominant_frac")).as("dominant_frac"),
          col("decoded"))
    },

    // --- perceptual AUDIO hashing: two byte-identical PCM16 WAVs of
    // the same planted samples must hash identically (hamming 0 per
    // planted pair — the same provable-exact-subcase gating as
    // q_phash_dedup), and truncated payloads pin the decoded=false
    // boundary. Volume/DC invariances stay unit-pinned in LlmSpec ---
    "q_audio_phash" -> { (s, dir) =>
      import s.implicits._
      val ids = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id")).as[Long]
      val originals = ids.map(id => (900000L + id,
        Multimodal.wavPcm16Fixture(id))).toDF("media_id", "payload")
      val copies = ids.map(id => (950000L + id,
        Multimodal.wavPcm16Fixture(id))).toDF("media_id", "payload")
      val truncated = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val whole = Multimodal.wavPcm16Fixture(id)
          (id, java.util.Arrays.copyOf(whole, whole.length - 10))
        }.toDF("media_id", "payload")
      val media = originals.unionByName(copies).unionByName(truncated)
        .select(col("media_id"), lit("audio").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      val h = Multimodal.audioHash(media)
      val o = h.filter(col("media_id").between(900000L, 949999L))
        .select((col("media_id") - 900000L).as("doc_id"),
          col("ahash").as("__ha"))
      val c = h.filter(col("media_id") >= 950000L)
        .select((col("media_id") - 950000L).as("doc_id"),
          col("ahash").as("__hb"))
      val pairRows = o.join(c, Seq("doc_id"))
        .select((col("doc_id") + 950000L).as("media_id"),
          graft.llm.Dedup.hamming(col("__ha"), col("__hb")).as("hamming"),
          lit(true).as("decoded"))
      val badRows = h.filter(col("media_id") < 900000L)
        .select(col("media_id"), lit(null).cast("int").as("hamming"),
          col("decoded"))
      pairRows.unionByName(badRows)
    },

    // --- EXIF/image-metadata hygiene: deterministic JPEG fixtures with
    // a planted APP1 TIFF (GPS IFD pointer on id%3==0, BodySerialNumber
    // on id%4==0, garbage TIFF body on id%5==0) walked by the REAL
    // segment + IFD parser — flags AND the exact APP1-free stripped
    // bytes replay from id arithmetic alone (the stripped stream is
    // pure constant/derived segments), and text payloads pin the
    // parsed=false NO-TOUCH passthrough boundary. ---
    "q_exif_hygiene" -> { (s, dir) =>
      import s.implicits._
      val jpegs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (900000L + id, Exif.jpegExifFixture(id)))
        .toDF("media_id", "payload")
      val texts = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(40)) === 0)
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
      val media = jpegs.unionByName(texts)
        .select(col("media_id"), lit("image").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      // nullable booleans ride as 0/1 INTs: the gate's normalizer
      // renders a NULL boolean differently across engines
      val flags = Exif.exifFlags(media)
        .select(col("media_id"), col("parsed"),
          col("has_exif").cast("int").as("has_exif"),
          col("has_gps").cast("int").as("has_gps"),
          col("has_serial").cast("int").as("has_serial"),
          col("exif_tags"))
      val stripped = Exif.stripExif(media)
        .select(col("media_id"), hex(col("payload")).as("stripped_hex"),
          col("stripped"))
      flags.join(stripped, Seq("media_id"))
    },

    // --- REAL audio PCM sample statistics: deterministic PCM16 WAVs
    // (every sample derives arithmetically from the id — planted
    // silence every 7th sample, planted clipping on both rails) are
    // built in-flight and walked by the real RIFF chunk parse + PCM16
    // decode; the oracle recomputes RMS/peak/clipping/silence from the
    // id arithmetic ALONE. A float-format WAV set and a
    // truncated-data-chunk set pin the decoded=false boundary inside
    // the gate. ---
    "q_audio_stats" -> { (s, dir) =>
      import s.implicits._
      val pcm = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (980000L + id, Multimodal.wavPcm16Fixture(id)))
        .toDF("media_id", "payload")
      val floatFmt = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(75)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (985000L + id,
          Multimodal.wavPcm16Fixture(id, format = 3)))
        .toDF("media_id", "payload")
      val truncated = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val whole = Multimodal.wavPcm16Fixture(id)
          (990000L + id, java.util.Arrays.copyOf(whole, whole.length - 10))
        }
        .toDF("media_id", "payload")
      // REAL float32 rows (format 3, 32-bit): planted samples are exact
      // float32 multiples of 2^-10, so the folded 16-bit value is
      // exactly v*32 and the oracle replays in integer arithmetic
      val float32 = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(60)) === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (995000L + id, Multimodal.wavFloat32Fixture(id)))
        .toDF("media_id", "payload")
      // truncated float chunk + planted-NaN float: both decoded=false
      val floatBad = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(120)) === 0)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val whole = Multimodal.wavFloat32Fixture(id)
          Seq(
            (997000L + id, java.util.Arrays.copyOf(whole, whole.length - 6)),
            (998000L + id, Multimodal.wavFloat32Fixture(id, nanAt = 8)))
        }
        .toDF("media_id", "payload")
      val media = pcm.unionByName(floatFmt).unionByName(truncated)
        .unionByName(float32).unionByName(floatBad)
        .select(col("media_id"), lit("audio").as("media_type"),
          col("payload"), lit(null).cast("string").as("meta"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5) / 1e6
      Multimodal.audioStats(media)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("peak"), r6(col("rms")).as("rms"),
          r6(col("clipping_ratio")).as("clipping_ratio"),
          r6(col("silence_frac")).as("silence_frac"), col("decoded"))
    },

    // --- REAL BPE token counting (Sennrich 2016): the published
    // worked-example merges are written as a standard merges FILE (the
    // user-supplied artifact), loaded back, and applied by the native
    // codegen'd expression over texts with PLANTED word multiplicities
    // — per-word token costs under these merges are hand-derived
    // constants (low=1, lower=4, newest=1, widest=1, unk=4), so the
    // oracle recomputes every count from id arithmetic alone ---
    "q_bpe_tokens" -> { (s, dir) =>
      val mf = new java.io.File("target/tmp/queries/bpe_merges.txt")
      mf.getParentFile.mkdirs()
      java.nio.file.Files.write(mf.toPath,
        ("#version: 0.2\ne s\nes t\nest </w>\nl o\nlo w\nn e\nne w\n" +
          "new est</w>\nlow </w>\nw i\nwi d\nwid est</w>\n").getBytes("UTF-8"))
      val merges = graft.functions.BpeExprs.loadMerges(mf.getPath)
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          expr("repeat('low ', CAST(doc_id % 3 + 1 AS INT))"),
          expr("repeat('lower ', CAST(doc_id % 4 + 1 AS INT))"),
          expr("repeat('newest ', CAST(doc_id % 5 AS INT))"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("unk "))
            .otherwise(lit("")),
          lit("widest")).as("text"))
        .select(col("doc_id"),
          graft.functions.BpeExprs.bpe_token_count(col("text"), merges)
            .as("n_tokens"))
    },

    // --- events: tumbling 1h window agg (shared batch/stream body) ---
    "q_events_hourly" -> { (s, dir) =>
      EventsStreaming.hourlyAggBatch(s, dir)
    },

    // --- events: hopping 1h/15min windows (each event lands in 4;
    // oracle replays the replication as a cross join with offsets) ---
    "q_events_sliding" -> { (s, dir) =>
      EventsStreaming.slidingAgg(EventsStreaming.readEvents(s, dir))
    },

    // --- events: gap-based sessionization via session_window ---
    "q_sessions" -> { (s, dir) =>
      EventsStreaming.sessions(EventsStreaming.readEvents(s, dir))
    },

    // --- events: JSON props extraction (DataType::Json on demand) ---
    "q_events_props" -> { (s, dir) =>
      EventsStreaming.propsStats(EventsStreaming.readEvents(s, dir))
    },

    // --- JSON payload flattening: bounded sampled inference → ONE
    // codegen'd from_json projection lifts every (nested) key into a
    // typed column; the payload is built from event fields so the
    // oracle replays the whole round trip from the base columns ---
    "q_json_flatten" -> { (s, dir) =>
      val ev = EventsStreaming.readEvents(s, dir)
      val payload = ev.select(col("event_id"),
        to_json(struct(
          col("event_type").as("type"),
          struct(col("user_id").as("uid"),
            pmod(col("user_id"), lit(5)).as("segment")).as("user"),
          col("value").as("amount"),
          get_json_object(col("props"), "$.k").cast("long").as("k")))
          .as("payload"))
      graft.operators.JsonFlatten.flatten(payload, "payload")
    },

    // --- events: click→purchase attribution pairs — the stream-stream
    // interval-join shape (equi-join on user + bounded time range);
    // batch body here, streaming self-join parity in StreamingSpec ---
    "q_attribution" -> { (s, dir) =>
      EventsStreaming.attributionBatch(s, dir)
    },

    // --- last-click attribution: one row per purchase, the most recent
    // qualifying click wins (ties by click_id desc — click_ts is unique
    // per user here, but the tie-break is pinned anyway). One partial-
    // aggregating max(struct) — no window, no second shuffle: struct
    // comparison is lexicographic so (click_ts, click_id) leads ---
    "q_attribution_last" -> { (s, dir) =>
      EventsStreaming.attributionBatch(s, dir)
        .groupBy(col("purchase_id"))
        .agg(max(struct(col("click_ts"), col("click_id"), col("user_id"),
          col("purchase_ts"), col("purchase_value"))).as("w"))
        .select(col("w.user_id").as("user_id"), col("purchase_id"),
          col("w.click_id").as("click_id"),
          col("w.click_ts").as("click_ts"),
          col("w.purchase_ts").as("purchase_ts"),
          col("w.purchase_value").as("purchase_value"))
    },

    // --- validation quarantine (dead-letter pattern): the fail-fast
    // schema checks re-expressed as per-row violation reasons over a
    // deterministically corrupted customer frame — nulls into a
    // required column, pattern-breaking names, null balances. One
    // codegen'd projection; the oracle replays the corruption and the
    // reason list (stable order) verbatim. ---
    "q_quarantine" -> { (s, dir) =>
      val schema = graft.validate.SchemaFile.fromYaml(
        """columns:
          |  - name: c_name
          |    type: string
          |    nullable: false
          |    pattern: '^Customer#[0-9]+$'
          |  - name: c_acctbal
          |    type: decimal
          |    nullable: false
          |""".stripMargin)
      val corrupted = t(s, dir, "customer")
        .withColumn("c_name",
          when(pmod(col("c_custkey"), lit(11)) === 0, lit(null))
            .when(pmod(col("c_custkey"), lit(13)) === 0,
              concat(lit("bad "), col("c_name")))
            .otherwise(col("c_name")))
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(17)) === 0, lit(null))
            .otherwise(col("c_acctbal")))
      graft.validate.Validation.annotate(corrupted, schema)
        .select(col("c_custkey"),
          concat_ws("|", col("_violations")).as("violations"),
          (size(col("_violations")) === 0).as("is_valid"))
    },

    // --- gains/lift decile table: rank events by value, cut into 10
    // exact equal-depth buckets (NTILE spelled in integer arithmetic
    // over range-partitioned global positions — no single-reducer
    // sort), report per-decile purchase rate, cumulative capture, and
    // lift. The oracle replays the cut and the double arithmetic. ---
    "q_gains" -> { (s, dir) =>
      graft.operators.Gains.liftTable(
        EventsStreaming.readEvents(s, dir)
          .select(col("event_id"), col("value"),
            (col("event_type") === "purchase").as("label")),
        "value", "label", "event_id", buckets = 10)
    },

    // --- exact largest-remainder proration: each order's total (in
    // cents) split across its lineitems proportionally to quantity,
    // with whole-cent shares reconciling EXACTLY to the order total.
    // One hash exchange on the order key, pure integer arithmetic; the
    // oracle replays floor shares + remainder ranking verbatim. ---
    "q_prorate" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .drop("o_orderkey")
      graft.operators.Allocation.prorate(joined, Seq("l_orderkey"),
        "l_quantity", "o_totalprice", "l_linenumber")
    },

    // --- leave-one-out target encoding with additive smoothing (the
    // CatBoost/Kaggle high-cardinality categorical feature): encode
    // each order's customer by the mean total of the customer's OTHER
    // orders, shrunk toward the global prior — LOO is the leakage
    // control, smoothing the rare-category control. Exact DECIMAL
    // sums; one hash exchange on the category. ---
    "q_target_encode" -> { (s, dir) =>
      graft.operators.TargetEncode.looEncode(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        "o_custkey", "o_totalprice")
        .select(col("o_orderkey"), col("o_custkey"), col("target_enc"))
    },

    // --- per-key two-feature OLS (price ~ quantity + discount per
    // return flag): nine exact integer moments, Cramer determinants
    // in exact DECIMAL(38,0) (HUGEINT in the oracle), doubles only at
    // the final divisions — Trend's replayability contract one
    // regressor up. ---
    "q_ols2" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        floor(col("l_quantity") + 0.5).cast("long").as("qty"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("disc_pct"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("price_usd"))
      graft.operators.Regression.fit2(li, Seq("l_returnflag"),
        "qty", "disc_pct", "price_usd")
    },

    // --- day-weighted calendar-month revenue recognition: each line
    // item's price spread across the months between order and ship
    // date, day-proportional, with whole-cent shares reconciling
    // EXACTLY to the line total (month explode composed with the
    // largest-remainder prorator). The oracle replays the month
    // generation, the day overlaps, and the Hamilton arithmetic. ---
    "q_recognition" -> { (s, dir) =>
      // the synthetic generator enforces neither TPC-H's unique
      // (orderkey, linenumber) nor ship-after-order — pre-aggregate
      // to a unique line key (exact DECIMAL value sum) and scope to
      // real spans; inverted spans are loud data bugs to the operator
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(7)) === 0)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_shipdate")).as("ship"),
          sum(col("l_extendedprice").cast(
            org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("val"))
        .select((col("l_orderkey") * 8 + col("l_linenumber"))
          .as("line_id"), col("l_orderkey"), col("ship"), col("val"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val contracts = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .where(col("ship") >= col("o_orderdate"))
        .select(col("line_id"), col("o_orderdate"), col("ship"),
          col("val"))
      graft.operators.Recognition.byMonth(contracts, "line_id",
          "o_orderdate", "ship", "val")
        // timestamp for the compare: pandas reads a DuckDB DATE as
        // datetime64 while a Spark DATE stays a date object
        .withColumn("month_start", col("month_start").cast("timestamp"))
    },

    // --- feature hashing (Weinberger ICML'09 hashing trick): sparse
    // signed token features with NO vocabulary and NO driver state —
    // the portable polynomial-31 hash makes bucket and sign exact
    // integer arithmetic the oracle replays per token. ---
    "q_feature_hash" -> { (s, dir) =>
      graft.llm.FeatureHash.vectorize(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(4)) === 0)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", nBuckets = 64)
    },

    // --- deterministic negative sampling for contrastive pairs:
    // planted (q, q+1) positives draw 4 corpus negatives each via the
    // portable hash into the id-ranked candidate table (parallel
    // prefix-sum rank, not a single-reducer row_number); accidental
    // positive/self hits drop, per the documented contract. ---
    "q_negative_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val positives = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("q_id"),
          (col("doc_id") + 1).as("pos_id"))
      graft.llm.NegativeSampling.negatives(
        positives, docs, "q_id", "pos_id", "doc_id", k = 4)
    },

    // --- 2-D skyline / Pareto frontier per brand: the undominated
    // parts maximizing size while minimizing price. Sort-based
    // identity over a range-partitioned parallel prefix best — no
    // self-join, no nested loop; the oracle is the textbook
    // NOT-EXISTS dominance query. ---
    "q_skyline" -> { (s, dir) =>
      graft.operators.Skyline.skyline(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size"), col("p_retailprice")),
        Seq("p_brand"), "p_size", "p_retailprice",
        maximizeX = true, maximizeY = false)
    },

    // --- truncated EWMA smoothing per user over the event value
    // series: the bias-corrected EWM mean (pandas ewm adjust=True)
    // over a FIXED-WIDTH window instead of the inherently sequential
    // recursion (truncation drops < (1-α)^(L+1) of the weight mass),
    // with the head renormalized so row 1 smooths to itself exactly.
    // The oracle folds the identical position-weighted list. ---
    "q_ewma" -> { (s, dir) =>
      graft.operators.Ewma.smooth(
        EventsStreaming.readEvents(s, dir)
          .where(col("value").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value")),
        "user_id", "event_id", "ts", "value",
        alpha = 0.5, lookback = 8)
        .select(col("event_id"), col("user_id"), col("ewma"))
    },

    // --- join-key skew diagnostics (the pre-flight for every 100 TB
    // shuffle): profile a PLANTED hot-key distribution (3/4 of events
    // collapse onto one key) — max/avg skew factor, top-10 mass,
    // entropy ratio, and the salt factor the salted-agg remedy should
    // use. The oracle recomputes every statistic from the same
    // counts. ---
    "q_skew_profile" -> { (s, dir) =>
      val keyed = EventsStreaming.readEvents(s, dir)
        .select(when(pmod(col("event_id"), lit(4)) =!= 0, lit("hot"))
          .otherwise(col("event_type")).as("k"))
      graft.operators.SkewProfile.profile(keyed, "k")
    },

    // --- z-order clustering: the Morton z-value over (l_partkey,
    // l_suppkey) with probed bounds — the sort key behind OPTIMIZE
    // ZORDER-style multi-column data skipping. The value is pure
    // codegen'd bit arithmetic; the oracle rebuilds the identical
    // 32-term interleave in SQL, so the curve is gated bit for bit.
    // The file-level skipping effect (per-file bounding boxes tile the
    // plane) is measured in ZOrderSpec. ---
    "q_zorder" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val b = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.ZOrder.zvalue(Seq(
          (col("l_partkey"), lit(b.getLong(0)), lit(b.getLong(1))),
          (col("l_suppkey"), lit(b.getLong(2)), lit(b.getLong(3)))))
          .as("zval"))
    },

    // --- stream-static enrichment join (batch body of the streaming
    // shape, parity-tested in StreamingSpec): events pick up a user →
    // segment dimension via an explicit broadcast left join — no
    // stream-side shuffle, no streaming state — then aggregate hourly
    // per segment. Unmatched users land in 'unknown'. ---
    "q_events_enriched" -> { (s, dir) =>
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      EventsStreaming.enrichedHourly(EventsStreaming.readEvents(s, dir), dim)
    },

    // --- pivot with PINNED values (never the values-probe collect —
    // at 100 TB the probe is a full distinct scan before planning):
    // order totals per priority pivoted across the three statuses.
    // Decimal sums keep the cells bit-identical to the oracle's
    // conditional aggregation. ---
    "q_pivot" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(col("o_totalprice").cast(dec)).cast("double"))
    },

    // --- rollup over (returnflag, linestatus) with grouping_id — the
    // subtotal lattice a reporting layer asks for, one Expand+agg pass
    // (no re-scan per level). Decimal sums; grouping_id disambiguates
    // rollup nulls from data nulls. ---
    "q_rollup" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("int").as("gid"))
    },

    // --- arbitrary GROUPING SETS: the two marginals plus the joint —
    // a lattice rollup/cube cannot spell (no grand total, both
    // one-dimension margins). Same ONE Expand+agg pass. ---
    "q_grouping_sets" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("int").as("gid"))
    },

    // --- CUBE over a dimension reached through two broadcast joins
    // (nation via supplier): all four grouping sets in one Expand pass,
    // fact table shuffled once on the grouping keys ---
    "q_cube" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_returnflag"), col("l_quantity"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("int").as("gid"))
    },

    // --- exact one-pass Pearson correlation matrix over FIXED-POINT
    // inputs: columns scale to integer cents first, so every moment
    // accumulates as a DECIMAL(38,0) sum of long products (compact
    // long-backed decimals — the (38,8) path's value×10^16 forced
    // BigDecimal adds); the double formula replays bit-identically
    // from the exact integer sums; k(k+1)/2+k aggregates, ONE scan ---
    "q_correlations" -> { (s, dir) =>
      graft.operators.Correlations.matrixFixedPoint(t(s, dir, "lineitem"),
          Seq("l_quantity" -> 2, "l_extendedprice" -> 2, "l_discount" -> 2))
        .select(col("col_a"), col("col_b"), round(col("corr"), 6).as("corr"))
    },

    // --- edit-distance-1 similarity join over the part-name vocabulary
    // (64 distinct names + planted substitution/deletion typos), blocked
    // by SymSpell deletion neighborhoods. The blocking is provably
    // complete at radius 1 and every candidate is levenshtein-verified,
    // so the result EQUALS the brute-force join the oracle runs. ---
    "q_edit_pairs" -> { (s, dir) =>
      val names = t(s, dir, "part").select(col("p_name").as("nm")).distinct()
      val zsub = names.filter(length(col("nm")) % 3 === 0)
        .select(concat(lit("z"), expr("substring(nm, 2)")).as("nm"))
      val dele = names.filter(length(col("nm")) % 3 === 1)
        .select(expr("substring(nm, 2)").as("nm"))
      graft.llm.EditSim.vocabPairs(
        names.union(zsub).union(dele), "nm")
    },

    // --- BM25 retrieval scoring (Okapi, Lucene idf variant) against a
    // literal query-term set: per-doc tf via codegen'd array filters
    // (no explode, no (doc,term) shuffle), corpus stats as ONE exact-
    // integer-moment aggregate row broadcast back. The oracle replays
    // tokenization, the stats, and the closed-form score; constants are
    // spelled as the SAME arithmetic (1.2 + 1.0, 1.0 - 0.75) so both
    // engines hit identical doubles. ---
    "q_bm25" -> { (s, dir) =>
      graft.llm.Bm25.score(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("stream", "vector", "window"))
    },

    // --- pseudo-relevance-feedback query expansion: assume the BM25
    // top-10 are relevant, propose the 10 terms most characteristic of
    // them by Robertson offer weight r_fb * idf — the recall lever when
    // the query's phrasing misses the corpus vocabulary. Feedback set
    // is k-bounded BEFORE anything touches it; corpus df only shuffles
    // broadcast-filtered candidate hits. ---
    "q_prf_expansion" -> { (s, dir) =>
      graft.llm.Bm25.expandQuery(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("stream", "vector", "window"))
    },

    // --- hybrid-retrieval fusion: reciprocal-rank fusion (RRF, k=60)
    // of two deterministic top-100 document rankings — the BM25 lexical
    // ranking and a length-prior ranking. Each list is k-BOUNDED before
    // any window touches it (TakeOrderedAndProject, then row_number on
    // the 100-row frame), so no corpus-sized sort exists; the oracle
    // replays both rankings and the exact 1/(k+rank) sum. ---
    "q_rrf_fusion" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val bm = graft.llm.Bm25.score(
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("stream", "vector", "window"))
      val l1 = bm.orderBy(col("score").desc, col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(
          w.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val l2 = docs
        .orderBy(col("n_chars").desc, col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      graft.llm.Fusion.rrf(Seq(l1, l2), "doc_id", "rank", k = 60)
    },

    // --- record linkage: blocked fuzzy-match join scored by the NATIVE
    // Jaro-Winkler expression (pinned to DuckDB's jaro_winkler_similarity
    // semantics, so the oracle scores candidates itself). Fixture:
    // customer names re-rendered as letter strings (digits translated),
    // a dirty twin swaps two adjacent chars at an id-derived position
    // inside the first 6 chars — the last-3-chars blocking key is
    // untouched, so every true pair stays in-block; block-mates that
    // merely share a suffix mostly fall under the 0.9 cut. Both engines
    // replay the SAME corruption + blocking + scoring; the final cut is
    // tie-safe (floor-half-up round6 before >=). ---
    "q_record_linkage" -> { (s, dir) =>
      val name9 = translate(substring(col("c_name"), 10, 9),
        "0123456789", "aeioubcdfg")
      val base = t(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey").as("left_id"), name9.as("left_name"))
      val lft = base.withColumn("block", substring(col("left_name"), 7, 3))
      val p = (pmod(col("left_id"), lit(50)) / 10 + 1).cast("int")
      val swapped = concat(
        col("left_name").substr(lit(1), p - 1),
        col("left_name").substr(p + 1, lit(1)),
        col("left_name").substr(p, lit(1)),
        col("left_name").substr(p + 2, lit(9)))
      val rgt = base
        .select((col("left_id") + 1000000L).as("right_id"),
          swapped.as("right_name"))
        .withColumn("block", substring(col("right_name"), 7, 3))
      def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
      // operator cut 0.89 sits safely under the tie-safe rounded 0.9
      // cut below, so engine-edge pairs near 0.89 can't flake the gate
      graft.operators.RecordLinkage.fuzzyJoin(
          lft, rgt, "block", Seq(("left_name", "right_name", 1.0)),
          threshold = 0.89)
        .select(col("left_id"), col("right_id"),
          r6(col("match_score")).as("match_score"))
        .filter(col("match_score") >= 0.9)
    },

    // --- chi-square feature selection: top-5 most label-associated
    // terms per language — exact LONG contingency cells (doc-level
    // presence), ONE double ratio at the end spelled identically in
    // the oracle, rank on the rounded score with a term tie-break. ---
    "q_chi2_terms" -> { (s, dir) =>
      graft.llm.FeatureSelect.chiSquareTerms(
        t(s, dir, "documents"), "doc_id", "text", "lang", k = 5, minDf = 2)
    },

    // --- self-table fuzzy dedup: the string-similarity twin of minhash
    // pairs for SHORT strings — one table (originals ∪ corrupted
    // twins), blocked on the last-3 key, half-matrix id_a < id_b, same
    // tie-safe rounded cut. The oracle replays the self-join. ---
    "q_fuzzy_dedup" -> { (s, dir) =>
      val name9 = translate(substring(col("c_name"), 10, 9),
        "0123456789", "aeioubcdfg")
      val base = t(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey").as("id"), name9.as("nm"))
      val p = (pmod(col("id"), lit(50)) / 10 + 1).cast("int")
      val swapped = concat(
        col("nm").substr(lit(1), p - 1),
        col("nm").substr(p + 1, lit(1)),
        col("nm").substr(p, lit(1)),
        col("nm").substr(p + 2, lit(9)))
      val dirty = base.select((col("id") + 1000000L).as("id"),
        swapped.as("nm"))
      val all = base.unionByName(dirty)
        .withColumn("block", substring(col("nm"), 7, 3))
      def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
      graft.operators.RecordLinkage.fuzzyDedup(all, "id", "block",
          Seq(("nm", 1.0)), threshold = 0.89)
        .select(col("id_a"), col("id_b"),
          r6(col("match_score")).as("match_score"))
        .filter(col("match_score") >= 0.9)
    },

    // --- heavy hitters via the Misra–Gries sketch, oracle-gated on its
    // provable EXACT sub-case (same pattern as the simhash gate): 5
    // distinct priorities per status group with k=16 means no decrement
    // ever fires, so the k-bounded sketch provably equals the exact
    // group-count — which is what the oracle computes. The overflow
    // regime (hot-item guarantee, underestimate bound) is pinned by
    // FreqSketchSpec at 500 distinct vs k=20. ---
    "q_heavy_hitters" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.FreqSketch.misra_gries(
          col("o_orderpriority"), 16).as("hh"))
        .select(col("o_orderstatus"), posexplode(col("hh")).as(Seq("rank", "s")))
        .select(col("o_orderstatus"), col("rank"),
          col("s.value").as("value"), col("s.cnt").as("cnt"))
    },

    // --- simhash dedup, oracle-gated via the EXACT sub-case: the sketch
    // itself is not SQL-expressible, but token-SET-equal documents (the
    // signature is built from distinct token hashes) provably get
    // IDENTICAL signatures, hence the same group. Reversed-token copies
    // engineer such pairs with different text bytes; the query emits
    // every token-set-equal ground-truth pair (SQL-expressible) with
    // whether the two landed in the same group — the oracle asserts ALL
    // TRUE. Collision-grouping of near-identical sets remains the
    // operator's intended semantics, pinned by LlmSpec's brute-force
    // Hamming tests. ---
    "q_simhash_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tok = split(lower(col("text")), "\\W+")
      val copies = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(reverse(tok), " ").as("text"))
      val corpus = docs.union(copies)
      val sh = Dedup.simhash(corpus, "doc_id", "text")
        .select(col("id"), col("canonical_id"))
      val keyed = corpus.select(col("doc_id"),
        array_sort(array_distinct(tok)).as("__key"))
      val gt = keyed.as("a").join(keyed.as("b"),
          col("a.doc_id") < col("b.doc_id") && col("a.__key") === col("b.__key"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      gt.join(sh.select(col("id").as("id_a"), col("canonical_id").as("__ca")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("canonical_id").as("__cb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (col("__ca") === col("__cb")).as("same_canonical"))
    },

    // --- simhash banded near-dup pairs (pigeonhole buckets + bit_count
    // verify), oracle-gated by the same degenerate-case trick as
    // q_srp_topk: token-set-equal pairs have hamming 0 <= maxHamming, so
    // the pigeonhole recall guarantee says the banded pair set MUST
    // contain every one of them. Intersecting the raw pair output with
    // that ground truth yields exactly the oracle's pair list iff recall
    // is total; hamming-1..3 collision pairs (legitimately produced, not
    // SQL-predictable) are filtered by the intersection and stay covered
    // by LlmSpec's brute-force Hamming equality test. ---
    "q_simhash_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tok = split(lower(col("text")), "\\W+")
      val copies = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(reverse(tok), " ").as("text"))
      val corpus = docs.union(copies)
      val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
      val keyed = corpus.select(col("doc_id"),
        array_sort(array_distinct(tok)).as("__key"))
      val gt = keyed.as("a").join(keyed.as("b"),
          col("a.doc_id") < col("b.doc_id") && col("a.__key") === col("b.__key"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      gt.join(pairs, Seq("id_a", "id_b"))
    },

    // --- MULTI-INDEX Hamming pairs (the perturbed-key engine path):
    // same degenerate-case gating as q_simhash_pairs but at
    // maxHamming = 10 >= bands = 4 — the engine's pigeonhole radius is
    // r = 2, so candidates come from radius-1 Hamming-BALL keys (17
    // per band), the round-14 path the old bands>maxHamming engine
    // could never take. Token-set-equal pairs have hamming 0 <= 10, so
    // the recall guarantee says the engine MUST surface every one;
    // intersecting with that ground truth yields exactly the oracle's
    // pair list iff perturbed-key recall is total. Distance-1..10
    // collision pairs (legitimately produced, not SQL-predictable)
    // are filtered by the intersection and stay covered by the
    // brute-force + planted-distance units. ---
    "q_multiindex_pairs" -> { (s, dir) =>
      // a third of the corpus: the degenerate engine knobs under test
      // (maxHamming >= bands -> radius-1 ball keys on EVERY chunk) pay
      // candidate volume quadratic in close-sig density, and prose
      // unigram simhashes are dense — the path's correctness is
      // corpus-size independent, the gate's wall is not (12.8 s -> ~1.5
      // s at sf0.1 for the same planted-pair power)
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text"))
      val tok = split(lower(col("text")), "\\W+")
      val copies = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          array_join(reverse(tok), " ").as("text"))
      val corpus = docs.union(copies)
      val sigs = corpus.select(col("doc_id"),
        graft.functions.SketchExprs.simhash64(
          graft.functions.SketchExprs.shingleHashes(col("text"), 1)).as("sig"))
      val pairs = Dedup.signaturePairs(sigs, "doc_id", "sig",
          maxHamming = 10, bands = 4)
        .select(col("id_a"), col("id_b"))
      val keyed = corpus.select(col("doc_id"),
        array_sort(array_distinct(tok)).as("__key"))
      val gt = keyed.as("a").join(keyed.as("b"),
          col("a.doc_id") < col("b.doc_id") && col("a.__key") === col("b.__key"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      gt.join(pairs, Seq("id_a", "id_b"))
    },

    // --- embedding near-dup pairs: SRP buckets + exact-cosine verify.
    // Identical copies (cosine exactly 1.0) are the only pairs >= 0.95:
    // the fixture's max natural pairwise cosine is 0.60 at sf0.1, so the
    // threshold has a 0.35 margin AND SRP recall on identical vectors is
    // exactly 1 (same sign bits → same bucket, always). ---
    "q_embedding_pairs" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(pmod(col("vec_id"), lit(5)) === 2)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.embeddingPairs(emb.union(copies), "vec_id", "embedding",
          planes = 16, threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },

    // --- embedding near-dup dedup DECISION (canonical assignment) ---
    "q_embedding_dedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(pmod(col("vec_id"), lit(5)) === 2)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.embeddingDedup(emb.union(copies), "vec_id", "embedding",
        planes = 16, threshold = 0.95)
    },

    // --- SemDeDup-style semantic dedup: REAL multi-cluster path
    // (nlist=8, Lloyd-trained), provably exact on this fixture: the only
    // pairs >= 0.95 are identical copies (0.35 margin over the max
    // natural cosine), and identical vectors have identical centroid
    // distances, so the deterministic argmin assigns them the SAME
    // cluster no matter where training converges — the within-cluster
    // verify therefore finds exactly the brute-force pair set, which is
    // what the oracle replays. ---
    "q_semantic_dedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(pmod(col("vec_id"), lit(5)) === 3)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      Dedup.semanticDedup(emb.union(copies), "vec_id", "embedding",
        nlist = 8, threshold = 0.95, kmeansIters = 3)
    },

    // --- exact n-gram jaccard pairs within (lang, source) blocks ---
    "q_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          nGram = 3, threshold = 0.5, blockingCols = Seq("lang", "source"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // --- EXACT token-set similarity join via prefix filtering (PPJoin):
    // full recall without blocking columns or quadratic blocks — the
    // oracle brute-forces every pair, so any prefix-filter recall loss
    // breaks the row count, not just the hash. Fifth-corpus subset +
    // 0.75: the synthetic docs share a templated vocabulary, so
    // unigram-set similarity is dense; the subset keeps the exact
    // brute-force oracle and the bench verify stage proportionate ---
    "q_setsim_join" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("text"))
      val tails = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" plus appended tail words")).as("text"))
      Dedup.prefixJaccardJoin(docs.union(tails), "doc_id", "text",
          threshold = 0.75)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // --- near-dup dedup DECISION from LSH pairs (canonical assignment) ---
    "q_minhash_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" graft dup tail")).as("text"))
      Dedup.minhashDedup(docs.union(variants), "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
    },

    // --- transitive-closure dedup over a chained-variant corpus:
    // orig ~ v1 ~ v2, but short docs have jaccard(orig, v2) < 0.5 —
    // the converged canonicals differ from the single-pass ones and the
    // oracle proves closure via a recursive CTE ---
    "q_dedup_connected" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val picked = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
      val v1 = picked.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graft dup tail")).as("text"))
      val v2 = picked.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" graft dup tail plus more pad")).as("text"))
      Dedup.minhashDedupConnected(docs.union(v1).union(v2), "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
    },

    // --- representative selection: transitive near-dup components on a
    // half-corpus with engineered tail/pad chains, then keep the BEST
    // version per component (longest text, tie min id) instead of the
    // arbitrary min-id canonical — so every chain's padded v2 variant
    // survives and both its shorter siblings drop. The oracle replays
    // closure (recursive CTE) + argmax ---
    "q_dedup_keep_best" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
      val picked = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val v1 = picked.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graft dup tail")).as("text"))
      val v2 = picked.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" graft dup tail plus more pad")).as("text"))
      val corpus = docs.union(v1).union(v2)
      // ONE candidate-generation pass answers both "which component"
      // and "which version survives"; the winners are this query's face
      Dedup.connectedWithBest(corpus, "doc_id", "text",
          length(col("text")), threshold = 0.5, numHashes = 64, bands = 32)
        .filter(col("is_best"))
        .select(col("doc_id"))
    },

    // --- soft dedup: duplicate-aware sampling weights instead of
    // removal — weight = 1/|component| gives every duplicate cluster
    // the same TOTAL sampling mass as one unique document (feeds the
    // E-S weighted sampler / trainer example weights). Exercised on
    // exact-content clusters (the API takes ANY dedup family's
    // component frame); replicas planted at two densities so cluster
    // sizes 1, 2 and 3 all appear. ---
    "q_softdedup_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .union(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .union(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.softWeights(
        Dedup.exact(corpus, "doc_id", Seq("text")), "doc_id")
        .withColumnRenamed("canonical_id", "component")
    },

    // --- BPE merge training (Sennrich 2016): learn a corpus-fitted
    // tokenizer artifact — distributed word counting, bounded
    // driver-side merge loop over the pruned (word, count) table (the
    // SentencePiece architecture). FULL oracle via planted arithmetic:
    // every document contributes the paper's worked-example multiset
    // (low:5, lower:2, newest:6, widest:3) scaled by a per-doc factor
    // 1 + doc_id%2 — the distributed count is genuinely
    // data-dependent, but all pair counts share the corpus-wide factor
    // S = Σ(1 + doc_id%2), so the COMPLETE 15-merge sequence to
    // exhaustion is decidable by hand under the documented
    // count-desc-then-lex tie-breaks, and the oracle spells it as a
    // VALUES table. A count bug, tie-break bug, or resegmentation bug
    // anywhere in the loop reorders the sequence and breaks the hash. ---
    "q_bpe_train" -> { (s, dir) =>
      import s.implicits._
      val planted = t(s, dir, "documents")
        .select(concat(
          expr("repeat('low ', CAST(5 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('lower ', CAST(2 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('newest ', CAST(6 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('widest ', CAST(3 * (1 + doc_id % 2) AS INT))"))
          .as("text"))
      val merges = graft.llm.BpeTrain.learnMerges(
        planted, "text", numMerges = 15, vocabSize = 10000)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "left", "right")
    },

    // --- unigram-LM tokenizer training (Kudo 2018 — SentencePiece's
    // other half next to q_bpe_train): EM over each word's
    // segmentation lattice + expected-count pruning, driver-bounded
    // over the same planted Sennrich multiset. EM is SCALE-FREE
    // (expected counts scale by the corpus factor S and the M-step
    // divides it out), so the learned 14-piece model — the 10 corpus
    // codepoints + the 4 surviving subwords — is identical at every
    // SF and pins as a VALUES golden with 4dp log-probs. A lattice
    // bug, pruning-order bug, or normalization bug anywhere shifts a
    // log-prob and breaks the hash. ---
    "q_unigram_train" -> { (s, dir) =>
      val planted = t(s, dir, "documents")
        .select(concat(
          expr("repeat('low ', CAST(5 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('lower ', CAST(2 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('newest ', CAST(6 * (1 + doc_id % 2) AS INT))"),
          expr("repeat('widest ', CAST(3 * (1 + doc_id % 2) AS INT))"))
          .as("text"))
      graft.llm.UnigramLm.trainDF(s, planted, "text",
        vocabSize = 14, maxPieceLen = 6)
    },

    // --- WordPiece vocabulary training (Schuster 2012; the BERT
    // tokenizer — third of the tokenizer trio): BPE's merge loop under
    // the LIKELIHOOD score count(ab)/(count(a)·count(b)). Planted
    // corpus = the published worked example (hug:10 pug:5 pun:12 bun:4
    // hugs:5) scaled per doc by 1 + doc_id%2 — every score shares one
    // 1/S corpus factor so the COMPLETE 8-merge sequence is
    // hand-derivable (first merge is ##gs: score 1/20 beats every
    // 1/36 pair despite 4x smaller count — the signature WordPiece
    // behavior) and pins as a VALUES table. ---
    "q_wordpiece_train" -> { (s, dir) =>
      import s.implicits._
      val planted = wordpieceCorpus(s, dir)
      graft.llm.WordPieceTrain.learnVocab(planted, "text",
          numMerges = 8, minFrequency = 1)
        .zipWithIndex.map { case (p, i) => (i, p) }
        .toDF("idx", "piece")
    },

    // --- WordPiece apply (greedy longest-match-first, ## continuations,
    // whole-word [UNK]): counts under the vocabulary trained above —
    // per-word costs are hand-derived constants (hug/pug/bun/hugs = 1
    // whole-word piece, pun = p + ##un = 2, zzz = [UNK] = 1), so each
    // planted document's count is pure id arithmetic. ---
    "q_wordpiece_tokens" -> { (s, dir) =>
      val vocab = graft.llm.WordPieceTrain.learnVocab(
        wordpieceCorpus(s, dir), "text", numMerges = 8, minFrequency = 1)
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          expr("repeat('hug ', CAST(doc_id % 3 + 1 AS INT))"),
          expr("repeat('pun ', CAST(doc_id % 4 + 1 AS INT))"),
          expr("repeat('zzz ', CAST(doc_id % 5 AS INT))"),
          lit("hugs")).as("text"))
        .select(col("doc_id"),
          graft.functions.WordPieceExprs
            .wordpiece_token_count(col("text"), vocab).as("n_tokens"))
    },

    // --- compression-ratio quality signal (deflate entropy proxy):
    // repetitive boilerplate compresses far below prose, noise barely
    // compresses — both tails are drop candidates. No SQL replay
    // exists (no DEFLATE in DuckDB), so the driver's gate records
    // rows-only; tools/oracle_check.py closes the gap with a CPython
    // zlib replay (both sides wrap zlib: raw stream, level 6, default
    // strategy — verified byte-exact on all sf0.01 docs), plus unit
    // pins on engineered strings. ---
    "q_compression_ratio" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.functions.CompressExprs.deflateStats(col("text")).as("c"))
        .select(col("doc_id"), col("c.*"))
        .withColumn("keep", col("ratio").between(0.2, 0.95))
    },

    // --- mergeable distinct-count sketches (KMV bottom-k): per-day
    // user sketches + ANY-window rollup without rescanning history —
    // the incremental answer to COUNT(DISTINCT). The hash is the
    // engine-portable Knuth multiplicative hash, so the DuckDB oracle
    // rebuilds the exact sketch and the estimate replays bit-for-bit
    // (below k the count is exact — both branches exercise here). ---
    "q_distinct_sketch" -> { (s, dir) =>
      import graft.operators.DistinctSketch
      val k = 32
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(DistinctSketch.sketch(col("user_id"), k).as("sk"))
      val merged = DistinctSketch.mergeSketches(daily, Seq.empty, "sk", k)
      daily.select(col("day"), size(col("sk")).cast("long").as("sketch_size"),
          DistinctSketch.estimate(col("sk"), k).as("distinct_est"))
        .union(merged.select(lit("ALL").as("day"),
          size(col("sk")).cast("long").as("sketch_size"),
          DistinctSketch.estimate(col("sk"), k).as("distinct_est")))
    },

    // --- sketch set operations: audience overlap between event types
    // straight from the stored KMV sketches (theta-sketch pattern) —
    // restrict both sides to the union's k smallest hashes (a uniform
    // union sample) and count double-membership; no raw-data rescan.
    // Exact below k; deterministic arithmetic throughout. ---
    "q_sketch_overlap" -> { (s, dir) =>
      import graft.operators.DistinctSketch
      val k = 32
      val sk = t(s, dir, "events")
        .select(col("event_type"), col("user_id"))
        .groupBy(col("event_type"))
        .agg(DistinctSketch.sketch(col("user_id"), k).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          DistinctSketch.jaccardEstimate(col("ska"), col("skb"), k)
            .as("jaccard_est"),
          DistinctSketch.intersectionEstimate(col("ska"), col("skb"), k)
            .as("intersection_est"))
    },

    // --- corpus-level overlap: "how much of corpus B is already in
    // A?" — the dataset-refresh / license-audit question at corpus
    // granularity (per-document contamination is q_contamination).
    // Both corpora reduce to DISTINCT 8-byte shingle hashes meeting in
    // one full-outer join; the oracle rebuilds the same n-gram sets as
    // strings (fixture docs all carry >= 3 tokens, so the short-doc
    // clamp never fires and hash-distinct = string-distinct). ---
    "q_corpus_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
      val b = docs.filter(pmod(col("doc_id"), lit(3)) > 0)
        .union(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("novel prefix words "), col("text")).as("text")))
      Contamination.corpusContainment(a, b, "text")
    },

    // --- first-occurrence dedup over replayed event deliveries: keep the
    // earliest row per content group (batch twin of the streaming
    // dropDuplicatesWithinWatermark path; replays are engineered 30min
    // later — inside the stream's default 1h replay horizon, so batch
    // and stream agree on dropping them — and originals always win
    // deterministically) ---
    "q_dedup_first" -> { (s, dir) =>
      val ev = EventsStreaming.readEvents(s, dir)
      val replays = ev.filter(pmod(col("event_id"), lit(7)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES"))
      Dedup.firstOccurrence(ev.unionByName(replays),
          contentCols = Seq("user_id", "event_type", "value", "props"),
          orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
    },

    // --- per-group quota sampling: at most 40 docs per source,
    // deterministically picked by portable-hash order (bounded top-k
    // aggregate over keys + broadcast semi-join; text never shuffles).
    // ---
    "q_quota_sample" -> { (s, dir) =>
      graft.llm.Sampling.quotaPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang")),
        Seq("source"), "doc_id", 40)
    },

    // --- feature normalization family: min-max (exact), z-score
    // (rounded), and cume_dist quantile rank (exact count ratio). ---
    "q_minmax_scale" -> { (s, dir) =>
      graft.llm.Normalize.minMax(
        EventsStreaming.readEvents(s, dir)
          .select(col("event_id"), col("event_type"), col("value")),
        Seq("value"), by = Seq("event_type"))
    },

    "q_zscore" -> { (s, dir) =>
      graft.llm.Normalize.zscore(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        Seq("l_extendedprice"), by = Seq("l_returnflag"))
    },

    "q_quantile_rank" -> { (s, dir) =>
      graft.llm.Normalize.quantileRank(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity")),
        Seq("l_quantity"))
    },

    // --- equi-depth histogram: tie-preserving deterministic bins from
    // the value distribution (no ntile row-order nondeterminism). ---
    "q_equidepth_hist" -> { (s, dir) =>
      graft.operators.TableProfile.equiDepthHistogram(
        t(s, dir, "lineitem"), "l_extendedprice", bins = 12)
    },

    // --- robust outlier scoring: median/MAD (exact lower-median order
    // statistics via the distribution trick) — heavy tails can't drag
    // their own threshold. ---
    "q_robust_outliers" -> { (s, dir) =>
      graft.operators.RobustStats.outliers(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        "l_extendedprice", cutoff = 3.5)
    },

    // --- exact weighted-cosine all-pairs join (Bayardo WWW'07 shape):
    // tf-idf cosine >= 0.6 pairs via a SOUND integer-arithmetic prefix
    // filter (rarest-first; a skippable tail carries < t of the norm).
    // idf is quantized to integers so dot products and norms aggregate
    // exactly; the ORACLE is the brute-force all-pairs join — a
    // filter that dropped a true pair would hash-mismatch. ---
    // (fixture note: the synthetic corpus draws every doc from ONE
    // shared vocabulary, so ambient cosine is near-worst-case for
    // prefix filtering — the 0.75 cut and the 1-in-8 slice keep the
    // candidate set honest; a real web corpus at 0.6 prunes far
    // harder because cross-domain docs share almost no idf mass)
    "q_cosine_join" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(8)) === 0)
        .select(col("doc_id"), col("text"))
      val corpus = docs.union(
        docs.filter(pmod(col("doc_id"), lit(40)) === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" graft cosine tail")).as("text")))
      graft.llm.CosineJoin.tfidfCosineJoin(corpus, "doc_id", "text",
        thresholdNum = 3, thresholdDen = 4)
    },

    // --- sorted-neighborhood blocking (Hernández-Stolfo): pair each
    // customer with its 3 successors in name order, score with the
    // native Jaro-Winkler — the blocking pass for near-dups that share
    // no exact key but sort near each other. Rank via range exchange +
    // zipWithIndex offsets; neighbors via ONE equi-join on rank. ---
    "q_sorted_neighborhood" -> { (s, dir) =>
      val cand = graft.operators.RecordLinkage.sortedNeighborhood(
        t(s, dir, "customer"), "c_custkey", "c_name", window = 4)
      cand.withColumn("score",
          floor(graft.operators.RecordLinkage.similarity(
            col("key_a"), col("key_b")) * 1e6 + 0.5) / 1e6)
        .filter(col("score") >= 0.9)
        .select(col("id_a"), col("id_b"), col("rank_a"), col("rank_b"),
          col("score"))
    },

    // --- k-anonymity equivalence classes over customer
    // quasi-identifiers (nation × segment × balance band): the
    // re-identification risk report a dataset passes before leaving
    // the building. One keys-only aggregation. ---
    "q_k_anonymity" -> { (s, dir) =>
      graft.operators.Privacy.kAnonymityClasses(
        t(s, dir, "customer").withColumn("bal_band",
          floor(col("c_acctbal") / 2000).cast("long")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)
    },

    // --- pair-prediction quality: P/R/F1 of prefix-blocking predicted
    // pairs against CONSTRUCTION ground truth (planted replicas:
    // identical text = catchable, changed-prefix = guaranteed false
    // negatives; natural prefix collisions = false positives). Two
    // keys-only distincts meeting in one full-outer join. ---
    "q_pair_eval" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .union(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .union(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))
      val truth = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 100000).as("id_b"))
        .union(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 200000).as("id_b")))
      val blocks = corpus.select(col("doc_id"),
        substring(col("text"), 1, 40).as("pfx"))
      val predicted = blocks.as("x").join(blocks.as("y"),
          col("x.pfx") === col("y.pfx") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      graft.operators.PairEval.score(predicted, truth)
    },

    // --- PSI drift detection: price distribution shift between the
    // early and late halves of the order history — baseline-anchored
    // equi-width bins (ONE broadcast min/max row, shuffle-free
    // binning), conventional ε floor on empty bins, per-bin
    // contributions the summary sums. ---
    "q_psi_drift" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      graft.operators.Drift.psiNumeric(
        li.filter(col("l_shipdate") < lit("1995-06-01")),
        li.filter(col("l_shipdate") >= lit("1995-06-01")),
        "l_extendedprice", bins = 10, scale = 2)
    },

    // --- ranking-quality readout (nDCG@10 + MRR per query): grade the
    // per-priority price ranking against status-derived relevance —
    // the eval loop for the retrieval family. Per-rank terms sum by an
    // EXPLICIT left fold over rank-sorted k-bounded arrays (floating
    // addition is not associative; only a pinned order replays). ---
    "q_rank_eval" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val results = o.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rank"))
      val labels = o.select(col("o_orderpriority"), col("o_orderkey"),
        when(col("o_orderstatus") === "F", 2L)
          .when(col("o_orderstatus") === "O", 1L)
          .otherwise(0L).as("rel"))
      graft.llm.RankEval.metrics(results, labels,
        "o_orderpriority", "o_orderkey", "rank", "rel", k = 10)
    },

    // --- proportional stratified sampling, EXACT total (Hamilton's
    // largest-remainder allocation): exactly 100 docs, each language's
    // share proportional to its population — all-integer allocation
    // (div/mod), portable-hash picks. ---
    "q_stratified_exact" -> { (s, dir) =>
      graft.llm.Sampling.stratifiedExactK(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", k = 100)
    },

    // --- Kaplan-Meier survival: retention's statistically honest form
    // — users still active at the horizon are CENSORED (out of the
    // at-risk denominator) rather than counted churned. Running
    // ln-factor sums over the aggregated day axis replay in order. ---
    "q_kaplan_meier" -> { (s, dir) =>
      val subj = EventsStreaming.readEvents(s, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .select(
          floor((unix_micros(col("last_ts")) -
            unix_micros(col("first_ts"))).cast("double") / lit(86400e6))
            .cast("long").as("dur"),
          (col("last_ts") <
            lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
            .as("ev"))
      graft.operators.Survival.kaplanMeier(subj, "dur", "ev")
    },

    // --- A/B readout: per-user conversion (any purchase) under a
    // deterministic 3-way variant split, two-proportion z-test of each
    // treatment vs control — rates, lifts, pooled z, 95% call on the
    // ROUNDED statistic. One keys-only aggregation + a broadcast
    // control row. ---
    "q_ab_test" -> { (s, dir) =>
      val subjects = EventsStreaming.readEvents(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("variant",
          when(pmod(col("user_id"), lit(3)) === 0, "control")
            .when(pmod(col("user_id"), lit(3)) === 1, "a")
            .otherwise("b"))
      graft.operators.AbTest.proportionTest(
        subjects, "variant", "converted", "control")
    },

    // --- 2-D heatmap: quantity × price density grid over lineitem
    // with pinned ranges so both widths (2.5, 6000.0) are exact
    // doubles and every cell assignment replays bit-for-bit; empty
    // cells omitted by design. ---
    "q_heatmap" -> { (s, dir) =>
      graft.operators.TableProfile.heatmap2d(
        t(s, dir, "lineitem").select(col("l_quantity"),
          col("l_extendedprice")),
        "l_quantity", "l_extendedprice", bins = 20,
        xLo = Some(0.0), xHi = Some(50.0),
        yLo = Some(0.0), yHi = Some(120000.0))
    },

    // --- future-activity labeling (churn/retention targets): per
    // event, will the same user act again within 2 hours? Censoring
    // against the CORPUS end (not the user's own last event) keeps
    // knowable inactivity labeled and only boundary rows flagged. ---
    "q_churn_labels" -> { (s, dir) =>
      graft.operators.Labels.futureActivity(
        EventsStreaming.readEvents(s, dir)
          .select(col("event_id"), col("user_id"), col("ts")),
        Seq("user_id"), "ts", "event_id", horizon = 7200L * 1000000)
    },

    // --- top-N + Others rollup: per nation, the three biggest
    // suppliers by revenue keep their rows and the tail collapses to
    // one exactly-reconciling Others row (group total − top-N total in
    // integer cents). The oracle replays the rank and the complement
    // aggregation. ---
    "q_topn_others" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val rev = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double")
          .as("revenue"))
      graft.operators.GroupTopK.topNOthers(rev, Seq("s_nationkey"),
        "s_suppkey", "revenue", n = 3)
    },

    // --- chi-square contingency crosstab: is order status independent
    // of priority? Complete observed×expected cell grid (zero cells
    // included), statistic = exact LONG sum of per-cell 6dp-snapped
    // contributions (order-independent across engines by
    // construction), Cramér's V from the snapped statistic. ---
    "q_crosstab" -> { (s, dir) =>
      graft.operators.CrossTab.chi2(
        t(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_orderpriority")),
        "o_orderstatus", "o_orderpriority")
    },

    // --- fingerprint key-collision clustering (OpenRefine cluster &
    // edit): engineered spelling variants of supplier names — cased/
    // spaced/punctuated — collapse to one fingerprint (lowercase,
    // punctuation→space, tokens deduped + sorted); canonical = most
    // frequent spelling, ties to the smallest. One codegen'd
    // projection + map-side-combined groupBy; the oracle replays the
    // normalization chain and the argmax verbatim. ---
    "q_keycollision" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val base = sup.select(col("s_suppkey").as("id"),
        col("s_name").as("name"))
      val va = sup.filter(pmod(col("s_suppkey"), lit(3)) === 0)
        .select((col("s_suppkey") + 10000).as("id"),
          upper(regexp_replace(col("s_name"), "#", " # ")).as("name"))
      val vb = sup.filter(pmod(col("s_suppkey"), lit(4)) === 0)
        .select((col("s_suppkey") + 20000).as("id"),
          concat(lower(col("s_name")), lit(".")).as("name"))
      graft.operators.KeyCollision.clusters(
        base.unionByName(va).unionByName(vb), "id", "name")
    },

    // --- ABC contribution classes per nation: suppliers ranked by
    // revenue share, classic 80/95 Pareto cut decided on exact scaled
    // integers (100·prev < pct·n); the cumulative rides the
    // range-partitioned parallel prefix sums with the scaled value as
    // the count. Same revenue derivation as q_concentration. ---
    "q_abc" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val rev = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double")
          .as("revenue"))
      graft.operators.Abc.classify(rev, Seq("s_nationkey"), "s_suppkey",
        "revenue")
    },

    // --- exact two-sample Kolmogorov-Smirnov drift: the binning-free
    // complement to PSI — max CDF gap between the early and late price
    // distributions, per-side cumulative fractions riding the parallel
    // prefix sums (no single-reducer window over the merged axis). ---
    "q_ks_drift" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      graft.operators.Drift.ksStatistic(
        li.filter(col("l_shipdate") < lit("1995-06-01")),
        li.filter(col("l_shipdate") >= lit("1995-06-01")),
        "l_extendedprice", scale = 2)
    },

    // --- interpolated percentiles per key (percentile_cont semantics,
    // EXACT order statistics): the p50/p90/p99 latency-dashboard
    // primitive, one conditional-aggregate pass over the parallel
    // prefix-sum distribution — no sort, no per-key subqueries. ---
    "q_percentiles" -> { (s, dir) =>
      graft.operators.Distributions.percentilesByKey(
        t(s, dir, "lineitem"), "l_suppkey", "l_extendedprice",
        Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)), scale = 2)
    },

    // --- per-key trimmed mean: drop the floor(n·p) extremes per
    // supplier, average the middle — computed straight from the value
    // distribution (parallel prefix sums give each value its kept-copy
    // count arithmetically; raw rows touched once, never sorted). ---
    "q_trimmed_mean" -> { (s, dir) =>
      graft.operators.RobustStats.trimmedMean(
        t(s, dir, "lineitem"), "l_suppkey", "l_extendedprice")
    },

    // --- skew-salted two-stage aggregation (equal to plain groupBy) ---
    "q_skew_agg" -> { (s, dir) =>
      graft.operators.Skew.saltedSumCount(
          t(s, dir, "lineitem")
            .withColumn("l_quantity",
              col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 4))),
          Seq("l_returnflag"), "l_quantity", salts = 16)
        .select(col("l_returnflag"),
          col("sum_l_quantity").cast("double").as("sum_qty"), col("cnt"))
    },

    // --- one-pass table profile: per-column nulls/distinct/min/max
    // (exact mode so the oracle can replay the distinct counts; the
    // scale path is approx_count_distinct — no Expand, unit-pinned).
    // String casts of long/double/string min/max are engine-stable ---
    "q_profile_table" -> { (s, dir) =>
      graft.operators.TableProfile.summarize(
        t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus"), exact = true)
    },

    // --- declarative quality-constraint suite (Deequ pattern): ten
    // checks across all four families — the six row-level ones share
    // ONE scan/agg; unique and foreign-key run keys-only shapes. The
    // mix is engineered so four checks FAIL (discount bounds, linestatus
    // set, orderkey uniqueness, the filtered-part FK), pinning the
    // verdict logic, and the rest pass with exact 1.0 metrics ---
    "q_quality_checks" -> { (s, dir) =>
      import graft.operators.QualityChecks._
      run(t(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        Bounds("l_quantity", 1, 50),
        Bounds("l_discount", 0, 0.05, minFrac = 0.9),
        InSet("l_returnflag", Seq("A", "N", "R")),
        InSet("l_linestatus", Seq("O"), minFrac = 0.9),
        Matches("l_returnflag", "^[ANR]$"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        Unique(Seq("l_orderkey"), minFrac = 0.5),
        ForeignKey("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        ForeignKey("l_partkey",
          t(s, dir, "part").filter(pmod(col("p_partkey"), lit(5)) =!= 0),
          "p_partkey")))
    },

    // --- numeric distribution profile: exact mode computes quantiles
    // by distributed order statistics (groupBy value + cumulative
    // window — no unbounded percentile buffer, plan-pinned) with the
    // same (n-1)·p interpolation as quantile_cont, so the oracle
    // replays it; the scale default is the approx_percentile sketch,
    // unit-pinned. Small magnitudes keep double drift below round(4) ---
    "q_numeric_profile" -> { (s, dir) =>
      graft.operators.TableProfile.numericProfile(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_discount", "l_tax"), exact = true)
    },

    // --- equi-width histogram with pinned [lo, hi] so width (24000.0)
    // is an exact double and every bin edge/assignment replays
    // bit-for-bit in any IEEE engine; empty bins emitted as zeros.
    // Data-driven-range path + edge folding are unit-pinned ---
    "q_histogram" -> { (s, dir) =>
      graft.operators.TableProfile.histogram(
        t(s, dir, "orders"), "o_totalprice",
        bins = 25, lo = Some(0.0), hi = Some(600000.0))
    },

    // --- top-k frequent values per column: melt → one distinct-triple
    // shuffle → per-column rank over aggregated counts; deterministic
    // tie-break (count desc, value asc) so any engine replays it ---
    "q_top_values" -> { (s, dir) =>
      graft.operators.TableProfile.topValues(
        t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"), k = 5)
    },

    // --- grouped top-k via the native bounded aggregate: the 5 longest
    // documents per language. Map-side partial top-k, no window sort;
    // the oracle replays with row_number. ---
    "q_group_topk" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("doc_id"),
          length(col("text")).cast("long").as("text_len"))
      graft.operators.GroupTopK.topK(docs, Seq("lang"), "text_len", "doc_id", 5)
    },

    // --- deliberately skewed TPC-H-shape join stressor: the derived
    // key sends ~75% of lineitem to ONE nation (a real hot key, unlike
    // the table's uniform FKs), and the salted broadcast join spreads
    // it over 16 (key, salt) tasks instead of one straggler — the
    // ahead-of-time shape for skew AQE can't fix (broadcast joins
    // don't split at runtime). Salt values never affect the result
    // (every (key, salt) exists on the replicated dim side), so the
    // oracle replays the same key derivation with a plain join.
    // Salted-broadcast plan shape asserted in PlanSpec. ---
    "q_skew_join" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val skewed = t(s, dir, "lineitem")
        .withColumn("nk",
          when(pmod(col("l_orderkey"), lit(4)) < 3, lit(0L))
            .otherwise(pmod(col("l_suppkey"), lit(25))).cast("long"))
        .select(col("nk"), col("l_extendedprice"), col("l_discount"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      graft.operators.Skew.saltedBroadcastJoin(skewed, dim, "nk", salts = 16)
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(dec)).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .select(col("n_name"), round(col("revenue"), 4).as("revenue"),
          col("cnt"))
    },

    // --- custom-state shape: running-total threshold crossings ---
    "q_threshold_crossings" -> { (s, dir) =>
      EventsStreaming.thresholdCrossings(EventsStreaming.readEvents(s, dir), 500.0)
        .select(col("user_id"), col("crossed_at"),
          round(col("running_total"), 4).as("running_total"))
    },

    // --- temperature-based domain rebalance (XLM-R p_d ∝ n_d^alpha,
    // alpha 0.5, target = half the corpus): boosts the low-resource
    // languages relative to en; the oracle replays counts → pow →
    // per-domain keep thresholds → portable-hash filter. ---
    "q_temperature_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val target = docs.filter(col("lang").isNotNull).count() / 2
      graft.llm.Sampling.temperatureSample(docs, "lang", "doc_id",
        alpha = 0.5, targetTotal = target,
        bucketFn = graft.llm.Sampling.portableBucket)
    },

    // --- per-shard reproducibility manifest over the deterministic
    // shard assignment: counts, id range, order-independent XOR
    // fingerprint, content chars — one narrow aggregation. ---
    "q_shard_manifest" -> { (s, dir) =>
      graft.llm.Shuffling.shardManifest(
        t(s, dir, "documents"), "doc_id", "text", seed = 42L, shards = 8)
    },

    // --- markdown strip (README/forum-dump cleanup): every syntax
    // family in the fixture — fence with contents, heading, quote,
    // bold/italic, link, image, rule — must vanish or unwrap; the
    // oracle replays the backreference-free regex chain. ---
    "q_strip_markdown" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val md = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("# Heading One\n```\ncode fence secret()\n```\n" +
            "> quoted line\nRead **bold move** and *soft touch* at " +
            "[the docs](https://ex.com/a) now\n![diagram](img.png)\n" +
            "---\n"), col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.stripMarkdown(md, "text")
    },

    // --- exact-substring (canary) contamination: probes are verbatim
    // 40-char snippets of every 97th document; ONE codegen'd
    // contains-chain scan flags the source docs and their copies. ---
    "q_exact_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs
        .filter(pmod(col("doc_id"), lit(97)) === 0 &&
          col("text").isNotNull && length(col("text")) >= 49)
        .select(substring(col("text"), 10, 40).as("probe"))
      Contamination.exactSubstring(docs, probes, "doc_id", "text", "probe")
    },

    // --- market-basket co-occurrence over order baskets (parts folded
    // to a 199-item catalog so pairs recur): support / directional
    // confidence / lift; basket-size cap is the skew bound. ---
    "q_cooccurrence" -> { (s, dir) =>
      val baskets = t(s, dir, "lineitem").select(
        col("l_orderkey").as("basket"),
        pmod(col("l_partkey"), lit(199)).as("item"))
      graft.operators.Cooccurrence.pairs(
        baskets, "basket", "item", minCount = 3)
    },

    // --- per-supplier OLS price trend over ship dates: exact integer
    // moments (days since 1995-01-01, whole-dollar prices) make the
    // double slope/intercept/r2 bit-replayable in any engine. ---
    "q_trend" -> { (s, dir) =>
      val b = t(s, dir, "lineitem").select(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1995-01-01")).as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      graft.operators.Trend.fit(b, Seq("l_suppkey"), "x", "y")
    },

    // --- Efraimidis-Spirakis weighted sampling without replacement:
    // exactly 60 documents, inclusion odds proportional to length;
    // shuffle-free keys + TakeOrderedAndProject (no global sort). ---
    "q_weighted_sample" -> { (s, dir) =>
      graft.llm.Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 60, seed = 7L)
    },

    // --- LINEAR multi-touch attribution: every qualifying click
    // splits the purchase's value evenly (credit = value / touches);
    // one window exchange on purchase_id over the narrow touch rows.
    // floor-half-up rounding (see q_cooccurrence) keeps the division
    // engine-replayable even on exact decimal ties. ---
    "q_attribution_linear" -> { (s, dir) =>
      val touches = EventsStreaming.attributionBatch(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
      touches
        .withColumn("n_touches", count(lit(1)).over(w))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("n_touches"),
          (floor(col("purchase_value") / col("n_touches") * 1e6 + 0.5) / 1e6)
            .as("credit"))
    },

    // --- grouped E-S weighted sampling: at most 20 docs PER language,
    // length-weighted; one hash-partitioned window, groups select in
    // parallel (no driver-side limit). ---
    "q_weighted_sample_group" -> { (s, dir) =>
      graft.llm.Sampling.weightedSamplePerGroup(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", k = 20, seed = 11L)
    },

    // --- length-bucketed batch assignment (padding minimizer): char
    // buckets at 500/1500/3000, batches of 16 ordered (len, id); one
    // bucket-partitioned window. ---
    "q_bucket_batches" -> { (s, dir) =>
      graft.llm.Packing.bucketBatches(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", edges = Seq(500L, 1500L, 3000L),
          batchSize = 16)
        .select(col("doc_id"), col("bucket"), col("batch_idx"),
          col("batch_pos"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_regional_revenue" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "q_returned_items" ->
      """SELECT c_custkey, c_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_supplier_rank" ->
      """WITH r AS (
        |  SELECT l_suppkey, l_partkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
        |  FROM lineitem GROUP BY l_suppkey, l_partkey
        |), k AS (
        |  SELECT l_suppkey, l_partkey, rev,
        |    row_number() OVER (PARTITION BY l_suppkey
        |                       ORDER BY rev DESC, l_partkey) AS rnk
        |  FROM r
        |)
        |SELECT l_suppkey, l_partkey,
        |  round(CAST(rev AS DOUBLE), 4) AS revenue,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM k WHERE rnk <= 3""".stripMargin,

    "q_top_orders" ->
      """SELECT l_orderkey,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |  o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_transform_inline" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS gross,
        |  upper(l_returnflag) AS flag_up
        |FROM lineitem""".stripMargin,

    "q_transform_script" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charged
        |FROM lineitem""".stripMargin,

    "q_filter_rows" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 25 AND l_returnflag = 'R'""".stripMargin,

    "q_lua_patterns" ->
      """SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits,
        |  lower(c_mktsegment) AS seg_lower
        |FROM customer""".stripMargin,

    "q_multiformat_dates" ->
      """SELECT o_orderkey,
        |  date_trunc('day', o_orderdate) AS parsed_us,
        |  o_orderdate AS parsed_iso,
        |  date_trunc('day', o_orderdate) AS parsed_eu
        |FROM orders""".stripMargin,

    "q_validate_defaults" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT l_orderkey, l_partkey, l_suppkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |  l_shipdate
        |FROM lineitem""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    "q_avro_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin,

    "q_warc_roundtrip" ->
      "SELECT doc_id, text, 200 AS http_status FROM documents",

    "q_wet_text" ->
      "SELECT doc_id, text FROM documents",

    "q_cdx_lookup" ->
      "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 2",

    // host3 = doc_id%7==3, except the %13==0 rows that went to the
    // lookalike host30.test
    "q_cdx_host" ->
      """SELECT doc_id, text FROM documents
        |WHERE doc_id % 7 = 3 AND doc_id % 13 <> 0""".stripMargin,

    // the revisited third resolves to its day-one text
    "q_revisit_resolve" ->
      "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1",

    "q_zip_roundtrip" ->
      "SELECT doc_id, text FROM documents",

    "q_jsonl_zst" ->
      "SELECT doc_id, text, lang FROM documents",

    // the 200-char page split re-derived with substr over the same
    // planted text (ASCII corpus: char and codepoint splits agree)
    "q_pdf_text" ->
      """WITH t AS (
        |  SELECT doc_id, text || ' tail(with)\specials' AS body
        |  FROM documents WHERE doc_id % 10 = 0
        |), pages AS (
        |  SELECT doc_id, body,
        |    unnest(range(1,
        |      CAST(ceil(length(body) / 200.0) AS BIGINT) + 1)) AS p
        |  FROM t
        |)
        |SELECT doc_id, CAST(p AS INT) AS page,
        |  substr(body, CAST((p - 1) * 200 + 1 AS BIGINT), 200) AS text
        |FROM pages""".stripMargin,

    "q_wat_links" ->
      """WITH j AS (
        |  SELECT doc_id,
        |    'src' || (doc_id % 3) || '.test' AS src_host,
        |    '{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":'
        |      || '{"HTML-Metadata":{"Links":[{"url":"http://dst'
        |      || (doc_id % 4) || '.test/x/' || doc_id
        |      || '"},{"url":"http://dst' || ((doc_id + 1) % 4)
        |      || '.test/y/' || doc_id || '"}]}}}}}' AS payload
        |  FROM documents
        |), links AS (
        |  SELECT src_host, json_extract_string(payload,
        |    '$.Envelope."Payload-Metadata"."HTTP-Response-Metadata"' ||
        |    '."HTML-Metadata".Links[0].url') AS u
        |  FROM j
        |  UNION ALL
        |  SELECT src_host, json_extract_string(payload,
        |    '$.Envelope."Payload-Metadata"."HTTP-Response-Metadata"' ||
        |    '."HTML-Metadata".Links[1].url') AS u
        |  FROM j
        |)
        |SELECT src_host,
        |  regexp_extract(u, '^https?://([^/]+)', 1) AS dst_host,
        |  count(*) AS links
        |FROM links
        |GROUP BY src_host, dst_host""".stripMargin,

    // every flag re-derived from the planted strings: the x-robots
    // directive regex and the meta-tag regexes (noai AND noindex — the
    // full roll-up is replayed) run verbatim on the reconstructed
    // header/html values; the robots verdict replays the fixture's
    // rule set against path + query (host0 blanket disallow; host1
    // longest-match Allow /p/2 over Disallow /p/; host2 group
    // addresses another agent; host3 empty Disallow plus the
    // query-string rule Disallow: /p/*?print=; host4 no robots.txt)
    "q_crawl_consent" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    '/p/' || doc_id ||
        |      CASE WHEN doc_id % 11 = 0 THEN '?print=1' ELSE '' END AS path,
        |    doc_id % 5 AS h,
        |    CASE WHEN doc_id % 3 = 0 THEN 'noai'
        |         WHEN doc_id % 3 = 1 THEN 'noindex, nofollow' END AS xr,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN '<meta name="robots" content="noai">' || text
        |         ELSE text END AS html
        |  FROM documents
        |), flags AS (
        |  SELECT doc_id,
        |    CASE WHEN h = 0 THEN true
        |         WHEN h = 1 THEN NOT (path LIKE '/p/2%')
        |         WHEN h = 3 THEN path LIKE '%?print=%'
        |         ELSE false END AS robots_disallowed,
        |    COALESCE(regexp_matches(lower(xr),
        |      '(^|[\s,:])noai($|[\s,])'), false) AS xrobots_noai,
        |    COALESCE(regexp_matches(lower(xr),
        |      '(^|[\s,:])noindex($|[\s,])'), false) AS xrobots_noindex,
        |    (regexp_matches(html,
        |       '(?i)<meta\b[^>]*content\s*=\s*"[^"]*\bnoai\b[^"]*"') OR
        |     regexp_matches(html,
        |       '(?i)<meta\b[^>]*content\s*=\s*''[^'']*\bnoai\b[^'']*''')
        |    ) AS meta_noai,
        |    (regexp_matches(html,
        |       '(?i)<meta\b[^>]*content\s*=\s*"[^"]*\bnoindex\b[^"]*"') OR
        |     regexp_matches(html,
        |       '(?i)<meta\b[^>]*content\s*=\s*''[^'']*\bnoindex\b[^'']*''')
        |    ) AS meta_noindex
        |  FROM f
        |)
        |SELECT doc_id, robots_disallowed, xrobots_noai, xrobots_noindex,
        |  meta_noai, meta_noindex,
        |  NOT (robots_disallowed OR xrobots_noai OR xrobots_noindex
        |    OR meta_noai OR meta_noindex) AS consent_ok
        |FROM flags""".stripMargin,

    // the WebDataset round trip is an identity over (doc_id, text,
    // lang) — byte fidelity through ustar headers, gzip, and the
    // adjacency-grouped sample reader
    "q_webdataset_roundtrip" ->
      "SELECT doc_id, text, lang FROM documents",

    "q_engine_transfer" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        |  p_retailprice * 100 AS retail_cents,
        |  lower(p_brand) AS brand_lc
        |FROM part""".stripMargin,

    "q_jdbc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",

    "q_decimal_transfer" ->
      """SELECT s_suppkey,
        |  s_acctbal AS acctbal,
        |  CAST(s_suppkey * 1.5 AS DOUBLE) AS key_half
        |FROM supplier""".stripMargin,

    "q_lua_file" ->
      """SELECT c_custkey, upper(c_name) AS name_up, c_acctbal * 2 AS bal2
        |FROM customer
        |WHERE NOT (c_mktsegment = 'BUILDING') AND NOT (c_acctbal < 0)""".stripMargin,

    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_duplicate
        |FROM corpus""".stripMargin,

    "q_minhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graft dup tail' AS text
        |  FROM documents WHERE doc_id % 4 = 1
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingles
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM corpus)
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""".stripMargin,

    "q_corpus_profile" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || '  ' AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |),
        |m AS (
        |  SELECT
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS toks,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM d
        |),
        |q AS (
        |  SELECT len, words, toks, fp,
        |    least(len / 200.0, 1.0) * 0.4
        |    + (1.0 - least(punct / greatest(len, 1.0) * 10.0, 1.0)) * 0.2
        |    + (1.0 - least(digits / greatest(len, 1.0) * 5.0, 1.0)) * 0.2
        |    + (CASE WHEN (len - (words - 1)) / words >= 3
        |            AND (len - (words - 1)) / words <= 10
        |       THEN 1.0 ELSE 0.0 END) * 0.2 AS quality
        |  FROM m
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fingerprints,
        |  CAST(SUM(CAST(len AS BIGINT)) AS BIGINT) AS total_chars,
        |  CAST(SUM(CAST(words AS BIGINT)) AS BIGINT) AS total_words,
        |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |  round(CAST(SUM(CAST(round(quality, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_quality,
        |  CAST(MIN(CAST(len AS BIGINT)) AS BIGINT) AS min_chars,
        |  CAST(MAX(CAST(len AS BIGINT)) AS BIGINT) AS max_chars
        |FROM q""".stripMargin,

    // portable Knuth bucket: ((id mod P) * K) mod P mod 1e6 — identical
    // arithmetic to Sampling.portableBucket, overflow-safe in BIGINT
    "q_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 <
        |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |            WHEN 'zh' THEN 0 ELSE 100000 END""".stripMargin,

    // the partition property IS the assertion: the union must contain
    // every doc exactly once, split by the one shared threshold
    "q_sample_complement" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000
        |            < 300000
        |       THEN 'sample' ELSE 'rest' END AS side
        |FROM documents""".stripMargin,

    "q_chunk_documents" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
        |    greatest(1, CAST(floor(CAST(len(tk) + 29 AS DOUBLE) / 40) AS BIGINT)) AS nch
        |  FROM tok WHERE len(tk) > 0
        |), e AS (
        |  SELECT doc_id, tk, n, unnest(range(0, nch)) AS i FROM c
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 40 AS BIGINT) AS chunk_start,
        |  least(50, n - i * 40) AS chunk_len,
        |  array_to_string(tk[(i*40+1):(i*40+50)], ' ') AS chunk_text
        |FROM e""".stripMargin,

    "q_domain_mixture" ->
      """WITH w(lang, wt) AS (VALUES
        |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
        |  ('fr', CAST(0.2 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE))),
        |n AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents JOIN w USING (lang) GROUP BY lang
        |), t AS (
        |  SELECT min(CAST(cnt AS DOUBLE) / wt) AS tstar FROM n JOIN w USING (lang)
        |), thr AS (
        |  SELECT lang, CAST(round(wt * tstar / cnt * 1000000) AS BIGINT) AS thr
        |  FROM w JOIN n USING (lang) CROSS JOIN t
        |)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN thr USING (lang)
        |WHERE ((d.doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 < thr""".stripMargin,

    // DSIR: the whole derivation replayed — strict tokens, unigram +
    // bigram strings, the portable poly-31 hash mod 512 buckets,
    // Laplace +1 bucket models for target (lang = en) and raw (all),
    // ratios quantized to integer micro-nats exactly like the engine
    // (floor(x·1e9 + 0.5)), per-doc weights as exact integer sums
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) AS tk
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(tk) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS g
        |  FROM tok
        |), hb AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(g) + 1),
        |        i -> CAST(ascii(substr(g, i, 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 2147483647) % 512 AS b
        |  FROM grams
        |), tcnt AS (
        |  SELECT b, count(*) AS c FROM hb
        |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY b
        |), rcnt AS (
        |  SELECT b, count(*) AS c FROM hb GROUP BY b
        |), tot AS (
        |  SELECT (SELECT count(*) FROM hb JOIN documents USING (doc_id)
        |          WHERE lang = 'en') AS tt,
        |         (SELECT count(*) FROM hb) AS tr
        |), lq AS (
        |  SELECT r.b,
        |    CAST(floor((ln((coalesce(t.c, 0) + 1) / CAST(tt + 512 AS DOUBLE))
        |      - ln((r.c + 1) / CAST(tr + 512 AS DOUBLE))) * 1e9 + 0.5)
        |      AS BIGINT) AS lq
        |  FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tot
        |)
        |SELECT k.doc_id, CAST(coalesce(s.w, 0) AS BIGINT) AS dsir_logw_micro
        |FROM tok k LEFT JOIN (
        |  SELECT doc_id, sum(lq) AS w FROM hb JOIN lq USING (b)
        |  GROUP BY doc_id
        |) s USING (doc_id)""".stripMargin,

    // the resample: same weights, plus the portable Gumbel noise
    // (u = (knuth(id + 7) + 0.5)/1e6, g = -ln(-ln u)) and the
    // micro-quantized ordering key; top 120 by (key desc, id asc)
    "q_dsir_sample" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) AS tk
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(tk) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS g
        |  FROM tok
        |), hb AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(g) + 1),
        |        i -> CAST(ascii(substr(g, i, 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 2147483647) % 512 AS b
        |  FROM grams
        |), tcnt AS (
        |  SELECT b, count(*) AS c FROM hb
        |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY b
        |), rcnt AS (
        |  SELECT b, count(*) AS c FROM hb GROUP BY b
        |), tot AS (
        |  SELECT (SELECT count(*) FROM hb JOIN documents USING (doc_id)
        |          WHERE lang = 'en') AS tt,
        |         (SELECT count(*) FROM hb) AS tr
        |), lq AS (
        |  SELECT r.b,
        |    CAST(floor((ln((coalesce(t.c, 0) + 1) / CAST(tt + 512 AS DOUBLE))
        |      - ln((r.c + 1) / CAST(tr + 512 AS DOUBLE))) * 1e9 + 0.5)
        |      AS BIGINT) AS lq
        |  FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tot
        |), w AS (
        |  SELECT k.doc_id, CAST(coalesce(s.w, 0) AS BIGINT)
        |    AS dsir_logw_micro
        |  FROM tok k LEFT JOIN (
        |    SELECT doc_id, sum(lq) AS w FROM hb JOIN lq USING (b)
        |    GROUP BY doc_id
        |  ) s USING (doc_id)
        |)
        |SELECT doc_id, dsir_logw_micro
        |FROM w
        |QUALIFY row_number() OVER (ORDER BY
        |  floor((dsir_logw_micro / 1e9
        |    - ln(-ln((CAST((((doc_id + 7) % 1000000007) * 2654435761)
        |        % 1000000007 % 1000000 AS DOUBLE) + 0.5) / 1000000.0)))
        |    * 1e6 + 0.5) DESC, doc_id ASC) <= 120""".stripMargin,

    // audio pHash: byte-identical WAV pairs → hamming 0; truncated
    // payloads → null hamming, decoded = false
    "q_audio_phash" ->
      """SELECT 950000 + doc_id AS media_id, CAST(0 AS INT) AS hamming,
        |  true AS decoded
        |FROM documents WHERE doc_id % 50 = 0
        |UNION ALL
        |SELECT doc_id AS media_id, CAST(NULL AS INT) AS hamming,
        |  false AS decoded
        |FROM documents WHERE doc_id % 100 = 0""".stripMargin,

    // EXIF hygiene: the fixture's every byte derives from the id, so
    // the oracle replays flags (GPS pointer iff id%3=0, serial iff
    // id%4=0 — both false under the id%5=0 garbage-TIFF variant, which
    // still counts as has_exif) AND the exact stripped stream:
    // constant SOI+APP0, the id-derived COM segment, constant SOS,
    // id-derived entropy bytes, EOI — APP1 excised. Text payloads are
    // parsed=false passthrough (hex of the original bytes).
    "q_exif_hygiene" ->
      ("""WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT 900000 + id AS media_id, true AS parsed,
        |  CAST(1 AS INT) AS has_exif,
        |  CAST(id % 3 = 0 AND id % 5 <> 0 AS INT) AS has_gps,
        |  CAST(id % 4 = 0 AND id % 5 <> 0 AS INT) AS has_serial,
        |  CAST(CASE WHEN id % 5 = 0 THEN 0 ELSE
        |    (CASE WHEN id % 3 = 0 THEN 5 ELSE 2 END) +
        |    (CASE WHEN id % 4 = 0 THEN 2 ELSE 1 END) END AS INT)
        |    AS exif_tags,
        |  '""" + Exif.FixturePrefixHex + """' ||
        |  'FFFE' || upper(lpad(to_hex(10 + id % 8), 4, '0')) ||
        |  repeat(upper(lpad(to_hex((id * 11) % 256), 2, '0')),
        |         CAST(8 + id % 8 AS INT)) ||
        |  '""" + Exif.FixtureSosHex + """' ||
        |  repeat(upper(lpad(to_hex((id * 29 + 5) % 255), 2, '0')),
        |         CAST(10 + id % 6 AS INT)) ||
        |  'FFD9' AS stripped_hex,
        |  true AS stripped
        |FROM ids
        |UNION ALL
        |SELECT doc_id AS media_id, false AS parsed,
        |  CAST(NULL AS INT) AS has_exif, CAST(NULL AS INT) AS has_gps,
        |  CAST(NULL AS INT) AS has_serial,
        |  CAST(NULL AS INT) AS exif_tags,
        |  upper(hex(encode(text))) AS stripped_hex, false AS stripped
        |FROM documents WHERE doc_id % 40 = 0""").stripMargin,

    // pHash: identical planted pixels (two independent PNG encodes of
    // the same arithmetic fixture) MUST hash identically → hamming 0
    // per pair; text payloads decode to nothing → null hamming, false
    "q_phash_dedup" ->
      """SELECT 950000 + doc_id AS media_id, CAST(0 AS INT) AS hamming,
        |  true AS decoded
        |FROM documents WHERE doc_id % 50 = 0
        |UNION ALL
        |SELECT doc_id AS media_id, CAST(NULL AS INT) AS hamming,
        |  false AS decoded
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // the literal centroids differ only in dims 1/2 with equal norms,
    // so argmin(distance) == argmax(±e1 ±e2) == the sign quadrant;
    // ties (e1 or e2 exactly 0) go to the FIRST index in both engines
    // (the CASE's >= mirrors the strict-< argmin's first-wins)
    "q_diversity_sample" ->
      """WITH cells AS (
        |  SELECT vec_id,
        |    CASE WHEN embedding[1] >= 0 AND embedding[2] >= 0 THEN 0
        |         WHEN embedding[1] >= 0 THEN 1
        |         WHEN embedding[2] >= 0 THEN 2
        |         ELSE 3 END AS cell
        |  FROM embeddings
        |), n AS (
        |  SELECT cell, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY cell
        |), k AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS k FROM n
        |), t AS (
        |  SELECT min(CAST(cnt AS DOUBLE) * (SELECT k FROM k)) AS tstar FROM n
        |), thr AS (
        |  SELECT cell,
        |    CAST(round((SELECT tstar FROM t) / (SELECT k FROM k) / cnt * 1000000)
        |      AS BIGINT) AS thr
        |  FROM n
        |)
        |SELECT c.vec_id
        |FROM cells c JOIN thr USING (cell)
        |WHERE ((c.vec_id % 1000000007) * 2654435761) % 1000000007 % 1000000 < thr""".stripMargin,

    "q_assign_splits" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 < 100000 THEN 'test'
        |       WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 < 900000 THEN 'train'
        |       ELSE 'val' END AS split
        |FROM documents""".stripMargin,

    "q_global_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    (((doc_id + 7) % 1000000007) * 2654435761) % 1000000007 % 1000000 AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key, shuffle_key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
        |                          ORDER BY shuffle_key, doc_id) AS BIGINT) AS shard_pos
        |FROM k""".stripMargin,

    "q_interleave" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 6 THEN 'web'
        |         WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END AS dom,
        |    ((((doc_id + 11) % 1000000007) * 2654435761) % 1000000007 % 1000000)
        |      / 1000000.0 AS u
        |  FROM documents
        |), c AS (
        |  SELECT dom, count(*) AS n FROM d GROUP BY dom
        |), w AS (
        |  SELECT 'web' AS dom, 0.5 AS wt
        |  UNION ALL SELECT 'books', 0.3
        |  UNION ALL SELECT 'code', 0.2
        |)
        |SELECT doc_id, d.dom,
        |  round(u * (CAST(c.n AS DOUBLE) / CAST(w.wt AS DOUBLE)), 6) AS virtual_time
        |FROM d JOIN c USING (dom) JOIN w ON w.dom = d.dom""".stripMargin,

    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS toks,
        |    (((doc_id + 7) % 1000000007) * 2654435761) % 1000000007 % 1000000 AS k
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, toks,
        |    SUM(toks) OVER (PARTITION BY k % 8 ORDER BY k, doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT doc_id, source, toks FROM c WHERE cum <= 12500""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS toks,
        |    ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 % 4 AS stream
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, stream, toks,
        |    SUM(toks) OVER (PARTITION BY source, stream ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT doc_id, source, CAST(stream AS BIGINT) AS stream,
        |  CAST((cum - toks) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - toks) % 2048 AS BIGINT) AS pack_offset,
        |  (toks > 0 AND (cum - 1) // 2048 > (cum - toks) // 2048) AS spans_boundary
        |FROM c""".stripMargin,

    "q_pii_redaction" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' contact a.smith+hr@ex-mail.org or +1 555-123-4567 via 192.168.10.42 card 4111111111111111 order 4111111111111112 today' AS text
        |  FROM documents WHERE doc_id % 7 = 0
        |), r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
        |  FROM corpus
        |), rcc AS (
        |  SELECT doc_id, text, after_email,
        |    list_filter(regexp_extract_all(after_email, '\b\d{13,19}\b'),
        |      cc -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, len(cc) + 1), i ->
        |          CAST(CASE WHEN i % 2 = 0 THEN
        |            CASE WHEN (ascii(substr(cc, len(cc) - i + 1, 1)) - 48) * 2 > 9
        |              THEN (ascii(substr(cc, len(cc) - i + 1, 1)) - 48) * 2 - 9
        |              ELSE (ascii(substr(cc, len(cc) - i + 1, 1)) - 48) * 2 END
        |            ELSE ascii(substr(cc, len(cc) - i + 1, 1)) - 48 END
        |            AS BIGINT))),
        |        (a, b) -> a + b) % 10 = 0) AS ccs
        |  FROM r
        |), rc AS (
        |  SELECT doc_id, text, ccs,
        |    list_reduce(list_prepend(after_email, list_distinct(ccs)),
        |      (acc, c) -> replace(acc, c, '<CC>')) AS after_cc
        |  FROM rcc
        |), r2 AS (
        |  SELECT doc_id, text, ccs, after_cc,
        |    regexp_replace(after_cc, '\+\d{1,3}([- ]\d{2,4}){2,4}', '<PHONE>', 'g') AS after_phone
        |  FROM rc
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(ccs) AS BIGINT) AS n_ccs,
        |  CAST(len(regexp_extract_all(after_cc, '\+\d{1,3}([- ]\d{2,4}){2,4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM r2""".stripMargin,

    "q_contamination" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'prefix words added here ' || text AS text
        |  FROM documents WHERE doc_id % 97 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM tok
        |), pg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |        FROM documents WHERE doc_id % 97 = 0)
        |), tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams FROM g GROUP BY doc_id
        |), m AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS matched_grams
        |  FROM g JOIN pg USING (gram) GROUP BY g.doc_id
        |)
        |SELECT m.doc_id, matched_grams, total_grams,
        |  round(CAST(matched_grams AS DOUBLE) / total_grams, 6) AS contamination
        |FROM m JOIN tot USING (doc_id)""".stripMargin,

    // per-suite attribution: same derivation with suite-tagged probe
    // grams; a gram shared by both suites counts toward both
    "q_contamination_by_suite" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'prefix words added here ' || text AS text
        |  FROM documents WHERE doc_id % 97 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM tok
        |), pg AS (
        |  SELECT DISTINCT 'evalA' AS suite,
        |    unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |        FROM documents WHERE doc_id % 97 = 0)
        |  UNION
        |  SELECT DISTINCT 'evalB' AS suite,
        |    unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |        FROM documents WHERE doc_id % 89 = 0)
        |), tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams FROM g GROUP BY doc_id
        |), m AS (
        |  SELECT g.doc_id, pg.suite, CAST(count(*) AS BIGINT) AS matched_grams
        |  FROM g JOIN pg USING (gram) GROUP BY g.doc_id, pg.suite
        |)
        |SELECT m.doc_id, m.suite, matched_grams, total_grams,
        |  round(CAST(matched_grams AS DOUBLE) / total_grams, 6) AS contamination
        |FROM m JOIN tot USING (doc_id)""".stripMargin,

    // decontaminate: same derivation as q_contamination, but the
    // UNROUNDED ratio drives a drop decision and survivors come back
    "q_decontaminate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'prefix words added here ' || text AS text
        |  FROM documents WHERE doc_id % 97 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM tok
        |), pg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |        FROM documents WHERE doc_id % 97 = 0)
        |), bad AS (
        |  SELECT g.doc_id
        |  FROM g LEFT JOIN (SELECT gram, 1 AS hit FROM pg) p USING (gram)
        |  GROUP BY g.doc_id
        |  HAVING CAST(count(p.hit) AS DOUBLE) / count(*) >= 0.5
        |)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // decontaminate-excise: probe windows by CONTENT (the operator
    // hashes the whitespace-normalized 50-token window; corpus text is
    // single-spaced so the raw slice IS the normalized content), then
    // islands-merge + substr reassembly exactly as q_substring_dedup —
    // plus the per-doc chars = sum of merged span lengths
    "q_decontaminate_excise" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' ${decontamPassage}' ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT 10000001 AS doc_id, '${decontamPassage}' AS text
        |), pidx AS (
        |  SELECT unnest(range(1, len(tk) - 48)) AS i, tk
        |  FROM (SELECT string_split('${decontamPassage}', ' ') AS tk)
        |), pw AS (
        |  SELECT DISTINCT array_to_string(list_slice(tk, i, i + 49), ' ')
        |    AS win
        |  FROM pidx
        |), tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
        |), base AS (
        |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i,
        |    unnest(tk) AS t
        |  FROM tok
        |), tpos AS (
        |  SELECT doc_id, i, t,
        |    sum(len(t)) OVER (PARTITION BY doc_id ORDER BY i)
        |      - len(t) + i - 1 AS toff
        |  FROM base
        |), tw AS (
        |  SELECT doc_id, CAST(toff AS BIGINT) AS s,
        |    CAST(lead(toff + len(t), 49)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS e
        |  FROM tpos
        |), w AS (
        |  SELECT tw.doc_id, s, e, substr(c.text, s + 1, e - s) AS win
        |  FROM tw JOIN corpus c USING (doc_id)
        |  WHERE e IS NOT NULL
        |), ex AS (
        |  SELECT DISTINCT w.doc_id, w.s, w.e FROM w JOIN pw USING (win)
        |), fl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS f
        |  FROM ex
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM fl
        |), mg AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM isl GROUP BY doc_id, g
        |), ch AS (
        |  SELECT doc_id, sum(e - s) AS chars FROM mg GROUP BY doc_id
        |), seg AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks,
        |    s AS ke
        |  FROM mg
        |  UNION ALL
        |  SELECT doc_id, max(e) AS ks, NULL AS ke
        |  FROM mg GROUP BY doc_id
        |), reb AS (
        |  SELECT sg.doc_id,
        |    string_agg(substr(c.text, CAST(sg.ks AS BIGINT) + 1,
        |      coalesce(sg.ke, len(c.text)) - sg.ks), '' ORDER BY sg.ks)
        |      AS text
        |  FROM seg sg JOIN corpus c USING (doc_id)
        |  GROUP BY sg.doc_id
        |)
        |SELECT c.doc_id,
        |  CASE WHEN r.doc_id IS NULL THEN c.text ELSE r.text END AS text,
        |  CAST(coalesce(ch.chars, 0) AS BIGINT) AS contaminated_chars
        |FROM corpus c
        |LEFT JOIN reb r USING (doc_id)
        |LEFT JOIN ch USING (doc_id)""".stripMargin,

    // contamination-spans report: the same derivation truncated at the
    // islands-merge stage (no rebuild) — bounds as BIGINT
    "q_contamination_spans" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' ${decontamPassage}' ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT 10000001 AS doc_id, '${decontamPassage}' AS text
        |), pidx AS (
        |  SELECT unnest(range(1, len(tk) - 48)) AS i, tk
        |  FROM (SELECT string_split('${decontamPassage}', ' ') AS tk)
        |), pw AS (
        |  SELECT DISTINCT array_to_string(list_slice(tk, i, i + 49), ' ')
        |    AS win
        |  FROM pidx
        |), tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
        |), base AS (
        |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i,
        |    unnest(tk) AS t
        |  FROM tok
        |), tpos AS (
        |  SELECT doc_id, i, t,
        |    sum(len(t)) OVER (PARTITION BY doc_id ORDER BY i)
        |      - len(t) + i - 1 AS toff
        |  FROM base
        |), tw AS (
        |  SELECT doc_id, CAST(toff AS BIGINT) AS s,
        |    CAST(lead(toff + len(t), 49)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS e
        |  FROM tpos
        |), w AS (
        |  SELECT tw.doc_id, s, e, substr(c.text, s + 1, e - s) AS win
        |  FROM tw JOIN corpus c USING (doc_id)
        |  WHERE e IS NOT NULL
        |), ex AS (
        |  SELECT DISTINCT w.doc_id, w.s, w.e FROM w JOIN pw USING (win)
        |), fl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS f
        |  FROM ex
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM fl
        |)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, g""".stripMargin,

    // fuzzy (edit-tolerant) excision: the oracle is the PLANT
    // ARITHMETIC, not a winnowing replay — the operator's contract is
    // that matched-gram-run bounds equal the planted slab exactly
    // (first/last clean gram of a slab whose single middle-token edit
    // bridges inside the cluster), so the expected output is the doc
    // with the 359-char slab removed and its two flanking spaces kept
    "q_decontaminate_fuzzy" -> {
      val slab = (1 to 60).map(i => f"qw$i%03d").mkString(" ")
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN substr(text, 1, 40) || '  ' || substr(text, 41)
        |    ELSE text END AS text,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN ${slab.length} ELSE 0 END
        |    AS BIGINT) AS contaminated_chars
        |FROM documents""".stripMargin
    },

    "q_repetition" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         text || ' buy now buy now buy now buy now buy now' AS text
        |  FROM documents WHERE doc_id % 11 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), wg AS (
        |  SELECT doc_id, unnest(tk) AS w FROM tok
        |), ws AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |         CAST(count(DISTINCT w) AS BIGINT) AS distinct_words
        |  FROM wg GROUP BY doc_id
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS gram
        |  FROM tok
        |), bg AS (
        |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_ngrams,
        |         CAST(count(*) AS BIGINT) AS distinct_ngrams,
        |         CAST(max(c) AS BIGINT) AS top_ngram_count
        |  FROM bg GROUP BY doc_id
        |)
        |SELECT tok.doc_id,
        |  coalesce(n_words, 0) AS n_words,
        |  coalesce(distinct_words, 0) AS distinct_words,
        |  coalesce(round(CAST(n_words - distinct_words AS DOUBLE) / n_words, 6), 0.0) AS dup_word_frac,
        |  coalesce(total_ngrams, 0) AS total_ngrams,
        |  coalesce(distinct_ngrams, 0) AS distinct_ngrams,
        |  coalesce(top_ngram_count, 0) AS top_ngram_count,
        |  coalesce(round(CAST(total_ngrams - distinct_ngrams AS DOUBLE) / total_ngrams, 6), 0.0) AS dup_ngram_frac,
        |  coalesce(round(CAST(top_ngram_count AS DOUBLE) / total_ngrams, 6), 0.0) AS top_ngram_frac
        |FROM tok LEFT JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id)""".stripMargin,

    "q_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0)) AS term
        |  FROM documents
        |)
        |SELECT term, count(*) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM td GROUP BY term
        |HAVING count(*) BETWEEN 2 AND 1000""".stripMargin,

    "q_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rank FROM s
        |)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, round(score, 6) AS score
        |FROM r WHERE rank <= 3""".stripMargin,

    // duplicate line/paragraph stats: unit lists rebuilt in SQL,
    // duplicates = total - distinct both by count and by char mass
    "q_line_repetition" ->
      """WITH parts AS (
        |  SELECT doc_id,
        |    coalesce(array_to_string(tk[1:10], ' '), '') AS l1,
        |    coalesce(array_to_string(tk[11:18], ' '), '') AS l2,
        |    coalesce(array_to_string(tk[19:26], ' '), '') AS l3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |), corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN
        |      l1 || chr(10) || l2 || chr(10) || l1 || chr(10) || l1
        |        || chr(10) || chr(10) || l3
        |    WHEN doc_id % 8 = 0 THEN
        |      l1 || chr(10) || l2 || chr(10) || chr(10) || l3
        |        || chr(10) || chr(10) || l3
        |    ELSE l1 || chr(10) || l2 || chr(10) || chr(10) || l3 END AS text
        |  FROM parts
        |), u AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines,
        |    list_filter(regexp_split_to_array(text, '\n\s*\n'),
        |      p -> len(trim(p)) > 0) AS paras
        |  FROM corpus
        |)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CASE WHEN len(lines) > 0 THEN round(
        |    (len(lines) - len(list_distinct(lines)))
        |      / CAST(len(lines) AS DOUBLE), 6) ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(lines, l -> len(l))), 0) > 0
        |    THEN round(
        |      (list_sum(list_transform(lines, l -> len(l)))
        |        - list_sum(list_transform(list_distinct(lines), l -> len(l))))
        |      / CAST(list_sum(list_transform(lines, l -> len(l))) AS DOUBLE),
        |      6) ELSE 0.0 END AS dup_line_char_frac,
        |  CAST(len(paras) AS BIGINT) AS n_paras,
        |  CASE WHEN len(paras) > 0 THEN round(
        |    (len(paras) - len(list_distinct(paras)))
        |      / CAST(len(paras) AS DOUBLE), 6) ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(paras, p -> len(p))), 0) > 0
        |    THEN round(
        |      (list_sum(list_transform(paras, p -> len(p)))
        |        - list_sum(list_transform(list_distinct(paras), p -> len(p))))
        |      / CAST(list_sum(list_transform(paras, p -> len(p))) AS DOUBLE),
        |      6) ELSE 0.0 END AS dup_para_char_frac
        |FROM u""".stripMargin,

    // Gopher rules: the same page assembly, every signal re-derived in
    // SQL (splits, list folds, regex counts), keep decision replayed
    // from the unrounded values
    "q_gopher_filter" ->
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN '• ' ELSE '' END
        |      || coalesce(array_to_string(tk[1:30], ' '), '')
        |      || ' we worked with that team and have seen it be of use to the end'
        |      || CASE WHEN doc_id % 9 = 0
        |        THEN ' # # # # # # # # # #' ELSE '' END
        |      || CASE WHEN doc_id % 17 = 0
        |        THEN '${(1 to 25).map(i => 100 + i).mkString(" ", " ", "")}'
        |        ELSE '' END
        |      || chr(10)
        |      || CASE WHEN doc_id % 11 = 0 THEN '• ' ELSE '' END
        |      || coalesce(array_to_string(tk[31:45], ' '), '')
        |      || CASE WHEN doc_id % 13 = 0
        |        THEN ' ... ... ... ... ... ... ... ...' ELSE '' END
        |      || chr(10)
        |      || CASE WHEN doc_id % 11 = 0 THEN '• ' ELSE '' END
        |      || coalesce(array_to_string(tk[46:60], ' '), '')
        |      || CASE WHEN doc_id % 13 = 0 THEN '…' ELSE '' END
        |      AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |), sig AS (
        |  SELECT doc_id,
        |    len(words) AS g_words,
        |    greatest(CAST(len(words) AS DOUBLE), 1.0) AS wd,
        |    CAST(list_sum(list_transform(words, w -> len(w)))
        |      AS DOUBLE) AS chars,
        |    len(text) - len(replace(text, '#', '')) AS hashes,
        |    (len(text) - len(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3
        |      AS ell3,
        |    len(text) - len(replace(text, '…', '')) AS ellc,
        |    greatest(CAST(len(lines) AS DOUBLE), 1.0) AS ld,
        |    len(list_filter(lines, l ->
        |      regexp_matches(trim(l), '^[•‣▪*-]'))) AS bullets,
        |    len(list_filter(lines, l ->
        |      regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS ells,
        |    len(list_filter(words, w ->
        |      regexp_matches(w, '[A-Za-z]'))) AS alphas,
        |    (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bhave\\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END)
        |      AS g_stopword_hits
        |  FROM (
        |    SELECT doc_id, text,
        |      list_filter(regexp_split_to_array(text, '\\s+'),
        |        w -> len(w) > 0) AS words,
        |      list_filter(string_split(text, chr(10)),
        |        l -> len(trim(l)) > 0) AS lines
        |    FROM corpus
        |  )
        |)
        |SELECT doc_id, CAST(g_words AS BIGINT) AS g_words,
        |  floor(chars / wd * 1000000 + 0.5) / 1000000 AS g_mean_word_len,
        |  floor(hashes / wd * 1000000 + 0.5) / 1000000 AS g_hash_ratio,
        |  floor((ell3 + ellc) / wd * 1000000 + 0.5) / 1000000
        |    AS g_ellipsis_ratio,
        |  floor(bullets / ld * 1000000 + 0.5) / 1000000
        |    AS g_bullet_line_frac,
        |  floor(ells / ld * 1000000 + 0.5) / 1000000
        |    AS g_ellipsis_line_frac,
        |  floor(alphas / wd * 1000000 + 0.5) / 1000000
        |    AS g_alpha_word_frac,
        |  CAST(g_stopword_hits AS BIGINT) AS g_stopword_hits,
        |  (g_words BETWEEN 50 AND 100000
        |    AND chars / wd BETWEEN 3.0 AND 10.0
        |    AND hashes / wd <= 0.1
        |    AND (ell3 + ellc) / wd <= 0.1
        |    AND bullets / ld <= 0.9
        |    AND ells / ld <= 0.3
        |    AND alphas / wd >= 0.8
        |    AND g_stopword_hits >= 2) AS keep
        |FROM sig""".stripMargin,

    // C4 rules: the same 5-line page assembly, then the paper's rules
    // replayed — line keeps (>= 5 words, terminal punct, no
    // javascript), page drops ({ / lorem ipsum on ORIGINAL text),
    // >= 3 terminal marks in the kept text
    "q_c4_filter" ->
      """WITH corpus AS (
        |  -- coalesce each slice: DuckDB's list[a:b] is NULL when
        |  -- a > len (Spark's slice is empty) and || nulls the page
        |  SELECT doc_id,
        |    coalesce(array_to_string(tk[1:8], ' '), '')
        |      || CASE WHEN doc_id % 10 = 0 THEN ' {.' ELSE '.' END
        |      || chr(10) || coalesce(array_to_string(tk[9:14], ' '), '')
        |      || CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum!' ELSE '!' END
        |      || chr(10) || CASE WHEN doc_id % 7 = 0
        |        THEN coalesce(array_to_string(tk[15:17], ' '), '')
        |        ELSE coalesce(array_to_string(tk[15:20], ' '), '') || '?' END
        |      || chr(10) || coalesce(array_to_string(tk[21:24], ' '), '')
        |      || chr(10) || 'please enable javascript to continue viewing.'
        |      AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |), flt AS (
        |  SELECT doc_id, text,
        |    array_to_string(list_filter(string_split(text, chr(10)), l ->
        |      len(list_filter(regexp_split_to_array(l, '\s+'),
        |        w -> len(w) > 0)) >= 5
        |      AND regexp_matches(l, '[.!?"”]\s*$')
        |      AND NOT contains(lower(l), 'javascript')), chr(10)) AS kept
        |  FROM corpus
        |)
        |SELECT doc_id, kept AS text
        |FROM flt
        |WHERE NOT contains(text, '{')
        |  AND NOT contains(lower(text), 'lorem ipsum')
        |  AND len(regexp_replace(kept, '[^.!?]', '', 'g')) >= 3""".stripMargin,

    "q_text_analysis" ->
      """WITH d AS (SELECT doc_id, text || ' The 42 Ok!' AS text FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS uppers,
        |    len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS toks,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit|auf|zu)\b')) AS h_de,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS h_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|los|de|que|es|un|una|por|con)\b')) AS h_es,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un|une|dans|pour|que)\b')) AS h_fr,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM d
        |)
        |SELECT doc_id,
        |  CAST(len AS BIGINT) AS char_len,
        |  CAST(words AS BIGINT) AS word_count,
        |  round(CASE WHEN words > 0 THEN (len - (words - 1)) / words ELSE 0.0 END, 6) AS avg_word_len,
        |  round(punct / greatest(len, 1.0), 6) AS punct_ratio,
        |  round(digits / greatest(len, 1.0), 6) AS digit_ratio,
        |  round(uppers / greatest(len, 1.0), 6) AS upper_ratio,
        |  round(
        |    least(len / 200.0, 1.0) * 0.4
        |    + (1.0 - least(punct / greatest(len, 1.0) * 10.0, 1.0)) * 0.2
        |    + (1.0 - least(digits / greatest(len, 1.0) * 5.0, 1.0)) * 0.2
        |    + (CASE WHEN (len - (words - 1)) / words >= 3
        |            AND (len - (words - 1)) / words <= 10
        |       THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality_score,
        |  CAST(toks AS BIGINT) AS token_estimate,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
        |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |       ELSE 'de' END AS lang_guess,
        |  fp AS fingerprint
        |FROM m""".stripMargin,

    "q_sql_surface" ->
      """WITH j AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM j
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS gram
        |  FROM tok
        |), bg AS (
        |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_bigrams,
        |         CAST(count(*) AS BIGINT) AS distinct_bigrams
        |  FROM bg GROUP BY doc_id
        |)
        |SELECT j.doc_id,
        |  coalesce(total_bigrams, 0) AS total_bigrams,
        |  coalesce(distinct_bigrams, 0) AS distinct_bigrams,
        |  round(sqrt(list_sum(list_transform(j.embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        |FROM j LEFT JOIN bs USING (doc_id)""".stripMargin,

    "q_curation_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' via https://spam.example.com/x'
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || repeat(' buy now', 30)
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 5 = 0
        |), u AS (
        |  SELECT doc_id, text FROM corpus
        |  WHERE coalesce(len(list_filter(
        |    list_distinct(list_transform(regexp_extract_all(text,
        |      '(?i)https?://(?:[^/\s@]*@)?([a-z0-9-]+(?:\.[a-z0-9-]+)*)', 1),
        |      h -> lower(h))),
        |    h -> h = 'spam.example.com' OR ends_with(h, '.spam.example.com'))), 0) = 0
        |), tok AS (
        |  SELECT doc_id, text, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM u
        |), wg AS (
        |  SELECT doc_id, unnest(tk) AS w FROM tok
        |), ws AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |         CAST(count(DISTINCT w) AS BIGINT) AS distinct_words
        |  FROM wg GROUP BY doc_id
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS gram
        |  FROM tok
        |), bg AS (
        |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS tg,
        |         CAST(count(*) AS BIGINT) AS dg, CAST(max(c) AS BIGINT) AS top
        |  FROM bg GROUP BY doc_id
        |), r AS (
        |  SELECT tok.doc_id, tok.text FROM tok
        |  LEFT JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id)
        |  WHERE coalesce(round(CAST(n_words - distinct_words AS DOUBLE) / n_words, 6), 0.0) <= 0.9
        |    AND coalesce(round(CAST(tg - dg AS DOUBLE) / tg, 6), 0.0) <= 0.35
        |    AND coalesce(round(CAST(top AS DOUBLE) / tg, 6), 0.0) <= 0.5
        |), d AS (
        |  SELECT doc_id FROM r QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
        |)
        |SELECT doc_id FROM d
        |WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000 < 500000""".stripMargin,

    "q_dedup_incremental" ->
      """SELECT d.doc_id FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents r
        |  WHERE r.doc_id % 3 = 0 AND r.text IS NOT DISTINCT FROM d.text)""".stripMargin,

    // bloom membership replayed bit-for-bit: the same 31/37 codepoint
    // polynomials mod 2^31-1, Kirsch–Mitzenmacher positions mod m=512,
    // and "member" = every one of the k=3 positions appears in the
    // reference's set-bit set (left join + bool_and) — the 89 in-gate
    // false positives reproduce exactly
    "q_bloom_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(text) + 1), i ->
        |        CAST(ascii(substr(text, CAST(i AS BIGINT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(text) + 1), i ->
        |        CAST(ascii(substr(text, CAST(i AS BIGINT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 37 + b) % 2147483647) AS h2
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, 3), i -> (h1 + i * h2) % 512)) AS p
        |  FROM h
        |), refpos AS (
        |  SELECT DISTINCT p FROM pos WHERE doc_id % 3 = 0
        |)
        |SELECT pos.doc_id, bool_and(refpos.p IS NOT NULL) AS might_seen
        |FROM pos LEFT JOIN refpos ON pos.p = refpos.p
        |GROUP BY pos.doc_id""".stripMargin,

    // the fused code walk replayed as plain string arithmetic: lines
    // via string_split (an empty doc is ONE zero-length line), alnum
    // as a regexp_replace survivor count, blob runs as the longest
    // regexp_extract_all match, autogen as ASCII LIKEs on lower(text)
    "q_code_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(coalesce(list_max(list_transform(string_split(text, chr(10)),
        |    x -> length(x))), 0) AS BIGINT) AS max_line_len,
        |  CAST(coalesce(list_sum(list_transform(string_split(text, chr(10)),
        |    x -> length(x))), 0) AS BIGINT) AS line_chars,
        |  CAST(length(text) AS BIGINT) AS total_chars,
        |  CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
        |    AS BIGINT) AS alnum_chars,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9+/=]+'), x -> length(x))), 0)
        |    AS BIGINT) AS max_b64_run,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(text, '[0-9a-fA-F]+'), x -> length(x))), 0)
        |    AS BIGINT) AS max_hex_run,
        |  (lower(text) LIKE '%auto-generated%'
        |    OR lower(text) LIKE '%autogenerated%'
        |    OR lower(text) LIKE '%automatically generated%'
        |    OR lower(text) LIKE '%generated by%'
        |    OR lower(text) LIKE '%do not edit%') AS autogen
        |FROM documents""".stripMargin,

    // fixture rebuilt verbatim, then the EXACT integer threshold
    // comparisons (cross-multiplied percentages — no float division)
    "q_code_filter" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 7
        |      WHEN 0 THEN '// SPDX-License-Identifier: MIT' || chr(10) ||
        |        'int main_' || CAST(doc_id AS VARCHAR) || '() {' || chr(10) ||
        |        '  return ' || CAST(doc_id % 7 AS VARCHAR) || ';' || chr(10) ||
        |        '}' || chr(10)
        |      WHEN 1 THEN '# Code generated by protoc. DO NOT EDIT.' ||
        |        chr(10) || 'package pb' || chr(10) || 'var x' ||
        |        CAST(doc_id AS VARCHAR) || ' = 1' || chr(10)
        |      WHEN 2 THEN 'payload = "' || repeat('Zm9v+/=8', 80) || '"' ||
        |        chr(10) || repeat('ok;' || chr(10), 400)
        |      WHEN 3 THEN 'digest = ' || repeat('a1b2c3d4', 70) || chr(10) ||
        |        repeat('ok;' || chr(10), 400)
        |      WHEN 4 THEN repeat('xy', 600)
        |      WHEN 5 THEN repeat('$#@! ', 60) || chr(10) || 'end' || chr(10)
        |      ELSE repeat('z ', 495) || chr(10) || 'ok' || chr(10)
        |    END AS code_text
        |  FROM documents
        |), st AS (
        |  SELECT doc_id,
        |    len(string_split(code_text, chr(10))) AS n_lines,
        |    coalesce(list_max(list_transform(string_split(code_text, chr(10)),
        |      x -> length(x))), 0) AS max_line_len,
        |    coalesce(list_sum(list_transform(string_split(code_text, chr(10)),
        |      x -> length(x))), 0) AS line_chars,
        |    length(code_text) AS total_chars,
        |    length(regexp_replace(code_text, '[^A-Za-z0-9]', '', 'g'))
        |      AS alnum_chars,
        |    coalesce(list_max(list_transform(
        |      regexp_extract_all(code_text, '[A-Za-z0-9+/=]+'),
        |      x -> length(x))), 0) AS max_b64_run,
        |    coalesce(list_max(list_transform(
        |      regexp_extract_all(code_text, '[0-9a-fA-F]+'),
        |      x -> length(x))), 0) AS max_hex_run,
        |    (lower(code_text) LIKE '%auto-generated%'
        |      OR lower(code_text) LIKE '%autogenerated%'
        |      OR lower(code_text) LIKE '%automatically generated%'
        |      OR lower(code_text) LIKE '%generated by%'
        |      OR lower(code_text) LIKE '%do not edit%') AS autogen
        |  FROM fixture
        |)
        |SELECT doc_id FROM st
        |WHERE total_chars >= 1 AND max_line_len <= 1000
        |  AND line_chars <= 100 * n_lines
        |  AND alnum_chars * 100 >= 25 * total_chars
        |  AND max_b64_run <= 512 AND max_hex_run <= 512
        |  AND NOT autogen""".stripMargin,

    // license evidence: SPDX header extract (NULL when absent),
    // phrase/allow-list permissive + copyleft booleans, CC path variant
    "q_license_flags" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/* SPDX-License-Identifier: Apache-2.0 */' ||
        |        chr(10) || 'code_' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN 'Permission is hereby granted, free of charge, ' ||
        |        'to any person obtaining a copy' || chr(10) || 'fn f' ||
        |        CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN 'This program is free software: you can ' ||
        |        'redistribute it under the GNU General Public License.' ||
        |        chr(10) || 'mod m' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN '<a href="https://creativecommons.org/licenses/' ||
        |        'by-nc-nd/4.0/">CC BY-NC-ND</a>' || chr(10) ||
        |        CAST(doc_id AS VARCHAR)
        |      WHEN 4 THEN '// SPDX-License-Identifier: GPL-3.0-only' ||
        |        chr(10) || 'struct S' || CAST(doc_id AS VARCHAR)
        |      ELSE 'no license text here ' || CAST(doc_id AS VARCHAR)
        |    END AS code_text
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, code_text,
        |    nullif(regexp_extract(code_text,
        |      'SPDX-License-Identifier:[ \t]*([0-9A-Za-z.+-]+)', 1), '')
        |      AS spdx_id
        |  FROM fixture
        |)
        |SELECT doc_id, spdx_id,
        |  (coalesce(lower(spdx_id) IN ('mit', 'apache-2.0', 'bsd-2-clause',
        |     'bsd-3-clause', 'isc', 'unlicense', 'cc0-1.0', '0bsd', 'zlib'),
        |     FALSE)
        |   OR lower(code_text) LIKE '%permission is hereby granted%'
        |   OR lower(code_text) LIKE
        |     '%redistribution and use in source and binary forms%'
        |   OR lower(code_text) LIKE '%apache license%'
        |   OR lower(code_text) LIKE
        |     '%this is free and unencumbered software%') AS permissive,
        |  (lower(code_text) LIKE '%gnu general public license%'
        |   OR lower(code_text) LIKE '%gnu affero general public license%'
        |   OR lower(code_text) LIKE '%gnu lesser general public license%'
        |   OR coalesce(lower(spdx_id) LIKE 'gpl-%'
        |     OR lower(spdx_id) LIKE 'agpl-%'
        |     OR lower(spdx_id) LIKE 'lgpl-%', FALSE)) AS copyleft,
        |  nullif(regexp_extract(lower(code_text),
        |    'creativecommons\.org/licenses/([a-z-]+)', 1), '') AS cc_variant
        |FROM ex""".stripMargin,

    // the LAION pair construction replayed with the IDENTICAL RE2
    // regexes: tags via regexp_extract_all group 0 (parallel unnest
    // zips the 0-based position), attributes via two quote-style
    // extracts coalesced, then the url-present + alt-length floor
    "q_image_text_pairs" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '<p>intro</p><img src="https://cdn.ex/' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        '/a.jpg" alt="a red bicycle leaning on a wall">' ||
        |        '<img src="https://cdn.ex/' || CAST(doc_id AS VARCHAR) ||
        |        '/b.png" alt="two dogs playing in snow">'
        |      WHEN 1 THEN '<IMG ALT=''portrait of doc ' ||
        |        CAST(doc_id AS VARCHAR) || ''' SRC=''https://cdn.ex/' ||
        |        CAST(doc_id AS VARCHAR) || '/c.webp''>'
        |      WHEN 2 THEN '<img src="https://cdn.ex/' ||
        |        CAST(doc_id AS VARCHAR) || '/d.gif">' ||
        |        '<img src="https://cdn.ex/' || CAST(doc_id AS VARCHAR) ||
        |        '/e.jpg" alt="ok">'
        |      WHEN 3 THEN 'plain text no images ' || CAST(doc_id AS VARCHAR)
        |      ELSE '<img   src = "https://cdn.ex/' ||
        |        CAST(doc_id AS VARCHAR) || '/f.jpg"  alt = "autumn leaves ' ||
        |        'on water" >'
        |    END AS html
        |  FROM documents
        |), tags AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(html, '(?i)<img\b[^>]*>')) AS tag,
        |    CAST(unnest(range(0, len(regexp_extract_all(html,
        |      '(?i)<img\b[^>]*>')))) AS INT) AS img_pos
        |  FROM fixture
        |), attrs AS (
        |  SELECT doc_id, img_pos,
        |    coalesce(nullif(regexp_extract(tag,
        |        '(?i)src\s*=\s*"([^"]*)"', 1), ''),
        |      nullif(regexp_extract(tag,
        |        '(?i)src\s*=\s*''([^'']*)''', 1), '')) AS img_url,
        |    coalesce(nullif(regexp_extract(tag,
        |        '(?i)alt\s*=\s*"([^"]*)"', 1), ''),
        |      nullif(regexp_extract(tag,
        |        '(?i)alt\s*=\s*''([^'']*)''', 1), '')) AS alt_text
        |  FROM tags
        |)
        |SELECT doc_id, img_pos, img_url, alt_text FROM attrs
        |WHERE img_url IS NOT NULL AND length(alt_text) >= 5""".stripMargin,

    // meta-robots consent flags: the same word-bounded token-in-
    // content-attribute patterns, either quote style
    "q_optout_flags" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '<meta name="robots" content="noai, ' ||
        |        'noimageai">page ' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '<meta name=''robots'' content=''noindex, ' ||
        |        'nofollow''>page ' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN 'we discuss noai policies in prose ' ||
        |        CAST(doc_id AS VARCHAR)
        |      ELSE '<meta property="og:title" content="paranoia inc"> ' ||
        |        CAST(doc_id AS VARCHAR)
        |    END AS html
        |  FROM documents
        |)
        |SELECT doc_id,
        |  (regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*"[^"]*\bnoai\b[^"]*"')
        |   OR regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*''[^'']*\bnoai\b[^'']*''')) AS noai,
        |  (regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*"[^"]*\bnoimageai\b[^"]*"')
        |   OR regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*''[^'']*\bnoimageai\b[^'']*'''))
        |    AS noimageai,
        |  (regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*"[^"]*\bnoindex\b[^"]*"')
        |   OR regexp_matches(html,
        |     '(?i)<meta\b[^>]*content\s*=\s*''[^'']*\bnoindex\b[^'']*'''))
        |    AS noindex
        |FROM fixture""".stripMargin,

    // chat verdicts re-derived from the RAW JSON: per-index
    // json_extract_string turns, order-sensitive aggregation for the
    // alternation rule and the role-tagged flatten (string_agg ORDER BY
    // turn index); garbage rows (m=5) carry NULL verdicts via the guard
    "q_chat_stats" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '[{"role":"user","content":"question ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"assistant","content":"answer ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      WHEN 1 THEN '[{"role":"system","content":"be helpful"},' ||
        |        '{"role":"user","content":"hi ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"assistant","content":"hello there"}]'
        |      WHEN 2 THEN '[{"role":"user","content":"a"},' ||
        |        '{"role":"user","content":"b"},' ||
        |        '{"role":"assistant","content":"c ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      WHEN 3 THEN '[{"role":"user","content":"q ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"bot","content":"r"}]'
        |      WHEN 4 THEN '[{"role":"user","content":"u1"},' ||
        |        '{"role":"assistant","content":"a1"},' ||
        |        '{"role":"user","content":"u2 ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      ELSE 'not json ' || CAST(doc_id AS VARCHAR)
        |    END AS j
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, j,
        |    CASE WHEN doc_id % 6 = 5 THEN NULL
        |         ELSE CAST(json_array_length(j) AS INT) END AS n
        |  FROM fixture
        |), idx AS (
        |  SELECT doc_id, j, n, unnest(range(0, n)) AS i FROM t
        |), turns AS (
        |  SELECT doc_id, n, CAST(i AS INT) AS i,
        |    json_extract_string(j, '$[' || i || '].role') AS role,
        |    json_extract_string(j, '$[' || i || '].content') AS content
        |  FROM idx
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) FILTER (role = 'assistant') AS INT) AS n_assistant,
        |    CAST(coalesce(sum(length(content))
        |      FILTER (role = 'assistant'), 0) AS BIGINT) AS assistant_chars,
        |    bool_and(role IN ('system', 'user', 'assistant')
        |      AND content IS NOT NULL) AS roles_valid,
        |    max(CASE WHEN i = 0 AND role = 'system' THEN 1 ELSE 0 END) AS o,
        |    bool_and(role != 'system' OR i = 0) AS sys_head,
        |    string_agg('<|' || role || '|>' || coalesce(content, ''),
        |      chr(10) ORDER BY i) AS flat_text
        |  FROM turns GROUP BY doc_id
        |), alt AS (
        |  SELECT turns.doc_id,
        |    bool_and(CASE WHEN turns.i >= agg.o THEN
        |      turns.role = CASE WHEN (turns.i - agg.o) % 2 = 0
        |        THEN 'user' ELSE 'assistant' END ELSE TRUE END) AS body_ok,
        |    max(turns.n) - max(agg.o) AS body_n
        |  FROM turns JOIN agg USING (doc_id) GROUP BY turns.doc_id
        |)
        |SELECT t.doc_id,
        |  t.n IS NOT NULL AS parsed,
        |  t.n AS n_turns,
        |  CASE WHEN t.n = 0 THEN 0 ELSE agg.n_assistant END AS n_assistant,
        |  CASE WHEN t.n = 0 THEN CAST(0 AS BIGINT)
        |       ELSE agg.assistant_chars END AS assistant_chars,
        |  coalesce(CASE WHEN t.n = 0 THEN TRUE ELSE agg.roles_valid END,
        |    FALSE) AS roles_valid,
        |  coalesce(CASE WHEN t.n IS NULL THEN NULL
        |       WHEN t.n = 0 THEN FALSE
        |       ELSE (agg.sys_head AND alt.body_n >= 2
        |         AND alt.body_n % 2 = 0 AND alt.body_ok) END,
        |    FALSE) AS alternation_valid,
        |  CASE WHEN t.n = 0 THEN '' ELSE agg.flat_text END AS flat_text
        |FROM t
        |LEFT JOIN agg ON t.doc_id = agg.doc_id
        |LEFT JOIN alt ON t.doc_id = alt.doc_id""".stripMargin,

    // loss-mask spans re-derived from the raw JSON: each turn occupies
    // len(role)+4 tag chars + content + 1 newline; window prefix sums
    // give the content start, assistant rows emit [s, e)
    "q_chat_spans" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '[{"role":"user","content":"question ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"assistant","content":"answer ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      WHEN 1 THEN '[{"role":"system","content":"be helpful"},' ||
        |        '{"role":"user","content":"hi ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"assistant","content":"hello there"}]'
        |      WHEN 2 THEN '[{"role":"user","content":"a"},' ||
        |        '{"role":"user","content":"b"},' ||
        |        '{"role":"assistant","content":"c ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      WHEN 3 THEN '[{"role":"user","content":"q ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        ' "},{"role":"bot","content":"r"}]'
        |      WHEN 4 THEN '[{"role":"user","content":"u1"},' ||
        |        '{"role":"assistant","content":"a1"},' ||
        |        '{"role":"user","content":"u2 ' ||
        |        CAST(doc_id AS VARCHAR) || '"}]'
        |      ELSE 'not json ' || CAST(doc_id AS VARCHAR)
        |    END AS j
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, j,
        |    CASE WHEN doc_id % 6 = 5 THEN NULL
        |         ELSE CAST(json_array_length(j) AS INT) END AS n
        |  FROM fixture
        |), idx AS (
        |  SELECT doc_id, j, unnest(range(0, n)) AS i FROM t
        |), turns AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |    json_extract_string(j, '$[' || i || '].role') AS role,
        |    coalesce(json_extract_string(j, '$[' || i || '].content'), '')
        |      AS content
        |  FROM idx
        |), offs AS (
        |  SELECT doc_id, i, role, content,
        |    coalesce(sum(length(role) + length(content) + 5) OVER (
        |      PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + length(role) + 4 AS s
        |  FROM turns
        |), sp AS (
        |  SELECT doc_id, s, s + length(content) AS e,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
        |      AS span_idx
        |  FROM offs WHERE role = 'assistant'
        |)
        |SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
        |  CAST(s AS BIGINT) AS s, CAST(e AS BIGINT) AS e
        |FROM sp""".stripMargin,

    // preference pairs: rank windows replay the struct-ordering
    // tie-breaks exactly (chosen: score DESC, id ASC; rejected: score
    // ASC, id DESC); prompts with one response drop
    "q_preference_pairs" ->
      """WITH fixture AS (
        |  SELECT doc_id, doc_id % 50 AS prompt_id,
        |    'resp ' || CAST(doc_id AS VARCHAR) AS response,
        |    (doc_id * 7) % 3 AS score
        |  FROM documents
        |), ranked AS (
        |  SELECT prompt_id, response, score,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score DESC, doc_id ASC) AS rc,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score ASC, doc_id DESC) AS rr,
        |    count(*) OVER (PARTITION BY prompt_id) AS n
        |  FROM fixture
        |)
        |SELECT prompt_id,
        |  max(CASE WHEN rc = 1 THEN response END) AS chosen,
        |  max(CASE WHEN rr = 1 THEN response END) AS rejected,
        |  max(CASE WHEN rc = 1 THEN score END)
        |    - max(CASE WHEN rr = 1 THEN score END) AS margin
        |FROM ranked WHERE n >= 2
        |GROUP BY prompt_id""".stripMargin,

    // page metadata: the IDENTICAL RE2 regexes (dotall non-greedy
    // title, both attribute orders per meta/link field), nullif('')
    "q_page_meta" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '<html lang="en"><head><title>Doc ' ||
        |        CAST(doc_id AS VARCHAR) || ' overview</title>' || chr(10) ||
        |        '<meta name="description" content="summary of doc ' ||
        |        CAST(doc_id AS VARCHAR) || '">' || chr(10) ||
        |        '<link rel="canonical" href="https://ex.com/' ||
        |        CAST(doc_id AS VARCHAR) || '">' || chr(10) ||
        |        '<meta property="og:title" content="OG ' ||
        |        CAST(doc_id AS VARCHAR) || '">' || chr(10) ||
        |        '<meta property="og:image" content="https://img.ex/' ||
        |        CAST(doc_id AS VARCHAR) || '.jpg"></head>'
        |      WHEN 1 THEN '<html lang="fr"><meta content="rev summary ' ||
        |        CAST(doc_id AS VARCHAR) || '" name="description">' ||
        |        '<link href="https://ex.com/rev/' ||
        |        CAST(doc_id AS VARCHAR) || '" rel="canonical">' ||
        |        '<meta content="REV OG ' || CAST(doc_id AS VARCHAR) ||
        |        '" property="og:title">'
        |      WHEN 2 THEN '<title>first' || chr(10) || 'line ' ||
        |        CAST(doc_id AS VARCHAR) ||
        |        '</title><p>body</p><title>second</title>'
        |      WHEN 3 THEN 'plain prose document ' || CAST(doc_id AS VARCHAR)
        |      ELSE '<title></title><meta name="description" ' ||
        |        'content="">no values'
        |    END AS html
        |  FROM documents
        |)
        |SELECT doc_id,
        |  nullif(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
        |    '') AS page_title,
        |  coalesce(
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*name\s*=\s*"description"[^>]*content\s*=\s*"([^"]*)"', 1), ''),
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*"description"', 1), ''))
        |    AS meta_description,
        |  coalesce(
        |    nullif(regexp_extract(html,
        |      '(?i)<link\b[^>]*rel\s*=\s*"canonical"[^>]*href\s*=\s*"([^"]*)"', 1), ''),
        |    nullif(regexp_extract(html,
        |      '(?i)<link\b[^>]*href\s*=\s*"([^"]*)"[^>]*rel\s*=\s*"canonical"', 1), ''))
        |    AS canonical_url,
        |  coalesce(
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*property\s*=\s*"og:title"[^>]*content\s*=\s*"([^"]*)"', 1), ''),
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*content\s*=\s*"([^"]*)"[^>]*property\s*=\s*"og:title"', 1), ''))
        |    AS og_title,
        |  coalesce(
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*property\s*=\s*"og:image"[^>]*content\s*=\s*"([^"]*)"', 1), ''),
        |    nullif(regexp_extract(html,
        |      '(?i)<meta\b[^>]*content\s*=\s*"([^"]*)"[^>]*property\s*=\s*"og:image"', 1), ''))
        |    AS og_image,
        |  nullif(regexp_extract(html,
        |    '(?i)<html\b[^>]*\blang\s*=\s*"([^"]*)"', 1), '') AS html_lang
        |FROM fixture""".stripMargin,

    // Count-Min replayed exactly: the 31/37 codepoint-polynomial pair,
    // (h1 + i·h2) mod 64 positions, instance-counted cells, and the
    // min-over-depths estimate (left join covers never-hit cells)
    "q_cms_freq" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS tk
        |  FROM documents
        |), tok2 AS (
        |  SELECT tk FROM tok WHERE length(tk) > 0
        |), hh AS (
        |  SELECT tk,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(tk) + 1), i ->
        |        CAST(ascii(substr(tk, CAST(i AS BIGINT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(tk) + 1), i ->
        |        CAST(ascii(substr(tk, CAST(i AS BIGINT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 37 + b) % 2147483647) AS h2
        |  FROM tok2
        |), pos AS (
        |  SELECT tk,
        |    CAST(unnest(range(0, 4)) AS INT) AS depth,
        |    unnest(list_transform(range(0, 4), i -> (h1 + i * h2) % 64))
        |      AS pos
        |  FROM hh
        |), cms AS (
        |  SELECT depth, pos, count(*) AS cnt FROM pos GROUP BY depth, pos
        |), probe AS (
        |  SELECT DISTINCT tk, depth, pos FROM pos
        |)
        |SELECT probe.tk,
        |  CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
        |FROM probe LEFT JOIN cms USING (depth, pos)
        |GROUP BY probe.tk""".stripMargin,

    // FIM replayed exactly: the Knuth portable hash chain (((x mod P) *
    // K) mod P mod 10^6 — every product < 2^63), selection at rate*10^6,
    // cut points by modulo, and the PSM string rebuild
    "q_code_fim" ->
      """WITH p AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    ((((doc_id + 42) % 1000000007) * 2654435761) % 1000000007)
        |      % 1000000 < 500000 AS fim,
        |    ((((doc_id * 2 + 43) % 1000000007) * 2654435761) % 1000000007)
        |      % 1000000 % (length(text) + 1) AS a
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, len, fim, a,
        |    ((((doc_id * 3 + 44) % 1000000007) * 2654435761) % 1000000007)
        |      % 1000000 % (len - a + 1) AS bl
        |  FROM p
        |)
        |SELECT doc_id, fim,
        |  CASE WHEN fim THEN
        |    '<fim_prefix>' || substr(text, 1, a) ||
        |    '<fim_suffix>' || substr(text, a + bl + 1, len - a - bl) ||
        |    '<fim_middle>' || substr(text, a + 1, bl)
        |  ELSE text END AS text
        |FROM c""".stripMargin,

    "q_curation_incremental" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 5 = 0
        |), fresh AS (
        |  SELECT doc_id, text FROM corpus c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE r.doc_id % 4 = 0 AND r.text IS NOT DISTINCT FROM c.text)
        |)
        |SELECT doc_id FROM fresh
        |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)""".stripMargin,

    "q_dedup_incremental_near" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text || ' graft dup tail' AS text
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id, text || ' graft dup tail' AS text
        |  FROM documents WHERE doc_id % 4 = 2
        |), shc AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM corpus)
        |), shr AS (
        |  SELECT list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS sh
        |  FROM (SELECT regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM documents WHERE doc_id % 4 = 0)
        |)
        |SELECT c.doc_id FROM shc c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM shr r
        |  WHERE CAST(len(list_intersect(c.sh, r.sh)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(c.sh, r.sh))) AS DOUBLE) >= 0.5)""".stripMargin,

    "q_lm_score" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' zzqqxx wwyyvv jjkkqq' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |), tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) AS w
        |  FROM corpus
        |), cnt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w
        |), n AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt
        |), vocab AS (
        |  SELECT w, cnt FROM cnt ORDER BY cnt DESC, w LIMIT 30
        |), sc AS (
        |  SELECT t.doc_id,
        |    ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / n.total) AS lp
        |  FROM tok t LEFT JOIN vocab v ON t.w = v.w CROSS JOIN n
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         avg(lp) AS alp
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT corpus.doc_id,
        |  coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(round(alp, 6), 0.0) AS avg_logprob
        |FROM corpus LEFT JOIN per USING (doc_id)""".stripMargin,

    // q_collocations: adjacent pairs via the same index arithmetic,
    // exact counts, one identically-spelled log ratio, (pmi desc, w1,
    // w2) top-k
    "q_collocations" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\W+'),
        |    x -> x <> '') AS tk
        |  FROM documents
        |), pr AS (
        |  SELECT r['w1'] AS w1, r['w2'] AS w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS r
        |    FROM tok)
        |), pc AS (
        |  SELECT w1, w2, count(*) AS pair_count
        |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 5
        |), uni AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(tk) AS w FROM tok) GROUP BY w
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS t FROM uni
        |)
        |SELECT w1, w2, pair_count, u1.cnt AS c1, u2.cnt AS c2,
        |  floor(ln(CAST(pair_count AS DOUBLE) * CAST(t AS DOUBLE)
        |    / (CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)))
        |    * 1e6 + 0.5) / 1e6 AS pmi
        |FROM pc
        |JOIN uni u1 ON u1.w = pc.w1
        |JOIN uni u2 ON u2.w = pc.w2, tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin,

    // q_ccnet_buckets: replay unigram scoring (same CTEs as q_lm_score,
    // plain corpus), negate the rounded score into the perplexity
    // proxy, pick the ceil(n/3)/ceil(2n/3)-th smallest proxies as tier
    // cutoffs (position-k value of the sorted multiset — identical to
    // the engine's min-v-with-cumulative>=k), and assign by <=
    "q_ccnet_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) AS w
        |  FROM documents
        |), cnt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w
        |), n AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt
        |), vocab AS (
        |  SELECT w, cnt FROM cnt ORDER BY cnt DESC, w LIMIT 30
        |), sc AS (
        |  SELECT t.doc_id,
        |    ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / n.total) AS lp
        |  FROM tok t LEFT JOIN vocab v ON t.w = v.w CROSS JOIN n
        |), p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         -round(avg(lp), 6) AS perplexity_proxy
        |  FROM sc GROUP BY doc_id
        |), ranked AS (
        |  SELECT perplexity_proxy AS v,
        |         row_number() OVER (ORDER BY perplexity_proxy) AS rn,
        |         count(*) OVER () AS nn
        |  FROM p
        |), th AS (
        |  SELECT
        |    max(CASE WHEN rn = CAST(ceil(nn / 3.0) AS BIGINT)
        |        THEN v END) AS t1,
        |    max(CASE WHEN rn = CAST(ceil(2 * nn / 3.0) AS BIGINT)
        |        THEN v END) AS t2
        |  FROM ranked
        |)
        |SELECT doc_id, n_tokens, perplexity_proxy,
        |  CASE WHEN perplexity_proxy <= t1 THEN 'head'
        |       WHEN perplexity_proxy <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM p, th""".stripMargin,

    // q_script_profile: each class re-counted by an RE2 script strip
    // (RE2 \p{Script} and Java Character.UnicodeScript agree on these
    // codepoints); digit is spelled [0-9] because the fixture's only
    // Nd codepoints are ASCII (script digits would count as their
    // script under the engine's precedence); dominant = alphabetically
    // first script reaching the max, 'none' when no script codepoint
    "q_script_profile" ->
      """WITH tagged AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 7 = 0 THEN text || ' привет мир'
        |    WHEN doc_id % 7 = 1 THEN text || ' 机器 学习 模型'
        |    WHEN doc_id % 7 = 2 THEN text || ' مرحبا שלום'
        |    WHEN doc_id % 7 = 3 THEN text || ' こんにちは 한국'
        |    ELSE text END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    len(text) AS n_chars,
        |    len(regexp_replace(text, '[^\p{Arabic}]', '', 'g')) AS arabic,
        |    len(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS cyrillic,
        |    len(regexp_replace(text, '[^\p{Devanagari}]', '', 'g')) AS devanagari,
        |    len(regexp_replace(text, '[^\p{Greek}]', '', 'g')) AS greek,
        |    len(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS han,
        |    len(regexp_replace(text, '[^\p{Hangul}]', '', 'g')) AS hangul,
        |    len(regexp_replace(text, '[^\p{Hebrew}]', '', 'g')) AS hebrew,
        |    len(regexp_replace(text, '[^\p{Hiragana}\p{Katakana}]', '', 'g')) AS kana,
        |    len(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS latin,
        |    len(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
        |    len(regexp_replace(text, '[^\t\n\x0B\f\r ]', '', 'g')) AS space
        |  FROM tagged
        |), g AS (
        |  SELECT *, greatest(arabic, cyrillic, devanagari, greek, han,
        |    hangul, hebrew, kana, latin) AS mx FROM c
        |)
        |SELECT doc_id, n_chars, arabic, cyrillic, devanagari, greek,
        |  han, hangul, hebrew, kana, latin, digit, space,
        |  n_chars - arabic - cyrillic - devanagari - greek - han
        |    - hangul - hebrew - kana - latin - digit - space AS other,
        |  CASE WHEN mx = 0 THEN 'none'
        |       WHEN arabic = mx THEN 'arabic'
        |       WHEN cyrillic = mx THEN 'cyrillic'
        |       WHEN devanagari = mx THEN 'devanagari'
        |       WHEN greek = mx THEN 'greek'
        |       WHEN han = mx THEN 'han'
        |       WHEN hangul = mx THEN 'hangul'
        |       WHEN hebrew = mx THEN 'hebrew'
        |       WHEN kana = mx THEN 'kana'
        |       ELSE 'latin' END AS dominant
        |FROM g""".stripMargin,

    // q_nb_classify: full train+score replay. P(w|c) = (cnt+1)/(tokc+
    // V+1) with the +1 pseudo-word absorbing OOV mass; unseen-in-class
    // vocab words take the same floor (COALESCE to oov). Priors are
    // document frequencies over the labeled seed. predicted = first
    // label (asc) whose unrounded score reaches the max.
    "q_nb_classify" ->
      """WITH train AS (
        |  SELECT lang, text FROM documents WHERE doc_id % 3 = 0
        |), tok AS (
        |  SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) AS w
        |  FROM train
        |), cnt AS (
        |  SELECT w, count(*) AS cnt FROM tok GROUP BY w
        |), vocab AS (
        |  SELECT w FROM cnt ORDER BY cnt DESC, w LIMIT 200
        |), vc AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab
        |), ccnt AS (
        |  SELECT lang, w, count(*) AS cnt FROM tok
        |  WHERE w IN (SELECT w FROM vocab) GROUP BY 1, 2
        |), tokc AS (
        |  SELECT lang, CAST(sum(cnt) AS DOUBLE) AS tokc FROM ccnt GROUP BY 1
        |), docs_c AS (
        |  SELECT lang, count(*) AS ndocs FROM train GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(ndocs) AS DOUBLE) AS tot FROM docs_c
        |), stats AS (
        |  SELECT d.lang, ln(d.ndocs / t.tot) AS log_prior,
        |    ln(1.0 / (COALESCE(k.tokc, 0) + (SELECT v FROM vc) + 1.0)) AS oov
        |  FROM docs_c d CROSS JOIN tot t LEFT JOIN tokc k ON d.lang = k.lang
        |), model AS (
        |  SELECT c.w, c.lang,
        |    ln((c.cnt + 1.0) / (k.tokc + (SELECT v FROM vc) + 1.0)) AS lik
        |  FROM ccnt c JOIN tokc k ON c.lang = k.lang
        |), dtok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) AS w
        |  FROM documents
        |), persc AS (
        |  SELECT t.doc_id, s.lang,
        |    s.log_prior + sum(COALESCE(m.lik, s.oov)) AS score
        |  FROM dtok t CROSS JOIN stats s
        |  LEFT JOIN model m ON m.w = t.w AND m.lang = s.lang
        |  GROUP BY t.doc_id, s.lang, s.log_prior
        |), wide AS (
        |  SELECT doc_id,
        |    max(CASE WHEN lang = 'de' THEN score END) AS f_de,
        |    max(CASE WHEN lang = 'en' THEN score END) AS f_en,
        |    max(CASE WHEN lang = 'es' THEN score END) AS f_es,
        |    max(CASE WHEN lang = 'fr' THEN score END) AS f_fr,
        |    max(CASE WHEN lang = 'zh' THEN score END) AS f_zh
        |  FROM persc GROUP BY doc_id
        |), ntok AS (
        |  SELECT doc_id, count(*) AS n_tokens FROM dtok GROUP BY 1
        |), pri AS (
        |  SELECT
        |    max(CASE WHEN lang = 'de' THEN log_prior END) AS p_de,
        |    max(CASE WHEN lang = 'en' THEN log_prior END) AS p_en,
        |    max(CASE WHEN lang = 'es' THEN log_prior END) AS p_es,
        |    max(CASE WHEN lang = 'fr' THEN log_prior END) AS p_fr,
        |    max(CASE WHEN lang = 'zh' THEN log_prior END) AS p_zh
        |  FROM stats
        |)
        |SELECT d.doc_id, COALESCE(n.n_tokens, 0) AS n_tokens,
        |  round(COALESCE(w.f_de, pri.p_de), 6) AS score_de,
        |  round(COALESCE(w.f_en, pri.p_en), 6) AS score_en,
        |  round(COALESCE(w.f_es, pri.p_es), 6) AS score_es,
        |  round(COALESCE(w.f_fr, pri.p_fr), 6) AS score_fr,
        |  round(COALESCE(w.f_zh, pri.p_zh), 6) AS score_zh,
        |  CASE
        |    WHEN COALESCE(w.f_de, pri.p_de) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'de'
        |    WHEN COALESCE(w.f_en, pri.p_en) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'en'
        |    WHEN COALESCE(w.f_es, pri.p_es) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'es'
        |    WHEN COALESCE(w.f_fr, pri.p_fr) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'fr'
        |    ELSE 'zh' END AS predicted
        |FROM documents d
        |LEFT JOIN wide w ON d.doc_id = w.doc_id
        |LEFT JOIN ntok n ON d.doc_id = n.doc_id
        |CROSS JOIN pri""".stripMargin,

    // q_lang_id: the nb replay with char 2-3-gram features — grams of
    // lower(text) at every position (duplicates kept: Spark scores per
    // POSITION via aggregate over the gram array, so the oracle sums
    // over the unnest, not over distinct grams). Vocab cut 300, count
    // desc then gram asc — both engines binary-compare ASCII.
    "q_lang_id" ->
      """WITH g AS (
        |  SELECT doc_id, lang, lower(text) AS t FROM documents
        |), train_g AS (
        |  SELECT lang, unnest(list_concat(
        |    list_transform(range(1, len(t)), i -> substr(t, i, 2)),
        |    list_transform(range(1, len(t) - 1), i -> substr(t, i, 3)))) AS w
        |  FROM g WHERE doc_id % 3 = 0
        |), cnt AS (
        |  SELECT w, count(*) AS cnt FROM train_g GROUP BY w
        |), vocab AS (
        |  SELECT w FROM cnt ORDER BY cnt DESC, w LIMIT 300
        |), vc AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab
        |), ccnt AS (
        |  SELECT lang, w, count(*) AS cnt FROM train_g
        |  WHERE w IN (SELECT w FROM vocab) GROUP BY 1, 2
        |), tokc AS (
        |  SELECT lang, CAST(sum(cnt) AS DOUBLE) AS tokc FROM ccnt GROUP BY 1
        |), docs_c AS (
        |  SELECT lang, count(*) AS ndocs FROM documents
        |  WHERE doc_id % 3 = 0 GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(ndocs) AS DOUBLE) AS tot FROM docs_c
        |), stats AS (
        |  SELECT d.lang, ln(d.ndocs / t.tot) AS log_prior,
        |    ln(1.0 / (COALESCE(k.tokc, 0) + (SELECT v FROM vc) + 1.0)) AS oov
        |  FROM docs_c d CROSS JOIN tot t LEFT JOIN tokc k ON d.lang = k.lang
        |), model AS (
        |  SELECT c.w, c.lang,
        |    ln((c.cnt + 1.0) / (k.tokc + (SELECT v FROM vc) + 1.0)) AS lik
        |  FROM ccnt c JOIN tokc k ON c.lang = k.lang
        |), dtok AS (
        |  SELECT doc_id, unnest(list_concat(
        |    list_transform(range(1, len(t)), i -> substr(t, i, 2)),
        |    list_transform(range(1, len(t) - 1), i -> substr(t, i, 3)))) AS w
        |  FROM g
        |), persc AS (
        |  SELECT t.doc_id, s.lang,
        |    s.log_prior + sum(COALESCE(m.lik, s.oov)) AS score
        |  FROM dtok t CROSS JOIN stats s
        |  LEFT JOIN model m ON m.w = t.w AND m.lang = s.lang
        |  GROUP BY t.doc_id, s.lang, s.log_prior
        |), wide AS (
        |  SELECT doc_id,
        |    max(CASE WHEN lang = 'de' THEN score END) AS f_de,
        |    max(CASE WHEN lang = 'en' THEN score END) AS f_en,
        |    max(CASE WHEN lang = 'es' THEN score END) AS f_es,
        |    max(CASE WHEN lang = 'fr' THEN score END) AS f_fr,
        |    max(CASE WHEN lang = 'zh' THEN score END) AS f_zh
        |  FROM persc GROUP BY doc_id
        |), ntok AS (
        |  SELECT doc_id, count(*) AS n_grams FROM dtok GROUP BY 1
        |), pri AS (
        |  SELECT
        |    max(CASE WHEN lang = 'de' THEN log_prior END) AS p_de,
        |    max(CASE WHEN lang = 'en' THEN log_prior END) AS p_en,
        |    max(CASE WHEN lang = 'es' THEN log_prior END) AS p_es,
        |    max(CASE WHEN lang = 'fr' THEN log_prior END) AS p_fr,
        |    max(CASE WHEN lang = 'zh' THEN log_prior END) AS p_zh
        |  FROM stats
        |)
        |SELECT d.doc_id, COALESCE(n.n_grams, 0) AS n_grams,
        |  round(COALESCE(w.f_de, pri.p_de), 6) AS score_de,
        |  round(COALESCE(w.f_en, pri.p_en), 6) AS score_en,
        |  round(COALESCE(w.f_es, pri.p_es), 6) AS score_es,
        |  round(COALESCE(w.f_fr, pri.p_fr), 6) AS score_fr,
        |  round(COALESCE(w.f_zh, pri.p_zh), 6) AS score_zh,
        |  CASE
        |    WHEN COALESCE(w.f_de, pri.p_de) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'de'
        |    WHEN COALESCE(w.f_en, pri.p_en) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'en'
        |    WHEN COALESCE(w.f_es, pri.p_es) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'es'
        |    WHEN COALESCE(w.f_fr, pri.p_fr) >= greatest(
        |      COALESCE(w.f_de, pri.p_de), COALESCE(w.f_en, pri.p_en),
        |      COALESCE(w.f_es, pri.p_es), COALESCE(w.f_fr, pri.p_fr),
        |      COALESCE(w.f_zh, pri.p_zh)) THEN 'fr'
        |    ELSE 'zh' END AS lang_id
        |FROM documents d
        |LEFT JOIN wide w ON d.doc_id = w.doc_id
        |LEFT JOIN ntok n ON d.doc_id = n.doc_id
        |CROSS JOIN pri""".stripMargin,

    "q_lm_bigram" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000 AS doc_id,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 0
        |), toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS ts
        |  FROM corpus
        |), pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ts))) AS i, ts FROM toks
        |), tp AS (
        |  SELECT doc_id, CASE WHEN i > 1 THEN ts[i-1] END AS prev, ts[i] AS w
        |  FROM pos
        |), cnt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tp GROUP BY w
        |), n AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt
        |), vocab AS (
        |  SELECT w, cnt FROM cnt ORDER BY cnt DESC, w LIMIT 30
        |), bi AS (
        |  SELECT prev, w, CAST(count(*) AS BIGINT) AS bcnt FROM tp
        |  WHERE prev IS NOT NULL AND prev IN (SELECT w FROM vocab)
        |  GROUP BY prev, w ORDER BY bcnt DESC, prev, w LIMIT 100
        |), sc AS (
        |  SELECT t.doc_id,
        |    CASE
        |      WHEN t.prev IS NULL
        |        THEN ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / n.total)
        |      WHEN b.bcnt IS NOT NULL AND pv.cnt IS NOT NULL
        |        THEN ln(CAST(b.bcnt AS DOUBLE) / CAST(pv.cnt AS DOUBLE))
        |      ELSE ln(0.4) + ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / n.total)
        |    END AS lp
        |  FROM tp t
        |  LEFT JOIN bi b ON t.prev = b.prev AND t.w = b.w
        |  LEFT JOIN vocab pv ON t.prev = pv.w
        |  LEFT JOIN vocab v ON t.w = v.w
        |  CROSS JOIN n
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         avg(lp) AS alp
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT corpus.doc_id,
        |  coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(round(alp, 6), 0.0) AS avg_logscore
        |FROM corpus LEFT JOIN per USING (doc_id)""".stripMargin,

    // nfc: the decomposed fixture is appended via chr() code points
    // (U+0301 combining acute, U+0308 combining diaeresis); DuckDB's
    // nfc_normalize implements the same UAX #15 composition as
    // java.text.Normalizer
    "q_nfc_normalize" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' cafe' || chr(769) || ' over Zu' || chr(776) || 'rich' AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT doc_id, nfc_normalize(text) AS text FROM c""".stripMargin,

    // generated from the SAME MojibakeFixes table + shared snippet —
    // the two sides cannot drift by construction
    "q_fix_mojibake" -> {
      def q(sx: String) = sx.replace("'", "''")
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' ${q(mojibakeBadSnippet)}'
         |         ELSE text END AS text
         |  FROM documents
         |)
         |SELECT doc_id, ${TextAnalysis.mojibakeSql("text")} AS text FROM c""".stripMargin
    },

    "q_strip_html" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>p { color: red; }</style></head><body><p class="c">'
        |      || text ||
        |      '</p><br/>Tom &amp; Jerry &lt;3&nbsp;&quot;quoted&quot;</body></html>'
        |    ELSE text END AS text
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM c
        |), s2 AS (
        |  SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1
        |), s3 AS (
        |  SELECT doc_id, regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') AS t FROM s2
        |), s4 AS (
        |  SELECT doc_id, replace(replace(replace(replace(replace(replace(replace(t,
        |    '&lt;','<'), '&gt;','>'), '&quot;','"'), '&#39;',''''), '&apos;',''''),
        |    '&nbsp;',' '), '&amp;','&') AS t FROM s3
        |)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text FROM s4""".stripMargin,

    // line dedup: doc-frequency by unit STRING (Spark counts by
    // xxhash64 of the unit — identical modulo 64-bit collisions),
    // positional rebuild via zipped unnest + ordered string_agg
    "q_line_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    text
        |      || CASE WHEN doc_id % 3 = 0
        |              THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END
        |      || CASE WHEN doc_id % 4 = 0
        |              THEN chr(10) || 'Copyright 2024 Example Corp' ELSE '' END AS text
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\n') AS l FROM c
        |), u AS (
        |  SELECT doc_id, unnest(l) AS unit, unnest(range(len(l))) AS i FROM sp
        |), common AS (
        |  SELECT unit FROM u WHERE trim(unit) <> ''
        |  GROUP BY unit HAVING count(DISTINCT doc_id) >= 5
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(unit, chr(10) ORDER BY i) AS text
        |  FROM u WHERE unit NOT IN (SELECT unit FROM common)
        |  GROUP BY doc_id
        |)
        |SELECT c.doc_id, coalesce(r.text, '') AS text
        |FROM c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id""".stripMargin,

    "q_repeated_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' with an appended trailing remark' AS text
        |  FROM documents WHERE doc_id % 9 = 0
        |), w AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(text) - 38, 20),
        |    p -> substr(text, p, 40))) AS win
        |  FROM corpus WHERE len(text) >= 40
        |), occ AS (
        |  SELECT win, count(*) AS c FROM w GROUP BY win
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |         CAST(count(CASE WHEN c >= 2 THEN 1 END) AS BIGINT) AS n_repeated
        |  FROM w JOIN occ USING (win) GROUP BY doc_id
        |)
        |SELECT corpus.doc_id,
        |  coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_repeated, 0) AS n_repeated,
        |  coalesce(round(CAST(n_repeated AS DOUBLE) / n_windows, 6), 0.0) AS repeated_frac
        |FROM corpus LEFT JOIN per USING (doc_id)""".stripMargin,

    // url filter (broadcast-table path): survivors of the suffix rule
    "q_url_filter_large" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' see https://spam.example.com/page and https://Ok-Site.org:8080/x plus http://spam.example.com again' AS text
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    text || ' via http://evil.spam.example.com/z and https://notspam.example.com/ok' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |)
        |SELECT doc_id FROM corpus
        |WHERE coalesce(len(list_filter(
        |  list_distinct(list_transform(regexp_extract_all(text,
        |    '(?i)https?://(?:[^/\s@]*@)?([a-z0-9-]+(?:\.[a-z0-9-]+)*)', 1),
        |    h -> lower(h))),
        |  h -> h = 'spam.example.com' OR ends_with(h, '.spam.example.com'))), 0) = 0""".stripMargin,

    // url canonicalization: the SAME three RE2 regexp passes (shared
    // alternation interpolated from Urls.trackingAlt) over the same
    // planted URLs — DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all default
    "q_url_canonicalize" ->
      ("""WITH planted AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 7) || '.example.com/a/'
        |      || doc_id || '?utm_source=s' || doc_id || '&page='
        |      || (doc_id % 5) || '&FBCLID=f' || doc_id
        |      || '#sec and https://t.example.org/x?gclid=g' || doc_id
        |      || '&utm_medium=email' AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '(?i)&__ALT__=[^&#\s]*', '', 'g'),
        |      '(?i)\?__ALT__=[^&#\s]*&', '?', 'g'),
        |    '(?i)\?__ALT__=[^&#\s]*', '', 'g') AS canonical_text
        |FROM planted""").stripMargin
        .replace("__ALT__", graft.llm.Urls.trackingAlt()),

    // filter_spans: the q_repeated_spans derivation + the rounded-frac
    // drop decision (stats rounds to 6dp BEFORE the threshold compare)
    "q_filter_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' with an appended trailing remark' AS text
        |  FROM documents WHERE doc_id % 9 = 0
        |), w AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(text) - 38, 20),
        |    p -> substr(text, p, 40))) AS win
        |  FROM corpus WHERE len(text) >= 40
        |), occ AS (
        |  SELECT win, count(*) AS c FROM w GROUP BY win
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |         CAST(count(CASE WHEN c >= 2 THEN 1 END) AS BIGINT) AS n_repeated
        |  FROM w JOIN occ USING (win) GROUP BY doc_id
        |)
        |SELECT corpus.doc_id
        |FROM corpus LEFT JOIN per USING (doc_id)
        |WHERE coalesce(round(CAST(n_repeated AS DOUBLE) / n_windows, 6), 0.0) <= 0.2""".stripMargin,

    // span excision: windows by CONTENT (the operator compares by
    // 64-bit hash — identical up to 2^-64 collisions), keeper = min
    // (doc_id, off) encoded as doc_id*1e7+off (off << 1e7), interval
    // merge via gaps-and-islands, rebuild via ordered substr segments
    "q_span_excise" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' with an appended trailing remark' AS text
        |  FROM documents WHERE doc_id % 9 = 0
        |), w0 AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, len(text) - 38, 20)) AS p
        |  FROM corpus WHERE len(text) >= 40
        |), w AS (
        |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS off,
        |    substr(text, CAST(p AS BIGINT), 40) AS win
        |  FROM w0
        |), occ AS (
        |  SELECT win, count(*) AS c,
        |    min(doc_id * 10000000 + off) AS keep
        |  FROM w GROUP BY win
        |), ex AS (
        |  SELECT w.doc_id, w.off AS s, w.off + 40 AS e
        |  FROM w JOIN occ USING (win)
        |  WHERE c >= 2 AND w.doc_id * 10000000 + w.off <> keep
        |), fl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS f
        |  FROM ex
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM fl
        |), mg AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM isl GROUP BY doc_id, g
        |), seg AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks,
        |    s AS ke
        |  FROM mg
        |  UNION ALL
        |  SELECT doc_id, max(e) AS ks, NULL AS ke
        |  FROM mg GROUP BY doc_id
        |), reb AS (
        |  SELECT sg.doc_id,
        |    string_agg(substr(c.text, CAST(sg.ks AS BIGINT) + 1,
        |      coalesce(sg.ke, len(c.text)) - sg.ks), '' ORDER BY sg.ks)
        |      AS text
        |  FROM seg sg JOIN corpus c USING (doc_id)
        |  GROUP BY sg.doc_id
        |)
        |SELECT c.doc_id,
        |  CASE WHEN r.doc_id IS NULL THEN c.text ELSE r.text END AS text
        |FROM corpus c LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // substring dedup: 50-TOKEN windows by CONTENT (the operator
    // hashes the whitespace-normalized window — identical up to 2^-64
    // collisions; corpus text is single-spaced so the raw slice IS the
    // normalized content); char offsets from a cumulative token-length
    // window (linear, not the quadratic array_to_string-per-window
    // spelling); cross-doc test = min(doc_id) <> max(doc_id); keeper /
    // islands / rebuild exactly as q_span_excise
    "q_substring_dedup" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    text || ' ${substringDedupPassage}' AS text
        |  FROM documents WHERE doc_id % 7 = 0
        |), tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
        |), base AS (
        |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i,
        |    unnest(tk) AS t
        |  FROM tok
        |), tpos AS (
        |  SELECT doc_id, i, t,
        |    sum(len(t)) OVER (PARTITION BY doc_id ORDER BY i)
        |      - len(t) + i - 1 AS toff
        |  FROM base
        |), tw AS (
        |  SELECT doc_id, CAST(toff AS BIGINT) AS s,
        |    CAST(lead(toff + len(t), 49)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS e
        |  FROM tpos
        |), w AS (
        |  SELECT tw.doc_id, s, e, substr(c.text, s + 1, e - s) AS win
        |  FROM tw JOIN corpus c USING (doc_id)
        |  WHERE e IS NOT NULL
        |), occ AS (
        |  SELECT win, min(doc_id * 10000000 + s) AS keep
        |  FROM w GROUP BY win
        |  HAVING min(doc_id) <> max(doc_id)
        |), ex AS (
        |  SELECT w.doc_id, w.s, w.e
        |  FROM w JOIN occ USING (win)
        |  WHERE w.doc_id * 10000000 + w.s <> keep
        |), fl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS f
        |  FROM ex
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM fl
        |), mg AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM isl GROUP BY doc_id, g
        |), seg AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks,
        |    s AS ke
        |  FROM mg
        |  UNION ALL
        |  SELECT doc_id, max(e) AS ks, NULL AS ke
        |  FROM mg GROUP BY doc_id
        |), reb AS (
        |  SELECT sg.doc_id,
        |    string_agg(substr(c.text, CAST(sg.ks AS BIGINT) + 1,
        |      coalesce(sg.ke, len(c.text)) - sg.ks), '' ORDER BY sg.ks)
        |      AS text
        |  FROM seg sg JOIN corpus c USING (doc_id)
        |  GROUP BY sg.doc_id
        |)
        |SELECT c.doc_id,
        |  CASE WHEN r.doc_id IS NULL THEN c.text ELSE r.text END AS text
        |FROM corpus c LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // winnowing: grams (pos 0-based), polynomial hash via list_reduce,
    // window start ws in 0..max(ng-w, 0) (short docs → one truncated
    // window), per-window min then rightmost position among minima,
    // distinct selections
    "q_winnow_fingerprints" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, 26), j ->
        |          CAST(ascii(substr(text, CAST(i + j - 1 AS BIGINT), 1))
        |            AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h
        |  FROM (
        |    SELECT doc_id, text, unnest(range(1, len(text) - 25 + 2)) AS i
        |    FROM documents WHERE len(text) >= 25
        |  )
        |), ng AS (
        |  SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
        |), win AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(n - 16, 0) + 1)) AS ws
        |  FROM ng
        |), wmin AS (
        |  SELECT w.doc_id, w.ws, min(g.h) AS mh
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.pos >= w.ws AND g.pos < w.ws + 16
        |  GROUP BY w.doc_id, w.ws
        |), sel AS (
        |  SELECT m.doc_id, max(g.pos) AS pos, m.mh AS fp
        |  FROM wmin m JOIN g ON g.doc_id = m.doc_id
        |    AND g.pos >= m.ws AND g.pos < m.ws + 16 AND g.h = m.mh
        |  GROUP BY m.doc_id, m.ws, m.mh
        |)
        |SELECT DISTINCT doc_id, CAST(pos AS INTEGER) AS pos, fp
        |FROM sel""".stripMargin,

    "q_boilerplate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' all rights reserved click here to subscribe' AS text
        |  FROM documents WHERE doc_id % 4 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))) AS gram
        |  FROM tok
        |), dfq AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq FROM g GROUP BY gram
        |)
        |SELECT gram, doc_freq FROM dfq
        |WHERE doc_freq >= CAST(ceil(0.15 * (SELECT count(*) FROM corpus)) AS BIGINT)""".stripMargin,

    "q_boilerplate_score" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' all rights reserved click here to subscribe' AS text
        |  FROM documents WHERE doc_id % 4 = 0
        |), tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) AS tk
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))) AS gram
        |  FROM tok
        |), dfq AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq FROM g GROUP BY gram
        |), boiler AS (
        |  SELECT gram FROM dfq
        |  WHERE doc_freq >= CAST(ceil(0.15 * (SELECT count(*) FROM corpus)) AS BIGINT)
        |), per AS (
        |  SELECT g.doc_id,
        |    CAST(count(b.gram) AS BIGINT) AS boiler_grams,
        |    CAST(count(*) AS BIGINT) AS total_grams
        |  FROM g LEFT JOIN boiler b USING (gram) GROUP BY g.doc_id
        |)
        |SELECT corpus.doc_id,
        |  coalesce(boiler_grams, 0) AS boiler_grams,
        |  coalesce(total_grams, 0) AS total_grams,
        |  coalesce(round(CAST(boiler_grams AS DOUBLE) / total_grams, 6), 0.0) AS boiler_frac
        |FROM corpus LEFT JOIN per USING (doc_id)""".stripMargin,

    "q_url_analysis" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || ' see https://spam.example.com/page and https://Ok-Site.org:8080/x plus http://spam.example.com again' AS text
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    text || ' via http://evil.spam.example.com/z and https://notspam.example.com/ok' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |), d AS (
        |  SELECT doc_id,
        |    coalesce(list_transform(regexp_extract_all(text,
        |      '(?i)https?://(?:[^/\s@]*@)?([a-z0-9-]+(?:\.[a-z0-9-]+)*)', 1),
        |      h -> lower(h)), CAST([] AS VARCHAR[])) AS hosts
        |  FROM corpus
        |)
        |SELECT doc_id,
        |  CAST(len(hosts) AS BIGINT) AS n_urls,
        |  coalesce(array_to_string(list_sort(list_distinct(hosts)), ','), '') AS domains,
        |  len(list_filter(list_distinct(hosts),
        |    h -> h = 'spam.example.com' OR ends_with(h, '.spam.example.com'))) > 0 AS is_blocked
        |FROM d""".stripMargin,

    "q_quantize_embeddings" ->
      """WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(v,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
        |  array_to_string(list_transform(v, x ->
        |    CAST(CASE WHEN s = 0 THEN 0
        |              ELSE trunc(CAST(x AS DOUBLE) / s * 127) END AS BIGINT)),
        |    ',') AS codes
        |FROM e""".stripMargin,

    // the simhash gates: ground truth = token-set-equal pairs (the
    // provable hamming-0 sub-case); see the query comments. The CTE
    // mirrors the Spark-side corpus (reversed-token copies) and key
    // (sorted distinct tokens, empties kept — same raw \W+ split).
    "q_simhash_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_reverse(regexp_split_to_array(lower(text), '\W+')), ' ') AS text
        |  FROM documents WHERE doc_id % 19 = 0
        |), k AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(regexp_split_to_array(lower(text), '\W+'))) AS key
        |  FROM corpus
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS same_canonical
        |FROM k a JOIN k b ON a.doc_id < b.doc_id AND a.key = b.key""".stripMargin,

    "q_simhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_reverse(regexp_split_to_array(lower(text), '\W+')), ' ') AS text
        |  FROM documents WHERE doc_id % 19 = 0
        |), k AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(regexp_split_to_array(lower(text), '\W+'))) AS key
        |  FROM corpus
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM k a JOIN k b ON a.doc_id < b.doc_id AND a.key = b.key""".stripMargin,

    // multi-index Hamming engine path: token-set-equal pairs (hamming
    // 0 <= 10) MUST all surface through the radius-1 perturbed keys
    "q_multiindex_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(list_reverse(regexp_split_to_array(lower(text), '\W+')), ' ') AS text
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 13 = 0
        |), k AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(regexp_split_to_array(lower(text), '\W+'))) AS key
        |  FROM corpus
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM k a JOIN k b ON a.doc_id < b.doc_id AND a.key = b.key""".stripMargin,

    "q_similarity_scores" ->
      """SELECT e.vec_id,
        |  round(
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |FROM embeddings e,
        |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q""".stripMargin,

    "q_srp_topk" ->
      cosineTopKSql(20),

    "q_ivf_topk" ->
      cosineTopKSql(15),

    // IVF-PQ at exactness knobs (all cells probed, rerank covers the
    // corpus) provably equals brute-force top-k
    "q_ivfpq_topk" ->
      cosineTopKSql(12),

    // PQ + ADC: full pipeline replay — seed codebooks are the 16
    // smallest vec_ids' block slices; encode = per-block argmin by
    // squared L2 (ties to smaller centroid index, matching
    // NearestCentroid); ADC = the per-block lookup joined by (b, code)
    // and summed in FIXED block order (conditional-max pivot — a
    // GROUP-BY sum's addition order is engine-defined, a 4-term
    // left-assoc chain is not); top-25 by unrounded distance, ties to
    // vec_id
    "q_pq_adc" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), seeds AS (
        |  SELECT vec_id AS j, v FROM e WHERE vec_id < 16
        |), q AS (
        |  SELECT v AS qv FROM e WHERE vec_id = 0
        |), blocks AS (
        |  SELECT unnest(range(0, 4)) AS b
        |), dists AS (
        |  SELECT e.vec_id, blk.b, s.j,
        |    list_sum(list_transform(range(1, 17), i ->
        |      (e.v[CAST(blk.b * 16 + i AS BIGINT)]
        |        - s.v[CAST(blk.b * 16 + i AS BIGINT)])
        |      * (e.v[CAST(blk.b * 16 + i AS BIGINT)]
        |        - s.v[CAST(blk.b * 16 + i AS BIGINT)]))) AS d
        |  FROM e, blocks blk, seeds s
        |), codes AS (
        |  SELECT vec_id, b, j AS code FROM (
        |    SELECT vec_id, b, j,
        |      row_number() OVER (PARTITION BY vec_id, b
        |        ORDER BY d, j) AS rn
        |    FROM dists
        |  ) WHERE rn = 1
        |), lut AS (
        |  SELECT blk.b, s.j,
        |    list_sum(list_transform(range(1, 17), i ->
        |      (q.qv[CAST(blk.b * 16 + i AS BIGINT)]
        |        - s.v[CAST(blk.b * 16 + i AS BIGINT)])
        |      * (q.qv[CAST(blk.b * 16 + i AS BIGINT)]
        |        - s.v[CAST(blk.b * 16 + i AS BIGINT)]))) AS ld
        |  FROM blocks blk, seeds s, q
        |), adc AS (
        |  SELECT c.vec_id,
        |    max(CASE WHEN c.b = 0 THEN l.ld END)
        |      + max(CASE WHEN c.b = 1 THEN l.ld END)
        |      + max(CASE WHEN c.b = 2 THEN l.ld END)
        |      + max(CASE WHEN c.b = 3 THEN l.ld END) AS d
        |  FROM codes c JOIN lut l ON c.b = l.b AND c.code = l.j
        |  GROUP BY c.vec_id
        |)
        |SELECT vec_id, round(d, 6) AS adc_dist
        |FROM adc ORDER BY d, vec_id LIMIT 25""".stripMargin,

    "q_topk_cosine" ->
      cosineTopKSql(25),

    "q_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |       WHEN 0 THEN 64 + ascii(substr(text, 1, 1)) * 8
        |       WHEN 1 THEN strlen(text) ELSE 320 END AS INTEGER) AS width,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |       WHEN 0 THEN 64 + ascii(substr(text, 2, 1)) * 8
        |       WHEN 1 THEN 1 ELSE 240 END AS INTEGER) AS height,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |       WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE 3 END AS INTEGER) AS channels
        |FROM documents""".stripMargin,

    // pixel stats: the oracle never decodes — it recomputes the
    // expected statistics from the SAME id arithmetic that planted the
    // two-band PNG (band B always outnumbers band A since h-h/3 > h/3,
    // so B's bucket is dominant; equal buckets merge to fraction 1.0);
    // matching hashes prove javax.imageio recovered the planted pixels
    "q_pixel_stats" ->
      """WITH img AS (
        |  SELECT doc_id,
        |    900000 + doc_id AS media_id,
        |    8 + doc_id % 5 AS w, 6 + doc_id % 7 AS h,
        |    (doc_id * 37) % 256 AS ra, (doc_id * 59) % 256 AS ga,
        |    (doc_id * 83) % 256 AS ba,
        |    (doc_id * 101 + 17) % 256 AS rb, (doc_id * 131 + 29) % 256 AS gb,
        |    (doc_id * 151 + 43) % 256 AS bb
        |  FROM documents WHERE doc_id % 50 = 0
        |), calc AS (
        |  SELECT media_id, w, h,
        |    w * (h // 3) AS na, w * (h - h // 3) AS nb, w * h AS n,
        |    299 * ra + 587 * ga + 114 * ba AS la,
        |    299 * rb + 587 * gb + 114 * bb AS lb,
        |    (ra // 64) * 16 + (ga // 64) * 4 + ba // 64 AS bka,
        |    (rb // 64) * 16 + (gb // 64) * 4 + bb // 64 AS bkb
        |  FROM img
        |)
        |SELECT media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  floor(CAST(na * la + nb * lb AS DOUBLE) / (1000.0 * n)
        |    * 1000000 + 0.5) / 1000000 AS mean_luminance,
        |  CAST(bkb AS INTEGER) AS dominant_bucket,
        |  CASE WHEN bka = bkb THEN 1.0
        |       ELSE floor(CAST(nb AS DOUBLE) / n * 1000000 + 0.5)
        |         / 1000000 END AS dominant_frac,
        |  true AS decoded
        |FROM calc
        |UNION ALL
        |SELECT doc_id AS media_id, CAST(NULL AS INTEGER) AS width,
        |  CAST(NULL AS INTEGER) AS height,
        |  CAST(NULL AS DOUBLE) AS mean_luminance,
        |  CAST(NULL AS INTEGER) AS dominant_bucket,
        |  CAST(NULL AS DOUBLE) AS dominant_frac,
        |  false AS decoded
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // MP4 frame extraction: the oracle never parses a byte — it
    // recomputes each sampled frame's length and full hex content from
    // the SAME id arithmetic that planted the fixture's sample table
    // (sample j: size 16+(id+j)%8, constant fill (id*7+j*13)%256);
    // matching hashes prove the stsz/stsc/stco walk carved the true
    // mdat ranges (the two-chunk sentinel gap would poison any
    // off-by-one with 0xAA bytes)
    "q_frame_extract" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 25 = 0
        |), frames AS (
        |  SELECT id, unnest(range(0, 3 + id % 4)) AS j FROM ids
        |)
        |SELECT 950000 + id AS media_id,
        |  CAST(j AS INTEGER) AS frame_idx,
        |  CAST(16 + (id + j) % 8 AS INTEGER) AS frame_len,
        |  repeat(upper(lpad(to_hex((id * 7 + j * 13) % 256), 2, '0')),
        |         CAST(16 + (id + j) % 8 AS INTEGER)) AS frame_hex
        |FROM frames WHERE j % 2 = 0""".stripMargin,

    // MJPEG frame stats: every planted frame is a SOLID color derived
    // from (id, frame), PNG-encoded (lossless) inside a real ISO-BMFF
    // container — so the oracle recomputes width/height/luminance/
    // bucket from id arithmetic; the codec-only set (non-image sample
    // bytes) must come back all-NULL with decoded=false
    "q_frame_stats" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 25 = 0
        |), f AS (
        |  SELECT id, unnest(range(0, 2 + id % 3)) AS j FROM ids
        |), c AS (
        |  SELECT id, j,
        |    (id * 37 + j * 53) % 256 AS r,
        |    (id * 59 + j * 71) % 256 AS g,
        |    (id * 83 + j * 97) % 256 AS b
        |  FROM f
        |)
        |SELECT 960000 + id AS media_id, CAST(j AS INTEGER) AS frame_idx,
        |  CAST(4 + id % 3 AS INTEGER) AS width,
        |  CAST(3 + id % 2 AS INTEGER) AS height,
        |  floor((299 * r + 587 * g + 114 * b) / 1000.0 * 1000000 + 0.5)
        |    / 1000000 AS mean_luminance,
        |  CAST((r // 64) * 16 + (g // 64) * 4 + b // 64 AS INTEGER)
        |    AS dominant_bucket,
        |  1.0 AS dominant_frac, true AS decoded
        |FROM c
        |UNION ALL
        |SELECT 970000 + id AS media_id, CAST(j AS INTEGER) AS frame_idx,
        |  CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
        |  CAST(NULL AS DOUBLE) AS mean_luminance,
        |  CAST(NULL AS INTEGER) AS dominant_bucket,
        |  CAST(NULL AS DOUBLE) AS dominant_frac, false AS decoded
        |FROM (
        |  SELECT doc_id AS id, unnest(range(0, 2 + doc_id % 3)) AS j
        |  FROM documents WHERE doc_id % 40 = 0
        |)""".stripMargin,

    // audio PCM stats: every planted sample derives from id arithmetic
    // (CASE order: silence beats clipping beats the base formula —
    // mirroring the fixture), so RMS/peak/clipping/silence replay
    // without parsing a byte; the float-format and truncated sets are
    // pure NULL+decoded=false arithmetic
    "q_audio_stats" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0
        |), par AS (
        |  SELECT id, CAST(1 + id % 2 AS INTEGER) AS channels,
        |    CAST(8000 + 100 * (id % 5) AS INTEGER) AS rate,
        |    (40 + id % 16) * (1 + id % 2) AS n
        |  FROM ids
        |), sv AS (
        |  SELECT id, channels, rate, n,
        |    CASE WHEN k % 7 = 0 THEN 0
        |         WHEN k % 11 = 3 THEN 32767
        |         WHEN k % 13 = 5 THEN -32768
        |         ELSE (id * 31 + k * 997) % 60000 - 30000 END AS s
        |  FROM (SELECT id, channels, rate, n,
        |          unnest(range(0, n)) AS k FROM par)
        |), agg AS (
        |  SELECT id, any_value(channels) AS channels,
        |    any_value(rate) AS rate, any_value(n) AS n,
        |    max(abs(s)) AS peak, sum(s * s) AS ssq,
        |    sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END) AS clip,
        |    sum(CASE WHEN abs(s) <= 327 THEN 1 ELSE 0 END) AS sil
        |  FROM sv GROUP BY id
        |)
        |SELECT 980000 + id AS media_id, rate AS sample_rate, channels,
        |  CAST(n AS BIGINT) AS n_samples, CAST(peak AS INTEGER) AS peak,
        |  floor(sqrt(CAST(ssq AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
        |    AS rms,
        |  floor(CAST(clip AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |    AS clipping_ratio,
        |  floor(CAST(sil AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |    AS silence_frac,
        |  true AS decoded
        |FROM agg
        |UNION ALL
        |SELECT 985000 + doc_id, CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), false
        |FROM documents WHERE doc_id % 75 = 0
        |UNION ALL
        |SELECT 990000 + doc_id, CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), false
        |FROM documents WHERE doc_id % 100 = 0
        |UNION ALL
        |SELECT media_id, sample_rate, channels, n_samples, peak, rms,
        |  clipping_ratio, silence_frac, decoded
        |FROM (
        |  WITH fids AS (
        |    SELECT doc_id AS id FROM documents WHERE doc_id % 60 = 0
        |  ), fpar AS (
        |    SELECT id, CAST(1 + id % 2 AS INTEGER) AS channels,
        |      CAST(16000 + 100 * (id % 5) AS INTEGER) AS rate,
        |      (40 + id % 16) * (1 + id % 2) AS n
        |    FROM fids
        |  ), fsv AS (
        |    SELECT id, channels, rate, n,
        |      CASE WHEN k % 7 = 0 THEN 0
        |           WHEN k % 11 = 3 THEN 32767
        |           WHEN k % 13 = 5 THEN -32768
        |           ELSE ((id * 31 + k * 997) % 2000 - 1000) * 32 END AS s
        |    FROM (SELECT id, channels, rate, n,
        |            unnest(range(0, n)) AS k FROM fpar)
        |  ), fagg AS (
        |    SELECT id, any_value(channels) AS channels,
        |      any_value(rate) AS rate, any_value(n) AS n,
        |      max(abs(s)) AS peak, sum(s * s) AS ssq,
        |      sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END) AS clip,
        |      sum(CASE WHEN abs(s) <= 327 THEN 1 ELSE 0 END) AS sil
        |    FROM fsv GROUP BY id
        |  )
        |  SELECT 995000 + id AS media_id, rate AS sample_rate, channels,
        |    CAST(n AS BIGINT) AS n_samples, CAST(peak AS INTEGER) AS peak,
        |    floor(sqrt(CAST(ssq AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
        |      AS rms,
        |    floor(CAST(clip AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |      AS clipping_ratio,
        |    floor(CAST(sil AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |      AS silence_frac,
        |    true AS decoded
        |  FROM fagg
        |)
        |UNION ALL
        |SELECT 997000 + doc_id, CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), false
        |FROM documents WHERE doc_id % 120 = 0
        |UNION ALL
        |SELECT 998000 + doc_id, CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), false
        |FROM documents WHERE doc_id % 120 = 0""".stripMargin,

    // BPE token counts: per-word costs under the Sennrich worked-example
    // merges are hand-derived constants (low=1, lower=4, newest=1,
    // widest=1, unk=4), so the planted multiplicities make every
    // document's count pure id arithmetic
    "q_bpe_tokens" ->
      """SELECT doc_id,
        |  (doc_id % 3 + 1) + 4 * (doc_id % 4 + 1) + (doc_id % 5)
        |    + CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 0 END + 1 AS n_tokens
        |FROM documents""".stripMargin,

    // BPE merge training: the planted corpus is the Sennrich worked
    // example scaled per-doc by 1 + doc_id%2, so every pair count
    // carries the same corpus factor S and the full merge sequence to
    // exhaustion is hand-derivable under count-desc-then-lex
    // tie-breaks: est</w> forms first (9S), then low (7S), then
    // newest</w> via (e,w)/(ew,est</w>)/(n,·) (6S — lex picks e<n<w),
    // low</w> (5S), widest via d<i<w (3S), and lower last (2S, lex
    // e<er<low at each step)
    "q_bpe_train" ->
      """SELECT CAST(r AS INTEGER) AS rank, l AS "left", rt AS "right"
        |FROM (VALUES
        |  (1, 'e', 's'), (2, 'es', 't'), (3, 'est', '</w>'),
        |  (4, 'l', 'o'), (5, 'lo', 'w'),
        |  (6, 'e', 'w'), (7, 'ew', 'est</w>'), (8, 'n', 'ewest</w>'),
        |  (9, 'low', '</w>'),
        |  (10, 'd', 'est</w>'), (11, 'i', 'dest</w>'),
        |  (12, 'w', 'idest</w>'),
        |  (13, 'e', 'r'), (14, 'er', '</w>'), (15, 'low', 'er</w>')
        |) AS t(r, l, rt)""".stripMargin,

    // unigram-LM training: on the planted four-word corpus EM provably
    // converges to whole-word pieces with p = word relative frequency
    // (newest 6/16, low 5/16, widest 3/16, lower 2/16 — ln() of each,
    // hand-checkable), and the 10 single codepoints keep expected
    // count 0 → log_prob -infinity (coverage anchors). Scale-free EM
    // makes the table identical at every SF.
    "q_unigram_train" ->
      """SELECT piece, CAST(lp AS DOUBLE) AS log_prob FROM (VALUES
        |  ('newest', '-0.9808'), ('low', '-1.1632'),
        |  ('widest', '-1.674'), ('lower', '-2.0794'),
        |  ('d', '-infinity'), ('e', '-infinity'), ('i', '-infinity'),
        |  ('l', '-infinity'), ('n', '-infinity'), ('o', '-infinity'),
        |  ('r', '-infinity'), ('s', '-infinity'), ('t', '-infinity'),
        |  ('w', '-infinity')
        |) AS t(piece, lp)""".stripMargin,

    // WordPiece training: alphabet (sorted) then the 8 merges in the
    // hand-derived order — m1 ##gs (1/20 beats the all-1/36 field),
    // m2 ##ug (all-1/36 tie → left-asc '##u' wins, right-asc '##g'),
    // m3 ##ugs (1/21 three-way tie → ##u/##gs), m4 hugs (1/15),
    // m5 hug (1/15), m6 ##un (1/16 tie → ##u), m7 bun (1/16),
    // m8 pug (1/17 tie → right ##ug < ##un)
    "q_wordpiece_train" ->
      """SELECT CAST(i AS INTEGER) AS idx, p AS piece FROM (VALUES
        |  (0, '##g'), (1, '##n'), (2, '##s'), (3, '##u'),
        |  (4, 'b'), (5, 'h'), (6, 'p'),
        |  (7, '##gs'), (8, '##ug'), (9, '##ugs'), (10, 'hugs'),
        |  (11, 'hug'), (12, '##un'), (13, 'bun'), (14, 'pug')
        |) AS t(i, p)""".stripMargin,

    // WordPiece apply: per-word costs under the trained vocab are
    // constants (hug/pug/bun/hugs whole-word = 1, pun = p + ##un = 2,
    // zzz = [UNK] = 1)
    "q_wordpiece_tokens" ->
      """SELECT doc_id,
        |  (doc_id % 3 + 1) + 2 * (doc_id % 4 + 1) + (doc_id % 5) + 1
        |    AS n_tokens
        |FROM documents""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_json_flatten" ->
      """SELECT event_id, event_type AS "type", user_id AS user_uid,
        |  user_id % 5 AS user_segment, value AS amount,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_attribution" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin,

    "q_attribution_last" ->
      """WITH pairs AS (
        |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |    c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        |  FROM events c JOIN events p
        |    ON c.user_id = p.user_id
        |   AND c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY click_ts DESC, click_id DESC) AS rn
        |  FROM pairs
        |)
        |SELECT user_id, purchase_id, click_id, click_ts, purchase_ts,
        |  purchase_value
        |FROM r WHERE rn = 1""".stripMargin,

    // q_heatmap: the same floor((x-lo)/width) cell arithmetic on
    // exact pinned widths, hi folding into the last bin
    "q_heatmap" ->
      """SELECT
        |  CAST(least(floor(l_quantity / 2.5), 19) AS BIGINT) AS xbin,
        |  CAST(least(floor(l_extendedprice / 6000.0), 19) AS BIGINT) AS ybin,
        |  CAST(least(floor(l_quantity / 2.5), 19) AS BIGINT) * 2.5 AS x_lo,
        |  CAST(least(floor(l_extendedprice / 6000.0), 19) AS BIGINT)
        |    * 6000.0 AS y_lo,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL
        |  AND l_quantity >= 0.0 AND l_quantity <= 50.0
        |  AND l_extendedprice IS NOT NULL
        |  AND l_extendedprice >= 0.0 AND l_extendedprice <= 120000.0
        |GROUP BY 1, 2""".stripMargin,

    // q_churn_labels: lead over (ts, event_id), gap compared as exact
    // ticks, corpus-end censoring replayed via a scalar max
    "q_churn_labels" ->
      """WITH b AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS t FROM events
        |), e AS (
        |  SELECT max(t) AS endt FROM b
        |), n AS (
        |  SELECT event_id, user_id, ts, t,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
        |  FROM b
        |)
        |SELECT event_id, user_id, ts,
        |  nt - t AS next_gap,
        |  coalesce(nt - t <= 7200000000, false) AS label_active,
        |  (NOT coalesce(nt - t <= 7200000000, false))
        |    AND e.endt - t < 7200000000 AS label_censored
        |FROM n CROSS JOIN e""".stripMargin,

    // q_topn_others: rank replay + exact complement aggregation; item
    // stringified identically on both sides
    "q_topn_others" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS revenue
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(floor(revenue * 100.0 + 0.5) AS BIGINT) AS wi
        |  FROM rev
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY s_nationkey
        |    ORDER BY wi DESC, s_suppkey) AS rk
        |  FROM w
        |)
        |SELECT s_nationkey, CAST(s_suppkey AS VARCHAR) AS item,
        |  CAST(wi AS DOUBLE) / 100.0 AS value,
        |  CAST(rk AS INTEGER) AS rank, false AS is_others,
        |  CAST(NULL AS BIGINT) AS items_collapsed
        |FROM r WHERE rk <= 3
        |UNION ALL
        |SELECT s_nationkey, 'Others',
        |  CAST(sum(wi) AS DOUBLE) / 100.0,
        |  CAST(NULL AS INTEGER), true, CAST(count(*) AS BIGINT)
        |FROM r WHERE rk > 3 GROUP BY s_nationkey""".stripMargin,

    // q_crosstab: the complete cell grid, the one-division expected,
    // the 6dp contribution snap, and the exact long statistic sum
    // replayed — dims via scalar subqueries, V from the snapped chi2
    "q_crosstab" ->
      """WITH r AS (
        |  SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |), cells AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS observed
        |  FROM r GROUP BY 1, 2
        |), ra AS (
        |  SELECT a, CAST(sum(observed) AS BIGINT) AS ra FROM cells GROUP BY 1
        |), rb AS (
        |  SELECT b, CAST(sum(observed) AS BIGINT) AS rb FROM cells GROUP BY 1
        |), dims AS (
        |  SELECT (SELECT count(DISTINCT a) FROM r) AS rc,
        |         (SELECT count(DISTINCT b) FROM r) AS cc
        |), grid AS (
        |  SELECT ra.a, rb.b, ra.ra, rb.rb, coalesce(c.observed, 0) AS observed
        |  FROM ra CROSS JOIN rb
        |  LEFT JOIN cells c ON c.a = ra.a AND c.b = rb.b
        |), st AS (
        |  SELECT *, CAST(sum(observed) OVER () AS BIGINT) AS n FROM grid
        |), e AS (
        |  SELECT *, CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS ex FROM st
        |), ci AS (
        |  SELECT *, CAST(floor((CAST(observed AS DOUBLE) - ex)
        |    * (CAST(observed AS DOUBLE) - ex) / ex * 1e6 + 0.5) AS BIGINT)
        |    AS snapped
        |  FROM e
        |), agg AS (
        |  SELECT *, CAST(sum(snapped) OVER () AS BIGINT) AS chi2s FROM ci
        |)
        |SELECT a AS o_orderstatus, b AS o_orderpriority, observed,
        |  floor(ex * 1e6 + 0.5) / 1e6 AS expected,
        |  CAST(snapped AS DOUBLE) / 1e6 AS contribution,
        |  CAST(chi2s AS DOUBLE) / 1e6 AS chi2,
        |  CAST((dims.rc - 1) * (dims.cc - 1) AS BIGINT) AS dof,
        |  n,
        |  CASE WHEN least(dims.rc - 1, dims.cc - 1) > 0 AND n > 0 THEN
        |    floor(sqrt((CAST(chi2s AS DOUBLE) / 1e6)
        |      / (CAST(n AS DOUBLE)
        |         * CAST(least(dims.rc - 1, dims.cc - 1) AS DOUBLE)))
        |      * 1e6 + 0.5) / 1e6 END AS cramers_v
        |FROM agg CROSS JOIN dims""".stripMargin,

    // q_keycollision: the normalization chain (lower → punct→space →
    // split → drop empties → distinct → sort → rejoin), the distinct-
    // spelling counts, the (max count, min value) canonical, and the
    // >= 2 spelling filter replayed verbatim
    "q_keycollision" ->
      """WITH corpus AS (
        |  SELECT s_suppkey AS id, s_name AS name FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey + 10000, upper(replace(s_name, '#', ' # '))
        |  FROM supplier WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 20000, lower(s_name) || '.'
        |  FROM supplier WHERE s_suppkey % 4 = 0
        |), fp AS (
        |  SELECT id, name,
        |    array_to_string(list_sort(list_distinct(list_filter(
        |      string_split(regexp_replace(lower(name), '[^a-z0-9]+', ' ',
        |        'g'), ' '),
        |      x -> x <> ''))), ' ') AS fingerprint
        |  FROM corpus WHERE name IS NOT NULL
        |), nz AS (
        |  SELECT * FROM fp WHERE fingerprint <> ''
        |), sp AS (
        |  SELECT fingerprint, name, count(*) AS n FROM nz GROUP BY 1, 2
        |), mx AS (
        |  SELECT fingerprint, max(n) AS n FROM sp GROUP BY 1
        |), canon AS (
        |  SELECT sp.fingerprint, min(sp.name) AS canonical
        |  FROM sp JOIN mx ON sp.fingerprint = mx.fingerprint AND sp.n = mx.n
        |  GROUP BY 1
        |), sz AS (
        |  SELECT fingerprint, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM sp GROUP BY 1 HAVING count(*) >= 2
        |)
        |SELECT nz.id, nz.name, nz.fingerprint, sz.cluster_size,
        |  canon.canonical
        |FROM nz JOIN sz USING (fingerprint) JOIN canon USING (fingerprint)"""
        .stripMargin,

    // q_abc: per-nation Pareto classes replayed with window sums in
    // (revenue desc, supplier) order — prior-cumulative class compare
    // on the same scaled integers, shares rounded identically
    "q_abc" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS revenue
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(floor(revenue * 100.0 + 0.5) AS BIGINT) AS wi
        |  FROM rev
        |), c AS (
        |  SELECT s_nationkey, s_suppkey, wi,
        |    CAST(sum(wi) OVER (PARTITION BY s_nationkey
        |      ORDER BY wi DESC, s_suppkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e,
        |    CAST(sum(wi) OVER (PARTITION BY s_nationkey) AS BIGINT) AS n
        |  FROM w
        |)
        |SELECT s_nationkey, s_suppkey,
        |  CAST(wi AS DOUBLE) / 100.0 AS value,
        |  CASE WHEN n <> 0 THEN floor(CAST(wi AS DOUBLE)
        |    / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS share,
        |  CASE WHEN n <> 0 THEN floor(CAST(e AS DOUBLE)
        |    / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS cum_share,
        |  CASE WHEN n = 0 THEN NULL
        |    WHEN 100 * (e - wi) < 80 * n THEN 'A'
        |    WHEN 100 * (e - wi) < 95 * n THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM c""".stripMargin,

    // q_quarantine: the corruption and the reason list replayed —
    // reason order is schema-column order then check order
    // (required-null before pattern), and a null name never pattern-
    // checks, exactly as the annotator compiles it
    "q_quarantine" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN NULL
        |         WHEN c_custkey % 13 = 0 THEN 'bad ' || c_name
        |         ELSE c_name END AS name2,
        |    CASE WHEN c_custkey % 17 = 0 THEN NULL
        |         ELSE c_acctbal END AS bal2
        |  FROM customer
        |), v AS (
        |  SELECT c_custkey, list_filter([
        |    CASE WHEN name2 IS NULL
        |      THEN 'required column ''c_name'' is null' END,
        |    CASE WHEN name2 IS NOT NULL
        |        AND NOT regexp_matches(name2, '^Customer#[0-9]+$')
        |      THEN 'column ''c_name'' does not match pattern ' ||
        |        '''^Customer#[0-9]+$''' END,
        |    CASE WHEN bal2 IS NULL
        |      THEN 'required column ''c_acctbal'' is null' END
        |  ], x -> x IS NOT NULL) AS vio
        |  FROM c
        |)
        |SELECT c_custkey,
        |  coalesce(array_to_string(vio, '|'), '') AS violations,
        |  len(vio) = 0 AS is_valid
        |FROM v""".stripMargin,

    // q_gains: NTILE cut replayed in integer arithmetic
    // ((pos*buckets) floor-div n), rates/lifts as identical double
    // divisions rounded floor-half-up at 6dp
    "q_gains" ->
      """WITH r AS (
        |  SELECT event_id, value, event_type = 'purchase' AS lab,
        |    row_number() OVER (ORDER BY value DESC, event_id) - 1 AS pos,
        |    count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT CAST((pos * 10) // n AS INTEGER) + 1 AS bucket, lab FROM r
        |), pb AS (
        |  SELECT bucket, count(*) AS n,
        |    sum(CASE WHEN lab THEN 1 ELSE 0 END) AS responders
        |  FROM b GROUP BY bucket
        |), c AS (
        |  SELECT *, sum(n) OVER (ORDER BY bucket) AS cum_n,
        |    sum(responders) OVER (ORDER BY bucket) AS cum_responders,
        |    sum(n) OVER () AS tot_n, sum(responders) OVER () AS tot_r
        |  FROM pb
        |)
        |SELECT bucket, CAST(n AS BIGINT) AS n,
        |  CAST(responders AS BIGINT) AS responders,
        |  floor(CAST(responders AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS response_rate,
        |  CAST(cum_n AS BIGINT) AS cum_n,
        |  CAST(cum_responders AS BIGINT) AS cum_responders,
        |  CASE WHEN tot_r <> 0 THEN
        |    floor(CAST(cum_responders AS DOUBLE) / CAST(tot_r AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 END AS cum_capture,
        |  CASE WHEN tot_r <> 0 THEN
        |    floor((CAST(responders AS DOUBLE) * CAST(tot_n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(tot_r AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 END AS lift,
        |  CASE WHEN tot_r <> 0 THEN
        |    floor((CAST(cum_responders AS DOUBLE) * CAST(tot_n AS DOUBLE))
        |      / (CAST(cum_n AS DOUBLE) * CAST(tot_r AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 END AS cum_lift
        |FROM c""".stripMargin,

    // q_prorate: largest-remainder allocation replayed verbatim —
    // fixed-point snaps, bigint floor division (// in DuckDB, div in
    // Spark), remainder rank with the same tie-break. Quantities are
    // >= 1 in the fixture, so the all-zero-weight fallback (unit-
    // pinned) never fires here.
    "q_prorate" ->
      """WITH j AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS wi,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS ti
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), w AS (
        |  SELECT *, sum(wi) OVER (PARTITION BY l_orderkey) AS wsum FROM j
        |), f AS (
        |  SELECT *, (ti * wi) // wsum AS fl, (ti * wi) % wsum AS rem FROM w
        |), r AS (
        |  SELECT *, ti - sum(fl) OVER (PARTITION BY l_orderkey) AS leftover,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY rem DESC, l_linenumber, wi) AS rk
        |  FROM f
        |)
        |SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice,
        |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS allocated
        |FROM r""".stripMargin,

    // q_target_encode: LOO window sums per category in exact decimals,
    // the same double-op order as the engine (cast-to-double AFTER the
    // decimal subtraction), prior from one global decimal sum
    "q_target_encode" ->
      """WITH g AS (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
        |    AS DOUBLE) AS gs, count(o_totalprice) AS gn
        |  FROM orders
        |), c AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(38,6)) AS y,
        |    sum(CAST(o_totalprice AS DECIMAL(38,6)))
        |      OVER (PARTITION BY o_custkey) AS s,
        |    count(o_totalprice) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders
        |)
        |SELECT o_orderkey, o_custkey,
        |  floor((CAST(s - y AS DOUBLE) + 20.0 * (g.gs / g.gn))
        |    / (n - 1 + 20.0) * 1000000 + 0.5) / 1000000 AS target_enc
        |FROM c, g""".stripMargin,

    // q_ols2: the nine moments re-accumulated exactly (DuckDB BIGINT
    // sums promote to HUGEINT), Cramer determinants in HUGEINT, and
    // the same fixed double sequence for coefficients and r2
    "q_ols2" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
        |    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |), m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x1*x1) AS HUGEINT) AS s11,
        |    CAST(sum(x2*x2) AS HUGEINT) AS s22,
        |    CAST(sum(x1*x2) AS HUGEINT) AS s12,
        |    CAST(sum(x1*y) AS HUGEINT) AS s1y,
        |    CAST(sum(x2*y) AS HUGEINT) AS s2y,
        |    CAST(sum(y*y) AS HUGEINT) AS syy
        |  FROM b GROUP BY 1
        |), d AS (
        |  SELECT *,
        |    CAST(n AS HUGEINT) * (s11*s22 - s12*s12)
        |      - s1 * (s1*s22 - s12*s2) + s2 * (s1*s12 - s11*s2) AS det,
        |    sy * (s11*s22 - s12*s12)
        |      - s1 * (s1y*s22 - s12*s2y) + s2 * (s1y*s12 - s11*s2y) AS det0,
        |    CAST(n AS HUGEINT) * (s1y*s22 - s12*s2y)
        |      - sy * (s1*s22 - s12*s2) + s2 * (s1*s2y - s1y*s2) AS det1,
        |    CAST(n AS HUGEINT) * (s11*s2y - s1y*s12)
        |      - s1 * (s1*s2y - s1y*s2) + sy * (s1*s12 - s11*s2) AS det2
        |  FROM m
        |), co AS (
        |  SELECT *,
        |    CASE WHEN n >= 3 AND det <> 0
        |      THEN CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) END AS b0,
        |    CASE WHEN n >= 3 AND det <> 0
        |      THEN CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) END AS b1,
        |    CASE WHEN n >= 3 AND det <> 0
        |      THEN CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) END AS b2
        |  FROM d
        |), rr AS (
        |  SELECT *,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS sst,
        |    CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
        |      - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE) AS sse
        |  FROM co
        |)
        |SELECT l_returnflag, n,
        |  floor(b0 * 1000000 + 0.5) / 1000000 AS b0,
        |  floor(b1 * 1000000 + 0.5) / 1000000 AS b1,
        |  floor(b2 * 1000000 + 0.5) / 1000000 AS b2,
        |  CASE WHEN n >= 3 AND det <> 0 AND sst > 0
        |    THEN floor((1.0 - sse / sst) * 1000000 + 0.5) / 1000000
        |  END AS r2
        |FROM rr""".stripMargin,

    // q_recognition: month explode + day overlaps + the same Hamilton
    // arithmetic as q_prorate, keyed by line with month_start as the
    // tie-break — whole-cent shares reconcile exactly per line
    "q_recognition" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, max(l_shipdate) AS ship,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |      AS DOUBLE) AS val
        |  FROM lineitem WHERE l_orderkey % 7 = 0
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS line_id,
        |    o_orderdate AS s, ship AS e, val
        |  FROM li JOIN orders ON l_orderkey = o_orderkey
        |  WHERE ship >= o_orderdate
        |), m AS (
        |  SELECT line_id, val, s, e,
        |    CAST(unnest(generate_series(date_trunc('month', s),
        |      date_trunc('month', e), INTERVAL 1 MONTH)) AS DATE) AS ms
        |  FROM c
        |), d AS (
        |  SELECT line_id, val, ms AS month_start,
        |    CAST(date_diff('day', greatest(s, ms),
        |      least(e, last_day(ms))) + 1 AS BIGINT) AS days
        |  FROM m
        |), j AS (
        |  SELECT *, CAST(floor(val * 100.0 + 0.5) AS BIGINT) AS ti
        |  FROM d
        |), w AS (
        |  SELECT *, sum(days) OVER (PARTITION BY line_id) AS wsum FROM j
        |), f AS (
        |  SELECT *, (ti * days) // wsum AS fl, (ti * days) % wsum AS rem
        |  FROM w
        |), r AS (
        |  SELECT *, ti - sum(fl) OVER (PARTITION BY line_id) AS leftover,
        |    row_number() OVER (PARTITION BY line_id
        |      ORDER BY rem DESC, month_start, days) AS rk
        |  FROM f
        |)
        |SELECT line_id, CAST(month_start AS TIMESTAMP) AS month_start,
        |  days,
        |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS recognized
        |FROM r""".stripMargin,

    // q_feature_hash: per-token polynomial-31 fold mod P replayed with
    // list_reduce (0 prepended as the initial accumulator), bucket =
    // h mod 64, sign = parity of h div 64
    "q_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0)) AS w
        |  FROM documents WHERE doc_id % 4 = 0
        |), h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(w) + 1),
        |        i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 2147483647) AS hv
        |  FROM tok
        |)
        |SELECT doc_id, hv % 64 AS bucket,
        |  CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
        |    AS BIGINT) AS weight
        |FROM h GROUP BY 1, 2""".stripMargin,

    // q_negative_sample: rank = row_number over id order (the engine
    // computes the same rank with parallel prefix sums), target =
    // portable Knuth hash of (q*31 + j + seed) folded mod n;
    // positive/self collisions drop on both sides
    "q_negative_sample" ->
      """WITH cand AS (
        |  SELECT DISTINCT doc_id FROM documents
        |), n AS (
        |  SELECT count(*) AS n FROM cand
        |), ranked AS (
        |  SELECT doc_id AS neg,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rank
        |  FROM cand
        |), probes AS (
        |  SELECT doc_id AS q_id, doc_id + 1 AS pos_id,
        |    unnest(range(1, 5)) AS j
        |  FROM documents WHERE doc_id % 5 = 0
        |), t AS (
        |  SELECT q_id, pos_id, CAST(j AS INTEGER) AS neg_idx,
        |    ((((q_id * 31 + j + 42) % 1000000007) * 2654435761)
        |      % 1000000007 % 1000000) % n.n AS rank
        |  FROM probes, n
        |)
        |SELECT t.q_id, t.pos_id, t.neg_idx, r.neg AS neg_doc_id
        |FROM t JOIN ranked r USING (rank)
        |WHERE r.neg <> t.pos_id AND r.neg <> t.q_id""".stripMargin,

    // q_skyline: textbook NOT-EXISTS dominance — ground truth the
    // sort-based engine formulation must reproduce exactly (price
    // values compare untouched off parquet, so no float arithmetic
    // is involved on either engine)
    "q_skyline" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_brand = p.p_brand
        |    AND q.p_size >= p.p_size
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size
        |         OR q.p_retailprice < p.p_retailprice))""".stripMargin,

    // q_ewma: identical position-weighted fold over the same bounded
    // ROWS frame — vals is frame-ordered (oldest→newest) in both
    // engines, element i of n carries weight 0.5^(n-i), and the head
    // renormalizes by the present weight mass (1 - 0.5^n)/0.5
    "q_ewma" ->
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_id, user_id,
        |  floor(
        |    list_sum(list_transform(range(1, len(vals) + 1),
        |      i -> vals[i] * pow(0.5, len(vals) - i)))
        |    / ((1 - pow(0.5, len(vals))) / 0.5)
        |    * 1000000 + 0.5) / 1000000 AS ewma
        |FROM w""".stripMargin,

    // q_skew_profile: every statistic recomputed from the same
    // keys-only counts; hot_key = smallest key among max-count ties;
    // entropy H = ln(N) + (Σ -c·ln c)/N, reported as H/ln(n_keys)
    "q_skew_profile" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN event_id % 4 <> 0 THEN 'hot'
        |              ELSE event_type END AS k
        |  FROM events
        |), cnt AS (
        |  SELECT k, count(*) AS c FROM keyed GROUP BY k
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |    max(c) AS max_count,
        |    sum(-c * ln(CAST(c AS DOUBLE))) AS nh
        |  FROM cnt
        |), t10 AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS top10 FROM (
        |    SELECT c FROM cnt ORDER BY c DESC, k ASC LIMIT 10)
        |), hot AS (
        |  SELECT min(k) AS hot_key FROM cnt, tot WHERE c = max_count
        |)
        |SELECT n_rows, n_keys, hot_key, max_count,
        |  floor(CAST(n_rows AS DOUBLE) / n_keys * 1000000 + 0.5)
        |    / 1000000 AS avg_count,
        |  floor(max_count * CAST(n_keys AS DOUBLE) / n_rows * 1000000
        |    + 0.5) / 1000000 AS skew_factor,
        |  floor(CAST(top10 AS DOUBLE) / n_rows * 1000000 + 0.5)
        |    / 1000000 AS top10_share,
        |  CASE WHEN n_keys = 1 THEN 1.0
        |       ELSE floor((ln(CAST(n_rows AS DOUBLE)) + nh / n_rows)
        |         / ln(CAST(n_keys AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS entropy_ratio,
        |  CAST(least(ceil(max_count * CAST(n_keys AS DOUBLE) / n_rows),
        |    64) AS INTEGER) AS suggested_salt
        |FROM tot, t10, hot""".stripMargin,

    "q_zorder" -> {
      def quantSql(c: String, mn: String, mx: String): String =
        s"least(65535, greatest(0, CAST(floor((CAST($c AS DOUBLE) - " +
          s"CAST($mn AS DOUBLE)) / (CAST($mx AS DOUBLE) - " +
          s"CAST($mn AS DOUBLE)) * 65535) AS BIGINT)))"
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((qx >> $i) & 1) << ${2 * i})",
        s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (
         |  SELECT min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
         |         min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s
         |  FROM lineitem
         |), q AS (
         |  SELECT l_orderkey, l_linenumber,
         |    ${quantSql("l_partkey", "mn_p", "mx_p")} AS qx,
         |    ${quantSql("l_suppkey", "mn_s", "mx_s")} AS qy
         |  FROM lineitem, b
         |)
         |SELECT l_orderkey, l_linenumber, $terms AS zval FROM q""".stripMargin
    },

    "q_events_enriched" ->
      """SELECT date_trunc('hour', ts) AS hour_start,
        |  coalesce(c.c_mktsegment, 'unknown') AS segment,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin,

    "q_cube" ->
      """SELECT n_name, l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(n_name, l_returnflag) AS INTEGER) AS gid
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY CUBE (n_name, l_returnflag)""".stripMargin,

    "q_correlations" ->
      """WITH b AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |    CAST(round(l_discount * 100) AS BIGINT) AS d
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL
        |), m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS s_q,
        |    CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS ss_q,
        |    CAST(sum(CAST(p AS HUGEINT)) AS DOUBLE) AS s_p,
        |    CAST(sum(CAST(p AS HUGEINT) * p) AS DOUBLE) AS ss_p,
        |    CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS s_d,
        |    CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS ss_d,
        |    CAST(sum(CAST(q AS HUGEINT) * p) AS DOUBLE) AS sp_qp,
        |    CAST(sum(CAST(q AS HUGEINT) * d) AS DOUBLE) AS sp_qd,
        |    CAST(sum(CAST(p AS HUGEINT) * d) AS DOUBLE) AS sp_pd
        |  FROM b
        |)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  round((n * sp_qp - s_q * s_p)
        |    / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_p - s_p * s_p)), 6)
        |  AS corr FROM m
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount',
        |  round((n * sp_qd - s_q * s_d)
        |    / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_d - s_d * s_d)), 6)
        |  FROM m
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount',
        |  round((n * sp_pd - s_p * s_d)
        |    / (sqrt(n * ss_p - s_p * s_p) * sqrt(n * ss_d - s_d * s_d)), 6)
        |  FROM m""".stripMargin,

    "q_edit_pairs" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |vocab AS (
        |  SELECT DISTINCT nm FROM (
        |    SELECT p_name AS nm FROM names
        |    UNION ALL
        |    SELECT 'z' || substring(p_name, 2) FROM names
        |    WHERE length(p_name) % 3 = 0
        |    UNION ALL
        |    SELECT substring(p_name, 2) FROM names
        |    WHERE length(p_name) % 3 = 1
        |  )
        |)
        |SELECT a.nm AS a, b.nm AS b,
        |  CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
        |FROM vocab a JOIN vocab b
        |  ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= 1""".stripMargin,

    // BM25: the oracle replays the shared tokenizer, the exact-integer
    // corpus moments (sum dl, doc count, df) with ONE final division,
    // and the closed-form Okapi score; k1+1 and 1-b are spelled as the
    // same arithmetic so both engines evaluate identical doubles
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '') AS tk
        |  FROM documents
        |), perdoc AS (
        |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'stream')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM toks
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS avgdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM perdoc
        |)
        |SELECT doc_id,
        |  floor((
        |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |        * (tf0 * (1.2 + 1.0))
        |        / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |        * (tf1 * (1.2 + 1.0))
        |        / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |        * (tf2 * (1.2 + 1.0))
        |        / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |  ) * 1e6 + 0.5) / 1e6 AS score
        |FROM perdoc, stats
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0""".stripMargin,

    // q_prf_expansion: replay BM25 (same CTEs), take the top-10 docs by
    // (rounded score desc, id), rebuild candidate stats and corpus df,
    // and apply the same r_fb * idf offer weight with floor-half-up
    // rounding and the (weight desc, term) rank
    "q_prf_expansion" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '') AS tk
        |  FROM documents
        |), perdoc AS (
        |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'stream')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM toks
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS avgdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM perdoc
        |), scored AS (
        |  SELECT doc_id,
        |    floor((
        |        ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |          * (tf0 * (1.2 + 1.0))
        |          / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |          * (tf1 * (1.2 + 1.0))
        |          / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |          * (tf2 * (1.2 + 1.0))
        |          / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    ) * 1e6 + 0.5) / 1e6 AS score
        |  FROM perdoc, stats
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |), fb AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS rn FROM scored)
        |  WHERE rn <= 10
        |), fbtok AS (
        |  SELECT t.doc_id, unnest(t.tk) AS term
        |  FROM toks t JOIN fb USING (doc_id)
        |), cand AS (
        |  SELECT term, count(DISTINCT doc_id) AS r_fb,
        |    count(*) AS tf_fb
        |  FROM fbtok
        |  WHERE term NOT IN ('stream', 'vector', 'window')
        |  GROUP BY term
        |), docterm AS (
        |  SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
        |), dfs AS (
        |  SELECT d.term, count(*) AS df
        |  FROM docterm d JOIN cand USING (term)
        |  GROUP BY d.term
        |), nn AS (
        |  SELECT count(*) AS n FROM documents
        |), weighted AS (
        |  SELECT cand.term, r_fb, tf_fb, df,
        |    floor(CAST(r_fb AS DOUBLE)
        |        * ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |              / (CAST(df AS DOUBLE) + 0.5))
        |        * 1e6 + 0.5) / 1e6 AS weight
        |  FROM cand JOIN dfs USING (term), nn
        |)
        |SELECT term, r_fb, tf_fb, df, weight, CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        ORDER BY weight DESC, term) AS rn FROM weighted)
        |WHERE rn <= 10""".stripMargin,

    // RRF fusion: the oracle replays the BM25 CTE, both deterministic
    // top-100 rankings (row_number with the same tie-break), and the
    // exact 1/(60+rank) contributions; adding a coalesced 0.0 first is
    // float-exact, so the sum matches the operator's list-ordered fold
    "q_rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '') AS tk
        |  FROM documents
        |), perdoc AS (
        |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'stream')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM toks
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS avgdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM perdoc
        |), bm AS (
        |  SELECT doc_id,
        |    floor((
        |        ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |          * (tf0 * (1.2 + 1.0))
        |          / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |          * (tf1 * (1.2 + 1.0))
        |          / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |          * (tf2 * (1.2 + 1.0))
        |          / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    ) * 1e6 + 0.5) / 1e6 AS score
        |  FROM perdoc, stats
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |), l1 AS (
        |  SELECT doc_id, rnk FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS rnk FROM bm)
        |  WHERE rnk <= 100
        |), l2 AS (
        |  SELECT doc_id, rnk FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY n_chars DESC, doc_id) AS rnk FROM documents)
        |  WHERE rnk <= 100
        |)
        |SELECT doc_id,
        |  floor((coalesce(1.0 / (60 + l1.rnk), 0.0)
        |       + coalesce(1.0 / (60 + l2.rnk), 0.0)) * 1e6 + 0.5) / 1e6
        |    AS rrf
        |FROM l1 FULL OUTER JOIN l2 USING (doc_id)""".stripMargin,

    // record linkage: the oracle replays the whole pipeline — the
    // translate-derived names, the id-positioned adjacent swap, the
    // last-3 blocking join, and the score via DuckDB's OWN
    // jaro_winkler_similarity (the native expression is pinned to its
    // semantics) — with the same tie-safe rounded cut
    "q_record_linkage" ->
      """WITH base AS (
        |  SELECT c_custkey AS left_id,
        |    translate(substr(c_name, 10, 9),
        |              '0123456789', 'aeioubcdfg') AS left_name
        |  FROM customer WHERE c_custkey % 10 = 0
        |), lft AS (
        |  SELECT left_id, left_name,
        |    substr(left_name, 7, 3) AS block FROM base
        |), rgt0 AS (
        |  SELECT left_id + 1000000 AS right_id,
        |    substr(left_name, 1, p - 1) || substr(left_name, p + 1, 1) ||
        |    substr(left_name, p, 1) || substr(left_name, p + 2, 9)
        |      AS right_name
        |  FROM (SELECT left_id, left_name,
        |          CAST(left_id % 50 / 10 + 1 AS INTEGER) AS p FROM base)
        |), rgt AS (
        |  SELECT right_id, right_name,
        |    substr(right_name, 7, 3) AS block FROM rgt0
        |)
        |SELECT left_id, right_id,
        |  floor(jaro_winkler_similarity(left_name, right_name) * 1e6
        |    + 0.5) / 1e6 AS match_score
        |FROM lft JOIN rgt USING (block)
        |WHERE floor(jaro_winkler_similarity(left_name, right_name) * 1e6
        |    + 0.5) / 1e6 >= 0.9""".stripMargin,

    // chi-square term selection: the oracle rebuilds the same 2x2
    // document contingencies from exact counts and applies the same
    // closed-form ratio (same multiplication order), ranking on the
    // identically-rounded score
    "q_chi2_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS label, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> ''))) AS term
        |  FROM documents
        |), a AS (
        |  SELECT term, label, count(*) AS a FROM toks GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, sum(a) AS df FROM a GROUP BY 1
        |), totals AS (
        |  SELECT lang AS label, count(*) AS nl FROM documents GROUP BY 1
        |), nn AS (
        |  SELECT count(*) AS n FROM documents
        |), cells AS (
        |  SELECT totals.label, dft.term,
        |    coalesce(a.a, 0) AS a, dft.df, totals.nl, nn.n,
        |    dft.df - coalesce(a.a, 0) AS b,
        |    totals.nl - coalesce(a.a, 0) AS c,
        |    nn.n - dft.df - (totals.nl - coalesce(a.a, 0)) AS d
        |  FROM dft CROSS JOIN totals
        |    LEFT JOIN a ON a.term = dft.term AND a.label = totals.label,
        |    nn
        |  WHERE dft.df >= 2 AND dft.df < nn.n
        |), scored AS (
        |  SELECT label, term,
        |    floor(
        |      CAST(n AS DOUBLE)
        |        * CAST(a * d - b * c AS DOUBLE)
        |        * CAST(a * d - b * c AS DOUBLE)
        |        / (CAST(df AS DOUBLE) * CAST(c + d AS DOUBLE)
        |           * CAST(nl AS DOUBLE) * CAST(b + d AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS chi2
        |  FROM cells
        |)
        |SELECT label, CAST(rnk AS INTEGER) AS rank, term, chi2 FROM (
        |  SELECT label, term, chi2, row_number() OVER (
        |    PARTITION BY label ORDER BY chi2 DESC, term) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    // self-table fuzzy dedup: same derivation as q_record_linkage but
    // one table and a half-matrix self-join, scored by DuckDB's own
    // jaro_winkler_similarity with the identical rounded cut
    "q_fuzzy_dedup" ->
      """WITH base AS (
        |  SELECT c_custkey AS id,
        |    translate(substr(c_name, 10, 9),
        |              '0123456789', 'aeioubcdfg') AS nm
        |  FROM customer WHERE c_custkey % 10 = 0
        |), dirty AS (
        |  SELECT id + 1000000 AS id,
        |    substr(nm, 1, p - 1) || substr(nm, p + 1, 1) ||
        |    substr(nm, p, 1) || substr(nm, p + 2, 9) AS nm
        |  FROM (SELECT id, nm,
        |          CAST(id % 50 / 10 + 1 AS INTEGER) AS p FROM base)
        |), all_rows AS (
        |  SELECT id, nm, substr(nm, 7, 3) AS block FROM base
        |  UNION ALL
        |  SELECT id, nm, substr(nm, 7, 3) AS block FROM dirty
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  floor(jaro_winkler_similarity(a.nm, b.nm) * 1e6 + 0.5) / 1e6
        |    AS match_score
        |FROM all_rows a JOIN all_rows b
        |  ON a.block = b.block AND a.id < b.id
        |WHERE floor(jaro_winkler_similarity(a.nm, b.nm) * 1e6 + 0.5) / 1e6
        |  >= 0.9""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT o_orderstatus,
        |  CAST(row_number() OVER (
        |    PARTITION BY o_orderstatus ORDER BY cnt DESC, value) - 1
        |    AS INTEGER) AS rank,
        |  value, cnt
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority AS value,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1, 2)""".stripMargin,

    "q_quota_sample" ->
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007,
        |             doc_id) AS rn
        |  FROM documents
        |)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN r USING (doc_id) WHERE r.rn <= 40""".stripMargin,

    "q_minmax_scale" ->
      """SELECT event_id, event_type, value,
        |  CASE WHEN value IS NULL THEN NULL
        |       WHEN mx = mn THEN 0.0
        |       ELSE (value - mn) / (mx - mn) END AS value_mm
        |FROM (
        |  SELECT event_id, event_type, value,
        |    min(value) OVER (PARTITION BY event_type) AS mn,
        |    max(value) OVER (PARTITION BY event_type) AS mx
        |  FROM events) t""".stripMargin,

    "q_zscore" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |  round(CASE WHEN l_extendedprice IS NULL THEN NULL
        |       WHEN sd IS NULL OR sd = 0 THEN 0.0
        |       ELSE (l_extendedprice - av) / sd END, 6) AS l_extendedprice_z
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |    avg(l_extendedprice) OVER (PARTITION BY l_returnflag) AS av,
        |    stddev_samp(l_extendedprice) OVER (PARTITION BY l_returnflag) AS sd
        |  FROM lineitem) t""".stripMargin,

    "q_quantile_rank" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  cume_dist() OVER (ORDER BY l_quantity) AS l_quantity_qr
        |FROM lineitem""".stripMargin,

    "q_equidepth_hist" ->
      """WITH d AS (
        |  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL GROUP BY 1
        |), p AS (
        |  SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS e,
        |    sum(cnt) OVER () AS n
        |  FROM d
        |)
        |SELECT CAST(least(11, floor(12 * (e - cnt) / n)) AS INTEGER) AS bin,
        |  min(v) AS bin_lo, max(v) AS bin_hi, CAST(sum(cnt) AS BIGINT) AS n_rows
        |FROM p GROUP BY 1""".stripMargin,

    "q_robust_outliers" ->
      """WITH vals AS (
        |  SELECT l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL
        |), m AS (
        |  SELECT min(CASE WHEN r = CAST(floor((n-1)/2) AS BIGINT)
        |             THEN v END) AS med
        |  FROM (SELECT v, row_number() OVER (ORDER BY v) - 1 AS r,
        |          count(*) OVER () AS n FROM vals) t
        |), d AS (
        |  SELECT abs(v - m.med) AS av FROM vals, m
        |), md AS (
        |  SELECT min(CASE WHEN r = CAST(floor((n-1)/2) AS BIGINT)
        |             THEN av END) AS mad
        |  FROM (SELECT av, row_number() OVER (ORDER BY av) - 1 AS r,
        |          count(*) OVER () AS n FROM d) t
        |)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  round(CASE WHEN l_extendedprice IS NULL THEN NULL
        |       WHEN md.mad = 0 THEN 0.0
        |       ELSE (l_extendedprice - m.med) / (1.4826 * md.mad)
        |       END, 6) AS l_extendedprice_rz,
        |  CASE WHEN l_extendedprice IS NULL THEN NULL
        |       ELSE md.mad > 0 AND
        |            abs(l_extendedprice - m.med) > 3.5 * 1.4826 * md.mad
        |       END AS l_extendedprice_outlier
        |FROM lineitem, m, md""".stripMargin,

    "q_events_sliding" ->
      """WITH off AS (SELECT unnest([0, 900, 1800, 2700]) AS o),
        |w AS (
        |  SELECT make_timestamp(CAST(
        |      (floor(epoch(ts) / 900) * 900 - o) * 1000000 AS BIGINT))
        |    AS window_start, event_type
        |  FROM events, off
        |)
        |SELECT window_start, event_type, count(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin,

    // q_cosine_join: the oracle is BRUTE FORCE — every pair sharing a
    // term, exact integer dot products and norms, one double cosine —
    // so the gate also proves the prefix filter's soundness (a dropped
    // true pair would mismatch)
    "q_cosine_join" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' graft cosine tail'
        |  FROM documents WHERE doc_id % 40 = 0
        |), tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
        |  FROM corpus
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), nn AS (
        |  SELECT count(DISTINCT doc_id) AS n FROM corpus
        |), dfs AS (
        |  SELECT term,
        |    CAST(round(1000.0 * ln((CAST(n AS DOUBLE) + 1.0)
        |      / (CAST(count(*) AS DOUBLE) + 0.5))) AS BIGINT) AS idf_q
        |  FROM tf, nn GROUP BY term, n
        |), w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * dfs.idf_q AS w
        |  FROM tf JOIN dfs USING (term) WHERE idf_q > 0
        |), norms AS (
        |  SELECT doc_id,
        |    sum(CAST(w AS DECIMAL(19,0)) * w) AS norm2
        |  FROM w GROUP BY doc_id
        |), dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(CAST(a.w AS DECIMAL(19,0)) * b.w) AS num
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT id_a, id_b,
        |    floor(CAST(num AS DOUBLE)
        |      / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM dots
        |  JOIN norms na ON na.doc_id = id_a
        |  JOIN norms nb ON nb.doc_id = id_b
        |)
        |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.75""".stripMargin,

    // q_sorted_neighborhood: ranks replay as row_number over the same
    // (key, id) order; neighbor pairs via the rank-difference window;
    // DuckDB's native jaro_winkler_similarity is the pinned scorer
    "q_sorted_neighborhood" ->
      """WITH r AS (
        |  SELECT c_custkey AS id, c_name AS k,
        |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rank
        |  FROM customer
        |), p AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.rank AS rank_a, b.rank AS rank_b, a.k AS ka, b.k AS kb
        |  FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 3
        |)
        |SELECT id_a, id_b, rank_a, rank_b,
        |  floor(jaro_winkler_similarity(ka, kb) * 1e6 + 0.5) / 1e6 AS score
        |FROM p
        |WHERE floor(jaro_winkler_similarity(ka, kb) * 1e6 + 0.5) / 1e6
        |  >= 0.9""".stripMargin,

    // q_k_anonymity: plain GROUP BY replay of the equivalence classes
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |  count(*) AS class_size,
        |  count(*) < 5 AS at_risk
        |FROM customer
        |GROUP BY 1, 2, 3""".stripMargin,

    // q_pair_eval: the oracle rebuilds both normalized pair sets and
    // the identically-spelled P/R/F1 ratios
    "q_pair_eval" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'zzz ' || text FROM documents
        |  WHERE doc_id % 7 = 0
        |), tr AS (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
        |    SELECT doc_id AS a, doc_id + 100000 AS b FROM documents
        |    WHERE doc_id % 5 = 0
        |    UNION ALL
        |    SELECT doc_id, doc_id + 200000 FROM documents
        |    WHERE doc_id % 7 = 0)
        |), blocks AS (
        |  SELECT doc_id, substr(text, 1, 40) AS pfx FROM corpus
        |), pr AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM blocks x JOIN blocks y
        |    ON x.pfx = y.pfx AND x.doc_id < y.doc_id
        |), m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN pr.a IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_predicted,
        |    CAST(sum(CASE WHEN tr.a IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_truth,
        |    CAST(sum(CASE WHEN pr.a IS NOT NULL AND tr.a IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS true_positives
        |  FROM pr FULL OUTER JOIN tr ON pr.a = tr.a AND pr.b = tr.b
        |)
        |SELECT n_predicted, n_truth, true_positives,
        |  CASE WHEN n_predicted > 0 THEN
        |    floor(CAST(true_positives AS DOUBLE)
        |      / CAST(n_predicted AS DOUBLE) * 1e6 + 0.5) / 1e6
        |  END AS precision,
        |  CASE WHEN n_truth > 0 THEN
        |    floor(CAST(true_positives AS DOUBLE)
        |      / CAST(n_truth AS DOUBLE) * 1e6 + 0.5) / 1e6
        |  END AS recall,
        |  CASE WHEN n_predicted > 0 AND n_truth > 0 AND
        |    (CAST(true_positives AS DOUBLE) / CAST(n_predicted AS DOUBLE)
        |     + CAST(true_positives AS DOUBLE) / CAST(n_truth AS DOUBLE)) > 0
        |  THEN
        |    floor(2.0
        |      * (CAST(true_positives AS DOUBLE) / CAST(n_predicted AS DOUBLE))
        |      * (CAST(true_positives AS DOUBLE) / CAST(n_truth AS DOUBLE))
        |      / (CAST(true_positives AS DOUBLE) / CAST(n_predicted AS DOUBLE)
        |         + CAST(true_positives AS DOUBLE) / CAST(n_truth AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6
        |  END AS f1
        |FROM m""".stripMargin,

    // q_psi_drift: same baseline-anchored bins, same ε substitution on
    // the RAW proportions (display proportions round separately), same
    // contribution arithmetic
    "q_psi_drift" ->
      """WITH b AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_shipdate < '1995-06-01'
        |), c AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_shipdate >= '1995-06-01'
        |), bounds AS (
        |  SELECT min(v) AS mn, max(v) AS mx FROM b
        |), bb AS (
        |  SELECT CASE WHEN mx = mn THEN 0 ELSE
        |    least(greatest(CAST(floor(CAST(v - mn AS DOUBLE) * 10
        |      / CAST(mx - mn AS DOUBLE)) AS BIGINT), 0), 9) END AS bin,
        |    count(*) AS n_base
        |  FROM b, bounds GROUP BY 1
        |), cc AS (
        |  SELECT CASE WHEN mx = mn THEN 0 ELSE
        |    least(greatest(CAST(floor(CAST(v - mn AS DOUBLE) * 10
        |      / CAST(mx - mn AS DOUBLE)) AS BIGINT), 0), 9) END AS bin,
        |    count(*) AS n_cur
        |  FROM c, bounds GROUP BY 1
        |), j AS (
        |  SELECT coalesce(bb.bin, cc.bin) AS bin,
        |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
        |  FROM bb FULL OUTER JOIN cc ON bb.bin = cc.bin
        |), t AS (
        |  SELECT CAST(sum(n_base) AS BIGINT) AS tb,
        |    CAST(sum(n_cur) AS BIGINT) AS tc FROM j
        |)
        |SELECT bin, n_base, n_cur,
        |  floor((CASE WHEN n_base = 0 THEN 1e-4
        |    ELSE CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE) END)
        |    * 1e6 + 0.5) / 1e6 AS p_base,
        |  floor((CASE WHEN n_cur = 0 THEN 1e-4
        |    ELSE CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END)
        |    * 1e6 + 0.5) / 1e6 AS p_cur,
        |  floor(((CASE WHEN n_cur = 0 THEN 1e-4
        |      ELSE CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END)
        |    - (CASE WHEN n_base = 0 THEN 1e-4
        |      ELSE CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE) END))
        |    * ln((CASE WHEN n_cur = 0 THEN 1e-4
        |      ELSE CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END)
        |      / (CASE WHEN n_base = 0 THEN 1e-4
        |      ELSE CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE) END))
        |    * 1e6 + 0.5) / 1e6 AS psi_contribution
        |FROM j, t""".stripMargin,

    // q_rank_eval: the oracle rebuilds both rankings and folds the
    // SAME rank-ordered gain lists with list_reduce (left fold —
    // matching the engine's aggregate() fold, since 0.0 + t1 = t1)
    "q_rank_eval" ->
      """WITH res AS (
        |  SELECT o_orderpriority AS query, o_orderkey AS doc, rnk AS rank
        |  FROM (SELECT o_orderpriority, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |        FROM orders)
        |  WHERE rnk <= 10
        |), lab AS (
        |  SELECT o_orderpriority AS query, o_orderkey AS doc,
        |    CASE WHEN o_orderstatus = 'F' THEN 2
        |         WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS rel
        |  FROM orders
        |), rl AS (
        |  SELECT res.query, res.rank, coalesce(lab.rel, 0) AS rel
        |  FROM res LEFT JOIN lab
        |    ON res.query = lab.query AND res.doc = lab.doc
        |), pq AS (
        |  SELECT query, count(*) AS n_results,
        |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_relevant,
        |    floor(list_reduce(
        |      list((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |           / log2(CAST(rank AS DOUBLE) + 1.0) ORDER BY rank),
        |      (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS dcg,
        |    coalesce(floor(1.0 / CAST(min(CASE WHEN rel > 0 THEN rank END)
        |      AS DOUBLE) * 1e6 + 0.5) / 1e6, 0.0) AS mrr
        |  FROM rl GROUP BY query
        |), idl AS (
        |  SELECT query, rel, row_number() OVER (PARTITION BY query
        |    ORDER BY rel DESC, doc) AS pos
        |  FROM lab WHERE rel > 0
        |), idcg AS (
        |  SELECT query,
        |    floor(list_reduce(
        |      list((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |           / log2(CAST(pos AS DOUBLE) + 1.0) ORDER BY pos),
        |      (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS idcg
        |  FROM idl WHERE pos <= 10 GROUP BY query
        |)
        |SELECT pq.query, n_results, n_relevant, dcg, idcg,
        |  CASE WHEN idcg > 0 THEN floor(dcg / idcg * 1e6 + 0.5) / 1e6
        |  END AS ndcg, mrr
        |FROM pq LEFT JOIN idcg USING (query)""".stripMargin,

    // q_kaplan_meier: same day-bucketed durations and censoring rule,
    // same suffix at-risk arithmetic, same in-order running ln-factor
    // sum (window running sums scan rows in order on both engines)
    "q_kaplan_meier" ->
      """WITH subj AS (
        |  SELECT CAST(floor(CAST(epoch_us(max(ts)) - epoch_us(min(ts))
        |    AS DOUBLE) / 86400000000.0) AS BIGINT) AS dur,
        |    max(ts) < TIMESTAMP '2024-01-25 00:00:00' AS ev
        |  FROM events GROUP BY user_id
        |), c AS (
        |  SELECT dur AS t,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |    count(*) AS total
        |  FROM subj GROUP BY dur
        |), r AS (
        |  SELECT t, events, total, total - events AS censored,
        |    CAST(sum(total) OVER () AS BIGINT)
        |      - CAST(coalesce(sum(total) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n_at_risk
        |  FROM c
        |), s AS (
        |  SELECT t, n_at_risk, events, censored,
        |    max(CASE WHEN events >= n_at_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS extinct,
        |    sum(CASE WHEN events > 0 AND events < n_at_risk
        |        THEN ln(1.0 - CAST(events AS DOUBLE)
        |          / CAST(n_at_risk AS DOUBLE))
        |        ELSE 0.0 END)
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnsum
        |  FROM r
        |)
        |SELECT t, n_at_risk, events, censored,
        |  CASE WHEN extinct = 1 THEN 0.0
        |       ELSE floor(exp(lnsum) * 1e6 + 0.5) / 1e6 END AS survival
        |FROM s""".stripMargin,

    // q_stratified_exact: identical integer allocation (// and %),
    // identical remainder ranking and portable-hash pick order
    "q_stratified_exact" ->
      """WITH sizes AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS total FROM sizes
        |), alloc0 AS (
        |  SELECT lang, (n * 100) // total AS base,
        |    (n * 100) % total AS rem
        |  FROM sizes, tot
        |), lo AS (
        |  SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM alloc0
        |), alloc AS (
        |  SELECT lang, base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, lang)
        |        <= greatest(leftover, 0) THEN 1 ELSE 0 END AS alloc
        |  FROM alloc0, lo
        |), ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000000,
        |      doc_id) AS pr
        |  FROM documents
        |)
        |SELECT doc_id, lang
        |FROM ranked JOIN alloc USING (lang) WHERE pr <= alloc""".stripMargin,

    // q_ab_test: exact per-variant counts, identically-spelled pooled
    // z, significance on the rounded statistic
    "q_ab_test" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    CASE WHEN user_id % 3 = 0 THEN 'control'
        |         WHEN user_id % 3 = 1 THEN 'a' ELSE 'b' END AS variant
        |  FROM events GROUP BY user_id
        |), counts AS (
        |  SELECT variant, count(*) AS n,
        |    CAST(sum(conv) AS BIGINT) AS x
        |  FROM subj GROUP BY variant
        |), ctrl AS (
        |  SELECT n AS nc, x AS xc FROM counts WHERE variant = 'control'
        |)
        |SELECT variant,
        |  nc AS n_control, xc AS conv_control,
        |  n AS n_variant, x AS conv_variant,
        |  floor(CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS rate_control,
        |  floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS rate_variant,
        |  floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS abs_lift,
        |  CASE WHEN xc > 0 THEN
        |    floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE))
        |      / (CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE)) * 1e6 + 0.5)
        |      / 1e6 END AS rel_lift,
        |  CASE WHEN CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE) > 0
        |        AND CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE) < 1
        |  THEN floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE))
        |    / sqrt(CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE)
        |      * (1.0 - CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE))
        |      * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(n AS DOUBLE)))
        |    * 1e6 + 0.5) / 1e6 END AS z,
        |  coalesce(abs(CASE WHEN CAST(xc + x AS DOUBLE)
        |        / CAST(nc + n AS DOUBLE) > 0
        |      AND CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE) < 1
        |    THEN floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE))
        |      / sqrt(CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE)
        |        * (1.0 - CAST(xc + x AS DOUBLE) / CAST(nc + n AS DOUBLE))
        |        * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(n AS DOUBLE)))
        |      * 1e6 + 0.5) / 1e6 END) >= 1.96, false) AS significant_95
        |FROM counts, ctrl WHERE variant <> 'control'""".stripMargin,

    // q_ks_drift: single-axis cumulative replay; the rounded gap maxes
    // identically and ties on D break to the smaller value
    "q_ks_drift" ->
      """WITH b AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_shipdate < '1995-06-01'
        |), c AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_shipdate >= '1995-06-01'
        |), db AS (
        |  SELECT v, count(*) AS ca FROM b GROUP BY v
        |), dc AS (
        |  SELECT v, count(*) AS cb FROM c GROUP BY v
        |), m AS (
        |  SELECT coalesce(db.v, dc.v) AS v,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM db FULL OUTER JOIN dc ON db.v = dc.v
        |), cumf AS (
        |  SELECT v,
        |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS ea,
        |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS eb,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nb
        |  FROM m
        |), g AS (
        |  SELECT v, na, nb,
        |    floor(abs(CAST(ea AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(eb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS gg
        |  FROM cumf
        |)
        |SELECT max(na) AS n_base, max(nb) AS n_cur,
        |  max(gg) AS d_stat,
        |  CAST(min(CASE WHEN gg = (SELECT max(gg) FROM g) THEN v END)
        |    AS DOUBLE) / 100.0 AS at_value
        |FROM g""".stripMargin,

    // q_percentiles: ranks replay positions; k = floor((n-1)·p), the
    // straddling statistics come from rank-match aggregates, and the
    // interpolation is the identical double sequence
    "q_percentiles" ->
      """WITH b AS (
        |  SELECT l_suppkey AS c,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS vi
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT c, vi,
        |    row_number() OVER (PARTITION BY c ORDER BY vi) - 1 AS j,
        |    count(*) OVER (PARTITION BY c) AS n
        |  FROM b
        |), a AS (
        |  SELECT c, max(n) AS n,
        |    max(CASE WHEN j = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5)
        |      AS BIGINT) THEN vi END) AS lo50,
        |    max(CASE WHEN j = least(CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5)
        |      AS BIGINT) + 1, n - 1) THEN vi END) AS hi50,
        |    max(CAST(n - 1 AS DOUBLE) * 0.5
        |      - floor(CAST(n - 1 AS DOUBLE) * 0.5)) AS fr50,
        |    max(CASE WHEN j = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9)
        |      AS BIGINT) THEN vi END) AS lo90,
        |    max(CASE WHEN j = least(CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9)
        |      AS BIGINT) + 1, n - 1) THEN vi END) AS hi90,
        |    max(CAST(n - 1 AS DOUBLE) * 0.9
        |      - floor(CAST(n - 1 AS DOUBLE) * 0.9)) AS fr90,
        |    max(CASE WHEN j = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99)
        |      AS BIGINT) THEN vi END) AS lo99,
        |    max(CASE WHEN j = least(CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99)
        |      AS BIGINT) + 1, n - 1) THEN vi END) AS hi99,
        |    max(CAST(n - 1 AS DOUBLE) * 0.99
        |      - floor(CAST(n - 1 AS DOUBLE) * 0.99)) AS fr99
        |  FROM r GROUP BY c
        |)
        |SELECT c AS l_suppkey, n,
        |  floor((CAST(lo50 AS DOUBLE)
        |    + (CAST(hi50 AS DOUBLE) - CAST(lo50 AS DOUBLE)) * fr50)
        |    / 100.0 * 1e6 + 0.5) / 1e6 AS p50,
        |  floor((CAST(lo90 AS DOUBLE)
        |    + (CAST(hi90 AS DOUBLE) - CAST(lo90 AS DOUBLE)) * fr90)
        |    / 100.0 * 1e6 + 0.5) / 1e6 AS p90,
        |  floor((CAST(lo99 AS DOUBLE)
        |    + (CAST(hi99 AS DOUBLE) - CAST(lo99 AS DOUBLE)) * fr99)
        |    / 100.0 * 1e6 + 0.5) / 1e6 AS p99
        |FROM a""".stripMargin,

    // q_trimmed_mean: the oracle ranks rows per key and keeps 1-based
    // ranks (k, n-k] — the same multiset the span-overlap arithmetic
    // keeps — so the exact integer sum matches and the two final double
    // divisions are spelled identically
    "q_trimmed_mean" ->
      """WITH b AS (
        |  SELECT l_suppkey AS k,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS vi
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT k, vi,
        |    row_number() OVER (PARTITION BY k ORDER BY vi) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM b
        |), t AS (
        |  SELECT k, n, vi FROM r
        |  WHERE rn > CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |    AND rn <= n - CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        |)
        |SELECT k AS l_suppkey, min(n) AS n,
        |  count(*) AS n_kept,
        |  floor(CAST(sum(CAST(vi AS DECIMAL(38,0))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6
        |    AS trimmed_mean
        |FROM t GROUP BY k""".stripMargin,

    "q_events_props" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_field,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(1, greatest(len(tok) - 1, 2)),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingles
        |  FROM (SELECT doc_id, lang, source,
        |          regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM documents)
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b
        |    ON a.doc_id < b.doc_id AND a.lang = b.lang AND a.source = b.source
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""".stripMargin,

    "q_setsim_join" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' plus appended tail words'
        |  FROM documents WHERE doc_id % 15 = 0
        |), tk AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(text), '\W+'),
        |      x -> len(x) > 0)) AS ts
        |  FROM corpus
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS DOUBLE)
        |      AS jac
        |  FROM tk a JOIN tk b ON a.doc_id < b.doc_id
        |  WHERE len(a.ts) > 0 AND len(b.ts) > 0
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.75""".stripMargin,

    "q_minhash_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graft dup tail' AS text
        |  FROM documents WHERE doc_id % 4 = 1
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingles
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM corpus)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
        |      >= 0.5
        |)
        |SELECT c.doc_id,
        |  coalesce(min(p.id_a), c.doc_id) AS canonical_id,
        |  coalesce(min(p.id_a), c.doc_id) <> c.doc_id AS is_duplicate
        |FROM corpus c LEFT JOIN pairs p ON p.id_b = c.doc_id
        |GROUP BY c.doc_id""".stripMargin,

    "q_dedup_connected" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' graft dup tail'
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' graft dup tail plus more pad'
        |  FROM documents WHERE doc_id % 4 = 1
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingles
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM corpus)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
        |      >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |), reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM corpus
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
        |)
        |SELECT id AS doc_id, min(r) AS canonical_id,
        |  min(r) <> id AS is_duplicate
        |FROM reach GROUP BY id""".stripMargin,

    // q_softdedup_weights: exact clusters are text-equality groups, so
    // the replay is two windows over the planted corpus; 1/n is one
    // IEEE division on both engines
    "q_softdedup_weights" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS component,
        |  count(*) OVER (PARTITION BY text) AS dup_count,
        |  CAST(1 AS DOUBLE) / count(*) OVER (PARTITION BY text) AS weight
        |FROM corpus""".stripMargin,

    // q_distinct_sketch: the oracle rebuilds each day's bottom-32
    // portable-hash set, applies the same exact-below-k /
    // floor((k-1)·P/h_k) estimator, and derives the ALL row from the
    // global distinct hash set (k smallest of a union of per-group
    // k-smallest = global k smallest — KMV mergeability)
    "q_distinct_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    ((user_id % 1000000007) * 2654435761) % 1000000007 AS h
        |  FROM events
        |), ranked AS (
        |  SELECT day, h,
        |    row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |  FROM h
        |), agg AS (
        |  SELECT day, count(*) AS nd,
        |    max(CASE WHEN rn = 32 THEN h END) AS h32
        |  FROM ranked GROUP BY day
        |), g AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT h FROM h)
        |), gagg AS (
        |  SELECT count(*) AS nd, max(CASE WHEN rn = 32 THEN h END) AS h32
        |  FROM g
        |)
        |SELECT day,
        |  CAST(least(nd, 32) AS BIGINT) AS sketch_size,
        |  CASE WHEN nd < 32 THEN CAST(nd AS BIGINT)
        |       ELSE CAST(floor(31.0 * 1000000007.0
        |                       / CAST(h32 AS DOUBLE)) AS BIGINT)
        |  END AS distinct_est
        |FROM agg
        |UNION ALL
        |SELECT 'ALL' AS day,
        |  CAST(least(nd, 32) AS BIGINT) AS sketch_size,
        |  CASE WHEN nd < 32 THEN CAST(nd AS BIGINT)
        |       ELSE CAST(floor(31.0 * 1000000007.0
        |                       / CAST(h32 AS DOUBLE)) AS BIGINT)
        |  END AS distinct_est
        |FROM gagg""".stripMargin,

    // q_sketch_overlap: the oracle rebuilds each type's bottom-32
    // portable-hash list and applies the identical union-sample
    // arithmetic (k smallest of the union, double-membership count,
    // jaccard x union-estimate for the intersection count)
    "q_sketch_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ((user_id % 1000000007) * 2654435761) % 1000000007 AS h
        |  FROM events
        |), ranked AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h
        |), sk AS (
        |  SELECT event_type, list_sort(list(h)) AS sk
        |  FROM ranked WHERE rn <= 32 GROUP BY event_type
        |), p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.event_type < b.event_type
        |), calc AS (
        |  SELECT type_a, type_b,
        |    list_sort(list_distinct(list_concat(ska, skb)))[1:32] AS merged,
        |    list_intersect(ska, skb) AS interall
        |  FROM p
        |)
        |SELECT type_a, type_b,
        |  CAST(len(list_intersect(merged, interall)) AS DOUBLE)
        |    / CAST(len(merged) AS DOUBLE) AS jaccard_est,
        |  CAST(floor(
        |    CAST(len(list_intersect(merged, interall)) AS DOUBLE)
        |      / CAST(len(merged) AS DOUBLE)
        |    * CAST(CASE WHEN len(merged) < 32 THEN CAST(len(merged) AS BIGINT)
        |        ELSE CAST(floor(31.0 * 1000000007.0
        |          / CAST(merged[32] AS DOUBLE)) AS BIGINT) END AS DOUBLE)
        |  ) AS BIGINT) AS intersection_est
        |FROM calc""".stripMargin,

    // q_corpus_containment: the same trigram sets rebuilt as strings
    // (distinct hashes = distinct grams — same tokenizer, no collision
    // at this scale), intersected and counted; divisions are one
    // double op each, identical on both engines
    "q_corpus_containment" ->
      """WITH a AS (
        |  SELECT text FROM documents WHERE doc_id % 3 < 2
        |), b AS (
        |  SELECT text FROM documents WHERE doc_id % 3 > 0
        |  UNION ALL
        |  SELECT 'novel prefix words ' || text FROM documents
        |  WHERE doc_id % 7 = 0
        |), sa AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS g
        |  FROM (SELECT regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM a)
        |), sb AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS g
        |  FROM (SELECT regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM b)
        |), j AS (
        |  SELECT
        |    (SELECT count(*) FROM sa) AS n_a,
        |    (SELECT count(*) FROM sb) AS n_b,
        |    (SELECT count(*) FROM sa JOIN sb ON sa.g = sb.g) AS n_common
        |)
        |SELECT n_a, n_b, n_common,
        |  CAST(n_common AS DOUBLE) / n_b AS containment_b_in_a,
        |  CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        |FROM j""".stripMargin,

    "q_dedup_keep_best" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' graft dup tail'
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' graft dup tail plus more pad'
        |  FROM documents WHERE doc_id % 4 = 0
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingles
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\W+') AS tok
        |        FROM corpus)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
        |      >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |), reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM corpus
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS cid FROM reach GROUP BY id
        |), ranked AS (
        |  SELECT c.doc_id, row_number() OVER (PARTITION BY m.cid
        |    ORDER BY length(c.text) DESC, c.doc_id) AS rn
        |  FROM corpus c JOIN comp m ON c.doc_id = m.doc_id
        |)
        |SELECT doc_id FROM ranked WHERE rn = 1""".stripMargin,

    "q_embedding_pairs" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 5 = 2
        |), j AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM j WHERE cos >= 0.95""".stripMargin,

    "q_embedding_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 5 = 2
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.95
        |)
        |SELECT c.vec_id,
        |  coalesce(min(p.id_a), c.vec_id) AS canonical_id,
        |  coalesce(min(p.id_a), c.vec_id) <> c.vec_id AS is_duplicate
        |FROM corpus c LEFT JOIN pairs p ON p.id_b = c.vec_id
        |GROUP BY c.vec_id""".stripMargin,

    "q_semantic_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 5 = 3
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.95
        |)
        |SELECT c.vec_id,
        |  coalesce(min(p.id_a), c.vec_id) AS canonical_id,
        |  coalesce(min(p.id_a), c.vec_id) <> c.vec_id AS is_duplicate
        |FROM corpus c LEFT JOIN pairs p ON p.id_b = c.vec_id
        |GROUP BY c.vec_id""".stripMargin,

    "q_dedup_first" ->
      """WITH corpus AS (
        |  SELECT event_id, ts, user_id, event_type, value, props FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, ts + INTERVAL 30 MINUTE, user_id,
        |    event_type, value, props
        |  FROM events WHERE event_id % 7 = 0
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, value, props
        |    ORDER BY ts, event_id) AS rn
        |  FROM corpus
        |)
        |SELECT event_id, ts, user_id, event_type, value FROM r
        |WHERE rn = 1""".stripMargin,

    "q_skew_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_quality_checks" ->
      """WITH m AS (
        |  SELECT 'not_null' AS chk, 'l_shipdate' AS target,
        |    avg(CASE WHEN l_shipdate IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |      AS metric, 1.0 AS threshold
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'bounds', 'l_quantity',
        |    avg(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
        |        THEN 1.0 ELSE 0.0 END), 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'bounds', 'l_discount',
        |    avg(CASE WHEN l_discount >= 0 AND l_discount <= 0.05
        |        THEN 1.0 ELSE 0.0 END), 0.9
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_set', 'l_returnflag',
        |    avg(CASE WHEN l_returnflag IN ('A','N','R')
        |        THEN 1.0 ELSE 0.0 END), 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_set', 'l_linestatus',
        |    avg(CASE WHEN l_linestatus IN ('O') THEN 1.0 ELSE 0.0 END), 0.9
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'matches', 'l_returnflag',
        |    avg(CASE WHEN regexp_matches(l_returnflag, '^[ANR]$')
        |        THEN 1.0 ELSE 0.0 END), 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique', 'l_orderkey,l_linenumber',
        |    CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE)
        |      / count(*), 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique', 'l_orderkey',
        |    CAST(count(DISTINCT l_orderkey) AS DOUBLE) / count(*), 0.5
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'foreign_key', 'l_orderkey',
        |    avg(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                          WHERE o.o_orderkey = l.l_orderkey)
        |        THEN 1.0 ELSE 0.0 END), 1.0
        |  FROM lineitem l
        |  UNION ALL
        |  SELECT 'foreign_key', 'l_partkey',
        |    avg(CASE WHEN EXISTS (SELECT 1 FROM part p
        |                          WHERE p.p_partkey = l.l_partkey
        |                            AND p.p_partkey % 5 <> 0)
        |        THEN 1.0 ELSE 0.0 END), 1.0
        |  FROM lineitem l
        |)
        |SELECT chk AS "check", target, metric, threshold,
        |  metric >= threshold AS passed
        |FROM m""".stripMargin,

    "q_profile_table" ->
      """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  count(*) - count(o_orderkey) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders""".stripMargin,

    // q_numeric_profile: exact mode is engine-replayable by design —
    // mean/stddev from exact DECIMAL(28,10) sums (identical doubles in
    // any engine), quantile_cont ≡ Spark's percentile interpolation
    "q_numeric_profile" ->
      """WITH s AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
        |  CAST(l_discount AS DOUBLE) AS d, CAST(l_tax AS DOUBLE) AS t
        |  FROM lineitem),
        |a AS (SELECT
        |  count(q) AS nq,
        |  CAST(sum(CAST(q AS DECIMAL(28,10))) AS DOUBLE) AS q1,
        |  CAST(sum(CAST(q*q AS DECIMAL(28,10))) AS DOUBLE) AS q2,
        |  quantile_cont(q, [0.25,0.5,0.75,0.95]) AS qq,
        |  count(d) AS nd,
        |  CAST(sum(CAST(d AS DECIMAL(28,10))) AS DOUBLE) AS d1,
        |  CAST(sum(CAST(d*d AS DECIMAL(28,10))) AS DOUBLE) AS d2,
        |  quantile_cont(d, [0.25,0.5,0.75,0.95]) AS dq,
        |  count(t) AS nt,
        |  CAST(sum(CAST(t AS DECIMAL(28,10))) AS DOUBLE) AS t1,
        |  CAST(sum(CAST(t*t AS DECIMAL(28,10))) AS DOUBLE) AS t2,
        |  quantile_cont(t, [0.25,0.5,0.75,0.95]) AS tq
        |  FROM s)
        |SELECT 'l_quantity' AS column_name, round(q1/nq, 4) AS mean,
        |  round(sqrt((q2 - q1*q1/nq)/(nq - 1)), 4) AS stddev,
        |  round(qq[1], 4) AS p25, round(qq[2], 4) AS p50,
        |  round(qq[3], 4) AS p75, round(qq[4], 4) AS p95 FROM a
        |UNION ALL
        |SELECT 'l_discount', round(d1/nd, 4),
        |  round(sqrt((d2 - d1*d1/nd)/(nd - 1)), 4),
        |  round(dq[1], 4), round(dq[2], 4), round(dq[3], 4),
        |  round(dq[4], 4) FROM a
        |UNION ALL
        |SELECT 'l_tax', round(t1/nt, 4),
        |  round(sqrt((t2 - t1*t1/nt)/(nt - 1)), 4),
        |  round(tq[1], 4), round(tq[2], 4), round(tq[3], 4),
        |  round(tq[4], 4) FROM a""".stripMargin,

    // q_histogram: pinned [0, 600000] × 25 bins → width 24000.0 is an
    // exact double, so floor((x-lo)/width), LEAST-fold of x = hi into
    // the last bin, and every bin edge replay bit-for-bit
    "q_histogram" ->
      """WITH c AS (
        |  SELECT CAST(LEAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0)
        |      / 24000.0), 24) AS BIGINT) AS bin, count(*) AS n
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(o_totalprice AS DOUBLE) >= 0.0
        |    AND CAST(o_totalprice AS DOUBLE) <= 600000.0
        |  GROUP BY 1)
        |SELECT r.bin, r.bin * 24000.0 AS bin_lo,
        |  (r.bin + 1) * 24000.0 AS bin_hi, COALESCE(c.n, 0) AS n
        |FROM range(25) r(bin) LEFT JOIN c ON r.bin = c.bin""".stripMargin,

    // q_top_values: melt → count → rank, same deterministic tie-break
    // (count desc, value-as-string asc, nulls first)
    "q_top_values" ->
      """WITH m AS (
        |  SELECT 'o_orderstatus' AS column_name,
        |         CAST(o_orderstatus AS VARCHAR) AS value FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
        |c AS (SELECT column_name, value, count(*) AS n
        |      FROM m GROUP BY 1, 2)
        |SELECT column_name, value, n, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY column_name
        |    ORDER BY n DESC, value ASC NULLS FIRST) AS rank FROM c) t
        |WHERE rank <= 5""".stripMargin,

    "q_group_topk" ->
      """WITH r AS (
        |  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS text_len,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY length(text) DESC, doc_id) AS rank
        |  FROM documents
        |)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, text_len
        |FROM r WHERE rank <= 5""".stripMargin,

    // q_skew_join: salts are join-invariant, so the oracle is the
    // UNSALTED join over the same skewed key derivation
    "q_skew_join" ->
      """WITH l AS (
        |  SELECT CASE WHEN l_orderkey % 4 < 3 THEN 0
        |              ELSE l_suppkey % 25 END AS nk,
        |    l_extendedprice, l_discount
        |  FROM lineitem
        |)
        |SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |  count(*) AS cnt
        |FROM l JOIN nation ON n_nationkey = l.nk
        |GROUP BY n_name""".stripMargin,

    "q_threshold_crossings" ->
      """WITH c AS (
        |  SELECT user_id, ts, value,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS rt
        |  FROM events
        |)
        |SELECT user_id, ts AS crossed_at, round(rt, 4) AS running_total
        |FROM c WHERE rt >= 500 AND rt - value < 500""".stripMargin,

    "q_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events
        |), m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e
        |), g AS (
        |  SELECT user_id, ts,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "q_temperature_sample" ->
      """WITH c AS (
        |  SELECT CAST(lang AS VARCHAR) AS d, count(*) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1
        |), tot AS (
        |  SELECT count(*) // 2 AS target FROM documents
        |  WHERE lang IS NOT NULL
        |), s AS (
        |  SELECT sum(pow(n, 0.5)) AS ps FROM c
        |), thr AS (
        |  SELECT d,
        |    round(least(1.0, target * (pow(n, 0.5) / ps) / n) * 1000000)
        |      AS thr
        |  FROM c, s, tot
        |)
        |SELECT doc_id, lang
        |FROM documents JOIN thr ON CAST(lang AS VARCHAR) = thr.d
        |WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007
        |      % 1000000 < thr""".stripMargin,

    "q_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (((doc_id + 42) % 1000000007) * 2654435761) % 1000000007
        |      AS fh,
        |    coalesce(length(text), 0) AS len
        |  FROM documents
        |)
        |SELECT (fh % 1000000) % 8 AS shard,
        |  count(*) AS n_rows,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  bit_xor(fh) AS xor_fingerprint,
        |  CAST(sum(len) AS BIGINT) AS content_chars
        |FROM t GROUP BY 1""".stripMargin,

    "q_strip_markdown" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      '# Heading One' || chr(10) || '```' || chr(10) ||
        |      'code fence secret()' || chr(10) || '```' || chr(10) ||
        |      '> quoted line' || chr(10) ||
        |      'Read **bold move** and *soft touch* at [the docs](https://ex.com/a) now'
        |      || chr(10) || '![diagram](img.png)' || chr(10) ||
        |      '---' || chr(10) || text
        |    ELSE text END AS text
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(text, '(?s)```.*?```', ' ', 'g') AS t FROM c
        |), s2 AS (
        |  SELECT doc_id, regexp_replace(t, '`[^`]*`', ' ', 'g') AS t FROM s1
        |), s3 AS (
        |  SELECT doc_id, regexp_replace(t, '!\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s2
        |), s4 AS (
        |  SELECT doc_id, regexp_replace(t, '\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s3
        |), s5 AS (
        |  SELECT doc_id, regexp_replace(t, '(?m)^#{1,6}[ \t]+', '', 'g') AS t FROM s4
        |), s6 AS (
        |  SELECT doc_id, regexp_replace(t, '(?m)^>[ \t]?', '', 'g') AS t FROM s5
        |), s7 AS (
        |  SELECT doc_id, regexp_replace(t, '(?m)^[-*_]{3,}[ \t]*$', '', 'g') AS t FROM s6
        |), s8 AS (
        |  SELECT doc_id, regexp_replace(t, '\*{1,2}([^*\n]+)\*{1,2}', '\1', 'g') AS t FROM s7
        |)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text
        |FROM s8""".stripMargin,

    "q_exact_contamination" ->
      """WITH probes AS (
        |  SELECT DISTINCT substr(text, 10, 40) AS p
        |  FROM documents
        |  WHERE doc_id % 97 = 0 AND text IS NOT NULL
        |    AND length(text) >= 49
        |)
        |SELECT d.doc_id, count(*) AS matched_probes
        |FROM documents d JOIN probes ON contains(d.text, probes.p)
        |GROUP BY d.doc_id""".stripMargin,

    "q_cooccurrence" ->
      """WITH items0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey % 199 AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), items AS (
        |  -- mirror the operator's maxBasketSize=1000 skew guard: drop
        |  -- whole baskets over the cap BEFORE nBaskets/itemCounts so
        |  -- the metric denominators agree even on degenerate fixtures
        |  SELECT b, i FROM (
        |    SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items0
        |  ) WHERE sz <= 1000
        |), nb AS (
        |  SELECT count(DISTINCT b) AS n FROM items
        |), ic AS (
        |  SELECT i, count(*) AS cnt FROM items GROUP BY i
        |), co AS (
        |  SELECT a.i AS item_a, c.i AS item_b, count(*) AS co_count
        |  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT co.item_a, co.item_b, co.co_count,
        |  floor(co.co_count / CAST(nb.n AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS support,
        |  floor(co.co_count / CAST(na.cnt AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS conf_a_to_b,
        |  floor(co.co_count / CAST(cb.cnt AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS conf_b_to_a,
        |  floor(co.co_count * CAST(nb.n AS DOUBLE)
        |    / CAST(na.cnt * cb.cnt AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS lift
        |FROM co, nb
        |JOIN ic na ON na.i = co.item_a
        |JOIN ic cb ON cb.i = co.item_b""".stripMargin,

    "q_trend" ->
      """WITH b AS (
        |  SELECT l_suppkey,
        |    date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
        |      AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_shipdate IS NOT NULL AND l_extendedprice IS NOT NULL
        |), m AS (
        |  SELECT l_suppkey, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM b GROUP BY 1
        |)
        |SELECT l_suppkey, n,
        |  floor(CASE WHEN n * sxx - sx * sx > 0 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END
        |    * 1000000 + 0.5) / 1000000 AS slope,
        |  floor(CASE WHEN n * sxx - sx * sx > 0 THEN
        |    (CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END
        |    * 1000000 + 0.5) / 1000000 AS intercept,
        |  floor(CASE WHEN n * sxx - sx * sx > 0
        |             AND n * syy - sy * sy > 0 THEN
        |    (CAST(n * sxy - sx * sy AS DOUBLE)
        |      * CAST(n * sxy - sx * sy AS DOUBLE))
        |    / (CAST(n * sxx - sx * sx AS DOUBLE)
        |      * CAST(n * syy - sy * sy AS DOUBLE)) END
        |    * 1000000 + 0.5) / 1000000 AS r2
        |FROM m""".stripMargin,

    "q_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    pow(((((doc_id + 7) % 1000000007) * 2654435761)
        |           % 1000000007 % 1000000 + 0.5) / 1000000.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |  ORDER BY key DESC, doc_id LIMIT 60
        |)""".stripMargin,

    "q_attribution_linear" ->
      """WITH t AS (
        |  SELECT c.user_id, c.event_id AS click_id,
        |    p.event_id AS purchase_id, p.value AS purchase_value
        |  FROM events c JOIN events p
        |    ON c.user_id = p.user_id
        |   AND c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |)
        |SELECT user_id, purchase_id, click_id,
        |  count(*) OVER (PARTITION BY purchase_id) AS n_touches,
        |  floor(purchase_value
        |        / (count(*) OVER (PARTITION BY purchase_id))
        |        * 1000000 + 0.5) / 1000000 AS credit
        |FROM t""".stripMargin,

    "q_weighted_sample_group" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    pow(((((doc_id + 11) % 1000000007) * 2654435761)
        |           % 1000000007 % 1000000 + 0.5) / 1000000.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY key DESC, doc_id) AS rn
        |  FROM b
        |)
        |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20""".stripMargin,

    "q_bucket_batches" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN n_chars < 500 THEN 0
        |         WHEN n_chars < 1500 THEN 1
        |         WHEN n_chars < 3000 THEN 2 ELSE 3 END AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL
        |), r AS (
        |  SELECT doc_id, bucket,
        |    row_number() OVER (PARTITION BY bucket
        |                       ORDER BY n_chars, doc_id) - 1 AS rn
        |  FROM b
        |)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  rn // 16 AS batch_idx, rn % 16 AS batch_pos
        |FROM r""".stripMargin
  )
}
