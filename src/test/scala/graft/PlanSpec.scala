package graft

import graft.llm.{Dedup, TextAnalysis}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale properties the operators claim
  * (pushdown, shuffle payload width, map-side partial aggregation,
  * codegen) asserted against the physical plan, so a regression that
  * silently changes the plan shape fails loudly — "would this survive
  * 100×" as a test, not a comment. */
class PlanSpec extends SparkSpec {

  /** Output column names of every shuffle exchange in the plan (AQE
    * wraps the plan in an opaque adaptive node — unwrap it first). */
  private def shuffleOutputs(df: DataFrame): Seq[Seq[String]] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e.output.map(_.name).toSeq }
  }

  test("filters and projections push into the parquet scan") {
    val df = sf("lineitem")
      .filter(col("l_quantity") > 25 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_quantity"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,25.0)"),
      s"filter not pushed to scan:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "column pruning failed: untouched columns appear in the scan")
  }

  test("text analysis is one shuffle-free codegen'd projection") {
    val df = TextAnalysis.analyze(sf("documents"), "text")
    assert(shuffleOutputs(df).isEmpty, "pure projection must not shuffle")
    // `*(n)` prefixes mark whole-stage-codegen'd spans
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
      "projection left whole-stage codegen")
  }

  test("exact dedup never shuffles document content (narrow hash,id pairs)") {
    val df = Dedup.exact(sf("documents"), "doc_id", Seq("text"))
    val shuffles = shuffleOutputs(df)
    assert(shuffles.nonEmpty)
    shuffles.foreach(cols =>
      assert(!cols.contains("text"),
        s"document content crossed a shuffle: $cols"))
    assert(df.queryExecution.sparkPlan.toString.contains("partial_min"),
      "expected map-side partial min on the hash key")
  }

  test("group-by aggregation is partial (map-side) before its single shuffle") {
    val df = sf("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
    assert(df.queryExecution.sparkPlan.toString.contains("partial_sum"))
    assert(shuffleOutputs(df).size == 1)
  }

  test("minhash: shingle arrays never cross any shuffle") {
    val pairs = Dedup.minhashPairs(sf("documents"), "doc_id", "text")
    val shuffles = shuffleOutputs(pairs)
    assert(shuffles.nonEmpty)
    shuffles.foreach(cols =>
      assert(!cols.exists(c => c == "shingles" || c.startsWith("sh_")),
        s"a shuffle is carrying shingle arrays: $cols"))
  }

  test("broadcastable dimension joins broadcast (no shuffle of the fact side)") {
    val l = sf("lineitem").as("l")
    val n = sf("nation").hint("broadcast").as("n")
    val df = l.join(n, pmod(col("l.l_suppkey"), lit(25)) === col("n.n_nationkey"))
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(shuffleOutputs(df).isEmpty, "broadcast join must not shuffle the fact")
  }

  test("stratified sampling is a shuffle-free pushd-adjacent filter") {
    val df = graft.llm.Sampling.stratified(sf("documents"), "lang", "doc_id",
      Map("en" -> 0.5), defaultFraction = 0.1)
    assert(shuffleOutputs(df).isEmpty, "hash sampling must not shuffle")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
      "sampling filter left whole-stage codegen")
  }

  test("sequence packing is exactly one shuffle (the window partition)") {
    // project to the metadata the pack layout needs BEFORE packing — the
    // window exchange shuffles whole rows, so the caller keeps document
    // content out of the wire by packing (id, group, tokens) and joining
    // assignments back by id
    val d = sf("documents").withColumn("toks",
        TextAnalysis.tokenCountEstimate(col("text")).cast("long"))
      .select("doc_id", "source", "toks")
    val packed = graft.llm.Packing.packSequences(d, "doc_id", "toks",
      budget = 2048, groupCols = Seq("source"), subStreams = 4)
    assert(shuffleOutputs(packed).size == 1,
      "offset packing must cost exactly the window's hash partition")
    shuffleOutputs(packed).foreach(cols =>
      assert(!cols.contains("text"),
        s"document content crossed the packing shuffle: $cols"))
  }

  test("contamination broadcasts probe grams; corpus is never gram-shuffled") {
    val corpus = sf("documents")
    val probes = corpus.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("text"))
    val rep = graft.llm.Contamination.check(corpus, probes,
      "doc_id", "text", "text", n = 8)
    val p = rep.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"probe grams must broadcast-join:\n${p.take(2000)}")
    // the ONLY gram-carrying shuffle allowed is the probe side's
    // distinct (gram alone, bounded by the benchmark's size); the
    // corpus's exploded gram stream — (doc_id, gram), unbounded — must
    // never cross the wire
    shuffleOutputs(rep).foreach(cols =>
      assert(!cols.contains("gram") || cols == Seq("gram"),
        s"corpus grams crossed a shuffle: $cols"))
  }

  test("similarity scores stay in one projection with TakeOrdered for topK") {
    val emb = sf("embeddings")
    val qv = Seq.fill(64)(0.1)
    val scores = graft.llm.Similarity.scoresForQuery(emb, "vec_id", "embedding", qv)
    assert(shuffleOutputs(scores).isEmpty, "scores must be shuffle-free")
    val topk = graft.llm.Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 5)
    assert(topk.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "topK must be TakeOrderedAndProject, not a global sort")
  }

  test("embedding SRP bucketing and cosine verify are native (no HOF lambdas)") {
    val pairs = Dedup.embeddingPairs(sf("embeddings"), "vec_id", "embedding")
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("zip_with") && !p.contains("aggregate("),
      s"interpreted higher-order functions back in the embedding hot path:\n$p")
    // codegen marker on the shuffle-free bucket projection (the pairs plan
    // is AQE-wrapped pre-execution, so it prints without codegen spans)
    val proj = sf("embeddings").select(
      graft.functions.VectorExprs.srp_bits(col("embedding")).as("b"),
      graft.functions.VectorExprs.cosine_sim(col("embedding"), col("embedding")))
    assert(proj.queryExecution.executedPlan.toString.contains("*(1)"),
      "bucket/cosine projection left whole-stage codegen")
  }

  test("semantic dedup: cell-keyed equi-join, never a cartesian product") {
    val out = Dedup.semanticDedup(sf("embeddings"), "vec_id", "embedding",
      nlist = 4, kmeansIters = 1)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing must join on the cell key:\n$p")
    // the pairwise search shuffles/broadcasts only cluster-annotated
    // vectors; document text columns don't exist here, but guard that
    // no exchange carries the verify's cosine output (verify runs
    // after the join, not across a wire)
    shuffleOutputs(out).foreach(cols =>
      assert(!cols.contains("cosine"), s"cosine crossed a shuffle: $cols"))
  }

  test("q_returned_items: pushed flag/date filters, broadcast nation, TakeOrdered") {
    val df = SparkEntry.queries("q_returned_items")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order date range not pushed to the orders scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "nation dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("q_top_orders: pushed filters, broadcast dimension, TakeOrdered top-k") {
    val df = SparkEntry.queries("q_top_orders")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), "filtered customer dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("q_regional_revenue: pushed date/region filters, broadcast dims, one agg shuffle") {
    val df = SparkEntry.queries("q_regional_revenue")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orders date filter not pushed:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"), "region filter not pushed")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    // the fact side must not sort-merge against the small dims
    assert(!p.contains("SortMergeJoin"),
      s"a dimension join fell back to sort-merge:\n$p")
    assert(df.queryExecution.sparkPlan.toString.contains("partial_sum"),
      "revenue aggregation must combine map-side")
  }

  test("q_skew_join: salted broadcast spreads the hot key, no sort-merge") {
    val df = SparkEntry.queries("q_skew_join")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // the join must be a broadcast hash join ON (key, salt): the salt
    // in the join keys is exactly what spreads the hot key over 16
    // tasks — a plain key join would funnel ~75% of lineitem into one
    assert(p.contains("BroadcastHashJoin"), s"dim side must broadcast:\n$p")
    assert(p.contains("_salt"), s"salt must be part of the join keys:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"salted join fell back to sort-merge:\n$p")
    // the dim side replicates via explode BEFORE broadcast (16×25 rows)
    assert(p.contains("Generate explode"),
      s"dim replication must be an explode on the broadcast side:\n$p")
    assert(df.queryExecution.sparkPlan.toString.contains("partial_sum"),
      "revenue aggregation must combine map-side")
  }

  test("q_supplier_rank: ONE exchange serves both the agg and the window") {
    val df = SparkEntry.queries("q_supplier_rank")(spark, "/root/testdata/sf0.001")
    // the explicit repartition(l_suppkey) satisfies BOTH the agg's
    // ClusteredDistribution(l_suppkey, l_partkey) — a hash partitioning
    // on a subset of the clustering keys colocates every group — and
    // the window's partitionBy(l_suppkey): EnsureRequirements must add
    // no further exchange
    val shuffles = shuffleOutputs(df)
    assert(shuffles.size == 1,
      s"expected ONE shared exchange, got ${shuffles.size}: $shuffles")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "rank must be a window operator, not a self-join")
  }

  test("ANN probes prune partitions when the index is the partition key") {
    val dir = tmpDir("ann_prune")
    val emb = sf("embeddings")
    val qv = emb.filter(col("vec_id") === 3).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble).toSeq

    def prunedPartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.getOrElse(fail("no file scan in plan"))

    // SRP: write partitioned by bucket, probe own bucket + 1-bit flips
    val srp = graft.llm.Similarity.SrpIndex(planes = 6)
    srp.build(emb, "embedding")
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/srp")
    val srpIndexed = spark.read.parquet(s"$dir/srp")
    val totalSrp = prunedPartitions(srpIndexed)
    val probed = prunedPartitions(
      srpIndexed.filter(col("bucket").isin(srp.probes(qv): _*)))
    assert(probed <= srp.probes(qv).length && probed < totalSrp,
      s"SRP probe scan must prune: $probed of $totalSrp partitions")

    // IVF: write partitioned by cell, probe nprobe nearest cells
    val ivf = graft.llm.Similarity.IvfIndex(nlist = 8, kmeansIters = 1)
    val cents = ivf.centroids(emb, "vec_id", "embedding")
    ivf.build(emb, "embedding", cents)
      .write.partitionBy("ivf_cell").mode("overwrite").parquet(s"$dir/ivf")
    val ivfIndexed = spark.read.parquet(s"$dir/ivf")
    val totalIvf = prunedPartitions(ivfIndexed)
    val ivfProbed = prunedPartitions(ivfIndexed.filter(
      col("ivf_cell").isin(ivf.probeCells(cents, qv, nprobe = 2): _*)))
    assert(ivfProbed <= 2 && ivfProbed < totalIvf,
      s"IVF probe scan must prune: $ivfProbed of $totalIvf partitions")
  }

  test("bucketed tables co-locate the join: zero exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      sf("orders").write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      sf("customer").write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")
      val j = spark.table("b_orders").join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      assert(shuffleOutputs(j).isEmpty,
        "matching bucket layout must eliminate the join shuffle")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("validation + transform stay fused in the scan stage (no extra jobs)") {
    val df = graft.transform.Transform.inline(
      sf("lineitem").filter(col("l_quantity") > 10),
      "gross=row.l_extendedprice * (1 - row.l_discount)")
    assert(shuffleOutputs(df).isEmpty,
      "scan → filter → derive must be one narrow stage")
  }

  test("CSV date columns: one native ParseDateChain each, inside whole-stage codegen") {
    import graft.functions.DateExprs.ParseDateChain
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val dir = tmpDir("plan_csv_dates")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,shipped,note,received\n1,2023-12-25,a,12/26/2023\n2,15.3.1995,b,2023-01-05T10:30:00Z\n"
        .getBytes("UTF-8"))
    val df = graft.sources.Connectors.read(spark, s"$dir/in.csv")
    assert(df.schema("shipped").dataType == org.apache.spark.sql.types.TimestampType &&
      df.schema("received").dataType == org.apache.spark.sql.types.TimestampType)
    val optimized = df.queryExecution.optimizedPlan
    val names = optimized.flatMap(_.expressions.flatMap(_.collect { case e => e.prettyName }))
    assert(!names.exists(n => n == "gettimestamp" || n == "try_to_timestamp"),
      s"generic timestamp parsing in the plan:\n$optimized")
    val kernels = optimized.flatMap(_.expressions.flatMap(_.collect {
      case k: ParseDateChain => k }))
    assert(kernels.size == 2, s"want one ParseDateChain per date column:\n$optimized")
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val fused = plan.collect { case w: WholeStageCodegenExec =>
      w.child.flatMap(_.expressions.flatMap(_.collect { case k: ParseDateChain => k }))
    }.flatten
    assert(fused.size == 2, s"ParseDateChain outside whole-stage codegen:\n$plan")
  }

  test("repetition stats and chunking are shuffle-free codegen'd projections") {
    val rep = graft.llm.Repetition.stats(sf("documents"), "text")
    assert(shuffleOutputs(rep).isEmpty,
      "repetition stats must not shuffle (native one-pass gram stats)")
    assert(rep.queryExecution.executedPlan.toString.contains("*(1)"),
      "GramRepetition left whole-stage codegen")
    val ch = graft.llm.Chunking.chunkDocuments(sf("documents"), "doc_id", "text")
    assert(shuffleOutputs(ch).isEmpty,
      "chunking is a per-row generator — must not shuffle")
  }

  test("mixture filter is shuffle-free; only the count probe aggregates") {
    val kept = graft.llm.Sampling.mixture(sf("documents"), "lang", "doc_id",
      Map("en" -> 0.6, "de" -> 0.4))
    assert(shuffleOutputs(kept).isEmpty,
      "after the driver-side count probe, mixture must be a pure filter")
  }

  test("interleave is a shuffle-free codegen'd projection after the count probe") {
    val vt = graft.llm.Mixing.interleave(sf("documents"), "lang", "doc_id",
      Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.1))
    assert(shuffleOutputs(vt).isEmpty,
      "virtual-time assignment must be a pure projection — no windows, no ranks")
    assert(vt.queryExecution.executedPlan.toString.contains("*(1)"),
      "projection left whole-stage codegen")
  }

  test("global shuffle: one exchange, keyed by shard only") {
    val s = graft.llm.Shuffling.deterministicShuffle(
      sf("documents"), "doc_id", seed = 7L, shards = 8)
    val shuffles = shuffleOutputs(s)
    assert(shuffles.length == 1,
      s"expected exactly the shard exchange, got ${shuffles.length}")
    // per-shard sort must be within partitions, never a global Sort
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"global range sort found — per-shard sorts must stay parallel:\n$plan")
  }

  test("pairs queries: no shuffle carries document text (round-19 — " +
      "the incremental-dedup assertion extended to the pair engines)") {
    // the candidate-verify exchanges carry id-keyed PACKED shingle
    // sets (bounded to candidate rows, by design); raw text columns
    // must never ride any exchange in these plans
    val textish = Set("text", "_text", "__t", "__rt")
    val docs = sf("documents")
    def assertNoText(name: String, df: DataFrame): Unit =
      shuffleOutputs(df).foreach(cols =>
        assert(!cols.exists(textish), s"$name shuffles text: $cols"))
    assertNoText("minhashPairs",
      Dedup.minhashPairs(docs, "doc_id", "text", bands = 32))
    assertNoText("prefixJaccardJoin",
      Dedup.prefixJaccardJoin(docs, "doc_id", "text", threshold = 0.75))
    assertNoText("nearDupAgainstReference",
      Dedup.nearDupAgainstReference(docs,
        docs.filter(col("doc_id") % 3 === 0).select(col("text")),
        "doc_id", "text", bands = 32))
    assertNoText("ngramJaccardPairs",
      Dedup.ngramJaccardPairs(docs.limit(60), "doc_id", "text",
        blockingCols = Seq("lang")))
  }

  test("incremental dedup: anti-join carries hashes, never document text") {
    val docs = sf("documents")
    val ref = docs.filter(col("doc_id") % 3 === 0).select(col("text"))
    val out = graft.llm.Dedup.againstReference(docs, ref, "doc_id", Seq("text"))
    // any shuffle in the plan must be hash/id-width, not text payload —
    // the reference side reduces to 16-byte hashes before the join
    shuffleOutputs(out).foreach(cols =>
      assert(!cols.contains("text"),
        s"document text crossed a shuffle: $cols"))
    assert(out.count() > 0)
  }

  test("boilerplate: survivors broadcast; corpus never shuffles gram strings") {
    val docs = sf("documents")
    val common = graft.llm.Boilerplate.commonGrams(docs, "text", 2, 0.05)
    val plan = common.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"surviving gram set must broadcast for string recovery:\n$plan")
    // the only wide shuffle is the hashed-gram count — gram STRINGS
    // only appear downstream of the broadcast join
    val wide = shuffleOutputs(common).filter(_.contains("gram"))
    assert(wide.size <= 1,
      s"gram strings crossed ${wide.size} shuffles (expect only the final groupBy)")
  }

  test("lm score: vocabulary broadcasts; corpus tokens never wide-shuffle") {
    val docs = sf("documents")
    val vocab = graft.llm.LmScore.unigramVocab(docs, "text", 30)
    val scored = graft.llm.LmScore.score(docs, "doc_id", "text", vocab, 1000L)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"pruned vocabulary must broadcast:\n$plan")
    // shuffles carry only (id, word/partial) rollup rows — never text
    shuffleOutputs(scored).foreach(cols =>
      assert(!cols.contains("text"), s"document text crossed a shuffle: $cols"))
  }

  test("bigram lm: pairs projection is window-free; model tables broadcast") {
    val docs = sf("documents")
    val vocab = graft.llm.LmScore.unigramVocab(docs, "text", 30)
    val bi = graft.llm.LmScore.bigramCounts(docs, "text", vocab, 100)
    val scored = graft.llm.LmScore.scoreBigram(
      docs, "doc_id", "text", vocab, bi, 1000L)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"pruned model tables must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      "token pairs must come from the array projection, not a lag window")
    shuffleOutputs(scored).foreach(cols =>
      assert(!cols.contains("text"), s"document text crossed a shuffle: $cols"))
  }

  test("token budget: one shard exchange, per-shard window, no global sort") {
    val d = sf("documents").select(col("doc_id"),
      graft.llm.TextAnalysis.tokenCountEstimate(col("text"))
        .cast("long").as("toks"))
    val cut = graft.llm.Sampling.tokenBudget(d, "doc_id", "toks",
      budget = 100000L, shards = 8)
    val shuffles = shuffleOutputs(cut)
    assert(shuffles.size == 1,
      s"expected exactly the shard hash exchange, got ${shuffles.size}: $shuffles")
    val p = cut.queryExecution.executedPlan.toString
    assert(p.contains("Window"), "running sum must be a window, not a join")
    // SortExec prints "Sort [keys], <global>, 0" — only per-shard
    // (global=false) sorts may appear
    assert(!p.contains("], true, 0"), s"no global sort allowed:\n$p")
  }

  test("line dedup: unit strings never cross a shuffle; analysis is hash-narrow") {
    val out = graft.llm.Paragraphs.dropCommon(
      sf("documents"), "doc_id", "text", minDocs = 5)
    // the split-out unit strings stay inside their stage: every
    // exchange carries (id / pos / unit_hash / drop-set) rows, plus
    // the one documented doc-row move for the final rewrite join —
    // but never the exploded __unit column
    shuffleOutputs(out).foreach(cols =>
      assert(!cols.contains("__unit"),
        s"exploded unit strings crossed a shuffle: $cols"))
    val agg = graft.llm.Paragraphs.unitDocFrequency(
      sf("documents"), "doc_id", "text")
    assert(agg.queryExecution.sparkPlan.toString.contains("partial"),
      "doc-frequency must partial-aggregate map-side")
    shuffleOutputs(agg).foreach(cols =>
      assert(!cols.contains("text") && !cols.contains("__unit"),
        s"text crossed the doc-frequency shuffle: $cols"))
  }

  test("repeated spans: all shuffles are (id, hash)-narrow, no text") {
    val s = graft.llm.Spans.stats(sf("documents"), "doc_id", "text")
    shuffleOutputs(s).foreach(cols =>
      assert(!cols.contains("text"), s"document text crossed a shuffle: $cols"))
    assert(s.count() > 0)
  }

  test("substring dedup: window analysis shuffles carry (id, s, e, hash) " +
      "only — text moves once, in the final rewrite join") {
    val out = graft.llm.SubstringDedup.excise(
      sf("documents"), "doc_id", "text", w = 20, stride = 1)
    // exactly the line-dedup contract: the occurrence/keeper/interval
    // exchanges are keys-only; the single documented doc-row move is
    // the per-id interval join that rebuilds the text
    val textCrossings = shuffleOutputs(out).count(_.contains("text"))
    assert(textCrossings <= 1,
      s"text crossed ${textCrossings} shuffles — the window analysis " +
        "must stay keys-only")
    shuffleOutputs(out).foreach(cols =>
      assert(!cols.contains("__w"),
        s"exploded window structs crossed a shuffle: $cols"))
    // the occurrence aggregation partial-aggregates map-side (hot
    // spans collapse before the exchange)
    assert(out.queryExecution.sparkPlan.toString.contains("partial"),
      "occurrence counting must partial-aggregate map-side")
    assert(out.count() > 0)
  }

  test("PQ: encode is a pure projection (zero exchanges); ADC top-k " +
      "is lookups into TakeOrderedAndProject, no shuffle") {
    val emb = sf("embeddings")
    val pq = graft.llm.Similarity.PqIndex(m = 4, ksub = 8, kmeansIters = 0)
    val books = pq.codebooks(emb, "vec_id", "embedding", dim = 64)
    val encoded = pq.encode(emb, "embedding", books)
    assert(shuffleOutputs(encoded).isEmpty,
      "PQ encode must not shuffle — it is m native argmin projections")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(org.apache.spark.sql.functions.col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val top = pq.topK(encoded, "vec_id", books, q, k = 10)
    assert(shuffleOutputs(top).isEmpty,
      "ADC scoring must stay shuffle-free")
    assert(top.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"),
      "ADC top-k must compile to TakeOrderedAndProject, not a global sort")
  }

  test("writeShards frame: the explicit repartition is the ONLY exchange") {
    // repartition(shards, shard) before the window must satisfy the
    // window's clustering — a second full-data exchange would double
    // shuffle I/O of every shard write at scale
    val f = graft.llm.Shuffling.shardedFrame(
      sf("documents"), "doc_id", seed = 7L, shards = 8)
    val shuffles = shuffleOutputs(f)
    assert(shuffles.length == 1,
      s"expected the single explicit shard exchange, got ${shuffles.length}")
  }

  test("shard manifest: one narrow partial-aggregating exchange, no content") {
    val df = graft.llm.Shuffling.shardManifest(
      sf("documents"), "doc_id", "text", seed = 7L, shards = 8)
    val shuffles = shuffleOutputs(df)
    assert(shuffles.length == 1, s"expected one exchange: $shuffles")
    shuffles.foreach(cols =>
      assert(!cols.contains("text"), s"content crossed the shuffle: $cols"))
    assert(df.queryExecution.sparkPlan.toString.contains("partial_"),
      "manifest aggregation must combine map-side")
  }

  test("temperature sample: the kept-set filter is a shuffle-free scan") {
    val df = graft.llm.Sampling.temperatureSample(
      sf("documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", alpha = 0.5, targetTotal = 100,
      bucketFn = graft.llm.Sampling.portableBucket)
    assert(shuffleOutputs(df).isEmpty,
      "the sampler must stay a pure filter projection")
  }

  test("cooccurrence: metric joins broadcast; pair shuffles are key-narrow") {
    val baskets = sf("lineitem").select(col("l_orderkey").as("b"),
      pmod(col("l_partkey"), lit(199)).as("i"))
    val df = graft.operators.Cooccurrence.pairs(baskets, "b", "i",
      minCount = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "item totals must broadcast back onto the pair counts")
    // every exchange carries only basket/item keys and counters
    shuffleOutputs(df).foreach(cols =>
      assert(cols.size <= 5, s"unexpectedly wide shuffle: $cols"))
  }

  test("soft weights: one keys-only exchange on the component label") {
    import spark.implicits._
    val comps = (1L to 50L).map(i => (i, i % 7))
      .toDF("id", "canonical_id")
      .withColumn("text", lit("x" * 100)) // payload that must NOT ride
    val out = graft.llm.Dedup.softWeights(
      comps.select($"id", $"canonical_id"), "id")
    val shuffles = shuffleOutputs(out)
    assert(shuffles.size == 1, s"one component exchange expected: $shuffles")
  }

  test("percentiles/trimmed mean: no global sort node anywhere") {
    val li = sf("lineitem")
    def hasGlobalSort(df: DataFrame): Boolean = {
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }.nonEmpty
    }
    assert(!hasGlobalSort(graft.operators.Distributions.percentilesByKey(
      li, "l_suppkey", "l_extendedprice", Seq(("p50", 0.5)), scale = 2)),
      "percentilesByKey must not plan a global sort")
    assert(!hasGlobalSort(graft.operators.RobustStats.trimmedMean(
      li, "l_suppkey", "l_extendedprice")),
      "trimmedMean must not plan a global sort")
  }

  test("cosine join: no cartesian/nested-loop product anywhere") {
    import spark.implicits._
    val docs = (1L to 40L)
      .map(i => (i, s"term$i alpha beta gamma shared words " * 3))
      .toDF("doc_id", "text")
    val out = graft.llm.CosineJoin.tfidfCosineJoin(
      docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val bad = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
          // the 1-row corpus-stats broadcast is the documented pattern;
          // anything joining real row sets this way is a regression
          if !b.right.toString.contains("Aggregate") &&
             !b.left.toString.contains("Aggregate") => b
    }
    assert(bad.isEmpty, s"quadratic join shape in cosine join: $bad")
  }

  test("distinct sketch: partial aggregation bounds the shuffle at k longs") {
    import spark.implicits._
    val d = (1L to 1000L).map(i => (i % 30, i)).toDF("day", "user")
    val out = d.groupBy($"day")
      .agg(graft.operators.DistinctSketch.sketch($"user", 16).as("sk"))
    // the shuffle carries (day, partial sketch buffer), never raw users
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_bottomkdistinct") ||
      plan.toLowerCase.contains("partial"),
      s"sketch aggregate must be map-side partial first:\n$plan")
    shuffleOutputs(out).foreach(cols =>
      assert(!cols.contains("user"),
        s"raw values crossed the sketch shuffle: $cols"))
  }

  test("decontaminate-excise: the whole corpus pass is ONE shuffle-free " +
      "projection (the structural reason the stage streams)") {
    import spark.implicits._
    val probes = Seq((1 to 8).map(i => s"pz$i").mkString(" ")).toDF("text")
    val out = graft.llm.Contamination.decontaminateExcise(
      sf("documents").select(col("doc_id"), col("text")),
      probes, "doc_id", "text", "text", w = 4)
    assert(shuffleOutputs(out).isEmpty,
      "excise decontamination must not shuffle — probe index is " +
        "plan-side, everything else is per-row")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("fused quality stages: c4Filter / gopherFilter / lineStats / " +
      "gopher_rules are each ONE shuffle-free projection over the " +
      "fused text walk") {
    val docs = sf("documents").select(col("doc_id"), col("text"))
    // (stage, plan, expected walk-expression occurrences): the filter
    // stages are ONE boolean keep expression — filtering on derived
    // signal columns instead would let predicate pushdown substitute
    // every alias with its own copy of the walk (measured: 20 copies
    // for the 8-signal gopher filter). c4Filter is 1 deciding walk
    // (all rows) + 1 rebuild walk (survivors only) across its
    // Filter/Project pair.
    val stages: Seq[(String, org.apache.spark.sql.DataFrame,
        Map[String, Int])] = Seq(
      ("c4Filter", graft.llm.TextAnalysis.c4Filter(docs, "text"),
        Map("c4keep" -> 1, "c4kepttext" -> 1)),
      ("gopherFilter", graft.llm.TextAnalysis.gopherFilter(docs, "text"),
        Map("qualitykeep" -> 1, "textqualitysignals" -> 0)),
      ("gopherSignals", graft.llm.TextAnalysis.gopherSignals(docs, "text"),
        Map("textqualitysignals" -> 1)),
      ("lineStats", graft.llm.Repetition.lineStats(docs, "text"),
        Map("textqualitysignals" -> 1)),
      ("filterDuplicateUnits",
        graft.llm.Repetition.filterDuplicateUnits(docs, "text"),
        Map("qualitykeep" -> 1, "textqualitysignals" -> 0)),
      ("gopher_rules stage",
        graft.llm.TextAnalysis.gopherRulesFilter(docs, "text"),
        Map("qualitykeep" -> 1, "textqualitysignals" -> 0)))
    for ((name, out, wants) <- stages) {
      assert(shuffleOutputs(out).isEmpty,
        s"$name must not shuffle — it is a per-row stage (the " +
          "structural reason it streams)")
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"no join belongs in $name:\n$p")
      // count walk occurrences in the OPERATOR lines only — the
      // FileScan node echoes every residual filter in its DataFilters
      // metadata, which would double-count the one Filter evaluation
      val lower = p.linesIterator
        .filterNot(_.contains("FileScan")).mkString("\n").toLowerCase
      for ((exprName, want) <- wants) {
        val got = exprName.r.findAllIn(lower).length
        assert(got == want,
          s"$name evaluates $exprName $got times (want $want):\n$p")
      }
    }
  }

  test("decontaminate-fuzzy: the edit-tolerant pass is the same ONE " +
      "shuffle-free projection shape as the verbatim pass") {
    import spark.implicits._
    val probes = Seq((1 to 20).map(i => f"fz$i%03d").mkString(" "))
      .toDF("text")
    val out = graft.llm.Contamination.decontaminateFuzzy(
      sf("documents").select(col("doc_id"), col("text")),
      probes, "doc_id", "text", "text")
    assert(shuffleOutputs(out).isEmpty,
      "fuzzy decontamination must not shuffle — both probe indexes are " +
        "plan-side, everything else is per-row")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("reference near-dup probe: per-row filter, no shuffle, no join, " +
      "shingle subexpression computed once") {
    import spark.implicits._
    val ref = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val idx = Dedup.nearDupRefIndex(ref, "text", threshold = 0.5)
    val out = sf("documents").select(col("doc_id"), col("text"))
      .filter(!Dedup.nearDupProbe(col("text"), idx))
    assert(shuffleOutputs(out).isEmpty,
      "the stream probe must be a pure per-row filter")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
    assert(p.contains("*(1)"), "probe filter left whole-stage codegen")
  }
}
