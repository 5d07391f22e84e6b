package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact all-pairs WEIGHTED cosine similarity join over tf-idf
  * vectors (the Bayardo/Ma/Srikant WWW'07 problem) — the weighted
  * sibling of the PPJoin set-similarity join: find every document
  * pair whose tf-idf cosine reaches the threshold, without the
  * quadratic all-pairs scan. Set Jaccard treats "the" and a rare
  * technical term as equally informative; the idf-weighted cosine is
  * what near-dup mining over heterogeneous prose actually wants.
  *
  * Exactness (the engine-replay trick): idf is QUANTIZED to an
  * integer — `idf_q = round(1000·ln((N+1)/(df+0.5)))` — so every
  * weight is the exact integer `tf·idf_q`, dot products and squared
  * norms aggregate as exact DECIMAL(38,0) sums (order-independent
  * across any partitioning), and the cosine is ONE fixed double
  * sequence `num / sqrt(n1·n2)` rounded tie-safely. The quantization
  * changes weights by < 0.1% — irrelevant to mining quality — and
  * buys bit-for-bit reproducibility on any engine.
  *
  * Prefix filter (soundness argument): for each document sort its
  * terms by ascending document frequency (rarest first) and INDEX the
  * shortest prefix whose remaining suffix has `Σ_suffix w² <
  * t²·Σ w²` — by Cauchy-Schwarz a pair sharing no indexed term of
  * either side has `dot ≤ ‖suffix‖·‖other‖ < t·‖d‖·‖other‖`, i.e.
  * cosine < t. The comparison runs in EXACT integers
  * (`P²·suffix² ≥ t_num²·norm²` with a rational threshold), so the
  * prefix is deterministic. Frequent terms land in suffixes —
  * exactly the terms whose posting lists would explode the index.
  *
  * Scale shape: tf-idf build is one (doc, term) aggregation + a
  * plain equi-join against the vocabulary-sized df table (no
  * mandatory broadcast — AQE upgrades it to one at runtime when the
  * vocabulary is genuinely small); prefixes come from a per-document
  * running sum (window PARTITIONED BY doc — bounded by document
  * length, never corpus-wide); candidates meet on term keys with a
  * loud per-term cap (the boilerplate guard every bucketed join here
  * carries); verification is a keys-only (pair, term) aggregation of
  * exact integer products. No stage is quadratic in the corpus. */
object CosineJoin {

  /** (id_a, id_b, cosine) with id_a < id_b and cosine ≥ threshold.
    *
    * @param threshold      rational cut as numerator/denominator
    *                       (e.g. 6, 10 → 0.6) so the prefix bound
    *                       compares in exact integers
    * @param maxPostings    cap on one term's candidate posting list
    *                       (skew guard — a term indexed by this many
    *                       docs is corpus boilerplate). Capped terms
    *                       can silently hide a true pair that meets
    *                       ONLY on capped terms, so the cap is LOUD:
    *                       see `onCapped`.
    * @param onCapped       what to do when any indexed term exceeds
    *                       `maxPostings`: "fail" (default — one extra
    *                       keys-only count job; throws
    *                       GraftError.DataValidation naming the count
    *                       and sample terms), "warn" (same check, log
    *                       and proceed with the capped index), or
    *                       "allow" (no check job — caller has sized
    *                       the cap deliberately, e.g. a re-run after
    *                       a fail told them exactly what drops) */
  def tfidfCosineJoin(df: DataFrame, idCol: String, textCol: String,
                      thresholdNum: Int = 6, thresholdDen: Int = 10,
                      maxPostings: Int = 10000,
                      roundTo: Int = 6,
                      onCapped: String = "fail"): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen,
      s"threshold must be a fraction in (0, 1]: $thresholdNum/$thresholdDen")
    require(maxPostings >= 2, s"maxPostings must be >= 2: $maxPostings")
    require(Set("fail", "warn", "allow")(onCapped),
      s"onCapped must be fail|warn|allow: $onCapped")
    val id = col("`" + idCol.replace("`", "``") + "`")
    // (doc, term, tf) — exact integer term frequencies
    val tf = df.select(id.as("__id"),
        explode(Contamination.tokens(col(textCol))).as("term"))
      .groupBy(col("__id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df + quantized idf; distinct-doc counts are keys-only
    val n = df.select(id).distinct().count()
    val dfs = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("idf_q",
        round(lit(1000.0) * log((lit(n.toDouble) + 1.0) /
          (col("df").cast("double") + 0.5))).cast("long"))
      .where(col("idf_q") > 0)
    // exact integer weights + per-doc squared norm. The df/idf table
    // is VOCABULARY-sized — on a web corpus (typos, URLs, numbers)
    // that runs to billions of distinct terms, so it must NOT carry a
    // mandatory broadcast hint. A plain equi-join on `term` shuffles
    // tf once (cheap — it is keys+counts only) and AQE still converts
    // to a runtime broadcast when the vocabulary actually is small,
    // which is the size-guarded broadcast for free.
    val weighted = tf.join(dfs, Seq("term"))
      .withColumn("w", col("tf") * col("idf_q"))
      .withColumn("w2",
        (col("w").cast(DecimalType(19, 0)) * col("w"))
          .cast(DecimalType(38, 0)))
    val norms = weighted.groupBy(col("__id"))
      .agg(sum(col("w2")).as("norm2"))
    // prefix selection: rarest-first order per doc; a term MUST be
    // indexed iff the tail FROM it (inclusive) is too heavy to skip —
    // tail² ≥ t²·norm², compared in exact integers. The first
    // skippable term then starts a tail with ‖tail‖ < t·‖d‖, so by
    // Cauchy-Schwarz a pair meeting only in that tail has cosine < t
    // (equality at the bound stays indexed — sound for a ≥ t cut).
    val wOrd = Window.partitionBy(col("__id"))
      .orderBy(col("df").asc, col("term").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // PERSISTED fan-out point (round-18, guide §1.2 step 1 /
    // §5 caching rule): `prefixed` feeds the hot-term check (its own
    // count ACTION below), the candidate index+probe, AND — since it is
    // the same row multiset as `weighted` (norms is an inner join on a
    // key total: every __id survives) — the verify-side vector build.
    // Exchange reuse cannot span separate actions, so without the
    // persist the whole tokenize→tf→df-join→window pipeline ran TWICE:
    // once under hot.count(), once under the real query. MEMORY_AND_DISK
    // so a 100 TB prefix table spills instead of OOMing.
    //
    // Cache lifetime (round-19, honest version of the r18 note): a
    // SQL-level persist registers a CacheManager entry that holds a
    // strong reference — GC of the returned frame does NOT free it.
    // The entry lives until the session drops it (graft.Verify
    // clears the registry between queries; a long-lived
    // session calling this repeatedly should `unpersist()` the result's
    // cached lineage or `sharedState.cacheManager.clearCache()` when
    // done). The guard's failure path below unpersists before
    // throwing, so a rejected corpus never leaks its prefix table.
    val prefixed = weighted
      .withColumn("tail2", sum(col("w2")).over(wOrd))
      .join(norms, Seq("__id"))
      .withColumn("indexed",
        col("tail2") * lit(thresholdDen.toLong * thresholdDen) >=
          col("norm2") * lit(thresholdNum.toLong * thresholdNum))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates: indexed (prefix) terms probe ALL terms of other
    // docs; either direction suffices, the union is a sound superset
    val probe = prefixed.select(col("term"), col("__id").as("__b"))
    val index = prefixed.where(col("indexed"))
      .select(col("term"), col("__id").as("__a"))
    // hot-term accounting: keys-only per-term posting counts; the
    // over-cap table is tiny (≤ |postings|/maxPostings rows) so the
    // anti-join below broadcasts at runtime. A pair meeting ONLY on a
    // capped term is missed — hence loud by default.
    val hot = index.groupBy(col("term"))
      .agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") > maxPostings)
    if (onCapped != "allow") {
      val nHot = hot.count() // one keys-only job on the happy path
      if (nHot > 0) {
        val sample = hot.orderBy(col("__cnt").desc).limit(5).collect()
        val msg = s"tfidfCosineJoin: $nHot indexed term(s) exceed " +
          s"maxPostings=$maxPostings and are dropped from the " +
          "candidate index (pairs meeting only on them are missed). " +
          "Hottest: " + sample.map(r =>
            s"${r.get(0)} (${r.getLong(1)})").mkString(", ") +
          ". Raise maxPostings, pre-strip boilerplate, or pass " +
          "onCapped=\"warn\"/\"allow\" to accept the drop."
        if (onCapped == "fail") {
          // nothing downstream will ever read the cache — drop the
          // CacheManager entry before rejecting the corpus
          prefixed.unpersist(blocking = false)
          throw graft.core.GraftError.DataValidation(msg)
        } else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
    }
    val capped = index.join(hot.select(col("term")), Seq("term"),
      "left_anti")
    val cand = capped.join(probe, Seq("term"))
      .where(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"))
      .distinct()
    // exact verification, MEMORY-LEAN (round-13): each doc's weights
    // compact into ONE sorted posting array (8-byte term hashes — the
    // sketch family's 2^-64 contract), candidate pairs pick up the two
    // arrays in two plain spill-friendly joins, and the dot product is
    // a linear sorted-merge native expression per pair. The previous
    // shape exploded every pair into (pair, term) rows and re-grouped
    // them by pair — that aggregation hash map was the measured 28%
    // GC loss at 3.1 GiB/core in the round-12 100× ramp. Norms ride
    // the same vector frame, so the na/nb joins disappear too: the
    // whole verify stage is two joins + one projection, no explode,
    // no pair-keyed aggregation, nothing that must fit a hash map.
    // built from the PERSISTED prefixed frame (same rows as `weighted`;
    // see the persist note above) so the verify side re-reads cached
    // rows instead of re-running the tf-idf pipeline a third time
    val vecs = prefixed.groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(
        xxhash64(col("term")).as("h"), col("w").as("w")))).as("__vec"),
        sum(col("w2")).as("__n2"))
    val dots = cand
      .join(vecs.select(col("__id").as("id_a"), col("__vec").as("__va"),
        col("__n2").as("na")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__vec").as("__vb"),
        col("__n2").as("nb")), Seq("id_b"))
      .withColumn("num", graft.functions.VectorExprs
        .dot_sorted_weighted(col("__va"), col("__vb")))
    val rf = math.pow(10.0, roundTo)
    dots
      .withColumn("cosine",
        floor(col("num").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))
          * rf + 0.5) / rf)
      .where(col("cosine") >=
        lit(thresholdNum.toDouble / thresholdDen.toDouble))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
