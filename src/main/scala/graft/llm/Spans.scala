package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SketchExprs.charWindowHashes

/** Corpus-level repeated-substring (exact-span) detection — the
  * "deduplicating training data" method that near-dup sketches miss:
  * a boilerplate paragraph pasted into thousands of otherwise-unique
  * documents never trips MinHash (whole-doc similarity stays low) but
  * lights up here, because the REPEATED SPAN itself is found. The
  * full-fidelity version runs a corpus suffix array; the scalable
  * approximation is strided k-char windows: a substring of length
  * >= k + stride - 1 shared between two places (two docs, or twice in
  * one doc) produces a window-hash collision when the occurrence
  * offsets align mod stride — ALWAYS at stride = 1, and for the
  * dominant aligned-duplication patterns (exact copies, shared
  * prefixes, appended-tail variants) at any stride. See
  * [[graft.functions.SketchExprs.CharWindowHashes]] for the precise
  * contract; the stride-1/stride-20 sensitivity difference is
  * unit-pinned.
  *
  * Scale shape: the explode emits (id, 8-byte hash) pairs only — text
  * never leaves its row (the hashing is the one-pass native
  * [[graft.functions.SketchExprs.CharWindowHashes]]). Occurrence
  * counts come from a map-side-partial groupBy on the hash (hot spans
  * collapse before the exchange), joined back to the pairs; the
  * per-doc rollup is the final id-keyed shuffle. All exchanges carry
  * 16-byte rows.
  */
object Spans {

  /** Per-document repeated-span load: `n_windows`, `n_repeated`
    * (windows whose hash occurs >= `minOccurrences` times anywhere in
    * the corpus — other docs or elsewhere in the same doc), and
    * `repeated_frac`. Documents shorter than k chars stay in the
    * report as 0/0/0.0.
    *
    * @param persist materialize the (id, hash) window projection ONCE
    *   (eager localCheckpoint — 16-byte rows, no text, storage freed by
    *   the context cleaner when the frame is collected) so the input
    *   lineage + native hash pass run a single time instead of once per
    *   consumer (occurrence agg + join side). Turn on when the input is
    *   an expensive subtree; leave off when it's a bare scan and
    *   re-reading beats materializing. */
  def stats(df: DataFrame, idCol: String, textCol: String,
            k: Int = 40, stride: Int = 20, minOccurrences: Int = 2,
            roundTo: Int = 6, persist: Boolean = false): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2: $minOccurrences")
    Guards.requireFreshColumns(df,
      Seq("wh", "occ", "n_windows", "n_repeated", "repeated_frac"),
      "Spans.stats")
    val win0 = df.select(col(idCol),
      explode_outer(charWindowHashes(col(textCol), k, stride)).as("wh"))
    val win = if (persist) win0.localCheckpoint(true) else win0
    // occurrence counts via groupBy — the map-side partial aggregation
    // collapses a boilerplate span pasted into millions of docs BEFORE
    // the exchange, and AQE can split any residual join skew; a
    // count-over-window formulation would funnel every occurrence of a
    // hot hash into one unsplittable window partition — a guaranteed
    // straggler on exactly this operator's target workload. Without
    // `persist`, the window-hash projection evaluates twice (agg side +
    // join's left side); `persist = true` makes it exactly once.
    val occ = win.filter(col("wh").isNotNull)
      .groupBy(col("wh")).agg(count(lit(1)).as("occ"))
    win.join(occ, Seq("wh"), "left")
      .groupBy(col(idCol))
      .agg(count(col("wh")).as("n_windows"),
        count(when(col("occ") >= minOccurrences, 1)).as("n_repeated"))
      .select(col(idCol), col("n_windows"), col("n_repeated"),
        when(col("n_windows") > 0,
          round(col("n_repeated").cast("double") / col("n_windows"), roundTo))
          .otherwise(lit(0.0)).as("repeated_frac"))
  }

  /** Keep documents whose repeated-span load stays under
    * `maxRepeatedFrac` — the drop decision built on [[stats]]. */
  def filterRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          maxRepeatedFrac: Double = 0.5, k: Int = 40,
                          stride: Int = 20, persist: Boolean = false): DataFrame = {
    val keep = stats(df, idCol, textCol, k, stride, persist = persist)
      .filter(col("repeated_frac") <= maxRepeatedFrac)
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact-substring span EXCISION — the production shape of corpus
    * substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): instead of dropping a document
    * that carries a duplicated span ([[filterRepeatedSpans]]), remove
    * the span from all-but-one occurrence and REBUILD the document
    * from its surviving segments, keeping the unique remainder in the
    * corpus.
    *
    * Semantics (window granularity): a k-char strided window whose
    * hash occurs >= `minOccurrences` times corpus-wide is duplicated;
    * per hash, the lexicographically first occurrence by (id, offset)
    * is the KEEPER and survives, every other occurrence is excised.
    * Per document, excised windows merge into maximal spans
    * (overlapping or exactly-adjacent intervals coalesce) and the text
    * is reassembled from the complement segments in order. A document
    * that is one whole duplicated span rebuilds to the empty string —
    * it stays in the corpus as an auditable husk for the caller to
    * drop or count. At stride 1 the union of duplicated windows is
    * exactly the Lee et al. duplicated span; at stride s the aligned
    * approximation of [[stats]] applies (see
    * [[graft.functions.SketchExprs.CharWindowHashes]]).
    *
    * Scale shape: window analysis shuffles (id, offset, 8-byte hash)
    * rows only; the occurrence count + keeper pick is ONE map-side
    * partial aggregation per hash; interval merging is two id-keyed
    * window passes + a groupBy over 16-byte (id, start, end) rows,
    * all sharing one id-hash exchange; and the text itself never
    * shuffles — merged spans per doc come back as a (typically
    * broadcast-sized) per-id interval array joined onto the original
    * frame, where the rebuild runs as a single codegen'd fold. */
  def excise(df: DataFrame, idCol: String, textCol: String,
             k: Int = 40, stride: Int = 20, minOccurrences: Int = 2,
             persist: Boolean = false): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2: $minOccurrences")
    Guards.requireFreshColumns(df,
      Seq("__off", "__wh", "__occ", "__keep", "__s", "__e", "__pmax",
        "__new", "__g", "__ivs"),
      "Spans.excise")
    val win0 = df
      .select(col(idCol), posexplode(charWindowHashes(col(textCol), k, stride)))
      .select(col(idCol), (col("pos") * stride).as("__off"),
        col("col").as("__wh"))
    val win = if (persist) win0.localCheckpoint(true) else win0
    // occurrence count AND keeper pick in one pass per hash: the
    // min(struct) argmin rides the same map-side partials as the count
    val occ = win.groupBy(col("__wh"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col(idCol), col("__off"))).as("__keep"))
      .filter(col("__occ") >= minOccurrences)
    val excised = win.join(occ, Seq("__wh"))
      .filter(!(col(idCol) === col("__keep")(idCol) &&
        col("__off") === col("__keep")("__off")))
      .select(col(idCol), col("__off").as("__s"),
        (col("__off") + lit(k)).as("__e"))
    exciseIntervals(df, idCol, textCol, excised)
  }

  /** Shared excision tail: merge per-doc `(idCol, __s, __e)` codepoint
    * intervals into maximal spans and rebuild `textCol` from the
    * complement segments — used by both the char-window [[excise]] and
    * the token-window [[SubstringDedup.excise]].
    *
    * Merge is gaps-and-islands: a window starts a new island iff it
    * begins strictly after every prior end — exact adjacency
    * (s == prior e) coalesces, so back-to-back duplicated windows
    * excise as one span with no empty segment between them. The text
    * itself never shuffles: merged spans per doc come back as a per-id
    * interval array joined onto the original frame, where the rebuild
    * runs as a single codegen'd fold. */
  /** Gaps-and-islands merge of per-doc `(idCol, __s, __e)` intervals
    * into maximal spans (overlapping or exactly-adjacent coalesce) —
    * ONE definition shared by [[exciseIntervals]] and
    * [[SubstringDedup.spans]], so the coalescing rule the report
    * surface shows is always the rule the excision actually cuts. */
  private[llm] def mergeIntervals(excised: DataFrame,
                                  idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    excised
      .withColumn("__pmax", max(col("__e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1)
          .otherwise(0))
      .withColumn("__g", sum(col("__new")).over(wOrd))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
      .select(col(idCol), col("__s"), col("__e"))
  }

  private[llm] def exciseIntervals(df: DataFrame, idCol: String,
                                   textCol: String,
                                   excised: DataFrame): DataFrame = {
    val merged = mergeIntervals(excised, idCol)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__ivs"))
    // positional reassembly as one fold over the sorted spans: carry
    // (next-keep-start, acc), emit the gap before each span, finish
    // with the tail after the last span. substr/length are codepoint
    // -indexed, matching the window offsets and SQL semantics.
    val t = col(textCol)
    val rebuilt = aggregate(
      col("__ivs"),
      struct(lit(0).as("p"), lit("").as("acc")),
      (st, iv) => struct(
        iv("__e").as("p"),
        concat(st("acc"), t.substr(st("p") + lit(1), iv("__s") - st("p")))
          .as("acc")),
      st => concat(st("acc"), t.substr(st("p") + lit(1), length(t) - st("p"))))
    df.join(merged, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__ivs").isNull, t).otherwise(rebuilt))
      .drop("__ivs")
  }
}
