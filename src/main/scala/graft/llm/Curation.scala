package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The standard corpus-curation pipeline, composed from the individual
  * operators in dependency order — the end-to-end "raw crawl in,
  * training corpus out" path a user of this library runs:
  *
  *   1. URL hygiene      — drop documents citing blocklisted domains
  *                         (needs the RAW markup: hrefs live in tags);
  *   1b. [consent]       — drop documents carrying an AI-training
  *                         opt-out ([[Consent.keep]]: meta-robots in
  *                         the raw markup, plus `x_robots` /
  *                         `robots_disallowed` crawl columns when the
  *                         frame carries them — so it too needs the
  *                         raw markup, BEFORE any strip);
  *   2. [HTML strip]     — drop script/style/tags, decode entities;
  *   3. [mojibake fix]   — repair cp1252-mangled UTF-8 artifacts;
  *   4. [NFC/NFKC]       — compose combining marks, so encoding
  *                         variants of one document hash identically;
  *   4b. [lang-id]       — keep only allowed languages (char-n-gram
  *                         NB over a trained seed, [[LangId]]);
  *   5. repetition       — drop degenerate documents (dup-word /
  *                         dup-n-gram / modal-n-gram thresholds);
  *   6. [line dedup]     — strip lines shared by >= K docs, so
  *                         footer-differing copies collapse next;
  *   6b. [substring dedup] — excise >= W-token spans shared verbatim
  *                         across docs from all but one occurrence
  *                         (Lee et al. 2021, [[SubstringDedup]]);
  *   7. [incremental]    — drop content already shipped in a reference
  *                         snapshot (the previous crawl's corpus);
  *   8. exact dedup      — keep the smallest id per identical content
  *                         (or, under `softDedup`, keep EVERY row with
  *                         weight = 1/|cluster| attached);
  *   9. [decontaminate]  — drop benchmark-overlapping documents;
  *  10. sampling         — deterministic hash sample of the survivors;
  *  11. [token budget]   — deterministic ~N-token prefix cut.
  *
  * Bracketed stages are opt-in via [[PipelineConfig]]; all ten are
  * reachable from a YAML job file (`curation:` section). Order matters
  * and is deliberate: the cheap pure-projection/filter stages run
  * FIRST so the one guaranteed shuffle (the dedup's narrow (hash, id)
  * exchange) only sees rows that survived them, rewrites land BEFORE
  * hashing so variants dedup together, and the sample applies to the
  * cleaned, decontaminated corpus. By default the whole pipeline stays
  * ONE lazy plan with no materialization between stages; the filter
  * subtree then evaluates twice (keep-set pass + surviving-rows pass —
  * see the dedup stage comment). Set
  * [[PipelineConfig.persistSurvivors]] to materialize the filtered
  * survivors once instead when the input lineage is expensive.
  *
  * `idCol` must be a UNIQUE, NON-NULL key — the contract of the whole
  * dedup family (canonical ids, keep-min-id, and the keys-only
  * join-backs are all meaningless under duplicate or null ids).
  */
object Curation {

  /** The reference-stage knobs that only make sense together, checked
    * before any stage is planned. [[PipelineConfig.referenceBloom]]
    * accelerates the EXACT reference hash probe only — near-dup
    * matching never probes a full content hash, so combining the knobs
    * is a config mistake, not a silent no-op. */
  private def requireReferenceConfig(cfg: PipelineConfig): Unit = {
    if (cfg.referenceNearDup.isDefined && cfg.referenceSnapshot.isEmpty)
      throw graft.core.GraftError.Configuration(
        "referenceNearDup needs a referenceSnapshot to match against")
    if (cfg.referenceBloom.isDefined) {
      if (cfg.referenceSnapshot.isEmpty)
        throw graft.core.GraftError.Configuration(
          "referenceBloom needs a referenceSnapshot to prefilter against")
      if (cfg.referenceNearDup.isDefined)
        throw graft.core.GraftError.Configuration(
          "referenceBloom applies to EXACT reference dedup only — " +
            "near-dup candidates come from minhash bands, not content " +
            "hashes; drop one of referenceBloom / referenceNearDup")
      require(cfg.referenceBloom.get > 0,
        s"referenceBloom must be a positive expected-key count, got " +
          s"${cfg.referenceBloom.get}")
    }
  }

  final case class PipelineConfig(
      blocklist: Seq[String] = Nil,
      maxDupWordFrac: Double = 0.3,
      maxDupNgramFrac: Double = 0.3,
      maxTopNgramFrac: Double = 0.2,
      repetitionN: Int = 2,
      sampleFraction: Double = 1.0,
      /** [[Sampling.bucket]] (xxhash64) or [[Sampling.portableBucket]]
        * (SQL-replayable — the oracle uses this). */
      bucketFn: Column => Column = Sampling.bucket,
      /** Materialize the filter-stage survivors ONCE (eager
        * localCheckpoint, storage reclaimed by the context cleaner)
        * so the filter subtree runs a single time instead of once per
        * dedup consumer. Costs storage for the survivor set — turn on
        * when the input lineage is expensive, leave off when it's a
        * bare scan. [[pipelineObserved]] always materializes (its
        * counts depend on it). With [[lineDedupMinDocs]] set, the
        * REWRITTEN survivors are checkpointed as well (the rewrite has
        * its own multi-consumer fan-out), and with
        * [[contaminationProbes]] set the DEDUPED survivors too
        * (decontamination reads its corpus twice) — each optional
        * stage with fan-out costs one more survivor copy. */
      persistSurvivors: Boolean = false,
      /** Strip tracking query parameters (utm_*, fbclid, gclid, … —
        * [[Urls.DefaultTrackingParams]]) from every URL right after
        * the blocklist stage and BEFORE any markup strip (the params
        * live in hrefs the HTML strip would delete): campaign-shared
        * copies of one page then exact-dedup together, and click ids
        * (cross-site user identifiers) leave the corpus. Pure
        * projection, rewrites text, never drops rows; streams. */
      stripTrackingParams: Boolean = false,
      /** Drop documents carrying an AI-training opt-out
        * ([[Consent.keep]]): meta-robots `noai`/`noimageai` directives
        * in the raw markup, `X-Robots-Tag` directives when the frame
        * carries an `x_robots` column (the crawl `#text` read shape),
        * and a prior robots.txt verdict when it carries
        * `robots_disallowed` ([[Consent.fromCrawl]]). Runs BEFORE the
        * strip stages (meta tags live in the markup the strip
        * removes). Pure per-row filter; batch AND stream mode. */
      consent: Boolean = false,
      /** Extend [[consent]]'s objection set from the AI-specific
        * tokens to classic `noindex`. */
      consentNoindex: Boolean = false,
      /** Rewrite text with [[TextAnalysis.stripHtml]] right after the
        * URL stage (which needs the RAW markup — hrefs live inside the
        * tags the strip removes) and before every text-statistics
        * stage. Pure projection, rewrites text, never drops rows. */
      stripHtml: Boolean = false,
      /** Rewrite text with [[TextAnalysis.stripMarkdown]] (after the
        * HTML strip — mixed dumps strip outer markup first — and
        * before text statistics). Pure projection, never drops rows. */
      stripMarkdown: Boolean = false,
      /** Rewrite text with [[TextAnalysis.fixMojibake]] (after the
        * strip, before text statistics). Pure projection. */
      fixMojibake: Boolean = false,
      /** Unicode-normalize text ("NFC" or "NFKC",
        * [[graft.functions.UnicodeExprs]]) after mojibake repair and
        * before hashing/statistics — NFC/NFD variants of one document
        * must dedup together. Pure native projection. */
      normalizeUnicode: Option[String] = None,
      /** Apply [[TextAnalysis.c4Filter]] (Raffel et al. 2020 §2.2)
        * right after normalization and BEFORE lang-id/statistics: keep
        * only terminal-punctuated >= c4MinWordsPerLine-word lines, drop
        * pages with code braces / "lorem ipsum" / `c4BadWords` /
        * fewer than c4MinSentences kept sentences. Line-granularity
        * page hygiene — the canon complement to the Gopher-style
        * repetition thresholds below. Rewrites text AND drops rows;
        * pure per-row, streams unchanged. Needs newline structure:
        * the strip stages collapse it (same loud warning as line
        * dedup). */
      c4Rules: Boolean = false,
      c4MinWordsPerLine: Int = 5,
      c4MinSentences: Int = 3,
      c4BadWords: Seq[String] = Nil,
      /** Apply the full Gopher Table-A1.1 document rules at the
        * paper's published thresholds right after the C4 stage:
        * [[TextAnalysis.gopherFilter]] (50-100k words, mean word
        * length 3-10, symbol/bullet/ellipsis caps, >= 80% alphabetic
        * words, >= 2 stop words) plus
        * [[Repetition.filterDuplicateUnits]] (duplicate line/paragraph
        * fractions <= 0.30 by count, <= 0.20 by char mass; the
        * word/n-gram repetition half stays on the separately-knobbed
        * repetition stage below). Pure per-row, streams unchanged;
        * for custom thresholds call the operators directly. */
      gopherRules: Boolean = false,
      /** When set, keep only documents whose zlib deflate ratio
        * ([[graft.functions.CompressExprs.deflateStats]]) falls inside
        * [lo, hi] — the entropy band: hyper-repetitive boilerplate
        * crushes below it, encoded noise sits above it. A per-row
        * filter, streams unchanged; runs with the repetition filter
        * (its counts fold into "after_repetition" in the observed
        * pipeline). */
      compressionBand: Option[(Double, Double)] = None,
      /** When set, keep only documents whose [[LangId]] char-n-gram
        * NB prediction lands in the allow set: (model, classStats)
        * are the frames [[LangId.train]] returned (bounded:
        * vocabSize × |classes| rows — compiled into literal in-plan
        * maps), the Seq is the allowed labels. Runs with the other
        * per-row text filters (after normalization, before the
        * repetition filter). A pure projection+filter — no shuffle,
        * streams unchanged in [[pipelineStream]]. */
      langId: Option[(DataFrame, DataFrame, Seq[String])] = None,
      /** When set, rewrite surviving documents with
        * [[Paragraphs.dropCommon]] (drop lines recurring in >= this
        * many distinct docs) BETWEEN the repetition filter and exact
        * dedup — so two pages differing only by their shared footer
        * dedup correctly once the footer is gone. Rewrites text, never
        * drops rows. */
      lineDedupMinDocs: Option[Int] = None,
      /** When set, rewrite surviving documents with
        * [[SubstringDedup.excise]] at this token window (Lee et al.
        * 2021; ~50 is the paper's setting): every >= W-token span
        * shared verbatim across >= 2 documents is removed from all but
        * its keeper occurrence. Runs AFTER the line rewrite (footers
        * are cheaper to kill at line granularity) and BEFORE hashing,
        * so a document reduced to an exact copy by the excision dedups
        * away below. Rewrites text, never drops rows; corpus-wide
        * (cannot stream). */
      substringDedupWindow: Option[Int] = None,
      /** Keep duplicates with 1/n sampling mass instead of dropping
        * them: the exact-dedup stage attaches ([[Dedup.softWeights]])
        * `dup_count` and `weight` = 1/|cluster| columns and passes
        * EVERY row through — the cluster's total mass equals one
        * unique document's, so duplicated content stops dominating the
        * mixture while its best spelling can still appear (feeds
        * [[Sampling.weightedSample]] / trainer example weights).
        * Corpus-wide (component sizes need the whole batch — cannot
        * stream). */
      softDedup: Boolean = false,
      /** When set, drop documents whose CONTENT already exists in this
        * reference snapshot — the previous crawl's curated corpus, read
        * for its text column only ([[Dedup.againstReference]]: keys-only
        * semi/anti joins on 16-byte content hashes; the "don't re-ingest
        * the last crawl" production shape). Runs BETWEEN the line
        * rewrite and in-batch exact dedup, so previously-shipped content
        * can never survive as this batch's canonical. In
        * [[pipelineStream]] the same stage streams as one stream-static
        * anti-join on the hash. */
      referenceSnapshot: Option[DataFrame] = None,
      /** With [[referenceSnapshot]] set, match NEAR-duplicates
        * ([[Dedup.nearDupAgainstReference]], minhash-LSH candidates +
        * exact jaccard >= this threshold) instead of exact content
        * hashes — previously-shipped documents that grew a tracking
        * footer still drop. In [[pipelineStream]] the same stage runs
        * as a per-row broadcast probe over the driver-collected
        * reference index ([[Dedup.nearDupRefIndex]], loud size caps) —
        * batch-identical verdicts, no state, no shuffle. */
      referenceNearDup: Option[Double] = None,
      /** With [[referenceSnapshot]] set and EXACT matching (no
        * [[referenceNearDup]]), pre-filter the corpus through a
        * [[graft.llm.Bloom]] filter over the reference hashes sized
        * for this many expected reference keys at 1% FPs — rows
        * provably never shipped skip the anti-join entirely. Pure
        * optimization: false positives merely re-check a row, false
        * negatives don't exist, so survivors are identical either
        * way. Use when the reference outgrows comfortable anti-join
        * sizes (a 10^9-key crawl history probes from a ~1.2 GiB
        * filter). In [[pipelineStream]] the blob bakes into a per-row
        * literal test (loud 64 MiB literal cap — shard bigger
        * references batch-side). */
      referenceBloom: Option[Long] = None,
      /** When set, EXCISE every >= [[decontaminateExciseWindow]]-token
        * span appearing VERBATIM in this probe corpus from surviving
        * documents — the document is KEPT with a `contaminated_chars`
        * column ([[Contamination.decontaminateExcise]]; the field
        * standard for eval-set leakage, where the drop-mode
        * [[contaminationProbes]] stage discards whole documents). Runs
        * AFTER dedup and BEFORE the drop-mode stage, so a document is
        * only dropped if it still exceeds the fuzzy n-gram threshold
        * once its verbatim leaks are gone. A pure per-row projection
        * over the collected probe-hash index — no shuffle, no join;
        * streams unchanged in [[pipelineStream]] (the probe frame
        * itself must be batch). */
      decontaminateExciseProbes: Option[DataFrame] = None,
      decontaminateExciseWindow: Int = 50,
      decontaminateExciseProbeTextCol: String = "text",
      /** When set, EXCISE near-verbatim (edit-tolerant) probe spans —
        * [[Contamination.decontaminateFuzzy]]: winnowing-fingerprint
        * seed → char-gram run clustering → overlap verify, so a leaked
        * eval passage with a token changed still loses its span where
        * the verbatim stage above misses it. Runs right AFTER the
        * verbatim excise stage (verbatim cuts are exact and cheap —
        * the fuzzy pass then only pays for what verbatim could not
        * see) and adds `near_contaminated_chars`. A pure per-row
        * projection over two collected probe indexes — no shuffle, no
        * join; streams unchanged in [[pipelineStream]]. */
      decontaminateFuzzyProbes: Option[DataFrame] = None,
      decontaminateFuzzyK: Int = 16,
      decontaminateFuzzyW: Int = 32,
      decontaminateFuzzyProbeTextCol: String = "text",
      /** When set, run [[Contamination.decontaminate]] against this
        * probe corpus AFTER dedup and BEFORE sampling (so the sample
        * fraction applies to the clean corpus). */
      contaminationProbes: Option[DataFrame] = None,
      /** When set, keep only the [[dsirK]] documents most resembling
        * this TARGET corpus — DSIR importance resampling
        * ([[Dsir.resample]], Xie 2023): hashed unigram+bigram bucket
        * models, exact integer micro-nat weights, portable
        * Gumbel-top-k. Runs AFTER decontamination and BEFORE the hash
        * sample / token budget, so selection judges the clean corpus
        * and the budget cuts the selected one. Survivors carry
        * `dsir_logw_micro`/`dsir_logw`. Corpus-wide (a global top-k —
        * cannot stream). */
      dsirTarget: Option[DataFrame] = None,
      dsirK: Int = 0,
      dsirTargetTextCol: String = "text",
      dsirBuckets: Int = 10000,
      dsirSeed: Long = 42L,
      contaminationProbeTextCol: String = "text",
      contaminationN: Int = 8,
      maxContamination: Double = 0.2,
      /** When set, finish with [[Sampling.tokenBudget]]: a
        * deterministic ~N-token prefix of the final corpus (tokens =
        * [[TextAnalysis.tokenCountEstimate]] of the text), cut over
        * `tokenBudgetShards` parallel shards. */
      tokenBudget: Option[Long] = None,
      tokenBudgetShards: Int = 64)

  /** strip_html/strip_markdown end with a full whitespace collapse
    * (their pinned, oracle-replayed contract) — which erases the
    * newline structure [[Paragraphs.dropCommon]] keys on, so a line
    * dedup configured AFTER a strip sees single-line documents and
    * silently does nothing. Warn loudly (the house convention for a
    * stage that cannot do its job): pair line dedup with unstripped
    * text, or use substring dedup, which is whitespace-insensitive. */
  private def warnStripEatsLines(cfg: PipelineConfig): Unit =
    if ((cfg.stripHtml || cfg.stripMarkdown) &&
        (cfg.lineDedupMinDocs.isDefined || cfg.c4Rules || cfg.gopherRules))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "Curation: strip_html/strip_markdown collapse newlines BEFORE " +
          "the line-granularity stages run — documents arrive " +
          "single-line, so line_dedup_min_docs will match nothing, " +
          "c4_rules degrades to a one-line page test, and " +
          "gopher_rules' bullet/ellipsis-line and duplicate " +
          "line/paragraph signals see one line per page. Use " +
          "substring_dedup_window (whitespace-insensitive) or run the " +
          "line stages on unstripped text.")

  /** The per-row prefix every entry point shares, in its one order:
    * blocklist → tracking params → consent → HTML/markdown strip →
    * mojibake → normalize → C4 → Gopher → lang-id → compression band →
    * repetition. Blocklist, tracking params and consent read the RAW
    * markup, so they run before the strips; rewrites land before every
    * text statistic. All stateless projections/filters — the prefix
    * streams unchanged. `afterUrls` sees the frame right after the
    * blocklist (the observed pipeline taps its "after_urls" count
    * there); the remaining drops fold into "after_repetition". */
  private def perRow(df: DataFrame, textCol: String, cfg: PipelineConfig,
                     afterUrls: DataFrame => DataFrame = identity)
      : DataFrame = {
    warnStripEatsLines(cfg)
    def opt(on: Boolean)(stage: DataFrame => DataFrame): DataFrame => DataFrame =
      if (on) stage else identity
    val blocked =
      if (cfg.blocklist.isEmpty) df
      else Urls.filterBlocked(df, textCol, cfg.blocklist)
    Seq[DataFrame => DataFrame](
      opt(cfg.stripTrackingParams)(Urls.canonicalizeUrls(_, textCol)),
      applyConsent(_, textCol, cfg),
      opt(cfg.stripHtml)(TextAnalysis.stripHtml(_, textCol)),
      opt(cfg.stripMarkdown)(TextAnalysis.stripMarkdown(_, textCol)),
      opt(cfg.fixMojibake)(TextAnalysis.fixMojibake(_, textCol)),
      applyNormalize(_, textCol, cfg),
      applyC4(_, textCol, cfg),
      applyGopher(_, textCol, cfg),
      applyLangId(_, textCol, cfg),
      applyCompressionBand(_, textCol, cfg),
      Repetition.filterRepetitive(_, textCol, cfg.maxDupWordFrac,
        cfg.maxDupNgramFrac, cfg.maxTopNgramFrac, cfg.repetitionN)
    ).foldLeft(afterUrls(blocked))((d, stage) => stage(d))
  }

  /** Substring-granularity decontamination: excise verbatim probe
    * leaks, then near-verbatim (edit-tolerant) ones — exact cuts are
    * cheap and deterministic, the fuzzy pass then only pays for the
    * edited leaks verbatim windows cannot see. Both keep every row
    * (no observation of their own) and are pure per-row projections
    * over collected probe indexes, so they stream unchanged. */
  private def exciseLeaks(df: DataFrame, idCol: String, textCol: String,
                          cfg: PipelineConfig): DataFrame = {
    val verbatim = cfg.decontaminateExciseProbes.fold(df)(p =>
      Contamination.decontaminateExcise(df, p, idCol, textCol,
        cfg.decontaminateExciseProbeTextCol, cfg.decontaminateExciseWindow))
    cfg.decontaminateFuzzyProbes.fold(verbatim)(p =>
      Contamination.decontaminateFuzzy(verbatim, p, idCol, textCol,
        cfg.decontaminateFuzzyProbeTextCol, cfg.decontaminateFuzzyK,
        cfg.decontaminateFuzzyW, charsCol = "near_contaminated_chars"))
  }

  private def sample(df: DataFrame, idCol: String,
                     cfg: PipelineConfig): DataFrame =
    if (cfg.sampleFraction >= 1.0) df
    else Sampling.byHash(df, idCol, cfg.sampleFraction, cfg.bucketFn)

  def pipeline(df: DataFrame, idCol: String, textCol: String,
               cfg: PipelineConfig = PipelineConfig()): DataFrame =
    batch(df, idCol, textCol, cfg, observe = false)._1

  /** [[pipeline]] plus per-stage survivor counts — the drop accounting
    * every production curation run records: "input", "after_urls",
    * "after_repetition", "after_dedup", "kept", plus
    * "after_reference" / "after_decontamination" / "after_dsir" when
    * those optional stages are configured. Same stage body as
    * [[pipeline]].
    *
    * The filter-stage counts ride ONE eager localCheckpoint of the
    * filtered survivors via `observe` (an observe below the dedup's
    * plan fan-out would otherwise be DUPLICATED into both branches of
    * the tree — Catalyst plans are trees, not DAGs — and double-fire).
    * The checkpoint also makes the dedup's two consumers read the
    * materialized survivors instead of re-running the filter subtree,
    * so observability costs storage for the survivor set, not extra
    * compute; for pure throughput without the materialization use
    * [[pipeline]]. Counts for the filter stages are final as soon as
    * this returns; "after_dedup"/"kept" complete when the returned
    * frame is consumed. */
  def pipelineObserved(df: DataFrame, idCol: String, textCol: String,
                       cfg: PipelineConfig = PipelineConfig())
      : (DataFrame, () => Map[String, Long]) = {
    val (out, obs) = batch(df, idCol, textCol, cfg, observe = true)
    (out, () => obs.map { case (n, o) =>
      n -> o.get("n").asInstanceOf[Long]
    }.toMap)
  }

  /** The batch stage body behind [[pipeline]] and [[pipelineObserved]].
    * The two differ in `tap` (a count observation when observing,
    * identity otherwise) and in which fan-out points materialize: an
    * observed frame read by two consumers would double-fire its
    * observe, so observing checkpoints every fan-out that
    * [[PipelineConfig.persistSurvivors]] does, plus the DSIR input. */
  private def batch(df: DataFrame, idCol: String, textCol: String,
                    cfg: PipelineConfig, observe: Boolean)
      : (DataFrame, Seq[(String, Observation)]) = {
    requireReferenceConfig(cfg)
    val obs = scala.collection.mutable.ArrayBuffer.empty[(String, Observation)]
    def tap(name: String)(frame: DataFrame): DataFrame =
      if (!observe) frame
      else {
        val o = Observation()
        obs += name -> o
        frame.observe(o, count(lit(1)).as("n"))
      }
    def checkpoint(on: Boolean)(frame: DataFrame): DataFrame =
      if (on) frame.localCheckpoint(true) else frame
    val fanOut = observe || cfg.persistSurvivors
    // the filter observes fire at this checkpoint, exactly once
    val filtered = checkpoint(fanOut)(tap("after_repetition")(
      perRow(tap("input")(df), textCol, cfg, tap("after_urls"))))
    // optional line-level rewrite BEFORE hashing, so footer-stripped
    // copies collapse in the dedup below; the rewrite fans out into
    // dedup's two consumers just like the filter subtree does
    val afterLines = cfg.lineDedupMinDocs.fold(filtered)(k =>
      checkpoint(fanOut)(Paragraphs.dropCommon(filtered, idCol, textCol, k)))
    // substring excision AFTER the line rewrite (footers die cheaper at
    // line granularity) and BEFORE hashing, so excision-collapsed copies
    // dedup below; with `persist` the corpus is window-hashed exactly
    // once (guard + agg + join-back all read the checkpointed keys-only
    // projection)
    val afterSub = cfg.substringDedupWindow.fold(afterLines)(w =>
      checkpoint(fanOut)(SubstringDedup.excise(afterLines, idCol, textCol,
        w = w, persist = fanOut)))
    // cross-snapshot (incremental) dedup BEFORE in-batch dedup:
    // previously-shipped content is gone before it can elect a
    // canonical. It drops rows, so it carries its own observation, and
    // it fans out into the dedup's two consumers below.
    val afterRef = cfg.referenceSnapshot.fold(afterSub) { ref =>
      val kept = cfg.referenceNearDup match {
        case Some(th) =>
          Dedup.nearDupAgainstReference(afterSub, ref, idCol, textCol,
            refTextCol = textCol, threshold = th)
        case None =>
          Dedup.againstReference(afterSub, ref, idCol, Seq(textCol),
            bloomPrefilter = cfg.referenceBloom.isDefined,
            expectedRefItems = cfg.referenceBloom.getOrElse(1000000L))
      }
      checkpoint(fanOut)(tap("after_reference")(kept))
    }
    // exact dedup, keep-min-id, computed directly from ONE narrow
    // (id, hash) projection of the filtered corpus: groupBy(hash) →
    // min(id) is the keep set, full rows semi-join it by id. The
    // filter subtree therefore evaluates exactly twice (the narrow
    // keep-set pass + the surviving-rows pass) — routing through
    // Dedup.exact's decision frame would cost a third evaluation.
    // Under softDedup the stage keeps EVERY row and attaches
    // (dup_count, weight = 1/|cluster|) instead — "after_dedup" then
    // equals the stage's input count: same narrow keys-only exchange
    // shape (softWeights' window rides the content-hash partition),
    // plain inner join back by id.
    val deduped = tap("after_dedup")(if (cfg.softDedup) {
      Guards.requireFreshColumns(df, Seq("dup_count", "weight"),
        "Curation.pipeline(softDedup)")
      val wts = Dedup.softWeights(
        Dedup.exact(afterRef, idCol, Seq(textCol)), idCol)
        .select(col(idCol), col("dup_count"), col("weight"))
      afterRef.join(wts, Seq(idCol))
    } else {
      val keptIds = afterRef
        .select(col(idCol), Dedup.contentHash(Seq(textCol)).as("__h"))
        .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
        .select(col(idCol))
      afterRef.join(keptIds, Seq(idCol), "left_semi")
    })
    // substring-granularity decontamination first (keep the doc), THEN
    // the drop-mode n-gram stage judges the already-excised text
    val excised = exciseLeaks(deduped, idCol, textCol, cfg)
    // decontamination reads its corpus twice (gram scan + anti-join):
    // the checkpoint runs the dedup shuffle + semi-join (the most
    // expensive stage) once and fires the "after_dedup" observe once
    val decontaminated = cfg.contaminationProbes.fold(excised)(p =>
      tap("after_decontamination")(Contamination.decontaminate(
        checkpoint(fanOut)(excised), p, idCol, textCol,
        cfg.contaminationProbeTextCol, cfg.contaminationN,
        cfg.maxContamination)))
    // DSIR selection drops rows, so it carries its own observation;
    // when observing, the checkpoint fires the upstream observes
    // exactly once and keeps the weighting pass (two corpus reads:
    // bucket counts + the weighted top-k) off the decontamination
    // subtree
    val selected = cfg.dsirTarget match {
      case Some(_) => tap("after_dsir")(applyDsir(
        checkpoint(observe)(decontaminated), idCol, textCol, cfg))
      case None => applyDsir(decontaminated, idCol, textCol, cfg)
    }
    val out = tap("kept")(applyTokenBudget(sample(selected, idCol, cfg),
      idCol, textCol, cfg))
    (out, obs.toSeq)
  }

  private def applyDsir(df: DataFrame, idCol: String, textCol: String,
                        cfg: PipelineConfig): DataFrame =
    cfg.dsirTarget match {
      case Some(tgt) =>
        if (cfg.dsirK < 1)
          throw graft.core.GraftError.Configuration(
            "dsirTarget needs dsirK >= 1 (the number of documents to keep)")
        Dsir.resample(df,
          tgt.select(col(cfg.dsirTargetTextCol).as(textCol)),
          idCol, textCol, cfg.dsirK, cfg.dsirBuckets, seed = cfg.dsirSeed)
      case None =>
        if (cfg.dsirK != 0)
          throw graft.core.GraftError.Configuration(
            "dsirK is set but dsirTarget is not — nothing to resemble")
        df
    }

  /** The CONTINUOUS-INGEST curation pipeline: the same per-row prefix,
    * excise stages and hash sample as [[pipeline]], applied to a
    * streaming DataFrame — they are stateless projections/filters, so
    * batch/stream parity is structural. Exact dedup becomes
    * watermark-bounded first-occurrence dedup on the content hash
    * (`dropDuplicatesWithinWatermark` — state stays bounded; a
    * duplicate arriving later than `dedupHorizon` after its original
    * is re-emitted, so size the horizon to the crawler's real re-fetch
    * window).
    *
    * Corpus-wide stages CANNOT stream and are rejected loudly rather
    * than silently skipped: line/substring dedup, soft dedup, drop-mode
    * decontamination, DSIR and the token budget all need the whole
    * corpus (doc frequencies / cluster sizes / probe-overlap ratios /
    * global top-k / running sums) — run them in a periodic batch
    * compaction over the stream's output instead. The two probe-shaped
    * stages DO stream, because their bounded side collects into a
    * per-row expression: decontaminate-excise (probe window-hash
    * index) and reference NEAR-dup ([[Dedup.nearDupRefIndex]] — band
    * buckets + shingle sets of the snapshot, loud size caps,
    * batch-identical verdicts).
    * [[PipelineConfig.persistSurvivors]] is rejected under the same
    * loudness contract: micro-batches evaluate their plan once, so the
    * batch knob's storage-for-compute trade has nothing to buy here.
    *
    * @param tsCol event-time column for the dedup watermark
    */
  def pipelineStream(df: DataFrame, idCol: String, textCol: String,
                     tsCol: String, dedupHorizon: String = "1 hour",
                     cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    require(df.isStreaming, "pipelineStream needs a streaming DataFrame")
    for ((name, set) <- Seq(
        "lineDedupMinDocs" -> cfg.lineDedupMinDocs.isDefined,
        "substringDedupWindow" -> cfg.substringDedupWindow.isDefined,
        "softDedup" -> cfg.softDedup,
        "contaminationProbes" -> cfg.contaminationProbes.isDefined,
        "dsirTarget" -> cfg.dsirTarget.isDefined,
        "tokenBudget" -> cfg.tokenBudget.isDefined) if set)
      throw graft.core.GraftError.Configuration(
        s"$name is corpus-wide and cannot stream — run it as a batch " +
          "compaction over the stream's output")
    requireReferenceConfig(cfg)
    // not corpus-wide, but still meaningless on a stream: the knob's
    // localCheckpoint is a batch materialization, and each micro-batch
    // already evaluates its plan exactly once — reject rather than
    // silently ignore (the same loudness contract as above)
    if (cfg.persistSurvivors)
      throw graft.core.GraftError.Configuration(
        "persistSurvivors cannot stream — micro-batches evaluate once; " +
          "there is no double-evaluation to trade storage against")
    val filtered = perRow(df, textCol, cfg)
    Guards.requireFreshColumns(filtered, Seq("__cs_h"),
      "Curation.pipelineStream")
    // cross-snapshot (incremental) dedup: ONE stream-static anti-join
    // on the content hash (Spark supports left_anti with a static
    // right side) — Dedup.againstReference's batch shape (semi-join →
    // anti-join back by id) would be a stream-stream join, so the
    // stage flattens to the direct hash anti-join here; semantics are
    // identical (exact hashes, no prefilter)
    val afterRef = (cfg.referenceSnapshot, cfg.referenceNearDup) match {
      case (Some(ref), Some(th)) =>
        // NEAR-dup against a bounded reference snapshot: the batch
        // shape's bucket aggregation has no streaming analog, but the
        // reference's (band, bucket) index + shingle sets collect
        // driver-side ONCE (loud caps in Dedup.nearDupRefIndex) and
        // the probe is a pure per-row expression — no state, no
        // shuffle, batch-identical verdicts (candidates from the same
        // minhash bands, the same hot-bucket poison rule, the same
        // exact-jaccard verify)
        require(!ref.isStreaming,
          "referenceSnapshot must be a static (batch) frame")
        val idx = Dedup.nearDupRefIndex(ref, textCol, threshold = th)
        filtered.filter(!Dedup.nearDupProbe(col(textCol), idx))
      case (Some(ref), None) =>
        require(!ref.isStreaming,
          "referenceSnapshot must be a static (batch) frame")
        val refHashes = ref
          .select(Dedup.contentHash(Seq(textCol)).as("__cs_h")).distinct()
        // optional bloom prefilter: the blob bakes into a per-row
        // literal bit test (the stream probe idiom — no stream-static
        // cross join), sized at plan time from the static reference.
        // Bloom-NEGATIVE rows were provably never shipped, so they must
        // be KEPT — the test NULLs their join key instead of dropping
        // the row, and a null equi-key can never match, so they pass
        // the anti-join without probing it. Positives (FPs included)
        // carry the real key into the exact anti-join. Survivors are
        // identical either way (FPs re-check, FNs don't exist).
        val h = Dedup.contentHash(Seq(textCol))
        val keyed = cfg.referenceBloom match {
          case Some(n) =>
            val (m, k) = Bloom.sizeFor(n, 0.01)
            val blob = Bloom.buildLocal(ref, hex(h), m, k)
            filtered.withColumn("__cs_h",
              when(graft.functions.BloomExprs.test(lit(blob),
                graft.functions.BloomExprs.keyPositions(hex(h), m, k)), h))
          case None => filtered.withColumn("__cs_h", h)
        }
        keyed.join(refHashes, Seq("__cs_h"), "left_anti")
          .drop("__cs_h")
      case (None, _) => filtered
    }
    val deduped = afterRef
      .withColumn("__cs_h", Dedup.contentHash(Seq(textCol)))
      .withWatermark(tsCol, dedupHorizon)
      .dropDuplicatesWithinWatermark("__cs_h")
      .drop("__cs_h")
    sample(exciseLeaks(deduped, idCol, textCol, cfg), idCol, cfg)
  }

  private def applyConsent(df: DataFrame, textCol: String,
                           cfg: PipelineConfig): DataFrame =
    if (cfg.consent)
      df.where(Consent.keep(df, textCol, cfg.consentNoindex))
    else df

  private def applyC4(df: DataFrame, textCol: String,
                      cfg: PipelineConfig): DataFrame =
    if (cfg.c4Rules)
      TextAnalysis.c4Filter(df, textCol, cfg.c4MinWordsPerLine,
        cfg.c4MinSentences, cfg.c4BadWords)
    else df
  /** The full Gopher Table-A1.1 block as ONE fused text walk: the
    * 7-signal document filter ([[TextAnalysis.gopherFilter]]'s
    * published thresholds) AND the duplicate line/paragraph fractions
    * ([[Repetition.filterDuplicateUnits]]'s) evaluate from a single
    * [[graft.functions.QualityExprs]] projection — composing the two
    * operators would walk every document twice. Semantics are
    * operator-identical: same signals, same thresholds, same
    * round-to-6 on the duplicate fractions, null text dropped (the
    * word floor). */
  private def applyGopher(df: DataFrame, textCol: String,
                          cfg: PipelineConfig): DataFrame =
    if (cfg.gopherRules) TextAnalysis.gopherRulesFilter(df, textCol)
    else df

  private def applyLangId(df: DataFrame, textCol: String,
                          cfg: PipelineConfig): DataFrame =
    cfg.langId match {
      case Some((model, stats, allow)) =>
        LangId.filterByLang(df, textCol, model, stats, allow)
      case None => df
    }

  private def applyCompressionBand(df: DataFrame, textCol: String,
                                   cfg: PipelineConfig): DataFrame =
    cfg.compressionBand match {
      case Some((lo, hi)) =>
        require(lo < hi && lo >= 0.0,
          s"compressionBand needs 0 <= lo < hi, got ($lo, $hi)")
        df.where(graft.functions.CompressExprs.deflateStats(col(textCol))
          .getField("ratio").between(lo, hi))
      case None => df
    }

  private def applyNormalize(df: DataFrame, textCol: String,
                             cfg: PipelineConfig): DataFrame =
    cfg.normalizeUnicode match {
      case Some("NFC") => df.withColumn(textCol,
        graft.functions.UnicodeExprs.nfc(col(textCol)))
      case Some("NFKC") => df.withColumn(textCol,
        graft.functions.UnicodeExprs.nfkc(col(textCol)))
      case Some(other) => throw graft.core.GraftError.Configuration(
        s"normalizeUnicode must be NFC|NFKC, got '$other'")
      case None => df
    }

  /** Final ~N-token cut (no-op when unconfigured): the tokens column
    * is derived, used for the per-shard prefix decision, and dropped. */
  private def applyTokenBudget(df: DataFrame, idCol: String,
                               textCol: String,
                               cfg: PipelineConfig): DataFrame =
    cfg.tokenBudget match {
      case Some(b) =>
        Guards.requireFreshColumns(df, Seq("__ct_toks"), "Curation.tokenBudget")
        Sampling.tokenBudget(
            df.withColumn("__ct_toks",
              TextAnalysis.tokenCountEstimate(col(textCol)).cast("long")),
            idCol, "__ct_toks", b, cfg.tokenBudgetShards)
          .drop("__ct_toks")
      case None => df
    }
}
