package graft.llm

import graft.functions.CollectCapped.{collect_long_pairs_capped, collect_longs_capped}
import graft.functions.SketchExprs._
import graft.functions.VectorExprs.{cosine_sim, srp_bits}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora (north-star
  * surface from BASELINE.json; the reference has no dedup — SURVEY §2.E).
  *
  * Scale design notes (100 TB):
  *  - exact dedup shuffles (hash, id) pairs ONLY — content stays where
  *    it was scanned: the narrow projection happens before the shuffle,
  *    and groupBy gets map-side partial aggregation on the hash;
  *  - MinHash+LSH shuffles (id, band, bucket) triples — `bands` rows per
  *    doc of ~24 bytes, never all-pairs; full-corpus shingle sets never
  *    cross a shuffle (candidate verification shingles just the
  *    candidate rows once and moves those sets id-keyed, in the PACKED
  *    binary form); hot buckets (boilerplate) are capped so no bucket
  *    goes quadratic;
  *  - SimHash groups a (id, sig) projection by one long key;
  *  - embedding near-dup buckets by SRP sign bits before any pairwise
  *    cosine, so the quadratic step is confined to buckets.
  *
  * Shingle arrays are recomputed per use (a shuffle-free projection):
  * cheaper at scale than carrying them through a shuffle or persisting
  * 100 TB of intermediate state.
  */
object Dedup {

  /** Structural content hash shared by every exact-dedup shape (batch
    * [[exact]]/[[firstOccurrence]] AND streaming
    * [[graft.streaming.EventsStreaming.dedupStream]] — batch/stream
    * hash parity is a tested invariant, so there is exactly ONE
    * definition): JSON-encode the column struct so content never
    * collides across column boundaries (a separator-concat hash maps
    * ("a b","c") and ("a","b c") to the same bytes); ignoreNullFields
    * off keeps null explicit, so (null) and ("null") stay distinct.
    * Stored as BINARY(16) via unhex — at 100 TB the hash column rides
    * every dedup shuffle, and the hex-string form is 2× the bytes. */
  def contentHash(contentCols: Seq[String]): Column =
    unhex(md5(to_json(struct(contentCols.map(col): _*),
      Map("ignoreNullFields" -> "false"))))

  /** Exact dedup: canonical = min(id) per identical content hash.
    * Returns (id, canonical_id, is_duplicate) — join back on id when the
    * content columns are needed; that keeps every shuffle in this
    * operator down to (hash, id) pairs. */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val pairs = df.select(col(idCol), contentHash(contentCols).as("_h"))
    val canon = pairs.groupBy(col("_h")).agg(min(col(idCol)).as("canonical_id"))
    pairs.join(canon, "_h")
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
      .drop("_h")
  }

  /** MinHash + LSH near-dup candidate pairs with exact-Jaccard
    * verification. Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold.
    *
    * Pipeline: shingle-hash (projection) → MinHashBands custom expr
    * (projection) → explode (id, band, bucket) KEYS ONLY → cap hot
    * buckets → within-bucket pairs → distinct → re-join shingles by id →
    * exact Jaccard on the two shingle sets.
    *
    * `maxBucketSize` drops buckets larger than the cap (boilerplate
    * skew guard): a bucket of B docs yields B²/2 candidate pairs, so one
    * hot bucket of 100k boilerplate docs would otherwise produce 5e9
    * pairs. Capped buckets are near-certainly re-covered by the doc's
    * other `bands-1` buckets or represent boilerplate the pipeline wants
    * flagged, not paired. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   nGram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   maxBucketSize: Int = 10000): DataFrame = {
    val raw = df.select(col(idCol).as("id"), col(textCol).as("_text"))

    // full-corpus shingles are computed exactly ONCE, inside the keys
    // projection, and never leave their scan tasks: the single consumer
    // below shuffles only (id, band, bucket) triples
    val keys = raw.select(col("id"),
      posexplode(minhash_bands(shingleHashes(col("_text"), nGram),
        numHashes, bands)).as(Seq("band", "bucket")))

    // candidate pairs in ONE shuffle of the keys table: the capped
    // native collect gathers each (band, bucket)'s sorted ids — a hot
    // bucket poisons its own bounded buffer and evaluates to NULL
    // (dropped below), so per-group memory stays <= cap longs at every
    // stage no matter how skewed the corpus — then two nested explodes
    // stream the in-bucket pairs (sorted list ⇒ id_a < id_b by
    // position; GenerateExec streams, so no B² array materializes).
    // The previous shape — size aggregate + filter join-back +
    // self-join — shuffled the keys table twice more and re-planned
    // three extra AQE stages for the same pairs.
    val buckets = keys.groupBy(col("band"), col("bucket"))
      .agg(collect_longs_capped(col("id"), maxBucketSize).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) > 1)
    // the dedup exchange is PINNED to the session's shuffle-partition
    // count (an explicit user repartition, which AQE never coalesces)
    // rather than a plain .distinct(): candidate rows are 16 bytes, so
    // byte-sized AQE coalescing would fold them into one partition and
    // serialize the expensive verify below (re-shingling two documents
    // per pair) onto a single core — measured 1.4s of a 2.4s pairs run
    // at sf0.1. HashPartitioning(id_a, id_b) satisfies the dedup
    // aggregation's distribution, so this is still exactly ONE shuffle.
    val nShuffle = df.sparkSession.sessionState.conf.numShufflePartitions
    val cand = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2,
          greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("id_b"))
      .repartition(nShuffle, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // verify: candidate documents are shingled exactly ONCE each (keys-
    // only distinct of candidate ids, then one projection), and the
    // pairs join the precomputed arrays. The earlier shape joined raw
    // TEXT and re-shingled per PAIR row — fine when a doc appears in
    // O(1) pairs, but on a corpus with high ambient similarity (or a
    // recall-biased banding curve) pair multiplicity per doc can reach
    // the thousands and shingling dominates the whole query (measured
    // on the 10× scale ramp: ShingleHash was ~100% of task CPU).
    // Shuffle volume class is unchanged — both shapes move one
    // text-sized payload per pair through the id_b join — and the
    // array payload is bounded by token count (~8B/token).
    // PACKED shingle payloads through the verify joins (round-19,
    // guide §1.2 step 2 / §5): the candidate sets ride two id-keyed
    // joins; as ArrayType(Long) each row pays a per-ELEMENT
    // UnsafeArrayWriter loop at every row-format boundary (the largest
    // measured CPU block left in the dedup family after the round-18
    // ASCII fast path). The BinaryType cell is the identical sorted-
    // distinct long image laid out as one byte[] — one memcpy per row
    // copy — and the jaccard merge reads the longs in place.
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val shingled = raw.join(candIds, Seq("id"))
      .select(col("id"), shingleHashesPacked(col("_text"), nGram).as("_sh"))
    val verified = cand
      .join(shingled.select(col("id").as("id_a"), col("_sh").as("_sa")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("_sh").as("_sb")), Seq("id_b"))

    // shingle output is sorted-distinct by construction → linear merge
    verified.withColumn("jaccard", jaccard_sorted_packed(col("_sa"), col("_sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Near-dup dedup decision from minhash pairs: every doc that appears
    * as the greater id of a qualifying pair is a duplicate; canonical is
    * the smallest id it pairs with (single pass, no iterative
    * connected-components — documented approximation). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, numHashes: Int = 64,
                   bands: Int = 16): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol,
      numHashes = numHashes, bands = bands, threshold = threshold)
    val canon = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("canonical_id"))
    df.select(col(idCol))
      .join(canon, Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("is_duplicate", col("canonical_id") =!= col(idCol))
  }

  /** Incremental (cross-snapshot) exact dedup: drop rows whose content
    * already appears in a REFERENCE corpus — the "don't re-ingest what
    * the previous crawl already delivered" step that runs before any
    * in-batch dedup. Same [[contentHash]] as every exact-dedup shape.
    *
    * Scale shape — both joins are keys-only, text never rides a wide
    * shuffle: (1) an (id, hash) projection of the corpus semi-joins the
    * reference's distinct 16-byte hashes to find duplicate ids (AQE
    * broadcasts whichever side fits; at worst this shuffles 24-byte
    * pairs); (2) the full rows anti-join that DUPLICATE-ID set — which
    * is bounded by the corpus∩reference overlap, normally a small
    * fraction that AQE broadcasts, so the corpus itself stays in place.
    * A plain `df anti-join refHashes` would sort-merge-shuffle every
    * document's full row whenever the reference outgrows the broadcast
    * threshold — the exact cost this operator exists to avoid.
    *
    * `bloomPrefilter` additionally builds a [[Bloom]] filter over the
    * reference hashes (hex form — the portable codepoint-polynomial
    * key domain) and keeps proven-absent rows out of the hash join
    * entirely: one blob broadcast + a codegen'd bit test per row.
    * False positives are removed by the exact join; false negatives
    * don't exist, so semantics are identical either way (unit-pinned).
    *
    * `idCol` must be a UNIQUE, NON-NULL key (the dedup-family
    * contract): the final anti-join keys on it, so a null id would
    * never match its own duplicate-verdict and a duplicated id would
    * drop every row sharing it. */
  def againstReference(df: DataFrame, ref: DataFrame, idCol: String,
                       contentCols: Seq[String],
                       bloomPrefilter: Boolean = false,
                       expectedRefItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val h = contentHash(contentCols)
    val refHashes = ref.select(h.as("__h")).distinct()
    val pool =
      if (!bloomPrefilter) df
      else {
        // probe on the hex form of the BINARY(16) hash; the exact
        // verify join uses the full 16 bytes, so an FP here merely
        // re-checks a row and a duplicate is never lost
        val (mBits, k) = Bloom.sizeFor(expectedRefItems, fpp)
        val bloomDf = Bloom.build(refHashes, hex(col("__h")), mBits, k)
        Bloom.probe(df, bloomDf, hex(h), mBits, k, "__might")
          .filter(col("__might")).drop("__might")
      }
    val dupIds = pool.select(col(idCol), h.as("__dh"))
      .join(refHashes, col("__dh") === col("__h"), "left_semi")
      .select(col(idCol))
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Incremental NEAR-dup dedup: drop rows of `df` whose text is a
    * minhash-LSH near-duplicate (exact jaccard >= `threshold`) of ANY
    * document in a REFERENCE corpus — the near-dup extension of
    * [[againstReference]]: "don't re-ingest what the previous crawl
    * already delivered, even when the copy grew a tracking footer."
    *
    * Scale shape — both corpora sketch independently (the same one-pass
    * native shingle+band projection as [[minhashPairs]]) and meet on
    * (band, bucket) KEYS; document text never rides any shuffle.
    * Reference rows need no id column: a reference document is keyed by
    * xxhash64 of its text, and the reference dedups on its
    * (rk, band, bucket) key triples before the bucket collect — exact-
    * duplicate refs yield identical triples and collapse there (harmless:
    * any one copy witnesses the near-dup), without the reference text
    * crossing an aggregate exchange. Reference buckets are capped: a hot
    * bucket (boilerplate mode) poisons its bounded buffer and drops, so
    * each batch row pairs with at most `bands × maxBucketSize` reference
    * candidates. Candidate (id, refKey) pairs dedup through an exchange
    * PINNED to the session shuffle-partition width (16-byte rows would
    * otherwise AQE-coalesce onto one core under the CPU-heavy verify —
    * the [[minhashPairs]] lesson), then exact jaccard against the
    * re-joined texts confirms. The dup-id set is a left-semi join of
    * `df`'s id projection against the verified ids, so its size estimate
    * is bounded by the ids, and the final drop is the keys-only anti-join
    * of [[againstReference]]: it broadcasts the dup ids instead of
    * shuffling `df`'s full rows. */
  def nearDupAgainstReference(df: DataFrame, ref: DataFrame, idCol: String,
                              textCol: String, refTextCol: String = "text",
                              nGram: Int = 3, numHashes: Int = 64,
                              bands: Int = 16, threshold: Double = 0.5,
                              maxBucketSize: Int = 10000): DataFrame = {
    val refDocs = ref.select(col(refTextCol).as("__rt"))
      .select(xxhash64(col("__rt")).as("__rk"), col("__rt"))
    // keys-only dedup: identical ref texts give identical triples, so
    // copies collapse before the capped collect counts them
    val refKeys = refDocs.select(col("__rk"),
      posexplode(minhash_bands(shingleHashes(col("__rt"), nGram),
        numHashes, bands)).as(Seq("band", "bucket")))
      .distinct()
    val refBuckets = refKeys.groupBy(col("band"), col("bucket"))
      .agg(collect_longs_capped(col("__rk"), maxBucketSize).as("rks"))
      .filter(col("rks").isNotNull)
    val dfKeys = df.select(col(idCol).as("__id"),
      posexplode(minhash_bands(shingleHashes(col(textCol), nGram),
        numHashes, bands)).as(Seq("band", "bucket")))
    val nShuffle = df.sparkSession.sessionState.conf.numShufflePartitions
    val cand = dfKeys.join(refBuckets, Seq("band", "bucket"))
      .select(col("__id"), explode(col("rks")).as("__rk"))
      .repartition(nShuffle, col("__id"), col("__rk"))
      .dropDuplicates("__id", "__rk")
    // candidate docs and candidate refs are each shingled ONCE (keys-
    // only distinct, then one projection) — not per candidate pair;
    // see the minhashPairs verify note (the 10×-ramp lesson: per-pair
    // re-shingling dominates CPU when pair multiplicity is high)
    val candIds = cand.select(col("__id")).distinct()
    // packed payloads through the candidate joins — see minhashPairs
    val dfSh = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .join(candIds, Seq("__id"))
      .select(col("__id"), shingleHashesPacked(col("__t"), nGram).as("__sa"))
    val candRks = cand.select(col("__rk")).distinct()
    val refSh = refDocs.join(candRks, Seq("__rk"))
      .select(col("__rk"), shingleHashesPacked(col("__rt"), nGram).as("__sb"))
    val verifiedIds = cand
      .join(dfSh, Seq("__id"))
      .join(refSh, Seq("__rk"))
      .filter(jaccard_sorted_packed(col("__sa"), col("__sb")) >= threshold)
      .select(col("__id").as(idCol))
    // semi-join of the id projection: bounded by the ids (so the anti-
    // join below broadcasts it, as in againstReference) and free of the
    // repeats that duplicate refSh rows give
    val dupIds = df.select(col(idCol)).join(verifiedIds, Seq(idCol), "left_semi")
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Driver-collected reference index for the STREAMING form of
    * [[nearDupAgainstReference]]: (band, bucket) posting lists + each
    * reference doc's sorted shingle set, built ONCE batch-side and
    * baked into a per-row probe expression
    * ([[graft.functions.NearDupExprs.NearDupRefProbe]]) — no state, no
    * shuffle, so the stage streams. Same knobs, same verdicts as the
    * batch path: content-hash-deduped reference, per-bucket loud cap
    * (a bucket past `maxBucketSize` poisons and drops, exactly the
    * batch collect_longs_capped rule), exact-jaccard verify at the
    * same threshold over the same shingle/minhash expressions.
    *
    * Bounded by construction — and LOUDLY: `maxRefDocs` caps the
    * reference row count and `maxShingleEntries` the total collected
    * shingle longs (the actual memory: 8 bytes each). A reference too
    * big for the caps is not "a bounded snapshot" and must run as a
    * batch compaction instead; raise the caps deliberately if the
    * driver has the headroom. */
  final case class RefNearDupIndex(
      buckets: java.util.HashMap[java.lang.Long, Array[Long]],
      refShingles: java.util.HashMap[java.lang.Long, Array[Long]],
      nGram: Int, numHashes: Int, bands: Int, threshold: Double)

  def nearDupRefIndex(ref: DataFrame, refTextCol: String = "text",
                      nGram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5, maxBucketSize: Int = 10000,
                      maxRefDocs: Int = 1 << 20,
                      maxShingleEntries: Long = 1L << 26): RefNearDupIndex = {
    require(!ref.isStreaming,
      "reference snapshot must be a static (batch) frame")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1]: $threshold")
    val refDocs = ref.select(col(refTextCol).as("__rt"))
      .select(xxhash64(col("__rt")).as("__rk"), col("__rt"))
      .dropDuplicates("__rk")
    val sh = shingleHashes(col("__rt"), nGram)
    val rows = refDocs
      .select(col("__rk"), sh.as("__s"),
        minhash_bands(sh, numHashes, bands).as("__b"))
      .limit(maxRefDocs + 1).collect()
    require(rows.length <= maxRefDocs,
      s"reference snapshot exceeds maxRefDocs=$maxRefDocs distinct " +
        "documents — too large for the broadcast stream probe; run " +
        "near-dup dedup as a batch compaction, or raise the cap " +
        "deliberately")
    val shingles = new java.util.HashMap[java.lang.Long, Array[Long]]()
    var totalShingles = 0L
    // per TRUE (band, bucket) first, so the hot-bucket cap applies
    // before any mixed-key collision can merge two buckets
    val byBucket =
      new java.util.HashMap[(Int, Long), java.util.ArrayList[Long]]()
    rows.foreach { r =>
      val rk = r.getLong(0)
      val s = r.getSeq[Long](1).toArray
      totalShingles += s.length
      require(totalShingles <= maxShingleEntries,
        s"reference shingle sets exceed maxShingleEntries=" +
          s"$maxShingleEntries collected longs — run near-dup dedup " +
          "as a batch compaction, or raise the cap deliberately")
      shingles.put(rk, s)
      val bd = r.getSeq[Long](2)
      var b = 0
      while (b < bd.length) {
        val k = (b, bd(b))
        var l = byBucket.get(k)
        if (l == null) { l = new java.util.ArrayList[Long](); byBucket.put(k, l) }
        if (l.size <= maxBucketSize) l.add(rk) // size cap+1 marks poison
        b += 1
      }
    }
    val buckets = new java.util.HashMap[java.lang.Long, Array[Long]]()
    byBucket.forEach { (k, l) =>
      if (l.size <= maxBucketSize) { // poisoned hot buckets drop (batch rule)
        val mixed = graft.functions.NearDupExprs.key(k._1, k._2)
        val prev = buckets.get(mixed)
        val arr = l.toArray(new Array[java.lang.Long](l.size)).map(_.longValue())
        buckets.put(mixed, if (prev == null) arr else prev ++ arr)
      }
    }
    RefNearDupIndex(buckets, shingles, nGram, numHashes, bands, threshold)
  }

  /** Boolean per-row probe: is `text` a near-duplicate of any indexed
    * reference document? The shingle subexpression is shared by the
    * jaccard side and the minhash side (whole-stage codegen's
    * subexpression elimination computes it once per row). */
  def nearDupProbe(text: Column, idx: RefNearDupIndex): Column = {
    val sh = shingleHashes(text, idx.nGram)
    graft.functions.NearDupExprs.nearDupRefProbe(sh,
      minhash_bands(sh, idx.numHashes, idx.bands),
      idx.buckets, idx.refShingles, idx.threshold)
  }

  /** Iterative canonical propagation over a pair graph: converges the
    * single-pass approximation to true connected components (a ~ b ~ c
    * ⇒ all three share min(component)). Each round: canonical(x) =
    * min(canonical(x), canonical(neighbors(x)), canonical(canonical(x)))
    * — neighbor propagation plus POINTER JUMPING, so labels travel
    * 2^k hops after k rounds and a diameter-D component converges in
    * ~log2(D) rounds (+1 to observe the fixpoint). Stop when a round
    * changes nothing (or maxIters). localCheckpoint between rounds
    * truncates lineage.
    *
    * Round shape (r7): the canonical pointers ride the edge list as
    * extra (id → canonical) edges, so ONE join + ONE aggregation —
    * min over canonical(dst) — covers BOTH neighbor propagation and
    * the pointer jump in a single shuffle pass (previously two
    * separate joins merged by a third). The seed is folded into the
    * first round's checkpoint instead of materializing as its own
    * job; identical exchanges inside that first plan are collapsed by
    * Spark's ReuseExchange. Same monotone-min update, same fixpoint,
    * two fewer exchanges and one fewer eager job per call.
    *
    * Measured floor (sf0.1, local[32]): after this rewrite the loop
    * itself costs ~0.6s/round of fixed job latency (scheduling + the
    * checkpoint materialization) on milliseconds of actual data — a
    * diameter-2 corpus pays exactly two rounds (one that converges,
    * one that observes the fixpoint; the observation round is
    * irreducible: the only way to know nothing changed is to compute
    * the round). The remaining cost of the connected-dedup queries is
    * candidate generation, not this loop. */
  def convergeCanonicals(ids: DataFrame, pairs: DataFrame,
                         idCol: String, maxIters: Int = 10): DataFrame = {
    // materialize the pair pipeline ONCE before fanning it out into both
    // union branches — otherwise the (expensive) candidate-generation
    // plan above `pairs` executes twice inside the first checkpoint
    val p = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    // size the PER-ROUND exchanges from the measured edge volume
    // (SCALING.md round-10 finding 2: a closure loop pays width ×
    // rounds × stages of task overhead, so width must track the
    // per-round table — ~3|E| rows of 24-byte (long, long) pairs —
    // not the input corpus). One cheap count of the already-
    // materialized checkpoint; the global shuffle width is restored
    // after the loop, so only the rounds are resized.
    val loopWidth = graft.core.LoopShuffle.width(
      ids.sparkSession, rows = 3L * p.count(), bytesPerRow = 24)
    // the pair checkpoint is scanned twice EVERY round (both union
    // branches), so its partition count is per-round task overhead —
    // narrow-coalesce it to the loop width
    val pr = graft.core.LoopShuffle.resized(p, loopWidth)
    // undirected edges, both directions (two cheap reads of the checkpoint)
    val edges = pr.union(pr.select(col("dst").as("src"), col("src").as("dst")))
    // iterate ONLY over vertices that have an edge: isolated ids can
    // never change canonical, so they rejoin at the end instead of
    // riding every round's shuffle (at 100 TB the near-dup graph is a
    // small fraction of the corpus)
    // seed with the single-pass result (min over direct neighbors) —
    // LAZY: it materializes inside the first round's checkpoint, so the
    // loop only pays for chains of length >= 3 and the seed never costs
    // its own job
    var cur = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("nb"))
      .select(col("id"), least(col("id"), col("nb")).as("canonical_id"))
    var prevCkpt: Option[DataFrame] = None
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      // pointer edges (x → canonical(x)): joining them through cur
      // yields canonical(canonical(x)) — the POINTER JUMP — in the SAME
      // join+groupBy pass that propagates neighbor canonicals. Min
      // labels then travel 2^k hops after k rounds instead of k, so a
      // diameter-D chain converges in ~log2(D) rounds, not D. Every
      // canonical_id is itself an edge vertex (least(id, neighbor)), so
      // the hop always resolves; monotone mins keep the fixpoint
      // identical to the two-join form.
      val allEdges = edges.union(
        cur.select(col("id").as("src"), col("canonical_id").as("dst")))
      val best = allEdges
        .join(cur.select(col("id").as("dst"), col("canonical_id").as("nc")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nc")).as("mc"))
      // the fixpoint check RIDES the checkpoint materialization via
      // observe — one job per round, no second scan (count() is
      // null-proof on an empty frame, unlike sum)
      val obs = org.apache.spark.sql.Observation()
      // the eager checkpoint EXECUTES inside withWidth, so every
      // exchange of this round (join + groupBy + the checkpoint scan)
      // is planned at the measured loop width
      val joined = graft.core.LoopShuffle.withWidth(
          ids.sparkSession, loopWidth) {
        cur.join(best, Seq("id"), "left")
          .select(col("id"), col("canonical_id"),
            least(col("canonical_id"),
              coalesce(col("mc"), col("canonical_id")))
              .as("next_canonical"))
          .observe(obs, count(when(col("next_canonical") =!= col("canonical_id"),
            lit(1))).as("changed"))
          .localCheckpoint(true)
      }
      cur = joined.select(col("id"), col("next_canonical").as("canonical_id"))
      changed = obs.get("changed").asInstanceOf[Long] > 0
      // the stale round's checkpoint blocks free as soon as the new one
      // lands — at 100 TB each round would otherwise pin a full
      // vertex-set copy until the job ends (round 1 has none: its input
      // is the lazy seed)
      prevCkpt.foreach(unpersistCheckpoint)
      prevCkpt = Some(joined)
      it += 1
    }
    // the pair/edge checkpoint is not in the returned lineage either —
    // only the final round's vertex frame is (p itself was already
    // freed by the resize when it was wider than the loop)
    unpersistCheckpoint(pr)
    // isolated vertices come back as canonical = self
    ids.select(col(idCol))
      .join(cur.select(col("id").as(idCol), col("canonical_id")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  /** Free the block-store copy behind a localCheckpoint'd frame that is
    * provably out of every live lineage (never read again). Spark WARNs
    * that an unpersisted local checkpoint cannot be recomputed — true
    * and intended here (the frame is dead), so the instance-class logger
    * is lowered to ERROR first to keep job logs meaningful. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    graft.core.LoopShuffle.unpersistCheckpoint(df)

  /** [[minhashDedup]] with transitive closure: chains of near-dups
    * (a~b~c with a≁c) collapse into ONE canonical group. */
  def minhashDedupConnected(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double = 0.5, numHashes: Int = 64,
                            bands: Int = 16, maxIters: Int = 10): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol,
      numHashes = numHashes, bands = bands, threshold = threshold)
    convergeCanonicals(df.select(col(idCol)), pairs, idCol, maxIters)
  }

  /** Representative selection after clustering: keep exactly ONE row per
    * near-dup component — the one with the highest `scoreCol` (ties →
    * smallest id), the standard curation policy of retaining the
    * best-quality version of a duplicated document rather than an
    * arbitrary one (min-id). `components` is any (id, canonical_id)
    * assignment, e.g. [[convergeCanonicals]] output.
    *
    * Scale shape: the argmax runs on a keys-only (id, score, component)
    * projection — one partial-aggregating max(struct) per component, no
    * window — and the winners (≤ one row per component) come back via a
    * left-semi join, so full document rows never ride a shuffle. Ids
    * must be non-negative (the struct tie-break negates the id so one
    * max covers score-desc/id-asc). */
  /** Soft dedup: duplicate-aware sampling weights instead of removal —
    * each row gets `weight = 1 / |its component|`, so a cluster of n
    * (near-)identical documents carries the same TOTAL sampling mass as
    * one unique document. Feed the weights to [[Sampling
    * .weightedSample]] (or a trainer's example weights) when hard
    * removal is too blunt: the cluster's best spelling still has a
    * chance to appear, duplicated content just stops dominating the
    * mixture.
    *
    * `components` is any (id, component) assignment — [[exact]],
    * [[minhashDedupConnected]], [[convergeCanonicals]], a fuzzy-dedup
    * closure — making this the one reweighting step for every dedup
    * family. Output: (id, component, dup_count, weight).
    *
    * Scale shape: ONE exchange hash-partitioned on the component label
    * (the frame is keys-only — text never enters); `1/n` is a single
    * IEEE division, identical on every engine, so weights replay
    * bit-for-bit. */
  def softWeights(components: DataFrame, idCol: String,
                  componentCol: String = "canonical_id"): DataFrame = {
    require(components.columns.contains(idCol) &&
      components.columns.contains(componentCol),
      s"softWeights expects ($idCol, $componentCol) in " +
        components.columns.mkString(", "))
    Guards.requireFreshColumns(
      components.drop(componentCol), Seq("dup_count", "weight"),
      "Dedup.softWeights")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(componentCol))
    components.select(col(idCol), col(componentCol))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("weight", lit(1.0) / col("dup_count"))
  }

  def keepBestPerComponent(df: DataFrame, components: DataFrame,
                           idCol: String, score: Column): DataFrame = {
    val winners = df.select(col(idCol), score.as("__s"))
      .join(components.select(col(idCol), col("canonical_id")), Seq(idCol))
      .groupBy(col("canonical_id"))
      .agg(max(struct(col("__s"), (-col(idCol)).as("__nid"))).as("__w"))
      .select((-col("__w.__nid")).cast("long").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Components AND best-per-component winners from ONE
    * candidate-generation pass: the composed answer a curation
    * pipeline actually wants — "which component is each doc in, and
    * which version survives" — without paying the minhash+LSH+closure
    * twice for the two questions. Output is the full id assignment
    * annotated with both signals: (id, canonical_id, is_duplicate,
    * is_best); exactly one `is_best` row per component (the highest
    * `score`, ties to the smallest id — [[keepBestPerComponent]]'s
    * policy), singletons are their own winners.
    *
    * Scale shape: the closure loop's final frame is checkpointed, so
    * feeding it to both the component output and the winner argmax
    * re-reads cached 16-byte rows — LSH candidate generation runs
    * once no matter how many consumers. The argmax + annotate join
    * shuffle (id, score, component) keys only. */
  def connectedWithBest(df: DataFrame, idCol: String, textCol: String,
                        score: Column, threshold: Double = 0.5,
                        numHashes: Int = 64, bands: Int = 16,
                        maxIters: Int = 10): DataFrame = {
    val comps = minhashDedupConnected(df, idCol, textCol,
      threshold, numHashes, bands, maxIters)
    val winners = keepBestPerComponent(df, comps, idCol, score)
      .select(col(idCol), lit(true).as("is_best"))
    comps.join(winners, Seq(idCol), "left")
      .select(col(idCol), col("canonical_id"), col("is_duplicate"),
        coalesce(col("is_best"), lit(false)).as("is_best"))
  }

  /** Embedding near-dup dedup decision from [[embeddingPairs]] —
    * canonical = smallest paired id (single pass, same contract as
    * [[minhashDedup]]). */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then mark
    * every vector whose exact cosine to a smaller-id CLUSTER-MATE
    * reaches `threshold` as a duplicate of the smallest such id.
    * The clustering is [[Similarity.IvfIndex]]'s deterministic Lloyd
    * trainer (seeded sample, `kmeansIters` refinement rounds, bounded
    * nlist×dim driver collects), so the same corpus always yields the
    * same clusters; assignment is the one-pass codegen'd
    * nearest-centroid projection.
    *
    * Scale shape — the bargain vs [[embeddingPairs]]'s SRP buckets is
    * DATA-ADAPTIVE blocking: k-means cells follow the corpus density,
    * where random hyperplanes can leave one bucket holding a dense
    * semantic mode. Cross-cluster near-dups are deliberately not
    * searched (the SemDeDup trade); identical and near-identical
    * vectors have (near-)identical centroid distances, so true copies
    * co-cluster under the deterministic argmin tie-break. Pairwise
    * cost is bounded per cluster: `maxClusterSize` drops clusters too
    * big to square (they represent a collapsed embedding mode the
    * pipeline should inspect, not silently grind through). At 100 TB,
    * write the table partitioned by the cell id and the per-cluster
    * verify never shuffles vectors more than once.
    *
    * Keep policy: canonical = smallest id in the duplicate group's
    * pair-closure frontier (same single-pass decision as
    * [[embeddingDedup]]; the paper keeps low-centroid-similarity
    * examples — a policy choice, not a semantics one; min-id keeps the
    * decision deterministic and SQL-replayable). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, threshold: Double = 0.95,
                    kmeansIters: Int = 3,
                    maxClusterSize: Int = 10000): DataFrame = {
    import graft.functions.VectorExprs.cosine_sim
    val index = Similarity.IvfIndex(nlist, kmeansIters)
    // training's bounded collect doubles as the empty-corpus probe: no
    // centroids ⇒ no rows, so the cell column is a dead constant
    val cents = index.centroids(df, idCol, vecCol)
    val assigned =
      if (cents.isEmpty)
        df.select(col(idCol).as("id"), col(vecCol).as("v"), lit(0).as("cell"))
      else
        df.select(col(idCol).as("id"), col(vecCol).as("v"))
          .withColumn("cell", index.cellExpr(col("v"), cents))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxClusterSize)
    val kept = assigned.join(sizes, Seq("cell")).drop("_n")
    val b2 = kept.select(col("id").as("id_b"), col("v").as("v_b"),
      col("cell").as("cell_b"))
    val pairs = kept
      .join(b2, col("cell") === col("cell_b") && col("id") < col("id_b"))
      .withColumn("cosine", cosine_sim(col("v"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("id_b"))
    val canon = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("canonical_id"))
    df.select(col(idCol))
      .join(canon, Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("is_duplicate", col("canonical_id") =!= col(idCol))
  }

  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 16, threshold: Double = 0.95,
                     seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val pairs = embeddingPairs(df, idCol, vecCol, planes, threshold, seed,
      maxBucketSize)
    val canon = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("canonical_id"))
    df.select(col(idCol))
      .join(canon, Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("is_duplicate", col("canonical_id") =!= col(idCol))
  }

  /** First-occurrence exact dedup for timestamped records: keep the
    * EARLIEST row (by `orderCols`, e.g. ts then a tie-breaking id) of
    * every identical-content group, drop the rest. The batch twin of
    * streaming `dropDuplicatesWithinWatermark`
    * ([[graft.streaming.EventsStreaming.dedupStream]]) — ingest
    * pipelines re-run extractions and re-deliver events; this collapses
    * the replays to the original arrival.
    *
    * One shuffle, partitioned by a structural content hash (same
    * no-cross-column-collision encoding as [[exact]]); full content
    * rides the shuffle because the output needs the surviving rows. */
  def firstOccurrence(df: DataFrame, contentCols: Seq[String],
                      orderCols: Seq[String]): DataFrame = {
    // prefixed working columns: this operates on the CALLER's frame, so
    // plain "_h"/"_rn" names could silently clobber user columns
    val hc = "__graft_fo_h"
    val rc = "__graft_fo_rn"
    val h = contentHash(contentCols)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hc)).orderBy(orderCols.map(col): _*)
    df.withColumn(hc, h)
      .withColumn(rc, row_number().over(w))
      .filter(col(rc) === 1)
      .drop(hc, rc)
  }

  /** SimHash signatures; identical-signature groups are near-dups.
    * Returns (id, simhash, canonical_id, is_duplicate). The shuffle
    * payload is (id, sig) pairs — 16 bytes per doc. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      simhash64(shingleHashes(col(textCol), n = 1)).as("simhash"))
    val canon = sigs.groupBy(col("simhash")).agg(min(col("id")).as("canonical_id"))
    sigs.join(canon, "simhash")
      .withColumn("is_duplicate", col("id") =!= col("canonical_id"))
      .select(col("id"), col("simhash"), col("canonical_id"), col("is_duplicate"))
  }

  /** Hamming distance between two simhashes (for near-match thresholds). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within Hamming distance `maxHamming`.
    *
    * Scale path: the 64-bit signature splits into `bands` chunks; by
    * pigeonhole, two signatures within Hamming distance d share a
    * chunk pair differing by at most floor(d / bands) bits, so
    * candidates come from equality joins on (band, perturbed-chunk)
    * keys (multi-index Hamming — see [[bandedHammingPairs]]), never an
    * all-pairs scan, and the exact bit_count verify runs only inside
    * buckets. Default bands = 4 → exact-chunk keys for
    * maxHamming <= 3. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   maxBucketSize: Int = 100000): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("id"),
        simhash64(shingleHashes(col(textCol), n = 1)).as("sig")),
      maxHamming, bands, maxBucketSize)

  /** All XOR masks of Hamming weight <= `radius` over `width` bits —
    * XOR-ing a chunk with every mask enumerates its complete Hamming
    * ball. Driver-side and tiny at the supported radii (radius 1 over
    * 16 bits = 17 masks, radius 2 = 137); the engine bounds the
    * product bands × masks loudly. */
  private[llm] def hammingBallMasks(width: Int, radius: Int): Seq[Long] = {
    def combos(start: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (start until width).flatMap(i =>
        combos(i + 1, left - 1, acc | (1L << i)))
    (0 to radius).flatMap(r => combos(0, r, 0L))
  }

  /** The multi-index-Hamming pair engine behind [[simhashPairs]] and
    * the perceptual [[Multimodal.phashPairs]]/`audioHashPairs`
    * (Norouzi, Punjani & Fleet, "Fast Search in Hamming Space with
    * Multi-Index Hashing", CVPR'12 — the candidate-generation idea,
    * re-expressed as one Spark shuffle).
    *
    * Recall guarantee, by pigeonhole twice: a pair within `maxHamming`
    * bits has SOME band whose 64/bands-bit chunks differ by at most
    * r = floor(maxHamming / bands) bits; both sides emit the Hamming
    * ball of radius ceil(r/2) around each chunk, and two balls of that
    * radius intersect iff the chunks differ by <= 2·ceil(r/2) >= r
    * bits (flip ceil(e/2) of the e differing bits on one side and the
    * rest on the other to meet at a midpoint key). So every qualifying
    * pair meets in at least one (band, key) bucket WITHOUT shrinking
    * chunk width: maxHamming = 10 runs as 4 bands × 16-bit chunks ×
    * radius-1 balls (17 keys/band) with 65536-value bucket keys,
    * where naive banding would need 16 bands of 4-bit keys whose
    * 16-value buckets hold ~n/16 of the corpus each and saturate the
    * cap — the silent-empty-output failure this engine now rejects
    * loudly (chunk width >= 8 is required).
    *
    * One shuffle: capped native collect of (id, sig) pairs per
    * (band, key) — hot buckets poison their bounded buffer and drop as
    * NULL — then streamed positional pair expansion; sigs ride the
    * collected structs so the exact Hamming verify needs no re-join.
    * Output pairs are canonical (id_a < id_b) so the multi-bucket
    * meetings dedup exactly. Input: (id, sig) with 64-bit
    * signatures. */
  private[llm] def bandedHammingPairs(sigs: DataFrame, maxHamming: Int,
                                      bands: Int,
                                      maxBucketSize: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands ($bands) must divide 64")
    val width = 64 / bands
    require(width >= 8,
      s"chunk width 64/$bands = $width bits gives only ${1 << width} " +
        "distinct bucket values per band — buckets hold ~n/" +
        s"${1 << width} of the corpus and silently saturate the cap at " +
        "scale. Use fewer, wider bands: multi-index Hamming covers the " +
        "same maxHamming via perturbed keys (e.g. maxHamming=10 -> " +
        "bands=4).")
    val r = maxHamming / bands
    val ballRadius = (r + 1) / 2
    val masks = hammingBallMasks(width, ballRadius)
    require(masks.size.toLong * bands <= 4096,
      s"multi-index keys per row (${masks.size} masks x $bands bands) " +
        "exceed 4096 — raise bands (smaller per-band radius) or lower " +
        s"maxHamming ($maxHamming)")
    val chunkMask = if (width == 64) -1L else (1L << width) - 1
    val chunks = for {
      b <- 0 until bands
      m <- masks
    } yield struct(lit(b).as("band"),
      shiftrightunsigned(col("sig"), b * width)
        .bitwiseAND(lit(chunkMask)).bitwiseXOR(lit(m)).as("chunk"))
    val keys = sigs.select(col("id"), col("sig"),
      explode(array(chunks: _*)).as("k"))
      .select(col("id"), col("sig"), col("k.band"), col("k.chunk"))

    // one shuffle: capped native collect of (id, sig) pairs per
    // (band, key) — hot buckets poison their bounded buffer and drop
    // as NULL — then streamed positional pair expansion; sigs ride the
    // collected structs so the Hamming verify needs no re-join
    val buckets = keys.groupBy(col("band"), col("chunk"))
      .agg(collect_long_pairs_capped(col("id"), col("sig"), maxBucketSize)
        .as("ps"))
      .filter(col("ps").isNotNull && size(col("ps")) > 1)
    buckets
      .select(posexplode(col("ps")).as(Seq("i", "p")), col("ps"))
      .select(col("p.id").as("id_a"), col("p.v").as("sig_a"),
        explode(slice(col("ps"), col("i") + 2,
          greatest(size(col("ps")) - col("i") - 1, lit(0)))).as("q"))
      // canonical order BEFORE distinct: with perturbed keys a pair
      // meets in many buckets whose collect orders differ — (a,b) and
      // (b,a) must collapse to one row. The popcount verify runs
      // FIRST: candidates are the volume term (expected ≈ bands ·
      // |ball|²-ish collision mass of n²/2 on uniform keys), true
      // near-dups the tiny survivor set — so the distinct's shuffle
      // carries survivors, never the candidate stream.
      .select(least(col("id_a"), col("q.id")).as("id_a"),
        greatest(col("id_a"), col("q.id")).as("id_b"),
        hamming(col("sig_a"), col("q.v")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Public surface of the multi-index-Hamming engine for callers that
    * already hold 64-bit signatures (simhash/pHash/audio-hash frames,
    * or signatures minted elsewhere): near-dup pairs within
    * `maxHamming` bits as (id_a, id_b, hamming), id_a < id_b, exact
    * recall by the engine's double-pigeonhole construction.
    *
    * Scale honesty: candidate volume (pre-verify) on UNIFORM-random
    * signatures is ~bands · P(chunk dist <= 2·ceil(r/2)) · n²/2 — at
    * the phash defaults (4×16-bit, radius-1 balls) that is ~0.8% of
    * all pairs, so adversarially-uniform corpora pay a real quadratic
    * term like every LSH-banding scheme; REAL near-dup corpora
    * (clustered, low-entropy hashes) stay far below it, the verify is
    * a streamed codegen popcount ahead of any shuffle, and hot
    * buckets (mega-clusters) poison at `maxBucketSize` rather than
    * expanding quadratically. */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3, bands: Int = 4,
                     maxBucketSize: Int = 100000): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("id"), col(sigCol).as("sig")),
      maxHamming, bands, maxBucketSize)

  /** Exact n-gram Jaccard near-dup pairs within blocking groups — the
    * exactness baseline next to [[minhashPairs]]'s LSH scale path.
    *
    * All pairs INSIDE a block are compared (quadratic per block), so
    * blocking columns must bound block size; with no blocking columns
    * this is a full cross-product and only fit for small corpora — at
    * scale, block on cheap invariants (lang, source, length bucket) or
    * use minhashPairs. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        nGram: Int = 3, threshold: Double = 0.5,
                        blockingCols: Seq[String] = Seq.empty): DataFrame = {
    // packed payloads through the blocking join — see minhashPairs
    val sh = df.select((col(idCol).as("id") +: col(textCol).as("_t") +:
      blockingCols.map(col)): _*)
      .withColumn("_sh", shingleHashesPacked(col("_t"), nGram)).drop("_t")
    val b = sh.select((col("id").as("id_b") +: col("_sh").as("_sh_b") +:
      blockingCols.map(c => col(c).as(s"${c}_b"))): _*)
    val joinCond = blockingCols
      .map(c => col(c) === col(s"${c}_b"))
      .foldLeft(col("id") < col("id_b"))(_ && _)
    sh.join(b, joinCond)
      .withColumn("jaccard", jaccard_sorted_packed(col("_sh"), col("_sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT token-set Jaccard similarity join via prefix filtering (the
    * PPJoin family, Xiao et al., WWW'08) — full recall like
    * [[ngramJaccardPairs]] but WITHOUT quadratic blocks, and exact
    * unlike [[minhashPairs]]' LSH recall. The filter principle: order
    * every document's distinct tokens by global rarity (document
    * frequency asc, hash asc); if J(x,y) >= t then, since |y| >= t·|x|,
    * the two rarity-ordered sets must share a token inside each one's
    * first |x| - ceil(t·|x|) + 1 tokens — so only documents sharing a
    * RARE prefix token ever meet, and stop-word-like tokens (the ones
    * that would explode a naive token-inverted-index join) are pushed
    * to the suffix where they are never join keys.
    *
    * Scale shape: one (token-hash)-keyed agg for document frequencies,
    * one per-doc sort of ~|doc| tokens (groupBy collect, no window), a
    * prefix-token equi-join whose buckets are small BY CONSTRUCTION
    * (prefix tokens are the rarest), candidate-pair dedup on (id,id)
    * keys only, then one linear-merge [[jaccard_sorted]] verify per
    * candidate. The ceil() in the prefix length is biased by -1e-9 so
    * float error can only LENGTHEN a prefix (extra candidates), never
    * shorten it (lost recall); the size-compatibility prune is relaxed
    * the same direction. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"jaccard threshold must be in (0,1], got $threshold")
    // strict=true: unigrams must not hash empty split artifacts (a
    // leading/trailing separator would otherwise mint a phantom token)
    val toks = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), 1, strict = true).as("hs"))
      .withColumn("sz", size(col("hs")))
      .filter(col("sz") > 0)
    val dfreq = toks.select(col("id"), explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val ordered = toks.select(col("id"), col("sz"), explode(col("hs")).as("h"))
      .join(dfreq, Seq("h"))
      .groupBy(col("id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("dfreq"), col("h")))).as("ord"))
    val pfxLen =
      (col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    val prefix = ordered.select(col("id"), col("sz"),
      explode(slice(transform(col("ord"), s => s("h")), lit(1), pfxLen)).as("h"))
    val cand = prefix
      .join(prefix.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("h"))
      .filter(col("id") < col("id_b") &&
        col("sz_b") >= col("sz") * lit(threshold) - lit(1e-9) &&
        col("sz") >= col("sz_b") * lit(threshold) - lit(1e-9))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    // verify side re-shingles into the PACKED form (the toks subtree
    // re-executes per join occurrence in this lazy plan anyway — same
    // tokenize cost, binary payload through the joins; inner joins on
    // candidate ids make the sz>0 filter redundant here)
    val packed = df.select(col(idCol).as("id"),
      shingleHashesPacked(col(textCol), 1, strict = true).as("hp"))
    cand
      .join(packed.select(col("id").as("id_a"), col("hp").as("_ha")), Seq("id_a"))
      .join(packed.select(col("id").as("id_b"), col("hp").as("_hb")), Seq("id_b"))
      .withColumn("jaccard", jaccard_sorted_packed(col("_ha"), col("_hb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Embedding near-dup via signed-random-projection buckets + exact
    * cosine verify within buckets. Returns pairs (id_a, id_b, cosine)
    * with cosine >= threshold. The vectors do ride the bucket shuffle —
    * they are needed for the in-bucket cosine — but only once (not per
    * band), in their native (float) width, and buckets bound the
    * pairwise step.
    *
    * Both hot projections are native one-pass expressions
    * ([[graft.functions.VectorExprs.SrpBits]] /
    * [[graft.functions.VectorExprs.CosineSim]]) inside whole-stage
    * codegen — not per-plane interpreted HOF lambdas — and the SRP
    * planes derive from (seed, dim) at eval time, so no driver dim-probe
    * job runs.
    *
    * `maxBucketSize` caps the within-bucket quadratic exactly like
    * [[minhashPairs]]: a degenerate SRP bucket (near-duplicate-heavy
    * corpora, or low-entropy vectors all on one side of the planes)
    * would otherwise go B²/2. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 16, threshold: Double = 0.95,
                     seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", srp_bits(col("v"), planes, seed))

    // hot-bucket cap (sizes shuffle carries bucket keys only — Catalyst
    // prunes v out of the aggregate's exchange)
    val sizes = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucketSize)
    val kept = bucketed.join(sizes, Seq("bucket")).drop("_n")

    val b2 = kept.select(col("id").as("id_b"), col("v").as("v_b"),
      col("bucket").as("bucket_b"))
    kept.join(b2,
        col("bucket") === col("bucket_b") && col("id") < col("id_b"))
      .withColumn("cosine", cosine_sim(col("v"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("id_b"), col("cosine"))
  }
}
