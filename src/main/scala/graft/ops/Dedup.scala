package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.{GraftColumnBridge => CB}

import graft.core.{Checkpoints, Fixpoint}

/** Document-deduplication operators (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard) — the candidate-generation patterns a 100 TB
  * training-data pipeline needs. Everything is shuffle-bounded:
  * shingle-explode → hash-partitioned joins, no driver-side state.
  */
object Dedup {

  /** Shared spreading policy ([[Spread]]), keyed so the later
    * id-keyed stages are co-located. */
  private def spread(df: DataFrame, key: Column): DataFrame =
    Spread(df, Some(key))

  /** Exact dedup: group by content hash, keep min id. One shuffle on the
    * (high-cardinality, uniform) md5 key — the canonical first pass at
    * any scale. */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("text_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"),
        max(id).as("max_id"))

  /** Canonical text form for formatting-insensitive dedup — the
    * C4/RefinedWeb-style normalization pass (public: Raffel et al.
    * 2020 §2.2, Penedo et al. 2023): lowercase, strip
    * punctuation-class characters, collapse whitespace runs, trim.
    * Re-crawls and mirrors differ in exactly these — case, trailing
    * spaces, smart punctuation — and byte-exact dedup misses every
    * one of them. Pure codegen'd per-row map (lower + two
    * regexp_replace + trim), no shuffle; the character classes are
    * chosen for identical Java-regex/DuckDB-RE2 semantics (explicit
    * classes, no \\p{Punct} — POSIX class coverage differs between
    * engines). Null passes through null. */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        // NFC FIRST (round 12): decomposed vs precomposed accents are
        // different bytes — without it, "café" spelled both ways
        // survives canonical dedup as two documents
        lower(graft.ops.TextAnalysis.nfc(text)),
        "[.,!?;:'\"()\\[\\]{}<>_/\\\\|`~*#-]",
        ""),
      // explicit whitespace class, not \s: Java's \s includes \x0B
      // where RE2's does not — one of the few char-class divergences
      // between the two regex engines, so it never enters an oracle
      "[ \\t\\n\\r]+", " "))

  /** [[exact]] over the canonical form: groups everything that differs
    * only by case/punctuation/whitespace. Same single-shuffle shape —
    * canonicalization happens map-side inside the hash projection.
    * Returns (canon_md5, keep_id, n_copies, max_id). */
  def canonicalExact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(canonicalText(text).cast("binary")).as("canon_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"),
        max(id).as("max_id"))

  /** INCREMENTAL exact dedup — the daily-batch shape: dedupe a NEW
    * batch against the corpus already ingested without touching the
    * corpus. `seenFps` is the ingested side's fingerprint table (the
    * same md5 key [[exact]] produces — at corpus scale a 100 TB
    * warehouse keeps exactly this table as a dedup index, stored
    * bucketed on the fingerprint so this anti join re-shuffles only
    * the small batch while index buckets stream map-side; the corpus
    * TEXT is never read at all). Within the batch, first occurrence
    * (min id) wins — [[exact]]'s winner rule — so a batch is
    * internally deduped and externally anti-joined in one pass.
    * Returns (id, fingerprint) survivors; callers join payload
    * columns back by id — the ids-only shuffle discipline of every
    * dedup path in this file.
    *
    * Null contract (same stance as `Decontaminate.overlapScore` /
    * `TextAnalysis.bigramLmScore`): null-text rows are EXCLUDED
    * explicitly. Unfiltered, md5(null) is null, so every null-text
    * batch row would collapse into one group whose survivor always
    * passes the anti join (a null key never matches the index) — while
    * a SQL `fp NOT IN (...)` oracle drops null fingerprints entirely: a
    * silent cross-engine divergence. A row with no text has no content
    * to deduplicate; it is not a survivor. */
  def incrementalExact(batch: DataFrame, seenFps: DataFrame,
      idCol: String, textCol: String,
      fpCol: String = "text_md5"): DataFrame = {
    val fps = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("bid"),
        md5(col(textCol).cast("binary")).as("fp"))
    val firsts = fps.groupBy("fp").agg(min(col("bid")).as("keep_id"))
    firsts.join(seenFps.select(col(fpCol).as("fp")), Seq("fp"), "left_anti")
      .select(col("keep_id").as(idCol), col("fp").as(fpCol))
  }

  /** Corpus snapshot DIFF — what changed between two curation runs:
    * per doc id, `added` (new only), `removed` (old only), or
    * `changed` (both sides, content fingerprint differs); unchanged
    * docs are dropped so the OUTPUT is churn-sized, not corpus-sized
    * (at 100 TB a daily diff is a few percent of the corpus — a
    * report that re-emits the unchanged 98% is a report nobody can
    * read or store). The reconciliation primitive for audit trails
    * ("what did yesterday's pipeline change?") and for driving the
    * incremental-ingest trio with exactly the docs that moved.
    *
    * Scale shape: both sides reduce map-side to (id, md5) — text
    * never shuffles — and the single full-outer join carries 16-byte
    * fingerprints. Presence is tracked with explicit marker columns,
    * NOT fingerprint nullness: md5(null text) is null, so a null-text
    * doc present on both sides must read `unchanged` (null <=> null),
    * not masquerade as absent. A null-text doc against a text doc
    * diffs as `changed` (content went from something to nothing or
    * back — that IS a change).
    * @return (idCol, status, old_fp, new_fp) */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"),
      md5(col(textCol).cast("binary")).as("old_fp"), lit(1).as("po"))
    val n = newSnap.select(col(idCol).as("id"),
      md5(col(textCol).cast("binary")).as("new_fp"), lit(1).as("pn"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("po").isNull, lit("added"))
          .when(col("pn").isNull, lit("removed"))
          .when(!(col("old_fp") <=> col("new_fp")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"), col("old_fp"),
        col("new_fp"))
  }

  /** INCREMENTAL near-dup candidate pairs — [[incrementalExact]]'s
    * daily-batch discipline applied to the MinHash/LSH band index: the
    * new batch's band keys probe the ingested corpus's band-bucket
    * table (`seenBands`, the (doc, band_id, band_key) frame
    * [[lshBands]] produces — at 100 TB the warehouse keeps exactly
    * this table as the near-dup index, stored bucketed on
    * (band_id, band_key) so the probe join re-shuffles only the small
    * batch while index buckets stream map-side), plus the batch's own
    * internal band self-join. Only batch text is ever hashed; the
    * corpus contributes nothing but its band table.
    *
    * Returns (a_id, b_id) with b_id always the NEWER side (a batch
    * doc) and a_id the incumbent — an ingested doc or an
    * earlier-by-id batch doc. Union of both sources, deduped.
    * Equivalence contract (spec-pinned): on disjoint id spaces these
    * pairs are exactly [[minhashCandidates]] over seen ∪ batch minus
    * the seen-internal pairs. */
  def incrementalNearDupCandidates(batch: DataFrame, seenBands: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, r: Int = 4): DataFrame = {
    val bands = lshBands(minhashSignature(
      batch.filter(col(textCol).isNotNull), idCol, textCol, n, k), k, r)
    val ext = bands.join(
        seenBands.select(col("doc").as("a_id"),
          col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .select(col("a_id"), col("doc").as("b_id"))
    val a = bands.select(col("band_id"), col("band_key"),
      col("doc").as("a_id"))
    val b = bands.select(col("band_id"), col("band_key"),
      col("doc").as("b_id"))
    val internal = a.join(b, Seq("band_id", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    ext.unionByName(internal).distinct()
  }

  /** INCREMENTAL near-dup — the daily-batch ingest shape for NEAR
    * duplicates, completing [[incrementalExact]] (which only catches
    * byte-identical text): a batch doc is dropped when a candidate
    * partner — an ingested doc or an earlier batch doc — verifies at
    * n-gram-shingle Jaccard ≥ `minJaccard`; survivors are returned as
    * ids for the caller to ingest (and whose [[lshBands]] rows it
    * appends to the index).
    *
    * Verify discipline (the `q_dedup_minhash_lsh` stance): candidates
    * come from the band index with batch-only shuffle
    * ([[incrementalNearDupCandidates]]); TEXT is then fetched for the
    * candidate ids alone — `seenDocs` is scanned id+text only, the
    * candidate id set is tiny and broadcastable, so the corpus join
    * streams map-side with no corpus shuffle. The verify is the exact
    * set Jaccard |A∩B|/|A∪B| on distinct n-gram shingles (short docs
    * fall back to the singleton {text} — [[minhashSignature]]'s
    * sentinel mirrored, so identical short docs still dedup).
    *
    * At `minJaccard = 1.0` (the default) the operator is EXACTLY
    * oracle-able, not just w.h.p.: Jaccard 1.0 ⟺ equal shingle sets,
    * equal sets give identical minhash signatures (per-seed minima
    * over the same set) and therefore collide in every band — recall
    * 1 by construction — while the exact verify discards every
    * hash-coincidence false positive. Below 1.0 the band probability
    * gates recall (raise k/r as usual); the incremental-vs-full
    * candidate equivalence stays spec-pinned either way.
    *
    * Null contract ([[incrementalExact]]'s): null-text batch rows are
    * excluded, not survivors. Ids across seenDocs and batch must be
    * disjoint (the ingest invariant). Returns (idCol). */
  def incrementalNearDup(batch: DataFrame, seenBands: DataFrame,
      seenDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, r: Int = 4,
      minJaccard: Double = 1.0): DataFrame = {
    val batchClean = batch.filter(col(textCol).isNotNull)
    // consumed twice (a-side id prune + the verify join): materialize
    // the (pairs-sized) boundary or both consumers re-run the batch
    // signature pass — the composition-boundary trap caught twice in
    // earlier rounds
    val cands = incrementalNearDupCandidates(batch, seenBands, idCol,
      textCol, n, k, r).localCheckpoint()
    // shingle sets for the verify: guarded exactly like the signature
    // pass so the candidate and verify layers agree on short docs
    def sets(df: DataFrame, outId: String, outSet: String): DataFrame = {
      val t = col(textCol)
      val guarded = when(size(split(t, " ")) < n, array(t))
        .otherwise(shingles(t, n))
      df.filter(t.isNotNull)
        .select(col(idCol).as(outId), guarded.as(outSet))
    }
    // prune the seen side to candidate ids BEFORE shingling: the
    // semi-join broadcasts the tiny candidate id set into the corpus
    // scan (id+text columns only, no corpus shuffle), and the O(len)
    // shingle computation runs on candidate rows alone
    val candA = cands.select(col("a_id")).distinct()
    val seenNeeded = seenDocs.join(
      broadcast(candA).withColumnRenamed("a_id", idCol),
      Seq(idCol), "left_semi")
    val aSets = sets(seenNeeded, "a_id", "sa")
      .unionByName(sets(batchClean, "a_id", "sa"))
    val bSets = sets(batchClean, "b_id", "sb")
    val verified = cands.join(aSets, "a_id").join(bSets, "b_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("common").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("common")).cast("double"))
      .filter(col("jac") >= minJaccard)
    val flagged = verified.select(col("b_id")).distinct()
    // materialize the (batch-id-sized) result, then free the candidate
    // checkpoint blocks — the containmentPairs release discipline
    val out = batchClean.select(col(idCol))
      .join(flagged, col(idCol) === col("b_id"), "left_anti")
      .select(col(idCol))
      .localCheckpoint()
    Checkpoints.release(cands)
    out
  }

  /** Sub-document unit dedup (CCNet/RefinedWeb-style line or sentence
    * dedup): split each document on `sep`, drop every occurrence of a
    * unit except the globally FIRST one (smallest (doc id, position)),
    * and reassemble the survivors in document order. Docs whose units
    * are all dropped disappear. The canonical pass for boilerplate that
    * repeats ACROSS documents (headers, navigation, license blurbs),
    * which document-level dedup cannot touch.
    *
    * Scale shape: one explode → one shuffle on the unit hash (the
    * groupBy), one id-keyed join back, one reassembly aggregation —
    * all shuffle-bounded like the rest of this file. The first-
    * occurrence winner is `min(struct(did, pos))` — lexicographic
    * struct ordering IS the global (doc id, position) order, with no
    * cap on units-per-document (an earlier packed-long key silently
    * corrupted ordering past 2²⁰ units/doc; a 100 TB corpus will
    * contain such documents). Same shuffle shape: the struct is two
    * integers riding the same groupBy. Units travel through the
    * winner aggregation as xxhash64 fingerprints, not text — the same
    * w.h.p.-identical argument as the Jaccard postings — so that
    * shuffle carries ~20 bytes per occurrence regardless of unit
    * length. */
  def unitDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = ". "): DataFrame = {
    val units = spread(df, col(idCol))
      .select(col(idCol).as("did"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("col", "unit")
      .withColumn("uh", xxhash64(col("unit")))
    val firsts = units.select(col("uh"),
        struct(col("did"), col("pos")).as("okey"))
      .groupBy(col("uh"))
      .agg(min(col("okey")).as("first_okey"))
    val kept = units.join(firsts, "uh")
      .filter(col("did") === col("first_okey.did") &&
        col("pos") === col("first_okey.pos"))
    kept.groupBy(col("did"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("unit")))),
        x => x.getField("unit")), sep).as("deduped_text"))
      .select(col("did").as(idCol), col("deduped_text"))
  }

  /** SUBSTRING/SPAN-level dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" — the public reference for
    * repeated-span removal): remove every repeated token span of
    * length ≥ w that recurs anywhere in the corpus — across documents
    * OR within one — keeping only the globally FIRST occurrence. This
    * is the granularity the other passes miss: a long span repeated
    * mid-document with DIFFERENT surroundings is invisible to
    * [[unitDedup]] (exact sentence units) and to [[containmentPairs]]
    * (doc-level threshold).
    *
    * Definition (purely positional, engine-reproducible): tokenize on
    * single spaces; every window of w consecutive tokens (positions
    * i ∈ [0, n−w]) is an occurrence of its w-gram; the globally first
    * occurrence of each gram — min (doc id, position) — is the keeper;
    * a TOKEN is removed iff some non-first window covers it; survivors
    * reassemble in position order. A repeated span of length L ≥ w is
    * fully covered by its L−w+1 duplicated windows, so window-cover
    * removal IS span removal — the suffix-array formulation's effect,
    * reached with nothing but hash-groupBy machinery.
    *
    * Scale shape: w-gram fingerprints come from [[RollingWindowHash]]
    * — per-token xxhash64, then an O(n) rolling-polynomial window
    * combine (NOT an O(n·w) per-window re-hash; at w=50 that is the
    * difference between one corpus-hash pass and fifty). Occurrences
    * shuffle as (did, pos, gh) — ~24 bytes per token; text never
    * leaves its scan partition (the unitDedup discipline applied to
    * overlapping grams). The occurrence pass runs twice — once map-side
    * combined into the winner aggregate, once as the join probe — the
    * same accepted trade as [[unitDedup]]: a shared exchange is
    * impossible once the winner side partial-aggregates below its
    * shuffle, and re-running a map-only explode beats persisting a
    * corpus-sized intermediate. Token-level removal explodes ONLY
    * duplicated windows, and reassembly touches ONLY affected
    * documents — an untouched doc streams through a left-anti
    * pass-through — so the operator's heavy tail is proportional to
    * the duplication found, not to the corpus.
    *
    * Null contract: null-text docs pass through unchanged (no tokens,
    * no windows, n_removed 0). Docs shorter than w tokens are never
    * affected. A fully-removed doc yields an empty string (callers
    * gate on n_removed downstream).
    * @return (idCol, deduped_text, n_removed) */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"span window must be >= 2 tokens, got $w")
    val docs = spread(df, col(idCol))
      .select(col(idCol).as("did"), col(textCol).as("text"))
    val toks = split(col("text"), " ")
    val wins = docs.select(col("did"),
        posexplode(CB.column(RollingWindowHash(
          CB.expression(transform(toks, t => xxhash64(t))), w))))
      .select(col("did"), col("pos"), col("col").as("gh"))
    // grams occurring once can't yield a non-first window: the winner
    // side is filtered to cnt ≥ 2 BEFORE the join back, so the join
    // carries duplicated grams only
    val firsts = wins.groupBy(col("gh"))
      .agg(min(struct(col("did"), col("pos"))).as("fo"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val dup = wins.join(firsts, "gh")
      .filter(!(col("did") === col("fo.did") &&
        col("pos") === col("fo.pos")))
      .select(col("did"), col("pos"))
    val removed = dup
      .select(col("did"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tpos"))
      .dropDuplicates("did", "tpos")
    val affected = removed.select("did").distinct()
    val remCnt = removed.groupBy("did").agg(count(lit(1)).as("n_removed"))
    val tokenRows = docs.join(affected, "did")
      .select(col("did"), posexplode(toks))
      .select(col("did"), col("pos").as("tpos"), col("col").as("tok"))
    val reasm = tokenRows
      .join(removed, Seq("did", "tpos"), "left_anti")
      .groupBy("did")
      .agg(array_join(transform(sort_array(collect_list(struct(col("tpos"),
        col("tok")))), x => x.getField("tok")), " ").as("dt"))
    val untouched = docs.join(affected, Seq("did"), "left_anti")
      .select(col("did"), col("text").as("deduped_text"),
        lit(0L).as("n_removed"))
    val touched = docs.join(remCnt, "did") // inner: affected docs only
      .join(reasm, Seq("did"), "left")
      .select(col("did"), coalesce(col("dt"), lit("")).as("deduped_text"),
        col("n_removed"))
    untouched.unionByName(touched)
      .select(col("did").as(idCol), col("deduped_text"), col("n_removed"))
  }

  /** Per-document n-gram NOVELTY score — the scoring twin of
    * [[spanDedup]]: for each doc, the fraction of its w-token windows
    * whose globally FIRST occurrence (min (doc id, position), the
    * spanDedup winner rule) lies in this document. 1.0 = every window
    * first seen here (fully novel text); near 0 = the doc is stitched
    * from text the corpus already contains. The thresholdable
    * prioritization signal for dedup triage and curriculum ordering —
    * spanDedup REMOVES repeated spans, this MEASURES how much of a doc
    * would survive, without rewriting anything.
    *
    * Same scale shape as spanDedup's first two stages and nothing
    * else: one rolling-hash window pass (occurrences shuffle as
    * (did, pos, gh) fingerprints, text never leaves its scan
    * partition), one winner aggregate, one join back, one per-doc
    * count — the removal/reassembly tail is absent entirely. The
    * denominator is map-side (n − w + 1 windows). Docs shorter than
    * w tokens have no window evidence: novelty NULL, not 0 — "no
    * evidence" and "nothing novel" must stay distinguishable (the
    * overlapScore null contract). Null text → NULL novelty.
    * @return (idCol, n_windows, n_first, novelty) */
  def spanNovelty(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"span window must be >= 2 tokens, got $w")
    val docs = spread(df, col(idCol))
      .select(col(idCol).as("did"), col(textCol).as("text"))
    val toks = split(col("text"), " ")
    val wins = docs.select(col("did"),
        posexplode(CB.column(RollingWindowHash(
          CB.expression(transform(toks, t => xxhash64(t))), w))))
      .select(col("did"), col("pos"), col("col").as("gh"))
    val firsts = wins.groupBy(col("gh"))
      .agg(min(struct(col("did"), col("pos"))).as("fo"))
    val nFirst = wins.join(firsts, "gh")
      .filter(col("did") === col("fo.did") && col("pos") === col("fo.pos"))
      .groupBy(col("did")).agg(count(lit(1)).as("n_first"))
    val totals = docs.select(col("did"),
      when(col("text").isNotNull &&
          size(split(col("text"), " ")) >= w,
        (size(split(col("text"), " ")) - (w - 1)).cast("long"))
        .as("n_windows"))
    totals.join(nFirst, Seq("did"), "left")
      .select(col("did").as(idCol), col("n_windows"),
        when(col("n_windows").isNotNull,
          coalesce(col("n_first"), lit(0L))).as("n_first"),
        when(col("n_windows").isNotNull,
          coalesce(col("n_first"), lit(0L)).cast("double") /
            col("n_windows").cast("double")).as("novelty"))
  }

  /** Cross-source duplication matrix — the dashboard aggregate over a
    * verified near-dup pair set: for every unordered source pair
    * (src_a ≤ src_b), how many near-duplicate document pairs straddle
    * it. The curation diagnostic that tells you WHERE duplication
    * comes from (mirrors within a crawl, cross-source syndication,
    * licensing copies) before deciding which side to drop.
    *
    * Scale shape: the pair set is [[ngramJaccardPairs]]' output —
    * pairs-sized, ids-only — and the two source-attach joins carry the
    * (id, source) projection only, never text; the final aggregate is
    * #sources² at most. Everything downstream of the (already
    * shuffle-bounded) pair join is a light equi-join chain. A null
    * source sorts FIRST explicitly (`least`/`greatest` would SKIP the
    * null and conflate a (null, srcX) pair with genuine (srcX, srcX)
    * same-source pairs — exactly what a provenance diagnostic must
    * not do), so mixed-null pairs surface as a (null, srcX) row and
    * both-null pairs as (null, null). */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, n: Int,
      minJaccard: Double): DataFrame =
    crossSourceDupMatrix(
      ngramJaccardPairs(docs.select(col(idCol), col(textCol)),
        idCol, textCol, n, minJaccard).select("a_id", "b_id"),
      docs, idCol, srcCol)

  /** [[crossSourceDupMatrix]] over a PRECOMPUTED pair frame
    * (`a_id`/`b_id`, e.g. [[ngramJaccardPairs]]' output a caller
    * already materialized for [[representativesBy]] or clustering) —
    * the matrix is a pairs-sized equi-join tail, so a diagnostic
    * caller should never pay the corpus-scale candidate join twice
    * just to re-derive it. The self-contained overload above stays
    * for the oracle and delegates here. */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val s = docs.select(col(idCol), col(srcCol))
    // null-first unordered key, spelled with when() because Spark's
    // least/greatest are null-SKIPPING (see scaladoc above)
    val aFirst = col("sa").isNull ||
      (col("sb").isNotNull && col("sa") <= col("sb"))
    pairs.select("a_id", "b_id")
      .join(s.select(col(idCol).as("a_id"), col(srcCol).as("sa")), "a_id")
      .join(s.select(col(idCol).as("b_id"), col(srcCol).as("sb")), "b_id")
      .select(when(aFirst, col("sa")).otherwise(col("sb")).as("src_a"),
        when(aFirst, col("sb")).otherwise(col("sa")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Word n-gram shingles (distinct). Guarded for docs shorter than n.
    *
    * Built by folding n−1 shifted zips instead of
    * `transform(sequence…, i => concat_ws(" ", slice(toks, i, n)))`:
    * the per-element slice re-copies the token array for every output
    * shingle and measured ~6× slower on the bigram-heavy text paths
    * (TextAnalysis.bigramArray, same finding). zip_with pads the
    * shorter (shifted) side with nulls, which null the trailing
    * concats; the filter drops them, leaving the same
    * "w_i … w_{i+n−1}" strings — hashes and oracles unchanged. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val joined = (1 until n).foldLeft(toks) { (acc, s) =>
      zip_with(acc,
        slice(toks, lit(s + 1), greatest(size(toks) - s, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(filter(joined, x => x.isNotNull)))
  }

  /** A similarity threshold as the exact rational the caller wrote.
    * Thresholds arrive as Doubles, but every candidate-PRUNING bound
    * derived from one must be exact: `ceil(n * t)` in double arithmetic
    * can land strictly above the true integer ceiling for rare (n, t)
    * pairs (the fp product rounding epsilon above an integer), which
    * silently shortens a prefix by one and drops a qualifying pair the
    * exact verify — and the oracle — emits. Decodes the double's
    * shortest decimal representation (`BigDecimal.valueOf`: 0.9 →
    * 9/10), exact for any threshold written as a ≤6-place decimal;
    * anything else is rejected loudly rather than approximated. Bounds
    * then use integer multiply-compare (`b·den ≥ n·num`) or exact
    * ceil-division — the `Stats` rank-arithmetic idiom
    * (`(p·N + 999) div 1000`).
    *
    * Pruning stays sound against the DOUBLE verify filter: a pair
    * failing the exact rational bound misses `num/den` by at least
    * `1/(n·den)` ≥ 4.7e-16 (n ≤ 2³¹ shingles, den ≤ 10⁶), an order
    * above the ~1.7e-16 combined slack of decimal→double threshold
    * conversion plus one double division — so no pair the verify would
    * pass is pruned. */
  private def thresholdRational(t: Double): (Long, Long) = {
    val bd = java.math.BigDecimal.valueOf(t).stripTrailingZeros
    require(t > 0 && t <= 1 && bd.scale <= 6,
      s"threshold must be in (0, 1] with at most 6 decimal places, got $t")
    val scale = math.max(bd.scale, 0)
    val den = math.round(math.pow(10, scale.toDouble))
    (bd.movePointRight(scale).longValueExact(), den)
  }

  /** Exact ⌈x / den⌉ over a long column, division-rounding-free: the
    * largest multiple of den ≤ x+den−1 is recovered with pmod (pure
    * integer ops), and dividing an exact multiple is exact in IEEE
    * double for products < 2⁵³ (shingle counts ≤ 2³¹ × den ≤ 10⁶ stays
    * well under). */
  private def ceilDivCol(x: Column, den: Long): Column = {
    val y = x + lit(den - 1)
    ((y - pmod(y, lit(den))) / lit(den)).cast("long")
  }

  /** All-pairs n-gram Jaccard ≥ minSim, exact, via PREFIX FILTERING
    * (PPJoin-style, public literature): for J(A,B) ≥ t, A and B must
    * share a shingle within the first |A| − ⌈t·|A|⌉ + 1 elements of a
    * canonical (rarest-first) ordering — so only that prefix is indexed
    * for the candidate join, and candidates are verified exactly with
    * array_intersect. Identical output to the naive inverted-index
    * join, but the join touches ~t-fraction-shorter postings dominated
    * by RARE shingles — the difference between quadratic blowup and a
    * linear-ish pass at corpus scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minSim: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val (tNum, tDen) = thresholdRational(minSim)
    // shingles are carried as xxhash64 longs from here on: identical
    // set sizes / intersections w.h.p. (64-bit collisions ~n²/2⁶⁵),
    // but the exploded postings shuffle, the frequency broadcast, and
    // the verification array_intersect all work on 8-byte longs
    // instead of ~25-byte UTF8 strings — the difference between
    // shuffling shingle TEXT and shuffling fingerprints at corpus
    // scale. PPJoin's prefix filter only needs a consistent global
    // order, which (df, hash) still is.
    val sh = spread(df, col(idCol)).select(col(idCol).as("doc"),
        transform(shingles(col(textCol), n), s => xxhash64(s)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      // consumed by freq + ordering → shingle once (rows = |docs|, tiny
      // relative to the joins below)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // global shingle document-frequency → canonical rarest-first order
    val freq = sh.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val sorted = sh.select(col("doc"), col("n_sh"), explode(col("sh")).as("s"))
      // freq size is the DISTINCT-shingle count — corpus-dependent and
      // unbounded, so a forced broadcast would OOM at real corpus scale.
      // AQE picks broadcast at runtime when the aggregate turns out
      // small (it does at test SFs) and shuffles otherwise.
      .join(freq, "s")
      .groupBy(col("doc"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df"), col("s"))))
        .as("ordered"))
      .select(col("doc"), col("n_sh"),
        transform(col("ordered"), x => x.getField("s")).as("sh"),
        // prefix length: |x| − ⌈t·|x|⌉ + 1, EXACT integer arithmetic
        // (thresholdRational) — the double-ceil spelling could round
        // a boundary prefix one short
        (col("n_sh") - ceilDivCol(col("n_sh").cast("long") * tNum, tDen)
          + 1).cast("int").as("plen"))
      // consumed by the prefix index AND both sides of the verification
      // join → materialize once
      .persist(StorageLevel.MEMORY_AND_DISK)
    // prefixes carry each token's 0-based POSITION for the positional
    // filter below (posexplode over the head slice = position within
    // the full ordered array)
    val prefixes = sorted.select(col("doc"), col("n_sh"),
      posexplode(slice(col("sh"), lit(1), col("plen"))))
      .withColumnRenamed("col", "s")
    val a = prefixes.select(col("s"), col("doc").as("a_id"),
      col("n_sh").as("na"), col("pos").as("ap"))
    val b = prefixes.select(col("s"), col("doc").as("b_id"),
      col("n_sh").as("nb"), col("pos").as("bp"))
    // candidate pairs travel WITHOUT the shingle arrays (ids only) so the
    // join + dedup shuffle stays narrow; arrays are fetched back for the
    // exact verification afterwards
    val cand = a.join(b, Seq("s")).filter(col("a_id") < col("b_id"))
      // length filter: |B| ≥ t·|A| is necessary for J ≥ t — exact
      // integer multiply-compare, no ceil, no doubles
      .filter(col("nb").cast("long") * tDen >= col("na").cast("long") * tNum &&
        col("na").cast("long") * tDen >= col("nb").cast("long") * tNum)
      // POSITIONAL filter (PPJoin's tightest bound, public literature):
      // both arrays share the canonical order, so a token matched at
      // 0-based positions (i, j) bounds the overlap by
      // 1 + min(na−1−i, nb−1−j), and J ≥ t needs overlap ≥
      // ⌈t·(na+nb)/(1+t)⌉. Provably output-neutral: a qualifying
      // pair's FIRST common token (inside both prefixes by the prefix
      // guarantee) always satisfies the bound, and the exact
      // array_intersect verify below is unchanged — this only shrinks
      // the candidate volume entering the dedup + verify joins.
      // overlap ≥ ⌈t·(na+nb)/(1+t)⌉ as the exact multiply-compare
      // bound·(num+den) ≥ (na+nb)·num — t/(1+t) = num/(num+den)
      .filter((lit(1) +
        least(col("na") - 1 - col("ap"), col("nb") - 1 - col("bp")))
          .cast("long") * (tNum + tDen) >=
        (col("na") + col("nb")).cast("long") * tNum)
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val pairs = cand
      .join(sorted.select(col("doc").as("a_id"), col("n_sh").as("na"),
        col("sh").as("sha")), "a_id")
      .join(sorted.select(col("doc").as("b_id"), col("n_sh").as("nb"),
        col("sh").as("shb")), "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minSim)
      .select(col("a_id"), col("b_id"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        col("common").cast("long").as("common"), col("jaccard"))
    // materialize the (small) verified-pair result eagerly so the two
    // persisted intermediates can be released HERE — a lazy return would
    // leak them into the session for its whole lifetime. localCheckpoint
    // blocks are context-cleaned once the result goes unreachable.
    val out = pairs.localCheckpoint()
    sh.unpersist(false)
    sorted.unpersist(false)
    out
  }

  /** Asymmetric CONTAINMENT near-dup: C(A,B) = |A∩B| / |A| ≥ t over
    * word n-gram shingle SETS — catches a short document quoted
    * wholesale inside a long one, which symmetric Jaccard misses (the
    * union is dominated by the long side, so J stays far below any
    * useful threshold however perfect the inclusion). Emits ordered
    * pairs (`a_id` contained-in `b_id`, a ≠ b) with the exact
    * containment; the two directions of a pair are evaluated
    * independently (containment is not symmetric).
    *
    * Prefix filter, containment form (the asymmetric variant of the
    * PPJoin bound, public literature): C(A,B) ≥ t needs |A∩B| ≥
    * ⌈t·|A|⌉, so in A's canonical rarest-first order a qualifying
    * pair must share a shingle within A's first |A| − ⌈t·|A|⌉ + 1
    * elements — if none of those hit B, the remaining ⌈t·|A|⌉ − 1
    * elements cannot reach the bound. The CONTAINING side has no
    * length bound (that is the point of containment), so B is indexed
    * on ALL its shingles, not a prefix: the candidate join is
    * A-prefix × B-full. Rarest-first still dominates the join volume
    * — the prefix side is exactly the rare-shingle postings — and the
    * scale shape is otherwise ngramJaccardPairs': ids-only candidate
    * shuffle, arrays fetched back only for the exact verify.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minContain: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val (tNum, tDen) = thresholdRational(minContain)
    // fingerprint shingles (same w.h.p.-identical argument as the
    // Jaccard join: sizes and intersections survive xxhash64)
    val sh = spread(df, col(idCol)).select(col(idCol).as("doc"),
        transform(shingles(col(textCol), n), s => xxhash64(s)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freq = sh.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val sorted = sh.select(col("doc"), col("n_sh"),
        explode(col("sh")).as("s"))
      .join(freq, "s") // AQE: broadcast when small, shuffle otherwise
      .groupBy(col("doc"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df"), col("s"))))
        .as("ordered"))
      .select(col("doc"), col("n_sh"),
        transform(col("ordered"), x => x.getField("s")).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // A-side: the containment prefix (rarest |A| − ⌈t·|A|⌉ + 1) —
    // EXACT integer ceil (thresholdRational): the double spelling
    // could shorten a boundary prefix by one and drop a pair the
    // exact all-pairs oracle emits
    val aPref = sorted.select(col("doc").as("a_id"),
      explode(slice(col("sh"), lit(1),
        (col("n_sh") - ceilDivCol(col("n_sh").cast("long") * tNum, tDen)
          + 1).cast("int"))).as("s"))
    // B-side: full postings — no length filter can prune a container
    val bAll = sorted.select(col("doc").as("b_id"), explode(col("sh")).as("s"))
    val cand = aPref.join(bAll, Seq("s"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    val pairs = cand
      .join(sorted.select(col("doc").as("a_id"), col("n_sh").as("na"),
        col("sh").as("sha")), "a_id")
      .join(sorted.select(col("doc").as("b_id"), col("sh").as("shb")),
        "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment",
        col("common").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= minContain)
      .select(col("a_id"), col("b_id"), col("na").cast("long").as("na"),
        col("common").cast("long").as("common"), col("containment"))
    // same release discipline as ngramJaccardPairs: materialize the
    // (small) verified result, free the two corpus-sized intermediates
    val out = pairs.localCheckpoint()
    sh.unpersist(false)
    sorted.unpersist(false)
    out
  }

  /** k MinHash signatures over n-gram shingles. A doc's shingles live in
    * ONE row, so the signature is a pure per-row function — computed by
    * the [[MinHashArray]] expression in a single map pass with NO
    * shuffle. (The explode → groupBy → sketch-aggregate alternative
    * shuffles |docs|·|shingles| rows first; the [[MinHashAggregator]]
    * UDAF below remains for genuinely pre-exploded inputs, e.g. a
    * token-stream source.) */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    // docs shorter than n tokens have NO shingles; unguarded they would
    // vanish from the signature table (and so from LSH), losing even
    // their exact duplicates — and a NULL text makes the shingle array
    // itself null, which must fall into the same guard. The sentinel is
    // the doc's own (short) text, not a constant: identical short docs
    // still collide, but non-identical short docs no longer pile into
    // one mega-bucket (O(m²) candidates at corpus scale).
    // The guard tests the CHEAP token-count predicate, not
    // size(shingles(...)): CASE branches don't share subexpressions with
    // the condition, so a size() guard builds the full shingle array once
    // for the test and again in the otherwise branch — shingling is the
    // dominant per-row cost. `isNull || #tokens < n` is equivalent:
    // shingles() is null iff the text is null and empty iff #tokens < n.
    val t = col(textCol)
    val guarded = when(t.isNull || size(split(t, " ")) < n,
      array(coalesce(t, lit("")))).otherwise(shingles(t, n))
    spread(df, col(idCol)).select(col(idCol).as("doc"),
      CB.column(MinHashArray(CB.expression(guarded), k)).as("mh"))
  }

  /** LSH banding: k minhashes → bands of r; docs sharing any band bucket
    * are candidates. Returns (band_id, band_key, doc). `hash` over the
    * band's signature slice gives the bucket key. */
  def lshBands(sig: DataFrame, k: Int, r: Int): DataFrame = {
    val bands = (0 until k / r).map { b =>
      struct(lit(b).as("band_id"),
        hash(slice(col("mh"), b * r + 1, r)).as("band_key"))
    }
    sig.select(col("doc"), explode(array(bands: _*)).as("bk"))
      .select(col("doc"), col("bk.band_id"), col("bk.band_key"))
  }

  /** Candidate pairs from LSH buckets (deduped across bands). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, r: Int = 4): DataFrame = {
    val bands = lshBands(minhashSignature(df, idCol, textCol, n, k), k, r)
    val a = bands.select(col("band_id"), col("band_key"), col("doc").as("a_id"))
    val b = bands.select(col("band_id"), col("band_key"), col("doc").as("b_id"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  def simhash(text: Column): Column =
    CB.column(SimHash64(CB.expression(split(text, " "))))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: block on rotations of the
    * signature's 4 16-bit chunks (docs within hamming ≤ 3 share at least
    * one identical chunk by pigeonhole), verify hamming ≤ maxHam.
    * Blocking keeps the join linear in corpus size. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHam: Int = 3): DataFrame = {
    val sigs = spread(df, col(idCol)).select(col(idCol).as("doc"),
      simhash(col(textCol)).as("sig"))
    val chunks = (0 until 4).map(i => struct(lit(i).as("chunk_id"),
      shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("chunk")))
    val blocked = sigs.select(col("doc"), col("sig"),
        explode(array(chunks: _*)).as("c"))
      .select(col("doc"), col("sig"), col("c.chunk_id"), col("c.chunk"))
    val a = blocked.select(col("chunk_id"), col("chunk"),
      col("doc").as("a_id"), col("sig").as("sig_a"))
    val b = blocked.select(col("chunk_id"), col("chunk"),
      col("doc").as("b_id"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming(col("sig_a"), col("sig_b")).as("ham"))
      .filter(col("ham") <= maxHam)
      .distinct()
  }

  /** Connected components over a candidate-pair edge list: every doc in
    * a duplicate cluster gets `component` = the minimum doc id reachable
    * through the pair graph, so a pipeline can keep ONE representative
    * per cluster (`id == component`) instead of dropping both sides of
    * every pair independently (which over-deletes on chains a—b—c).
    *
    * Iterative min-label propagation with a pointer-jumping step: each
    * round a node takes the min of its neighbours' labels (one shuffle
    * join + agg), then short-circuits through its current label's label
    * (a second join). Neighbour propagation alone needs diameter rounds;
    * the jump makes label chains collapse exponentially — O(log d)
    * rounds, each a fixed number of hash joins on the (small, pairs-
    * sized) label table, with localCheckpoint truncating the lineage so
    * round N's plan does not replay rounds 1..N-1. Driver traffic is one
    * count per round. This is the hash-to-min shape from the public
    * MapReduce-CC literature (Rastogi et al.), not GraphX — the edge
    * list a dedup pass produces is tiny relative to the corpus, so
    * DataFrame joins on it are the right tool.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val labels0 = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    // the round shape never changes, so AQE's per-stage jobs (~6 per
    // round here) buy nothing; the per-round broadcast builds of the
    // label/nbrMin/stepped frames were ~3 driver jobs per round, and
    // the one edge-sized join rides the edge layout instead
    val p = Fixpoint.loopPartitionsOf(sym.count())
    Fixpoint.scope(sym.sparkSession, p, allowBroadcast = false) { loop =>
    val symByA = loop.layout(sym, "a")
    Checkpoints.release(sym)
    val rotate = loop.rotating()
    var labels = rotate.adopt(labels0)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = symByA
        .join(labels.select(col("id").as("a"), col("comp")), "a")
        .groupBy(col("b").as("id")).agg(min("comp").as("nbr"))
      // carry the round's starting label as `prev` so convergence is a
      // filter over the checkpointed result — not a join back against
      // the previous label table plus a separate job
      val stepped = labels.select(col("id"), col("comp").as("prev"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nbr"), col("prev")))
            .as("comp"))
      // pointer jump: comp values are node ids, so look up THEIR comp.
      // ONE jump per round is deliberate: nesting a second jump
      // (jump∘jump, 4x chain contraction) measured per-round times
      // exploding 7x/round after ~8 rounds on the entity-resolution
      // graph — a nested-self-join planning pathology, not data — while
      // the single-jump rounds stay flat (~0.35 s at 15k labels).
      val jumped = rotate(stepped
        .join(stepped.select(col("id").as("cid"), col("comp").as("cc")),
          col("comp") === col("cid"), "left")
        .select(col("id"), col("prev"), least(col("comp"), coalesce(col("cc"),
          col("comp"))).as("comp")))
      changed = jumped.filter(col("comp") =!= col("prev")).count()
      labels = jumped.select("id", "comp")
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds")
    labels
    }
  }

  /** The deduplicated corpus: resolve candidate pairs into clusters and
    * keep one representative (the min id) per cluster, plus every doc
    * in no pair at all. This is the filter a pipeline actually applies
    * after any pair-finding pass — dropping both sides of every pair
    * independently over-deletes on chains a—b—c (b and c both vanish
    * even though killing b breaks the a—c link). */
  def representatives(df: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    requireIntegralIds(df, pairs, idCol, aCol, bCol)
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Like [[representatives]], but keeps the highest-`priority` row per
    * duplicate cluster (ties → lowest id) — the keep rule production
    * pipelines actually want: among near-identical copies keep the
    * longest / highest-quality one, not whichever carried the smaller
    * id. `priority` is any numeric expression over `df`'s columns
    * (e.g. `octet_length(col("text"))` or a quality score); it is
    * compared in double, so priorities must be distinguishable within
    * 53-bit precision (every realistic length/score is).
    *
    * Null-priority members never win their cluster; if EVERY member of
    * a cluster has a null priority the keeper falls back to the min id
    * (the CC label itself), so a cluster never silently keeps all its
    * copies. Cost over [[representatives]]: one pairs-sized join of
    * the CC labels against df's (id, priority) projection plus one
    * partial-aggregated per-component argmax — the corpus is still
    * touched only by the final left_anti. */
  def representativesBy(df: DataFrame, pairs: DataFrame, idCol: String,
      priority: Column, aCol: String = "a_id", bCol: String = "b_id")
      : DataFrame = {
    requireIntegralIds(df, pairs, idCol, aCol, bCol)
    val pri = df.select(col(idCol).cast("long").as("id"),
      priority.cast("double").as("__pri"))
      .filter(col("__pri").isNotNull && !isnan(col("__pri")))
    val labels = connectedComponents(pairs, aCol, bCol)
    // argmax via the house min(struct(-priority, id)) idiom — partial-
    // aggregated below its exchange, matches ORDER BY pri DESC, id ASC
    val keep = labels.join(pri, "id")
      .groupBy(col("comp"))
      .agg(min(struct((col("__pri") * lit(-1.0)).as("np"), col("id")))
        .getField("id").as("__keep"))
    val losers = labels.join(keep, Seq("comp"), "left")
      .filter(col("id") =!= coalesce(col("__keep"), col("comp")))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Duplicate-cluster SIZE histogram — the corpus-health dashboard
    * row that tells you the SHAPE of duplication, not just its volume:
    * per cluster size, how many duplicate clusters and how many docs
    * they hold, with a size-1 row for the unclustered remainder. A
    * corpus whose dup mass sits in two 10⁵-doc clusters (a mirrored
    * site) needs a different intervention than one with 10⁵ pairs —
    * same dup rate, different story; this is the read that tells them
    * apart, and sizes the dedup win before running it ([[
    * representatives]] keeps exactly one doc per row counted here).
    *
    * Scale shape: CC labels are pairs-sized; the two histogram
    * aggregates run over components (≤ pairs-sized) and ≤
    * max-cluster-size rows; the corpus contributes ONE count-distinct
    * aggregate (for the singleton row) and nothing else — output is ≤
    * max cluster size rows. @return (cluster_size, n_clusters,
    * n_docs), sizes ≥ 2 from the pair graph plus the size-1 row when
    * any doc is unclustered. */
  def clusterSizeHistogram(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id")
      : DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val multi = comp.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val singleton = docs.agg(countDistinct(col(idCol)).as("n_total"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("n_clustered"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
      .filter(col("n_clusters") > 0)
    multi.unionByName(singleton)
  }

  /** connectedComponents casts ids to long; a non-numeric id would
    * either ANSI-throw or (ANSI off) cast to null and silently skip
    * all dedup — fail loudly instead. */
  private def requireIntegralIds(df: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    Seq(pairs.schema(aCol), pairs.schema(bCol), df.schema(idCol))
      .foreach { f =>
        require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(f.dataType),
          s"representatives needs integral ids; ${f.name} is ${f.dataType}")
      }
  }
}

/** 64-bit SimHash over a token array: per token a 64-bit hash votes ±1
  * on each bit; the signature is the sign vector. Codegen'd via the
  * static-helper pattern (same as AbiDecodeExpressions): the generated
  * projection calls [[SimHash64.compute]] directly, so the signature
  * stage stays inside WholeStageCodegen with no interpreted
  * Expression.eval round-trip per row. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  protected override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.SimHash64.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

object SimHash64 {
  /** Whole-signature computation over the token array — shared verbatim
    * by the interpreted eval and the generated code (a static forwarder
    * makes this callable as plain Java from Janino). */
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = tokenHash(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** FNV-1a 64 over the token bytes — cheap, stable, public. */
  def tokenHash(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Per-row MinHash signature over a shingle array: k seeded 64-bit
  * hashes per shingle (FNV-1a base mixed per-seed with a splitmix64
  * finalizer, identical math to [[MinHashAggregator]]), output = the
  * per-seed minima as array<long>. Null for null/empty input.
  * Codegen'd via [[MinHashArray.compute]] (static-helper pattern) —
  * the nullSafeCodeGen body re-checks for the null-result case (empty
  * shingle array), which is why `nullable` is hard-true. */
case class MinHashArray(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  // empty (non-null) input yields a null signature
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_array"

  protected override def nullSafeEval(v: Any): Any =
    MinHashArray.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.ops.MinHashArray.compute($c, $k);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MinHashArray {
  /** Whole-signature computation — shared verbatim by the interpreted
    * eval and the generated code. Null for an empty shingle array. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = SimHash64.tokenHash(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < k) {
          val h = mix(base ^ (j.toLong * 0xd6e8feb86659fd93L))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** splitmix64 finalizer — the per-seed mixer shared with
    * [[MinHashAggregator]]. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Typed MinHash sketch: per shingle, k seeded 64-bit hashes
  * (FNV-1a base mixed per-seed with a splitmix64 finalizer); the buffer
  * keeps the per-seed minima. `Aggregator[IN, BUF, OUT]` gives a mutable
  * map-side buffer + associative merge — the idiomatic Spark shape for
  * sketch aggregates (SURVEY §7.4). */
class MinHashAggregator(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      String, Array[Long], Array[Long]] {
  import org.apache.spark.sql.{Encoder, Encoders}

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingle: String): Array[Long] = {
    val base = SimHash64.tokenHash(
      shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < k) {
      val h = MinHashArray.mix(base ^ (i.toLong * 0xd6e8feb86659fd93L))
      if (h < buf(i)) buf(i) = h
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Per-row rolling w-gram fingerprints over a TOKEN-HASH array:
  * out(i) = Σ_{j<w} th(i+j)·B^{w−1−j} (wrapping 64-bit), computed with
  * the O(n) rolling update out(i+1) = (out(i) − th(i)·B^{w−1})·B +
  * th(i+w) — one multiply-subtract-add per window however long the
  * window, where the naive per-window re-hash is O(n·w). B is odd, so
  * every positional weight B^k is invertible mod 2⁶⁴ and two windows
  * collide only on a w.h.p.-never 64-bit coincidence of their token
  * hashes (the same stance as the Jaccard path's xxhash64 shingle
  * fingerprints; consumers group by the hash while oracles group by
  * the gram text). Output length max(0, n−w+1) — EMPTY, not null, for
  * a doc shorter than the window (posexplode then yields no rows);
  * null only for null input. Codegen'd via the static-helper pattern
  * ([[MinHashArray]]). */
case class RollingWindowHash(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"window must be >= 1 token, got $w")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_window_hash"

  protected override def nullSafeEval(v: Any): Any =
    RollingWindowHash.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.RollingWindowHash.compute($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RollingWindowHash {
  /** odd (invertible mod 2⁶⁴) positional multiplier */
  private final val B = 0x9E3779B97F4A7C15L

  /** Shared verbatim by interpreted eval and generated code. */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val th = arr.toLongArray()
    val n = th.length
    val m = n - w + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    var bw = 1L
    var j = 1
    while (j < w) { bw *= B; j += 1 } // B^(w−1), wrapping
    val out = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < w) { h = h * B + th(i); i += 1 }
    out(0) = h
    i = 1
    while (i < m) {
      h = (h - th(i - 1) * bw) * B + th(i + w - 1)
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
