package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Corpus-level exact duplicated-substring removal (the "exact substring
  * dedup" of Lee et al. 2021, *Deduplicating Training Data Makes Language
  * Models Better*, re-expressed as dataflow): every occurrence of a
  * duplicated k-token gram EXCEPT its corpus-wide first occurrence —
  * ordered by (doc, start position) — marks its k-token span for removal;
  * tokens covered by any marked span are dropped and the document is
  * rebuilt from the survivors. Unlike whole-document or line dedup this
  * catches verbatim reuse embedded mid-document (quotes, license blocks,
  * templated passages) at any alignment, and the memorization-risk spans
  * the paper targets. The suffix-array machinery of the paper is a
  * single-machine construction; the equivalent corpus-wide question —
  * "which length-≥k substrings occur more than once?" — is exactly the
  * duplicated-k-gram question, answered here with one partial-aggregated
  * shuffle. Extension scope — no reference counterpart.
  *
  * Scale design:
  *  - gram stream: `posexplode(wordShingles(toks, k))` — k× the token
  *    count, no shuffle;
  *  - first occurrence per gram: groupBy(gram).agg(min(packed id·2^21+pos))
  *    — HashAggregate with map-side combine ([[Packing]]; the LineDedup
  *    argument: a boilerplate gram in EVERY doc collapses per map
  *    partition before the exchange);
  *  - marking: grams ⋈ firsts on gram, keep occurrences with
  *    packed > first. A plain equi shuffle join: the aggregate side ships
  *    map-combined partials (tiny), the occurrence side ships the gram
  *    stream once, and the final aggregate FUSES into the join stage (one
  *    shuffle serves both). A hot gram's occurrences land on one reducer;
  *    the per-row work there is a single long comparison and nothing is
  *    sorted per group, so the reducer is linear in the hot gram's
  *    occurrence count (measured at 10× in the every-doc-hot-gram
  *    regime: SCALE.md, the round-6 span-dedup hot-gram bullet). NOTE:
  *    AQE's skew-join split does NOT apply to this shape — its pattern
  *    needs the join children to be bare shuffle reads, and the fused
  *    aggregate is between — so for a corpus where one gram's
  *    occurrences alone exceed an executor,
  *    pass `numSalts > 1`: the marking join becomes
  *    [[graft.operators.Relational.saltedJoin]], spreading each gram
  *    over `numSalts` reducers at the cost of replicating the
  *    (gram, first) table `numSalts`× (rows are two words each);
  *  - coverage: marked span STARTS aggregate per doc (shuffle bounded by
  *    the duplicated-occurrence count), then ONE HOF chain expands starts
  *    to the covered-position array — overlap merge is array_distinct,
  *    row-local;
  *  - removal + rebuild: one doc-keyed join of the corpus against the
  *    (dup-affected docs only) covered table, survivors selected map-side
  *    by an index filter over the original token array — the token stream
  *    itself never shuffles.
  * Total: two corpus-proportional exchanges (the gram aggregate and the
  * marking stream — the latter cut to the duplicated slice by the Bloom
  * prefilter) + two dup-bounded ones, each linear and skew-safe.
  */
object SpanDedup {

  /** (idCol, pos, gram) rows — the k-gram starting at each 0-based token
    * position; documents shorter than k contribute none. */
  private def gramRows(base: DataFrame, idCol: String, k: Int): DataFrame =
    base.select(col(idCol),
      posexplode(TextOps.wordShingles(col("__toks"), k)).as(Seq("pos", "__g")))

  /** Start positions (idCol, pos) of every duplicated-gram occurrence that
    * is NOT its gram's corpus-wide first — the spans slated for removal.
    * `numSalts > 1` salts the marking join for hot-gram skew (see the
    * scale-design note above); results are identical either way.
    *
    * The aggregate side keeps only grams with corpus count >= 2 (round-8
    * prefilter): a unique gram's sole occurrence IS its first, so it can
    * never mark a span — dropping it from `firsts` changes nothing (the
    * `packed > first` filter already discarded it) but shrinks the
    * marking join's build side to the DUPLICATED vocabulary, typically a
    * tiny fraction of all grams.
    *
    * `bloomExpectedDupGrams > 0` additionally cuts the marking join's
    * STREAM side — the shuffle that hit the round-7 scratch ceiling
    * (~660M gram rows at the 100x fixture, ENOSPC on a 77 GB-scratch
    * box): a Bloom filter over the duplicated grams (built map-side by
    * one treeAggregate, ~1.2 B/key at fpp 1%) filters the gram stream
    * BEFORE its exchange, so only duplicated-gram occurrences (plus the
    * fpp slice, resolved exactly by the inner marking join finding no
    * match) cross the wire. Sizing: pass the expected count of DISTINCT
    * duplicated grams; fine to ~10^8 keys, skip beyond (the dup
    * vocabulary is no longer "small"). The dup-gram table is computed
    * ONCE and pinned with a localCheckpoint (blocks bounded by the dup
    * vocabulary, not the corpus) so the filter build and the marking
    * join share it — recomputing the corpus-wide gram aggregate twice
    * was measured 16% SLOWER than no bloom at the 10x fixture.
    * Results are identical with any parameter combination. */
  def duplicateSpanStarts(docs: DataFrame, idCol: String, toksCol: Column,
      k: Int, numSalts: Int = 1, bloomExpectedDupGrams: Long = 0L,
      bloomFpp: Double = 0.01): DataFrame = {
    val base = docs.select(col(idCol), toksCol.as("__toks"))
    val grams = gramRows(base, idCol, k)
    val firsts0 = grams
      .groupBy(col("__g"))
      .agg(min(Packing.pack(col(idCol), col("pos"))).as("__f"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("__g"), col("__f"))
    val (firsts, stream) =
      if (bloomExpectedDupGrams <= 0L) (firsts0, grams)
      else {
        val pinned = firsts0.localCheckpoint()
        val maybeDup = graft.operators.BloomPrefilter.probe(
          pinned.select(col("__g")), col("__g"), bloomExpectedDupGrams, bloomFpp)
        (pinned, grams.filter(maybeDup(col("__g"))))
      }
    val marked =
      if (numSalts <= 1) stream.join(firsts, Seq("__g"))
      else graft.operators.Relational.saltedJoin(stream, firsts, Seq("__g"), numSalts)
    marked
      .filter(Packing.pack(col(idCol), col("pos")) > col("__f"))
      .select(col(idCol), col("pos"))
  }

  /** Full pipeline: drop every token covered by a duplicated span, rebuild
    * each document from the survivors (space-joined, original order).
    * Every input document survives — one whose every token was covered
    * comes back as the empty string. Output: (idCol, clean, n_kept).
    *
    * Rebuild dataflow (redesigned round 8 — the old form shuffled the
    * TOKEN stream twice: posexplode → (doc,pos)-keyed anti join →
    * doc-keyed collect_list, i.e. two corpus-sized exchanges of L× more
    * rows than documents): the marked span STARTS aggregate per doc
    * (shuffle bounded by duplicated-occurrence count, not corpus size),
    * expand to a per-doc covered-position array with one HOF chain, and
    * the surviving tokens are selected MAP-SIDE by an index-filter over
    * the original token array after one doc-keyed join of base against
    * the (dup-affected docs only) covered table. Corpus-sized data now
    * crosses the wire once (the base side of that join) instead of three
    * times, and the token stream never shuffles at all.
    *
    * The per-token `array_contains` probe is O(|covered|) — fine while
    * per-doc duplicated coverage is spans × k (the regime this targets);
    * a pathological doc that is ~all duplicated spans costs O(L²) CPU in
    * that one row's lambda, still map-side and spill-free. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, toksCol: Column,
      k: Int, numSalts: Int = 1, bloomExpectedDupGrams: Long = 0L): DataFrame = {
    val base = docs.select(col(idCol), toksCol.as("__toks"))
    val covered = duplicateSpanStarts(base, idCol, col("__toks"), k, numSalts,
        bloomExpectedDupGrams)
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__starts"))
      .select(col(idCol),
        array_distinct(flatten(transform(col("__starts"),
          s => sequence(s, s + (k - 1))))).as("__cov"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, col("__toks"))
          .otherwise(filter(col("__toks"),
            (_, i) => !array_contains(col("__cov"), i))).as("__kept"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean"),
        // coalesce: a NULL token array (no grams, no coverage) reads as
        // the empty doc, matching the old left-join + fill semantics
        coalesce(size(col("__kept")), lit(0)).as("n_kept"))
  }
}
