package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Document deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join), SimHash,
  * and n-gram Jaccard. Extension scope per BASELINE.json; no reference
  * counterpart (the reference's dedup is the GROUP-BY tuple dedup of
  * dedup_transactions.sql, covered in operators.Relational).
  *
  * Scale notes (100 TB): every operator here is a pure shuffle-bounded
  * dataflow — no driver-side state. Exact dedup shuffles once on the
  * fingerprint. MinHash/LSH shuffles once on (band, hash) — the candidate
  * set is linear in true-duplicate density, unlike the all-pairs shingle
  * join, which is quadratic in per-shingle document frequency and is only
  * safe below ~10^4 docs per shingle (use `jaccardPairs` for verification /
  * small corpora, LSH for discovery at scale; hot shingles should be capped
  * with a document-frequency filter first).
  */
object TextDedup {

  /** Exact duplicate groups by an arbitrary key expression: one row per
    * distinct key with the canonical (min) id and group size. The key is
    * the policy knob — `TextOps.fingerprint` for whitespace/case-exact
    * dedup, `TextOps.ccnetFingerprint` for CCNet's hashing normalization
    * (accents/digits folded too). One shuffle on the key either way. */
  def exactDupGroupsBy(df: DataFrame, idCol: String, key: Column): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), key.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))
  }

  /** Exact duplicate groups by canonical-text fingerprint. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDupGroupsBy(df, idCol, TextOps.fingerprint(col(textCol)))

  /** Soft dedup (SoftDeDup, He et al. 2024): DOWN-WEIGHT duplicated
    * content instead of dropping it — every row survives, annotated with
    * its exact-duplicate cluster size and the loss weight 1/n_dups, so
    * training keeps the information while removing the gradient
    * over-count. Dataflow: one fp aggregation + one group-stat join back
    * (the Relational.groupStatJoin shape — both sides shuffle on fp once,
    * partial-aggregated; no broadcast needed and no driver state, so
    * cluster-count cardinality can be corpus-sized). The weight is an
    * exact IEEE rational of an integer — oracle-surface safe. */
  def softDedupWeights(df: DataFrame, idCol: String, key: Column): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    val keyed = df.select(col(idCol), key.as("fp"))
    val n = keyed.groupBy(col("fp")).agg(count(lit(1)).as("n_dups"))
    keyed.join(n, Seq("fp"))
      .select(col(idCol), col("fp"), col("n_dups"),
        (lit(1.0) / col("n_dups")).as("weight"))
  }

  /** Modulus for the minhash permutation family (smallest prime > 2^32);
    * single source of truth lives with the fused kernel. */
  val MinhashPrime: Long = graft.sql.MinhashSigF.MinhashPrime

  /** Deterministic permutation coefficients (a_i, b_i), a_i ∈ [1, 2^31),
    * b_i ∈ [0, 2^31): derived from md5 of the index, so they are plain
    * constants embeddable in both the Spark plan and an external oracle's
    * SQL. With H < 2^32, a·H + b < 2^63 — no BIGINT overflow in any
    * engine. */
  def minhashCoefficients(k: Int): Array[(Long, Long)] =
    graft.sql.MinhashSigF.coefficients(k)

  /** MinHash signature columns sig_0..sig_{k-1}: ONE base hash per shingle
    * (first 8 md5 hex chars as a 32-bit integer) permuted k times with
    * (a_i·H + b_i) mod p — computed by the fused MinhashSigF codegen
    * kernel in one pass over the shingle array (the previous HOF chain —
    * one `array_min(transform(...))` per signature — was 17 interpreted
    * CodegenFallback walks per row; values are bit-identical, pinned by
    * MinhashSigFSpec).
    *
    * Documents with no shingles come back with ALL sigs null (an
    * all-or-nothing contract the downstream null guards rely on);
    * lshBands drops such rows before banding, so no upstream filter is
    * needed. Do NOT add a trailing `filter(sig_0.isNotNull)` here — it
    * would be pushed below the projects by Catalyst, substituting and
    * re-evaluating the entire signature chain per row (measured 5×; the
    * same substitution trap made a `filter(size(shingles) > 0)` at the
    * nearDupPairs entry 2.7× slower on q64).
    */
  def minhashSignatures(df: DataFrame, idCol: String, shingles: Column, numHashes: Int): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    val withSigs = df.select(col(idCol),
      graft.sql.GraftFunctions.minhashSig(shingles, numHashes).as("__sigs"))
    val sigs = (0 until numHashes).map(i => col("__sigs").getItem(i).as(s"sig_$i"))
    withSigs.select((col(idCol) +: sigs): _*)
  }

  /** LSH banding: one row per (id, band, band_hash); equal band hashes are
    * duplicate candidates. rowsPerBand trades recall vs precision
    * (P[candidate] = 1 - (1 - J^rows)^bands).
    *
    * Null-sig rows (shingle-less docs — the kernel nulls ALL k sigs
    * together) emit NO bands: the band hash is null-guarded on sig_0, and
    * the guard filter sits ABOVE the explode where predicate pushdown
    * cannot substitute it into upstream projections. Without the guard,
    * concat_ws would skip the null sigs and every shingle-less doc would
    * hash to md5("") in every band — one bucket of m docs, O(m²)
    * candidates. This is also why nearDupPairs needs no input pre-filter:
    * a `filter(size(shingles) > 0)` there was measured 2.7× on q64
    * (pushdown substitutes the WHOLE HOF shingle chain into the scan
    * filter and re-evaluates it per row — the same trap documented on
    * minhashSignatures). */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"),
        when(col("sig_0").isNotNull, md5(concat_ws("|", cols: _*))).as("h"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bh"))
      .select(col(idCol), col("bh.band").as("band"), col("bh.h").as("band_hash"))
      .filter(col("band_hash").isNotNull)
  }

  /** Candidate near-duplicate pairs from LSH buckets (a < b, distinct). */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band"), col("band_hash"), col(idCol).as("a"))
    val b = bands.select(col("band"), col("band_hash"), col(idCol).as("b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Exact n-gram Jaccard over pairs sharing at least one shingle.
    * Quadratic in per-shingle doc frequency — verification-scale only;
    * compose with lshCandidatePairs for discovery at scale.
    *
    * `maxDocFreq > 0` enforces the hot-shingle guard: shingles appearing in
    * more than that many documents are dropped before the self-join (the
    * stop-word analog), bounding the pair fan-out of any single shingle at
    * maxDocFreq²/2 rows. Sizes are computed on the SAME filtered stream, so
    * the output is exact Jaccard over the surviving shingle vocabulary —
    * consistent numerator and denominator, not a mixed estimate. 0 = exact
    * over all shingles (the q34 verification form).
    */
  def jaccardPairs(df: DataFrame, idCol: String, shingles: Column,
      maxDocFreq: Int = 0): DataFrame = {
    val all = df.select(col(idCol).as("id"), explode(array_distinct(shingles)).as("s"))
    val sh =
      if (maxDocFreq > 0) {
        val cold = all.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDocFreq).select(col("s"))
        all.join(cold, Seq("s"), "left_semi")
      } else all
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = sh.as("l").join(sh.as("r"), col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  /** Jaccard similarity restricted to an explicit candidate-pair set (the
    * scale path: LSH proposes candidates, this verifies them). Each side of
    * the pair joins to its per-document distinct-shingle set and the
    * intersection is computed per pair with array_intersect — cost is
    * O(|candidates| × shingles-per-doc), never all-pairs. Output matches
    * jaccardPairs (a, b, common, jaccard).
    */
  def jaccardForPairs(cand: DataFrame, df: DataFrame, idCol: String, shingles: Column): DataFrame = {
    val sets = df.select(col(idCol).as("id"), array_distinct(shingles).as("ss"))
    cand
      .join(sets.select(col("id").as("a"), col("ss").as("sa")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("ss").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        col("sa"), col("sb"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("common"))).as("jaccard"))
  }

  /** End-to-end near-duplicate REMOVAL (the operation a training-data
    * pipeline actually runs): MinHash → LSH candidates → candidate-
    * restricted Jaccard → drop the larger id of every pair at or above the
    * threshold. Keep-smallest-id is a per-pair policy: a transitive chain
    * a~b~c collapses fully only when its links share buckets — exact
    * transitive closure needs iterated connected components, which is
    * rarely wanted for corpus dedup (it over-merges chains of borderline
    * pairs). Cost: the LSH pipeline + one anti join on the id.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int = 16, rowsPerBand: Int = 2, threshold: Double = 0.7): DataFrame = {
    val dupIds = nearDupPairs(df, idCol, shingles, numHashes, rowsPerBand, threshold)
      .select(col("b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Verified near-duplicate pairs (a < b, jaccard ≥ threshold) — the
    * full discovery chain (MinHash → LSH candidates → candidate-restricted
    * Jaccard) shared by per-pair removal (dropNearDuplicates), the
    * cluster-consistent keep policy (clusterKeepBest), and the
    * connected-components query.
    *
    * Shingle-less docs can't be near-duplicates under this measure and
    * never pair up: their all-null signatures emit no bands (lshBands'
    * null guard), so they bypass the LSH pipeline without any input
    * pre-filter, and the policy layers above keep them (removal anti
    * joins / left joins over the FULL df). */
  def nearDupPairs(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int = 16, rowsPerBand: Int = 2, threshold: Double = 0.7): DataFrame = {
    // No input pre-filter: shingle-less docs get all-null sigs (cheap — the
    // fused kernel sees an empty array) and lshBands' null guard drops them
    // before banding, so they never become candidates and the policy layers
    // above always keep them. An explicit filter(size(shingles) > 0) here
    // was measured 2.7× slower on q64: predicate pushdown substitutes the
    // full HOF shingle chain into the scan filter and re-evaluates it per
    // row.
    //
    // The distinct-shingle sets are materialized ONCE (eager, round 10):
    // the plan otherwise evaluates the shingle expression three times —
    // the signature pass plus BOTH verification sides (alias-differing
    // subplans defeat ReusedExchange). Values are untouched: MinHash
    // minima are duplicate-insensitive, so signatures over the distinct
    // set equal signatures over the multiset, and verification already
    // ran on array_distinct. Blocks are corpus-linear,
    // ContextCleaner-reclaimed when the result frame dies.
    val sets = df.select(col(idCol), array_distinct(shingles).as("__ss"))
      .localCheckpoint()
    val sig = minhashSignatures(sets, idCol, col("__ss"), numHashes)
    val cand = lshCandidatePairs(lshBands(sig, idCol, numHashes, rowsPerBand), idCol)
    jaccardForPairs(cand, sets, idCol, col("__ss"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"))
  }

  /** Duplicate-cluster representative selection (the FineWeb/Gopher keep
    * policy): given component labels over the verified near-dup pair
    * graph (`ConnectedComponents.run(nearDupPairs(...))` — (node, comp)
    * rows for linked docs only), keep exactly ONE member per cluster —
    * the highest-`quality` one, ties to the smallest id — and every
    * unlinked doc. Contrast with dropNearDuplicates' per-pair
    * keep-smallest policy, which (a) ignores quality and (b) can keep
    * >1 member of a transitive chain when its links don't share buckets.
    *
    * Scale shape: one left join to the (tiny relative to corpus) label
    * set, then ONE algebraic aggregate — `max(struct(quality, −id))` per
    * cluster, map-side combinable — and a semi join back. No per-cluster
    * window, no sort; singletons pass through the agg as 1-row groups.
    * `quality` must be computable from `df`'s columns (chars, a Gopher
    * metric, a classifier margin — any orderable column). */
  def clusterKeepBest(df: DataFrame, idCol: String, labels: DataFrame,
      quality: Column): DataFrame = {
    val withComp = df.join(labels.withColumnRenamed("node", idCol), Seq(idCol), "left")
    // comp labels are cluster-member min ids, so coalescing unlinked docs
    // to their own id stays collision-free in the same key domain
    val best = withComp
      .groupBy(coalesce(col("comp"), col(idCol)).as("__cluster"))
      .agg(max(struct(quality.as("q"), (-col(idCol)).as("negid"))).as("best"))
      .select((-col("best.negid")).as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** Portable SimHash: identical voting scheme but bits come from md5 hex
    * digits (bit j = (hexdigit(j/4) >> (j%4)) & 1), so any engine with md5
    * can reproduce it exactly — the cross-engine-verifiable SimHash.
    * Output is a 64-char '0'/'1' string, bit 0 first.
    */
  def simhashPortable(df: DataFrame, idCol: String, toks: Column): DataFrame = {
    val t = df.select(col(idCol), explode(toks).as("tok"))
      .select(col(idCol), md5(col("tok")).as("hx"))
    val withDigits = t.select(
      (col(idCol) +: (0 until 16).map(p =>
        conv(substring(col("hx"), p + 1, 1), 16, 10).cast("int").as(s"d_$p"))): _*)
    val bitSums = (0 until 64).map { j =>
      val d = col(s"d_${j / 4}")
      sum(when(shiftright(d, j % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val summed = withDigits.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val bitsStr = concat((0 until 64).map(j =>
      when(col(s"b_$j") > 0, lit("1")).otherwise(lit("0"))): _*)
    summed.select(col(idCol), bitsStr.as("simhash"))
  }

  // ---------------------------------------------------------------------
  // Incremental dedup: new batch vs a persisted signature index
  // ---------------------------------------------------------------------

  /** Estimated Jaccard from two minhash signature row-sides: the fraction
    * of the k permutations that agree (the standard MinHash estimator,
    * E[agreement] = J). Used where the counterpart's shingle sets are no
    * longer around — e.g. dedup against a persisted index that stores only
    * signatures (k longs/doc, not the corpus text). */
  def sigAgreement(prefixA: String, prefixB: String, numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"$prefixA.sig_$i") === col(s"$prefixB.sig_$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes

  /** Incremental near-dup check of a NEW batch against the persisted index
    * (the streaming-ingest shape: the existing corpus is signatures on
    * disk, never rescanned as text). LSH-bucket candidates (one shuffle on
    * (band, hash)) are verified by signature agreement; returns new-batch
    * rows whose best agreement against the index stays below `threshold`.
    * Both sides must use the same numHashes the index was built with.
    */
  def dedupAgainstIndex(newDocs: DataFrame, idCol: String, shingles: Column,
      indexSigs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    // materialized once (eager, round 10): the banding and the signature-
    // agreement verification both read the new batch's signatures, and
    // without the checkpoint the shingle+minhash kernel ran twice (plus a
    // third evaluation pushed into the scan filter). Batch-linear blocks,
    // ContextCleaner-reclaimed; inside a streaming foreachBatch this is a
    // plain batch frame, so the streaming path shares the fix.
    val newSigs = minhashSignatures(
      newDocs.filter(size(shingles) > 0), idCol, shingles, numHashes)
      .localCheckpoint()
    val nb = lshBands(newSigs, idCol, numHashes, rowsPerBand)
      .withColumnRenamed(idCol, "__new_id")
    val ob = lshBands(indexSigs, idCol, numHashes, rowsPerBand)
      .withColumnRenamed(idCol, "__old_id")
    val cand = nb.join(ob, Seq("band", "band_hash"))
      .select(col("__new_id"), col("__old_id")).distinct()
    val dupIds = cand
      .join(newSigs.as("n"), col("__new_id") === col(s"n.$idCol"))
      .join(indexSigs.as("o"), col("__old_id") === col(s"o.$idCol"))
      .filter(sigAgreement("n", "o", numHashes) >= threshold)
      .select(col("__new_id").as(idCol)).distinct()
    newDocs.join(dupIds, Seq(idCol), "left_anti")
  }
}
