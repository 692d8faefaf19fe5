package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Decontaminate, TextDedup}
import graft.functions.{Bm25, Chunking, LangId, NgramLm, Repetition, TextOps}
import QueryHelpers._

/** Text-analysis + dedup extension coverage over `documents` (BASELINE.json
  * scope: dedup exact/MinHash/SimHash/Jaccard, token counting, quality
  * scoring, fingerprinting, language-ID).
  */
object TextQueries {

  private val shingleN = 8

  /** documents with the token array materialized as `__toks` (and length
    * filter applied when `minToks` > 0) — tokenization runs once per doc,
    * never inside a shingle lambda (TextOps PERF CONTRACT). */
  private def tokenized(s: org.apache.spark.sql.SparkSession, d: String,
      minToks: Int = 0) = {
    val t = table(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
    if (minToks > 0) t.filter(size(col("__toks")) >= minToks) else t
  }

  /** Compression-ratio quality signal (MassiveText-class gibberish /
    * template-spam detector): deflate_len over the codegen'd
    * graft_deflate_len expression + one division. Moved OUT of the
    * oracle-gated `defs` in round 8 (verdict task 5): DuckDB has no
    * deflate, so as a Verify row it could only ever read `err:no_oracle`
    * — the one non-green cell of the round-6/7 correctness artifacts.
    * Bench duty lives on via SparkEntry.benchOnly; the semantics are
    * pinned in DeflateLenFSpec (spam-vs-soup separation, determinism,
    * RFC-1951 parity, codegen residency). */
  val compressRatio: QueryFn = (s, d) => {
    graft.sql.GraftFunctions.register(s)
    table(s, d, "documents")
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        graft.sql.GraftFunctions.deflateLen(col("text")).as("deflate_len"))
      .withColumn("ratio", col("deflate_len").cast("double") / col("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val defs: Map[String, QueryFn] = Map(
    // Cross-source overlap by SKETCH — q133's scale path: per-source HLL
    // register tables over word-8-grams (no distinct pass needed — the
    // register max is duplicate-insensitive) + per-pair union sketches,
    // everything after the one corpus scan bounded at |sources| × 4096
    // rows. Exact-integer registers hash-check; the inclusion–exclusion
    // overlap ESTIMATE (and its agreement with q133's exact Jaccard) is
    // spec-land (HllSpec).
    "q148_overlap_sketch" -> { (s, d) =>
      import graft.functions.Hll
      val grams = table(s, d, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("source"),
          explode(TextOps.wordShingles(col("__toks"), shingleN)).as("g"))
      val regs = Hll.registersBy(grams, "source", col("g"))
      val per = regs.groupBy(col("source")).agg(
        count(lit(1)).as("n_buckets"), sum(col("max_rho")).as("sum_rho"))
      Hll.pairUnionSummary(regs, "source")
        .withColumnRenamed("group_a", "source_a")
        .withColumnRenamed("group_b", "source_b")
        .join(broadcast(per.select(col("source").as("source_a"),
          col("n_buckets").as("n_buckets_a"), col("sum_rho").as("sum_rho_a"))),
          Seq("source_a"))
        .join(broadcast(per.select(col("source").as("source_b"),
          col("n_buckets").as("n_buckets_b"), col("sum_rho").as("sum_rho_b"))),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"),
          col("n_union_buckets"), col("sum_union_rho"),
          col("n_buckets_a"), col("sum_rho_a"),
          col("n_buckets_b"), col("sum_rho_b"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // GloVe-style windowed co-occurrence: every ordered token pair
    // within 4 positions, weighted 1/distance — accumulated in exact
    // integer units of 1/LCM(1..4)=1/12, so the word-vector training
    // statistic hash-replays. Pairs come from per-offset arrays_zip
    // slices (O(L·W) per doc), never a positional self-join (O(L²)).
    "q161_glove_cooc" -> { (s, d) =>
      graft.functions.Cooccurrence.glove(tokenized(s, d), col("__toks"), window = 4)
        .orderBy(col("w1"), col("w2"))
    },

    // Exact phrase search over the positional inverted index (the IR leg
    // BM25 doesn't cover): postings (term, doc, pos), a k-term phrase =
    // k−1 joins of term-filtered postings shifted by phrase offset, all
    // keyed on the same (doc, base) pair. Counts exact.
    "q163_phrase_search" -> { (s, d) =>
      import graft.functions.PhraseIndex
      val idx = PhraseIndex.build(tokenized(s, d), "doc_id", col("__toks"))
      PhraseIndex.phraseQuery(idx, "doc_id", Seq("slow", "hash", "batch"))
        .orderBy(col("doc_id"))
    },

    // Line-granular quality filtering (the FineWeb/RefinedWeb line-removal
    // pass): each 8-token line kept iff >= 3 tokens AND >= 50% alpha
    // chars (integer cross-multiplied), docs rebuilt from survivors.
    // Fixture appends one junk line ("## 123 $$%") to every %4==0 doc —
    // the filter must kill exactly those plus genuine short tails.
    "q164_line_quality" -> { (s, d) =>
      val chunks = graft.functions.Chunking.chunkTokens(
          tokenized(s, d), "doc_id", col("__toks"), 8, 0)
        .select(col("doc_id"), col("chunk_idx").as("pos"),
          col("chunk_text").as("line"))
      val junk = chunks.select(col("doc_id")).distinct()
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), lit(2000).as("pos"), lit("## 123 $$%").as("line"))
      val all = chunks.unionByName(junk)
      val keep = (size(split(col("line"), " ")) >= 3) &&
        (length(regexp_replace(col("line"), "[^A-Za-z]", "")) * 2 >= length(col("line")))
      graft.operators.Quality.filterLines(all, "doc_id", "pos", "line", keep)
        .orderBy(col("doc_id"))
    },

    // Intra-document line dedup — the per-doc POLICY beside q93's
    // corpus-wide pass (RefinedWeb runs both): each doc keeps its own
    // first copy of a line, cross-document repeats untouched. Fixture
    // re-appends every %3==0 doc's first line at pos 1000, so the
    // operator has real intra-doc repeats to kill while q93-style
    // cross-doc boilerplate must survive here.
    "q150_intradoc_lines" -> { (s, d) =>
      val chunks = graft.functions.Chunking.chunkTokens(
          tokenized(s, d), "doc_id", col("__toks"), 8, 0)
        .select(col("doc_id"), col("chunk_idx").as("pos"),
          col("chunk_text").as("line"))
      val injected = chunks.filter(col("pos") === 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("pos") + 1000).as("pos"), col("line"))
      graft.dedup.LineDedup.dropDuplicateLinesWithinDoc(
          chunks.unionByName(injected), "doc_id", "pos", "line")
        .orderBy(col("doc_id"))
    },

    // Corpus profiling per (source, lang): the pre-training data-QA sweep —
    // doc counts, length min/median/max, exact-decimal mean. The median is
    // Spark's exact `percentile` (linear interpolation over int lengths —
    // halves are exact in double, so it hash-matches quantile_cont).
    "q29_corpus_profile" -> { (s, d) =>
      table(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          percentile(col("n_chars"), lit(0.5)).as("med_chars"),
          max(col("n_chars")).as("max_chars"),
          (dsum(col("n_chars").cast("double"), 4) / count(lit(1))).as("mean_chars"))
        .orderBy(col("source"), col("lang"))
    },

    // Token counting + quality scoring (lengths, lexical diversity,
    // stopword ratio) — all int-derived doubles, cross-engine exact.
    "q30_token_stats" -> { (s, d) =>
      val docs = tokenized(s, d)
      val toks = col("__toks")
      docs.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          TextOps.typeTokenRatio(toks).as("ttr"),
          (TextOps.totalTokenLength(toks).cast("double") / size(toks)).as("avg_token_len"),
          TextOps.stopwordRatio(toks, Seq("the", "a")).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprinting + BPE-ish token counting.
    "q31_fingerprint" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // Exact dedup groups by fingerprint (hash-groupBy; one shuffle).
    "q32_exact_dedup" -> { (s, d) =>
      TextDedup.exactDupGroups(table(s, d, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    },

    // MinHash signatures (8 hashes) over 8-gram word shingles.
    "q33_minhash_sig" -> { (s, d) =>
      TextDedup.minhashSignatures(tokenized(s, d, shingleN), "doc_id",
          TextOps.wordShingles(col("__toks"), shingleN), 8)
        .orderBy(col("doc_id"))
    },

    // Exact n-gram Jaccard over pairs sharing a shingle (verification-scale
    // all-pairs; the LSH path below is the discovery path at scale).
    "q34_shingle_jaccard" -> { (s, d) =>
      TextDedup.jaccardPairs(tokenized(s, d), "doc_id",
          TextOps.wordShingles(col("__toks"), shingleN))
        .orderBy(col("a"), col("b"))
    },

    // Portable SimHash (md5-hex-digit bits — exactly reproducible by the
    // DuckDB oracle; TextDedupSpec holds the engine-native xxhash form).
    "q35_simhash" -> { (s, d) =>
      TextDedup.simhashPortable(table(s, d, "documents"), "doc_id",
          TextOps.tokens(col("text")))
        .orderBy(col("doc_id"))
    },

    // Language-ID: integer top-300-trigram profile matching — fully
    // oracle-checked; accuracy vs the `lang` label asserted in LangIdSpec.
    // fitPredict shares one (doc, ngram, count) aggregation between the
    // profile fit and the scoring (fit-then-predict grams the corpus twice).
    "q36_langid" -> { (s, d) =>
      LangId.fitPredict(table(s, d, "documents"), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("predicted_lang"))
        .orderBy(col("doc_id"))
    },

    // MinHash-LSH candidate pairs (16 hashes, 8 bands of 2) verified with
    // candidate-restricted exact Jaccard — the scale path for near-dup
    // discovery: Jaccard cost is O(|candidates|), never all-pairs.
    "q37_lsh_neardup" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      val sig = TextDedup.minhashSignatures(docs, "doc_id", shingles, 16)
      val cand = TextDedup.lshCandidatePairs(
        TextDedup.lshBands(sig, "doc_id", 16, 2), "doc_id")
      TextDedup.jaccardForPairs(cand, docs, "doc_id", shingles)
        .filter(col("common") >= 1)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // End-to-end near-dup REMOVAL (the composed operation a pipeline runs):
    // LSH candidates → candidate Jaccard ≥ 0.5 → drop the larger id.
    "q38_drop_neardups" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      TextDedup.dropNearDuplicates(docs, "doc_id", shingles,
          numHashes = 16, rowsPerBand = 2, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Connected components over the verified near-dup pair graph (the
    // cluster-consistent upgrade of q38's per-pair policy): iterative
    // hash-min label propagation — Pregel as DataFrame joins, one shuffle
    // per iteration, lineage cut per iteration. The oracle computes the
    // same components with a DuckDB RECURSIVE CTE (transitive reachability
    // + min) — a completely different fixpoint mechanism, same labels.
    "q64_connected_components" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      val pairs = TextDedup.nearDupPairs(docs, "doc_id", shingles, 16, 2, 0.5)
      graft.dedup.ConnectedComponents.runAuto(pairs)
        .orderBy(col("node"))
    },

    // Near-dup cluster-size histogram — the dedup QA datasheet row
    // ("how big are my duplicate families"): q64's verified-pair
    // components grouped twice. A histogram dominated by giant clusters
    // means boilerplate is bridging unrelated docs (the LSH-parameter
    // smoke alarm); all-size-2 means pair-level dedup was enough.
    "q169_cluster_histogram" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      val pairs = TextDedup.nearDupPairs(docs, "doc_id", shingles, 16, 2, 0.5)
      graft.dedup.ConnectedComponents.runAuto(pairs)
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    },

    // Benchmark decontamination: src0's docs act as the held-out benchmark;
    // every other doc is scored by its distinct-3-gram overlap with that
    // vocabulary (broadcast on the corpus side — the 100 TB shape).
    "q72_decontaminate" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("__toks"))
      val grams = TextOps.wordShingles(col("__toks"), 3)
      val bench = Decontaminate.benchmarkGrams(
        docs.filter(col("source") === "src0"), grams)
      Decontaminate.contamination(
          docs.filter(col("source") =!= "src0"), "doc_id", grams, bench)
        .orderBy(col("doc_id"))
    },

    // Training-shard packing by char budget: exact two-level distributed
    // prefix sum (never a single-partition global window), shard_id =
    // exclusive-prefix DIV budget.
    "q73_shard_pack" -> { (s, d) =>
      val docs = table(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.operators.ShardPack.assignShards(docs, "doc_id", col("n_chars"), budget = 5000L)
        .select(col("doc_id"), col("n_chars"), col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signal: per-doc top-bigram coverage fraction
    // (boilerplate/spam filter); deterministic struct-max argmax.
    "q74_repetition" -> { (s, d) =>
      Repetition.topNgramStats(tokenized(s, d), "doc_id", col("__toks"), 2)
        .orderBy(col("doc_id"))
    },

    // Data-mixture construction: deterministic hash-ranked down-sample to a
    // per-language share of 200 rows (binary-exact proportions so both
    // engines floor identical products; zh over-asks and clamps to supply).
    "q75_data_mix" -> { (s, d) =>
      graft.operators.DataMix.sampleToMix(
          table(s, d, "documents").select(col("doc_id"), col("lang")),
          "lang", col("doc_id"),
          Map("en" -> 0.25, "de" -> 0.125, "zh" -> 0.75), totalRows = 200L)
        .orderBy(col("doc_id"))
    },

    // The FULL crawl-to-shards chain: raw HTML pages → extraction →
    // Gopher gate → PII redaction → token count → seeded shuffle →
    // token-budget shards, composed through the CorpusPipeline registry.
    // Every stage is an oracle-checked operator; this is the composition
    // a pre-training pipeline actually runs from crawl to training order.
    //
    // The extraction stage is MATERIALIZED (the registry's parquet
    // boundary), not lazy: the Gopher metrics are higher-order functions
    // (CodegenFallback — no codegen subexpression elimination), so a lazy
    // composition re-derives the 16-step extraction chain inside every
    // metric and again in each downstream stage (~37 plan copies,
    // measured 10.9 s vs ~4 s with the boundary at sf0.1). Derived text
    // feeding many downstream expressions is exactly what the
    // materialization flag exists for at 100 TB; `refresh` keeps every
    // invocation honest (never serves a stale artifact across code or
    // fixture changes).
    "q109_crawl_assembly" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      // Collision-free per-sfDir warehouse (fixtureKey, not hashCode) —
      // `refresh` below re-derives the materialized stage every run, so
      // staleness is impossible; the key only guards cross-dir reuse.
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_q109_${QueryHelpers.fixtureKey(d)}"
      val pipeline = dag(
        ss => injectHtml(table(ss, d, "documents")),
        Seq(
          htmlExtract("html"),
          stage("drop_title")(_.drop("title")),
          qualityGate("html", minStopwords = 1),
          piiRedact("html"),
          tokenCount("html"),
          stage("project")(_.select(col("doc_id"), col("n_tokens"))),
          shuffleShards("doc_id", "c7", 2000L)),
        warehouseDir = wh, materialized = Set("html_extract"))
      run(s, pipeline, "shuffle_shards", refresh = Set("html_extract"))
        .select(col("doc_id"), col("n_tokens"), col("shuffle_key"),
          col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // HTML → text extraction (the stage a crawl corpus runs before any
    // quality/dedup work): deterministic page-template injection around
    // the fixture text, then the shared rule chain — comments/script/
    // style out, block ends → newlines, tags out, entities decoded,
    // whitespace normalized — replayed byte-for-byte by the oracle.
    "q108_html_extract" -> { (s, d) =>
      import graft.functions.HtmlExtract
      HtmlExtract.extract(injectHtml(table(s, d, "documents")), "html")
        .select(col("doc_id"), col("title"), col("html").as("text"))
        .orderBy(col("doc_id"))
    },

    // Anchor-density boilerplate scoring (jusText-lite link density, the
    // DOM-free leg): per structural line, the integer permille of visible
    // characters living inside <a> elements — nav/footer lines score
    // link-dense, body text link-sparse. One HOF pass over the line
    // array, zero shuffles, digit-exact in the oracle.
    "q110_anchor_density" -> { (s, d) =>
      import graft.functions.HtmlExtract
      injectLinkHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          explode(HtmlExtract.lineAnchorStats(col("html"))).as("ls"))
        .select(col("doc_id"), col("ls.line_idx").as("line_idx"),
          col("ls.n_chars").as("n_chars"),
          col("ls.anchor_permille").as("anchor_permille"))
        .orderBy(col("doc_id"), col("line_idx"))
    },

    // Extraction with the boilerplate gate applied: lines above 500‰
    // anchor density are dropped BEFORE tag stripping, then the standard
    // chain finishes — the nav/footer vanish, the body (with its one
    // inline link) survives. Byte-compared against the oracle's replay.
    "q111_drop_boilerplate" -> { (s, d) =>
      import graft.functions.HtmlExtract
      injectLinkHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          HtmlExtract.textDropBoilerplate(col("html"), 500).as("text"))
        .orderBy(col("doc_id"))
    },

    // URL canonicalization (C4/RefinedWeb crawl-entry normalization):
    // lowercase scheme+host, default port off, fragment off, query params
    // sorted, empty path → "/". Four cosmetic variants of each logical
    // page (by doc_id mod 4) must collapse to two canonical URLs per
    // group; the oracle replays every rule.
    "q112_url_canon" -> { (s, d) =>
      val u = injectUrls(table(s, d, "documents"))
      u.select(col("doc_id"), col("url"),
          graft.functions.UrlCanon.canonicalize(col("url")).as("url_canon"))
        .orderBy(col("doc_id"))
    },

    // URL-level keep-first dedup over the canonical form — the stage a
    // crawl runs BEFORE content extraction (dedup by URL, then by
    // content). Winner per canonical URL = least doc_id; deterministic
    // and partitioning-invariant.
    "q113_url_dedup" -> { (s, d) =>
      graft.functions.UrlCanon
        .dedupByUrl(injectUrls(table(s, d, "documents")), "url",
          Seq(col("doc_id")))
        .select(col("doc_id"), col("url_canon"))
        .orderBy(col("doc_id"))
    },

    // Unicode NFC normalization (the pre-tokenization cleanup CCNet/
    // Dolma run before hashing — composed and decomposed "café" must
    // dedup as one): the graft_unicode_norm codegen expression over the
    // fixture text with injected decomposed/ligature noise; DuckDB's
    // nfc_normalize replays UAX #15 byte for byte. `delta` counts the
    // codepoints composition removed.
    "q117_unicode_nfc" -> { (s, d) =>
      graft.sql.GraftFunctions.register(s)
      val noisy = table(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 \uFB01nal na\u0131\u0308ve")).as("t"))
      noisy.select(col("doc_id"),
          graft.sql.GraftFunctions.unicodeNorm(col("t"), "NFC").as("text"),
          (length(col("t")) -
            length(graft.sql.GraftFunctions.unicodeNorm(col("t"), "NFC")))
            .cast("int").as("delta"))
        .orderBy(col("doc_id"))
    },

    // CCNet hashing-normalization dedup (Wenzek 2020 §3.2): exact dedup
    // keyed on md5 of the NORMALIZED text (lowercase → NFD accent strip →
    // digits→0 → whitespace collapse), so case/accent/digit/spacing
    // variants of one document collapse to one key. The fixture injects a
    // variant per doc_id<100 (uppercased, re-spaced, different digits,
    // accent composed-vs-decomposed ACROSS ENGINES — Spark appends
    // decomposed e+U+0301 where the oracle appends precomposed é), so a
    // green row proves the two engines' normalization chains CONVERGE on
    // the same bytes, not merely that both ran.
    "q118_ccnet_dedup" -> { (s, d) =>
      graft.sql.GraftFunctions.register(s)
      val base = table(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" price 1984 cafe\u0301")).as("t"))
      val variants = table(s, d, "documents").filter(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")),
            lit(" PRICE  2042 CAF\u00c9")).as("t"))
      TextDedup.exactDupGroupsBy(base.unionByName(variants), "doc_id",
          TextOps.ccnetFingerprint(col("t")))
        .orderBy(col("fp"))
    },

    // Soft dedup (SoftDeDup, He et al. 2024): duplicates are down-weighted
    // (weight = 1/cluster-size), not dropped — same CCNet-normalized
    // fixture as q118, so doc_id<100 pairs carry weight 0.5 and singletons
    // 1.0. The weight is an exact rational of the integer cluster size,
    // so it rides the hash surface.
    "q125_soft_dedup" -> { (s, d) =>
      graft.sql.GraftFunctions.register(s)
      val base = table(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" price 1984 café")).as("t"))
      val variants = table(s, d, "documents").filter(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")),
            lit(" PRICE  2042 CAFÉ")).as("t"))
      TextDedup.softDedupWeights(base.unionByName(variants), "doc_id",
          TextOps.ccnetFingerprint(col("t")))
        .orderBy(col("doc_id"))
    },

    // Duplicate-cluster representative selection (the FineWeb keep
    // policy): connected components over the verified near-dup pair
    // graph, then keep the highest-quality member per cluster (n_chars,
    // ties to the smallest id) plus every unlinked doc — the
    // cluster-consistent, quality-aware upgrade of q38's per-pair
    // keep-smallest. One algebraic max(struct) per cluster, no window.
    "q119_cluster_keep_best" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      val pairs = TextDedup.nearDupPairs(docs, "doc_id", shingles, 16, 2, 0.5)
      TextDedup.clusterKeepBest(table(s, d, "documents"), "doc_id",
          graft.dedup.ConnectedComponents.runAuto(pairs), col("n_chars"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Per-domain corpus statistics: docs and chars per URL host — the
    // aggregate a crawl pipeline reads before choosing domain caps and
    // blocklists (C4's badlist sizing, RefinedWeb's head-domain audit).
    "q115_domain_stats" -> { (s, d) =>
      val u = injectDomainUrls(table(s, d, "documents"))
      u.groupBy(graft.functions.UrlCanon.host(col("url")).as("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("domain"))
    },

    // Per-domain document cap (RefinedWeb-style): at most 30 docs per
    // host, chosen by the q75 deterministic md5 rank — no domain floods
    // the corpus, and both engines pick the identical survivor set.
    "q116_domain_cap" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      val pipeline = dag(
        ss => injectDomainUrls(table(ss, d, "documents")),
        Seq(domainCap("url", "doc_id", 30L),
          stage("project")(_.select(col("doc_id"),
            graft.functions.UrlCanon.host(col("url")).as("domain")))),
        warehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft_q116_unused")
      run(s, pipeline, "project").orderBy(col("doc_id"))
    },

    // Temperature-reweighted mixture (XLM-R α-sampling / Pile-style
    // source weighting) at α = 0.5: shares ∝ sqrt(n_g), weights quantized
    // to exact integers so share arithmetic replays bit-for-bit; the
    // selection is the same deterministic md5 rank as q75.
    "q106_temperature_mix" -> { (s, d) =>
      graft.operators.DataMix.sampleToTemperatureMix(
          table(s, d, "documents").select(col("doc_id"), col("source")),
          "source", col("doc_id"), alpha = 0.5, totalRows = 300L)
        .orderBy(col("doc_id"))
    },

    // CCNet-style perplexity bucketing (head/middle/tail): bigram-LM OOV
    // evidence from the src0 reference model, integer permille rate, and
    // exact-percentile tertile thresholds — Quality.percentileBuckets
    // assigns the bucket with a comparison battery, no corpus sort.
    "q107_ccnet_buckets" -> { (s, d) =>
      import graft.functions.{NgramLm, TextOps}
      val docs = table(s, d, "documents")
      val model = NgramLm.fit(docs.filter(col("source") === "src0"),
        TextOps.tokens(col("text")), cache = false)
      val scored = NgramLm.scoreDocs(docs.filter(col("source") =!= "src0"),
          "doc_id", TextOps.tokens(col("text")), model)
        .withColumn("oov_permille",
          when(col("n_bigrams") > 0,
            expr("(n_oov * 1000) div n_bigrams").cast("int")))
      graft.operators.Quality.percentileBuckets(
          scored, col("oov_permille"), 3)
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          col("oov_permille"), col("bucket").cast("int").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // Bloom-prefiltered blocklist anti join: src0's n_chars values act as
    // the blocklist; the corpus pays the exact anti join only on the
    // maybe-matching slice. Results are exact (oracle = plain NOT EXISTS).
    "q76_bloom_blocklist" -> { (s, d) =>
      val docs = table(s, d, "documents")
      graft.operators.BloomPrefilter.antiJoin(
          docs.filter(col("source") =!= "src0").select(col("doc_id"), col("n_chars")),
          col("n_chars"),
          docs.filter(col("source") === "src0").select(col("n_chars")),
          col("n_chars"), expectedItems = 100L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Context-window chunking: 32-token windows, 8-token overlap —
    // sequence+posexplode dataflow, linear in corpus tokens.
    "q79_chunk" -> { (s, d) =>
      Chunking.chunkTokens(tokenized(s, d), "doc_id", col("__toks"), 32, 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Incremental dedup of a new batch (odd ids) against the existing
    // corpus's signature index (even ids): LSH candidates verified by
    // minhash-signature agreement — the index stores k longs per doc, the
    // old corpus text is never rescanned. Threshold 0.5 = 8/16 agreeing
    // permutations.
    "q80_incremental_dedup" -> { (s, d) =>
      val docs = tokenized(s, d, shingleN)
      val shingles = TextOps.wordShingles(col("__toks"), shingleN)
      val indexSigs = TextDedup.minhashSignatures(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", shingles, 16)
      TextDedup.dedupAgainstIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", shingles,
          indexSigs, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // BM25 keyword relevance: the oracle checks every rational piece
    // (tf, dl, idf_arg, tf_factor — pure IEEE +,-,*,/ which both engines
    // round identically; constants CAST AS DOUBLE so DuckDB never routes
    // through decimal arithmetic). The final ln(idf_arg)·tf_factor stays
    // OUT of the hash: libm logs differ in the last ulp across engines
    // (measured 74/1168 rows) — the log application and the summed top-k
    // are exact-checked in Bm25Spec instead.
    "q81_bm25" -> { (s, d) =>
      Bm25.termComponents(tokenized(s, d), "doc_id", col("__toks"),
          Seq("stream", "table", "query"))
        .orderBy(col("doc_id"), col("term"))
    },

    // Quantile-threshold corpus pruning: keep docs inside the exact
    // p10..p90 of n_chars (one percentile aggregate, broadcast back — the
    // score-based trim after quality scoring).
    "q84_quantile_trim" -> { (s, d) =>
      graft.operators.Quality.trimOutliers(
          table(s, d, "documents").select(col("doc_id"), col("n_chars")),
          col("n_chars"), 0.1, 0.9)
        .orderBy(col("doc_id"))
    },

    // Bigram-LM quality scoring (CCNet-style): model fitted on src0 as the
    // trusted reference, every other doc scored against it. The oracle
    // hash-checks the exact integer evidence (bigram/OOV counts, count
    // sums — the full fit+join dataflow); the ln-based ll_mean is
    // libm-specific (see q81) and is exact-checked in NgramLmSpec.
    "q87_lm_score" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("__toks"))
      // cache=false: this query fn has no post-materialization hook to
      // unpersist, and bench reps would otherwise accumulate cached tables
      val m = NgramLm.fit(docs.filter(col("source") === "src0"), col("__toks"),
        cache = false)
      NgramLm.scoreDocs(docs.filter(col("source") =!= "src0"), "doc_id",
          col("__toks"), m)
        .drop("ll_mean")
        .orderBy(col("doc_id"))
    },

    // Exact heavy hitters over the token stream (Misra-Gries candidates,
    // tree-merged, then exact verify of <= capacity keys): tokens with
    // frequency > N/51. The sketch only routes — output is exact, so it
    // hash-checks against a plain HAVING in DuckDB.
    "q88_heavy_hitters" -> { (s, d) =>
      val toks = tokenized(s, d).select(explode(col("__toks")).as("tok"))
      graft.functions.ApproxStats.heavyHitters(toks, col("tok"), capacity = 50)
        .orderBy(col("key"))
    },

    // Set operations (SURVEY §2.7 noted INTERSECT/EXCEPT as free Spark
    // capabilities — exposed on the oracle surface): sources that publish
    // in both en and de, and en-only sources.
    "q86_set_ops" -> { (s, d) =>
      val docs = table(s, d, "documents")
      val en = docs.filter(col("lang") === "en").select(col("source"))
      val de = docs.filter(col("lang") === "de").select(col("source"))
      en.intersect(de).withColumn("op", lit("both"))
        .unionByName(en.except(de).withColumn("op", lit("en_only")))
        .orderBy(col("op"), col("source"))
    },

    // Real BPE tokenizer (Sennrich 2016), fit on src0 and applied to every
    // other doc. The oracle hash-checks LOSSLESSNESS of the full
    // fit+encode+detokenize path (detok must equal the whitespace-
    // normalized text — any dropped/altered character fails); token counts
    // ride along for the rows check, and merge-structure correctness is
    // spec-land (BpeSpec's hand-computed merges). n_tokens is excluded
    // from the oracle projection because BPE itself is not
    // SQL-expressible.
    "q91_bpe_detok" -> { (s, d) =>
      val docs = table(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
      val m = graft.functions.Bpe.fit(
        docs.filter(col("source") === "src0"), col("text"), numMerges = 200)
      val rest = docs.filter(col("source") =!= "src0")
      graft.functions.Bpe.encode(rest, "doc_id", "text", m)
        .select(col("doc_id"), graft.functions.Bpe.detokenize(col("tokens")).as("detok"))
        .orderBy(col("doc_id"))
    },

    // PII scrub (CCNet/Dolma stage). The fixture corpus carries no PII, so
    // the query INJECTS deterministic PII per doc — email always, phone
    // when id%3!=0, ip when id%2=0 — with the identical string built
    // independently in the oracle SQL; detection counts and the redacted
    // text then hash-check the regex semantics across engines byte for
    // byte (the patterns stay in the Java-regex ∩ RE2 subset for exactly
    // this reason).
    "q92_pii_redact" -> { (s, d) =>
      import graft.functions.Pii
      val id = col("doc_id")
      injectPii(table(s, d, "documents"))
        .select(id +: Pii.counts(col("t")) :+
          Pii.redact(col("t")).as("redacted"): _*)
        .orderBy(id)
    },

    // Corpus-level exact line dedup (Dolma's paragraph dedup): 8-token
    // chunks stand in for lines (the fixture has no newlines); a chunk
    // survives only at its first (doc_id, pos) occurrence corpus-wide,
    // then docs are rebuilt from survivors. First-occurrence selection is
    // a partial-aggregated groupBy(line) min(struct) — skew-safe against
    // boilerplate lines present in every doc.
    "q93_line_dedup" -> { (s, d) =>
      val chunks = graft.functions.Chunking.chunkTokens(
          tokenized(s, d), "doc_id", col("__toks"), 8, 0)
        .select(col("doc_id"), col("chunk_idx").as("pos"),
          col("chunk_text").as("line"))
      graft.dedup.LineDedup.dropDuplicateLines(chunks, "doc_id", "pos", "line")
        .orderBy(col("doc_id"))
    },

    // CCNet normalized line dedup (q93 under the q118 key): lines dedup
    // by their HASH-NORMALIZED form, so case/digit/spacing variants of a
    // boilerplate line count as copies — the fixture uppercases every
    // odd-doc line, which raw line dedup (q93) treats as distinct — while
    // each surviving first occurrence keeps its original bytes in the
    // rebuilt document.
    "q120_ccnet_line_dedup" -> { (s, d) =>
      graft.sql.GraftFunctions.register(s)
      val chunks = graft.functions.Chunking.chunkTokens(
          tokenized(s, d), "doc_id", col("__toks"), 8, 0)
        .select(col("doc_id"), col("chunk_idx").as("pos"),
          when(col("doc_id") % 2 === 1, upper(col("chunk_text")))
            .otherwise(col("chunk_text")).as("line"))
      graft.dedup.LineDedup.dropDuplicateLinesBy(chunks, "doc_id", "pos",
          "line", TextOps.ccnetFingerprint(col("line")))
        .orderBy(col("doc_id"))
    },

    // Exact duplicated-substring removal (Lee et al. 2021): any 8-token
    // gram seen earlier in the corpus — at ANY alignment, mid-document —
    // marks its span; covered tokens are dropped and docs rebuilt. The
    // complement of q93: line dedup only catches chunk-aligned reuse.
    "q94_span_dedup" -> { (s, d) =>
      graft.dedup.SpanDedup.removeDuplicateSpans(
          tokenized(s, d), "doc_id", col("__toks"), 8)
        .orderBy(col("doc_id"))
    },

    // Count-Min sketch: depth-4 × width-256 counters over the token
    // stream (ONE shuffle with a constant key space — the key universe
    // never shuffles), probed for the exact heavy hitters. est >= cnt
    // always; both engines replay the counters bit-for-bit.
    "q102_countmin" -> { (s, d) =>
      import graft.functions.CountMin
      val tok = table(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("k"))
      val sk = CountMin.sketch(tok, col("k"), 4, 256)
      val cnts = tok.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val hh = cnts.crossJoin(broadcast(tok.agg(count(lit(1)).as("nn"))))
        .filter(col("cnt") * 51 > col("nn")).select(col("k"), col("cnt"))
      CountMin.estimate(sk, hh, "k")
        .join(hh, Seq("k"))
        .select(col("k").as("key"), col("est"), col("cnt"))
        .orderBy(col("key"))
    },

    // Fixed-length example packing (the GPT "concatenate and chunk"
    // layout): the corpus token stream in doc_id order cut into exactly
    // 512-token examples, documents split across boundaries — the span
    // table (doc, example, offsets, len) a shard writer consumes.
    "q101_example_pack" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      graft.operators.ExamplePack.packExamples(
          docs, "doc_id", col("n_tokens"), 512L, "doc_id")
        .orderBy(col("doc_id"), col("example_id"))
    },

    // Rolling-hash fingerprinting by winnowing (MOSS): char-8-gram md5
    // hashes, window-of-4 minimum selection — any shared substring of
    // length >= 11 between two docs shares a fingerprint, at ~2/5 of the
    // gram-hash storage. Selection replayed bit-exactly by the oracle.
    "q100_winnow_fingerprints" -> { (s, d) =>
      graft.functions.Winnowing.fingerprints(
          table(s, d, "documents"), "doc_id", "text", k = 8, w = 4)
        .orderBy(col("doc_id"), col("pos"))
    },

    // End-to-end corpus assembly — the composed last mile a pre-training
    // pipeline actually runs: PII-injected raw docs → Gopher quality gate
    // → PII redaction → token count → seeded shuffle → token-budget
    // shards. Every stage is an already-oracle-checked operator; this
    // checks the COMPOSITION end to end.
    // Composed through the declared-stage CorpusPipeline registry (the
    // q99 wiring as named stages — same operators, same plan; parity with
    // the hand-wired form pinned in CorpusPipelineSpec).
    "q99_corpus_assembly" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      val pipeline = dag(
        ss => injectPii(table(ss, d, "documents")),
        corpusAssemblyStages,
        warehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft_q99_unused")
      run(s, pipeline, "shuffle_shards")
        .select(col("doc_id"), col("n_tokens"), col("shuffle_key"),
          col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // JSONL source/sink round-trip (the LLM-corpus interchange format):
    // write the documents table as line-delimited JSON, read it back with
    // an explicit schema, and prove the round-trip lossless against the
    // parquet original — text escaping, unicode, and bigints included.
    "q98_jsonl_roundtrip" -> { (s, d) =>
      val docs = table(s, d, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      graft.sources.Jsonl.write(docs, s"$tmp/documents", shards = 4)
      graft.sources.Jsonl.read(s, s"$tmp/documents", docs.schema)
        .drop("_corrupt_record")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Seeded deterministic corpus shuffle → token-budget shard packing:
    // the training-order assembly step (break source locality, then pack).
    // The md5 permutation and the two-level exact prefix sum are both
    // engine-reproducible, so shard contents are bit-stable.
    "q97_shuffled_shards" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      graft.operators.CorpusShuffle.shuffledShards(
          docs, "doc_id", col("n_tokens"), "s5", 500L)
        .select(col("doc_id"), col("shuffle_key"), col("n_tokens"),
          col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // Gopher quality-rule battery (Rae et al. 2021 App. A): per-doc
    // metrics + keep, every ratio rule as integer cross-multiplication —
    // the standard pre-training filter, bit-exact in any engine.
    "q95_gopher_rules" -> { (s, d) =>
      graft.functions.GopherQuality.metrics(
          table(s, d, "documents"), "doc_id", "text", minStopwords = 1)
        .orderBy(col("doc_id"))
    },

    // Epoch-aware data order: CorpusShuffle(seed=epoch) composed with
    // ExamplePack — each training epoch lays the SAME token stream out in
    // a fresh seeded permutation and re-chunks it, so examples differ per
    // epoch while the token multiset is conserved (property spec'd in
    // EpochPackSpec; the composition is replayed here by the oracle).
    "q103_epoch_pack" -> { (s, d) =>
      import graft.operators.{CorpusShuffle, ExamplePack}
      val docs = table(s, d, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      Seq("epoch1", "epoch2").map { ep =>
        ExamplePack.packExamples(
            docs.withColumn("k", CorpusShuffle.shuffleKey(ep, col("doc_id"))),
            "doc_id", col("n_tokens"), 512L, "k", tieBreak = Seq(col("doc_id")))
          .withColumn("epoch", lit(ep))
      }.reduce(_ unionByName _)
        .select(col("epoch"), col("doc_id"), col("example_id"),
          col("off_in_doc"), col("off_in_example"), col("len"))
        .orderBy(col("epoch"), col("doc_id"), col("example_id"))
    },

    // The corpus assembly with the LEARNED gate swapped in for the rule
    // battery: classifier gate (pure filter over the Gopher metric
    // expressions, fixed plan-constant weights) → redact → count →
    // shuffle → shard, all through the CorpusPipeline registry. Proves
    // gates are interchangeable stages AND the margin filter composes
    // end-to-end under the oracle.
    "q105_classifier_assembly" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      val pipeline = dag(
        ss => injectPii(table(ss, d, "documents")),
        Seq(
          classifierGate("t", classifierFixedModel),
          piiRedact("t"),
          tokenCount("t"),
          stage("project")(_.select(col("doc_id"), col("n_tokens"))),
          shuffleShards("doc_id", "c6", 2000L)),
        warehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft_q105_unused")
      run(s, pipeline, "shuffle_shards")
        .select(col("doc_id"), col("n_tokens"), col("shuffle_key"),
          col("shard_id"))
        .orderBy(col("doc_id"))
    },

    // Two-pass classifier assembly: the classifier_score registry stage
    // with an AGGREGATION feature (top_gram_frac — per-doc gram argmax,
    // inexpressible in classifierGate's single-pass filter) in the fixed
    // model, then token count + projection. featurize → margin → left-semi
    // keep; the oracle replays the feature aggregations, the left-to-right
    // double margin, and the gate.
    "q114_twopass_assembly" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      val pipeline = dag(
        ss => table(ss, d, "documents").select(col("doc_id"), col("text")),
        Seq(
          classifierScore("doc_id", "text", twoPassFixedModel),
          tokenCount("text"),
          stage("project")(_.select(col("doc_id"), col("n_tokens")))),
        warehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft_q114_unused")
      run(s, pipeline, "project").orderBy(col("doc_id"))
    },

    // Learned quality classifier serving path (CCNet-style third leg):
    // the linear margin over the integer Gopher metrics with FIXED
    // plan-constant weights (the q82 technique — training determinism is
    // spec territory, serving arithmetic is oracle territory). Left-to-
    // right association makes the double margin bit-identical in any
    // IEEE engine; keep thresholds the margin, so no transcendental.
    "q104_quality_classifier" -> { (s, d) =>
      import graft.features.QualityClassifier
      val feats = graft.functions.GopherQuality.metrics(
        table(s, d, "documents"), "doc_id", "text").drop("keep")
      QualityClassifier.score(feats, classifierFixedModel)
        .select(col("doc_id"), col("z"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // DSIR importance evidence (Xie 2023): hashed unigram+bigram buckets
    // (48-bit md5 prefix mod 8192 — engine-replayable), target model fit
    // on src0, raw model on everything else; the oracle checks the exact
    // integer evidence per doc (feature count, target-OOV count, summed
    // target/raw bucket counts) — the logw composition is ln/libm
    // territory and stays off the hash surface (q87 precedent).
    "q121_dsir_evidence" -> { (s, d) =>
      import graft.operators.Dsir
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.tokens(col("text")).as("__toks"))
      // cache=false: query fns have no post-materialization unpersist hook
      // (NgramLm.fit precedent) — bench reps must not accumulate cached
      // model tables in the block-manager
      val tgt = Dsir.fit(docs.filter(col("source") === "src0"), col("__toks"),
        cache = false)
      // fitRawAndScore: ONE feature-hash pass fits the raw model and
      // scores (round 15, guide §2.3) — value-identical to fit+scoreDocs
      Dsir.fitRawAndScore(docs.filter(col("source") =!= "src0"), "doc_id",
          col("__toks"), tgt)._2
        .drop("logw")
        .orderBy(col("doc_id"))
    },

    // DSIR selection: deterministic Gumbel-top-k over the importance
    // weights (the without-replacement sample ∝ softmax(logw)). The
    // OUTPUT is integer-only (doc ids + evidence); the oracle replays
    // logw + the md5-derived Gumbel noise — selection boundaries sit
    // many orders of magnitude above libm's last-ulp ln spread, so the
    // chosen SET hash-matches even where logw's 16th digit wouldn't.
    "q122_dsir_select" -> { (s, d) =>
      import graft.operators.Dsir
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.tokens(col("text")).as("__toks"))
      // cache=false: query fns have no post-materialization unpersist hook
      // (NgramLm.fit precedent) — bench reps must not accumulate cached
      // model tables in the block-manager
      val tgt = Dsir.fit(docs.filter(col("source") === "src0"), col("__toks"),
        cache = false)
      // fitRawAndScore: ONE feature-hash pass fits the raw model and
      // scores (round 15, guide §2.3) — value-identical to fit+scoreDocs
      val (_, scored) = Dsir.fitRawAndScore(
        docs.filter(col("source") =!= "src0"), "doc_id", col("__toks"), tgt)
      Dsir.gumbelTopK(scored, "doc_id", 200)
        .select(col("doc_id"), col("n_feats"), col("n_oov_t"))
        .orderBy(col("doc_id"))
    },

    // Shard release manifest over the q97 shuffled shards: per-shard row
    // count, exact token sum, and the order-independent bit_xor content
    // fingerprint — the integrity record a data release ships. Every
    // column integer-exact; both engines replay the identical md5
    // arithmetic, so the manifest itself hash-checks.
    "q132_shard_manifest" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      val shards = graft.operators.CorpusShuffle.shuffledShards(
        docs, "doc_id", col("n_tokens"), "s5", 500L)
      graft.operators.ShardPack.manifest(shards, "shard_id", "doc_id",
          col("n_tokens"))
        .orderBy(col("shard_id"))
    },

    // Recipe selection end-to-end: the q136 epoch plan DRIVES an actual
    // per-language deterministic draw — docs taken in md5-hash order
    // until each language's planned token budget is consumed (a source
    // whose plan caps below 1 epoch contributes a strict subset; the
    // windows are per-language, partitioned and spillable). The report
    // row per language carries the plan vs what the draw realized —
    // all exact integers, the whole recipe replayable by any engine.
    "q142_recipe_selection" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents").select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val counts = docs.groupBy(col("lang")).agg(sum(col("n_toks")).as("n_tokens"))
      val plan = graft.operators.DataMix.epochPlan(counts, "lang", alpha = 0.5,
          budgetTokens = 15000L, maxEpochsE6 = 600000L)
        .select(col("lang"), col("planned_tokens"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("r|"), col("doc_id").cast("string"))), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(plan), Seq("lang"))
        .withColumn("__cum", sum(col("n_toks")).over(w))
        .filter(col("__cum") <= col("planned_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("sel_tokens"),
          max(col("planned_tokens")).as("planned_tokens"))
        .orderBy(col("lang"))
    },

    // Deep-graph connected components: a 25-deep chain per source (250 at
    // bench sf) — the regime plain hash-min label propagation cannot
    // finish inside the iteration guard (diameter rounds) and the
    // pointer-jumping shortcut converges in O(log diameter). Expected
    // labels are each source's min doc_id, which DuckDB states directly.
    "q141_deep_components" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val edges = table(s, d, "documents")
        .select(col("doc_id").as("a"), lag(col("doc_id"), 1).over(w).as("b"))
        .filter(col("b").isNotNull)
      graft.dedup.ConnectedComponents.runAuto(edges, maxIter = 30)
        .orderBy(col("node"))
    },

    // EXACT Jaccard set-similarity self-join by prefix filtering
    // (AllPairs/PPJoin, Bayardo 2007): all doc pairs with 4-shingle-set
    // Jaccard >= 1/2, no all-pairs comparison, every filter integer
    // cross-multiplied. The oracle deliberately uses the NAIVE
    // shared-shingle all-pairs formulation — agreement proves the
    // prefix optimization drops nothing on real data. The exact scale
    // path beside q34 (all-pairs baseline) and q37/q38 (LSH).
    "q175_setsim_join" -> { (s, d) =>
      val sh = tokenized(s, d).select(col("doc_id"),
        TextOps.wordShingles(col("__toks"), 4).as("sh"))
      graft.dedup.SetSimJoin.selfJoin(sh, "doc_id", col("sh"), 1L, 2L)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Deterministic weighted corpus subsampling by PRIORITY SAMPLING
    // (Duffield-Lund-Thorup 2007): q = w/u with u an exact md5-dyadic
    // rational, top-k by q, per-row unbiased subset-sum estimate
    // max(w, tau) — the size-biased sampler a data-recipe prototype uses
    // to subsample by length/token count and still report calibrated
    // totals. ONE bounded TakeOrdered (k+1 rows), never a full sort; the
    // only float ops are correctly-rounded divisions, so the whole
    // sample including tau hash-replays.
    "q174_priority_sample" -> { (s, d) =>
      graft.operators.PrioritySample.sample(
        table(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 200, salt = "ps8")
    },

    // Doc-level release changelog: corpus v2 = v1 minus short docs
    // (removed), with every 7th doc's text revised (changed), plus five
    // re-ingested docs under new ids (added); the full-outer fingerprint
    // compare emits exactly the delta — the row-granular companion of
    // q135's shard-level diff.
    "q140_doc_changelog" -> { (s, d) =>
      val docs = table(s, d, "documents")
      val a = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val v2 = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" [v2]"))).otherwise(col("text"))
      val b = docs.filter(col("n_chars") >= 100)
        .select(col("doc_id"), TextOps.fingerprint(v2).as("fp"))
        .unionByName(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            TextOps.fingerprint(col("text")).as("fp")))
      graft.operators.CorpusAudit.docDiff(a, b, "doc_id", "fp")
        .orderBy(col("doc_id"))
    },

    // Tokenizer fertility per language: subword-proxy tokens per
    // whitespace word (the multilingual-tokenizer health metric — a
    // language whose fertility is 2x English pays 2x context for the
    // same text; data recipes budget tokens, so fertility feeds q136's
    // planner). One grouped aggregation of two exact integer counts +
    // one IEEE division.
    "q137_fertility" -> { (s, d) =>
      table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(TextOps.tokens(col("text")))).cast("long").as("n_words"),
          sum(TextOps.bpeTokenCount(col("text"))).cast("long").as("n_subtokens"))
        .withColumn("fertility",
          col("n_subtokens").cast("double") / col("n_words"))
        .orderBy(col("lang"))
    },

    // Per-source score calibration: percent_rank of the learned-quality
    // margin inside each source — the cross-source-comparable form of
    // q104's raw margin (a single global threshold keeps all of one
    // source and none of another). Total order via (z, doc_id), so the
    // rank and its one-division percentile are engine-exact.
    "q138_score_calibration" -> { (s, d) =>
      import graft.features.QualityClassifier
      import graft.functions.GopherQuality
      val docs = table(s, d, "documents")
      val feats = GopherQuality.metrics(docs, "doc_id", "text")
      val z = QualityClassifier.score(feats.drop("keep"), classifierFixedModel)
      val base = docs.select(col("doc_id"), col("source"))
        .join(z.select(col("doc_id"), col("z")), Seq("doc_id"))
      graft.operators.Quality.percentileCalibrate(base, "source", col("z"),
          Seq(col("doc_id")))
        .select(col("doc_id"), col("source"), col("z"), col("pr"))
        .orderBy(col("doc_id"))
    },

    // Token-budget epoch plan: temperature shares over per-language token
    // mass (α=0.5 upsamples small languages), fractional epochs in 1e-6
    // fixed point against a 40k-token budget, capped at 1.5 epochs — the
    // "passes per source" table of a pre-training data recipe. en lands
    // under the cap, the four small languages hit it.
    "q136_epoch_plan" -> { (s, d) =>
      val counts = table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(TextOps.tokens(col("text")))).cast("long").as("n_tokens"))
      graft.operators.DataMix.epochPlan(counts, "lang", alpha = 0.5,
          budgetTokens = 40000L, maxEpochsE6 = 1500000L)
        .orderBy(col("lang"))
    },

    // Release diff over shard manifests: release A = every doc, release B =
    // the same pipeline after a length-cap policy change (n_chars < 300).
    // Shards repack from the first dropped doc onward, so the diff reads
    // unchanged... then changed... then removed — the incremental-release
    // validation a consumer runs to re-download only what moved. Integer/
    // string-exact end to end.
    "q135_release_diff" -> { (s, d) =>
      import graft.operators.{CorpusShuffle, ShardPack}
      def release(docs: DataFrame) = {
        val t = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        ShardPack.manifest(
          CorpusShuffle.shuffledShards(t, "doc_id", col("n_tokens"), "s5", 500L),
          "shard_id", "doc_id", col("n_tokens"))
      }
      val docs = table(s, d, "documents")
      ShardPack.releaseDiff(release(docs), release(docs.filter(col("n_chars") < 300)))
        .orderBy(col("shard_id"))
    },

    // Cross-source overlap matrix: distinct word-8-grams shared per source
    // pair + containment/Jaccard — the release audit that catches mixture
    // double-counting before weights are set. Pair space bounded by
    // |sources|², never corpus volume (distinct-collapsed before the
    // gram join); similarities are single IEEE divisions of exact longs,
    // so the whole matrix hash-checks.
    "q133_overlap_matrix" -> { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("__toks"))
      graft.operators.CorpusAudit.overlapMatrix(docs, "source",
          TextOps.wordShingles(col("__toks"), 8))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Corpus data card: the per-(source, lang) datasheet a pipeline
    // publishes with a training set — doc/token volume, exact-dup
    // uniqueness, Gopher keep rate, mean learned-quality margin. Every
    // cell is an exact integer or a decimal-summed double of exact
    // per-row values, so the whole card hash-checks.
    "q130_data_card" -> { (s, d) =>
      import graft.features.QualityClassifier
      import graft.functions.GopherQuality
      val docs = table(s, d, "documents")
      val feats = GopherQuality.metrics(docs, "doc_id", "text")
      val z = QualityClassifier.score(feats.drop("keep"), classifierFixedModel)
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
        TextOps.fingerprint(col("text")).as("fp"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      base
        .join(feats.select(col("doc_id"), col("keep")), Seq("doc_id"))
        .join(z.select(col("doc_id"), col("z")), Seq("doc_id"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("sum_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          (dsum(col("z"), 6) / count(lit(1))).as("mean_z"))
        .orderBy(col("source"), col("lang"))
    },

    // HyperLogLog register table over the doc keys — the mergeable
    // distinct-count sketch (rolling-crawl "unique fingerprints so far"
    // without rescanning history). Bucket + rho are pure integer
    // functions of md5 bits (comparison-ladder rho, no log2/float), so
    // the ENTIRE sketch artifact hash-checks; the harmonic estimate is
    // float-land and stays spec-checked (HllSpec), the Dsir-logw split.
    "q129_hll_registers" -> { (s, d) =>
      graft.functions.Hll.registers(table(s, d, "documents"), col("doc_id"))
        .orderBy(col("bucket"))
    },

    // Unicode-script census (the zero-model triage before n-gram
    // language-ID): per-doc counts for 7 script classes + digits + the
    // argmax script, over text with one non-Latin phrase injected per
    // doc_id%6 class. All-integer outputs; Java spells scripts \p{IsXxx}
    // where RE2/DuckDB spells \p{Xxx} — same Unicode property, so the
    // oracle replays every count.
    "q126_script_profile" -> { (s, d) =>
      val suffix = scriptNoise.zipWithIndex.tail.foldLeft(
        when(col("doc_id") % 6 === 0, lit(scriptNoise.head))) {
        case (acc, (txt, i)) => acc.when(col("doc_id") % 6 === i, lit(txt))
      }
      val noisy = table(s, d, "documents")
        .select(col("doc_id"), concat(col("text"), suffix).as("t"))
      LangId.scriptProfile(noisy, "doc_id", "t")
        .orderBy(col("doc_id"))
    },

    // Quality-signal rank fusion: the engine's three cheap quality
    // selectors (learned-classifier margin, CCNet bigram-OOV rate,
    // stopword density) each rank the non-src0 corpus best-first; RRF
    // aggregates the three rankings into one curation order — rank
    // aggregation sidesteps the scale mismatch between heterogeneous
    // signals (a margin, a permille, a ratio), the same reason hybrid
    // search fuses ranks not scores. Every leg's ordering key is exact
    // (double-from-integers or integer), so the whole query — including
    // the fused score — hash-checks.
    "q127_quality_fusion" -> { (s, d) =>
      import graft.features.QualityClassifier
      import graft.rank.Rrf
      val docs = table(s, d, "documents").filter(col("source") =!= "src0")
      val legA0 = QualityClassifier.score(
          graft.functions.GopherQuality.metrics(docs, "doc_id", "text")
            .drop("keep"), classifierFixedModel)
        .select(col("doc_id"), col("z"))
      val legA = Rrf.rankBy(
        legA0.orderBy(col("z").desc, col("doc_id")).limit(200),
        Seq(col("z").desc, col("doc_id")))
      val toks = table(s, d, "documents")
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("__toks"))
      val m = NgramLm.fit(toks.filter(col("source") === "src0"), col("__toks"),
        cache = false)
      val legB0 = NgramLm.scoreDocs(toks.filter(col("source") =!= "src0"),
          "doc_id", col("__toks"), m)
        .filter(col("n_bigrams") > 0)
        .withColumn("op", expr("(n_oov * 1000) div n_bigrams").cast("int"))
        .select(col("doc_id"), col("op"))
      val legB = Rrf.rankBy(
        legB0.orderBy(col("op").asc, col("doc_id")).limit(200),
        Seq(col("op").asc, col("doc_id")))
      val legC0 = toks.filter(col("source") =!= "src0")
        .select(col("doc_id"),
          TextOps.stopwordRatio(col("__toks"), Seq("the", "a")).as("sw"))
      val legC = Rrf.rankBy(
        legC0.orderBy(col("sw").desc, col("doc_id")).limit(200),
        Seq(col("sw").desc, col("doc_id")))
      Rrf.fuseTopK(Seq(legA, legB, legC), "doc_id", "rank", 100)
        .select(col("doc_id"), col("rank_0").as("clf_rank"),
          col("rank_1").as("oov_rank"), col("rank_2").as("stop_rank"),
          col("rrf"))
        .orderBy(col("doc_id"))
    },

    // DSIR through the registry: quality gate → dsir_select (target model
    // fit on src0, raw model fit ON THE GATED SLICE — the stage contract)
    // → token count → projection. The oracle replays the gate, both model
    // fits, logw + Gumbel selection, and the count — the full q122
    // machinery composed over a derived corpus.
    "q128_dsir_assembly" -> { (s, d) =>
      import graft.operators.CorpusPipeline._
      import graft.operators.Dsir
      val target = Dsir.fit(
        table(s, d, "documents").filter(col("source") === "src0")
          .select(TextOps.tokens(col("text")).as("__toks")),
        col("__toks"), cache = false)
      val pipeline = dag(
        ss => table(ss, d, "documents").filter(col("source") =!= "src0"),
        Seq(
          qualityGate("text", minStopwords = 1),
          dsirSelect("doc_id", "text", target, 150),
          tokenCount("text"),
          stage("project")(_.select(col("doc_id"), col("n_tokens")))),
        warehouseDir = s"${System.getProperty("java.io.tmpdir")}/graft_q128_unused")
      run(s, pipeline, "project").orderBy(col("doc_id"))
    },

    // TF-IDF distinctive terms: top-3 per doc by tf·ln(N/df) — corpus
    // inspection's "what is this document about". Integers + the term on
    // the hash surface; the ln only orders (exact-tie docs tie in BOTH
    // engines since tf/df/N are integers, and ties break on term).
    "q124_top_terms" -> { (s, d) =>
      graft.functions.TfIdf.topTermsPerDoc(tokenized(s, d), "doc_id",
          col("__toks"), 3)
        .select(col("doc_id"), col("rk").cast("int").as("rk"), col("term"),
          col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rk"))
    })

  /** The q99 assembly as declared stages (quality gate on the raw text →
    * PII redact → token count → narrow projection → seeded shuffle/shard)
    * — shared by the oracle query and CorpusPipelineSpec's parity test. */
  val corpusAssemblyStages: Seq[graft.operators.CorpusPipeline.Stage] = {
    import graft.operators.CorpusPipeline._
    Seq(
      qualityGate("t", minStopwords = 1),
      piiRedact("t"),
      tokenCount("t"),
      stage("project")(_.select(col("doc_id"), col("n_tokens"))),
      shuffleShards("doc_id", "s5", 2000L))
  }

  /** The q104 plan-constant classifier: one definition feeds BOTH the
    * Spark query and the DuckDB mirror, so the weights cannot drift. */
  private val classifierFixedWeights: Seq[(String, String)] = Seq(
    "n_words" -> "0.01", "total_len" -> "-0.001", "n_alpha" -> "0.01",
    "n_sym" -> "-0.5", "n_lines" -> "-0.05", "n_bullet" -> "-0.3",
    "n_ellipsis" -> "-0.3", "n_stop" -> "0.5")
  private val classifierFixedIntercept = "-1.0"

  private lazy val classifierFixedModel =
    graft.features.QualityClassifier.Model(
      classifierFixedWeights.map(_._1),
      classifierFixedWeights.map(_._2.toDouble).toArray,
      classifierFixedIntercept.toDouble)

  /** The same margin in DuckDB, same association order; string weights
    * CAST from VARCHAR so DuckDB does not type them DECIMAL. */
  private def classifierMarginSql: String =
    classifierFixedWeights.foldLeft(
      s"CAST('$classifierFixedIntercept' AS DOUBLE)") {
      case (acc, (name, w)) => s"$acc + CAST('$w' AS DOUBLE) * $name"
    }

  /** The q114 two-pass fixed model: one aggregation feature
    * (top_gram_frac) among the single-pass ones — the case classifierGate
    * cannot serve. One definition feeds both engines. */
  private val twoPassFixedWeights: Seq[(String, String)] = Seq(
    "n_words" -> "0.005", "n_stop" -> "0.2", "top_gram_frac" -> "-15.0")
  private val twoPassFixedIntercept = "-2.0"

  private lazy val twoPassFixedModel =
    graft.features.QualityClassifier.Model(
      twoPassFixedWeights.map(_._1),
      twoPassFixedWeights.map(_._2.toDouble).toArray,
      twoPassFixedIntercept.toDouble)

  private def twoPassMarginSql: String =
    twoPassFixedWeights.foldLeft(
      s"CAST('$twoPassFixedIntercept' AS DOUBLE)") {
      case (acc, (name, w)) => s"$acc + CAST('$w' AS DOUBLE) * $name"
    }

  /** Base 32-bit shingle hash (first 8 md5 hex chars; hex4Sql from
    * QueryHelpers — ONE copy of the md5-digit parity contract) — mirrors
    * TextDedup.minhashSignatures. */
  private val baseHashSql =
    s"(${hex4Sql("m", 0)} * 65536 + ${hex4Sql("m", 4)})"

  private def sigSql(i: Int, alias: String): String = {
    val (a, b) = TextDedup.minhashCoefficients(16)(i)
    s"MIN((H * $a + $b) % ${TextDedup.MinhashPrime}) AS $alias"
  }

  /** Deterministic PII injection over documents (q92/q99 input fixture):
    * every doc gains an email, 2/3 gain a phone, 1/2 gain an IP —
    * id-derived, so the oracle replays it exactly. */
  private def injectPii(docs: org.apache.spark.sql.DataFrame) = {
    val id = col("doc_id")
    docs.select(id,
      concat(col("text"),
        lit(" reach user"), id.cast("string"), lit("@example.com"),
        when(pmod(id, lit(3)) =!= 0,
          concat(lit(" or 555-10"), pmod(id, lit(10)).cast("string"), lit("-"),
            lpad(pmod(id * 7, lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")),
        when(pmod(id, lit(2)) === 0,
          concat(lit(" ip 10.0."), pmod(id, lit(256)).cast("string"), lit("."),
            pmod(id * 3, lit(256)).cast("string"))).otherwise(lit(""))).as("t"))
  }

  /** Deterministic HTML page template around the fixture text (q108):
    * title, style/script bodies, a comment, a nav div, entity samples on
    * even ids — every element exercises one extraction rule. */
  private def injectHtml(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; friends</title><style>body { color: #000; }</style></head>"),
      lit("<body><script>var x = 1 < 2;</script>"),
      lit("<!-- nav follows --><div class=\"nav\">Home | About</div>"),
      lit("<h1>Doc "), col("doc_id").cast("string"), lit("</h1><p>"),
      col("text"), lit("</p>"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("<p>&quot;quoted&quot; &lt;tag&gt; A&amp;B &#39;s&nbsp;end</p>"))
        .otherwise(lit("")),
      lit("<hr><p>Footer &amp; legal</p></body></html>")).as("html"))

  /** The same template in DuckDB (q108) — one copy per element, shared
    * entity fixture, so the mirrors can't drift. */
  private val htmlInjectSql =
    """inj AS (SELECT doc_id,
         '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &amp; friends</title><style>body { color: #000; }</style></head>'
         || '<body><script>var x = 1 < 2;</script>'
         || '<!-- nav follows --><div class="nav">Home | About</div>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
         || CASE WHEN doc_id % 2 = 0
              THEN '<p>&quot;quoted&quot; &lt;tag&gt; A&amp;B &#39;s&nbsp;end</p>'
              ELSE '' END
         || '<hr><p>Footer &amp; legal</p></body></html>' AS html
       FROM documents)"""

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The extraction chain generated from HtmlExtract.Steps — the operator
    * and the oracle share one rule list. */
  private def htmlTextSql(src: String): String =
    "trim(" + graft.functions.HtmlExtract.Steps.foldLeft(src) {
      case (t, (re, repl)) =>
        s"regexp_replace($t, ${sqlStr(re)}, ${sqlStr(repl)}, 'g')"
    } + ")"

  /** The post-structural remainder of the chain (tags out, entities,
    * whitespace) + trim — what q111 runs after the boilerplate gate. */
  private def htmlFinishSql(src: String): String =
    "trim(" + graft.functions.HtmlExtract.Steps
      .drop(graft.functions.HtmlExtract.StructuralSteps.size).foldLeft(src) {
        case (t, (re, repl)) =>
          s"regexp_replace($t, ${sqlStr(re)}, ${sqlStr(repl)}, 'g')"
      } + ")"

  /** The structural prefix of the chain (tags kept, line structure
    * established) — the shape anchor-density is measured on (q110/q111). */
  private def htmlStructSql(src: String): String =
    graft.functions.HtmlExtract.StructuralSteps.foldLeft(src) {
      case (t, (re, repl)) =>
        s"regexp_replace($t, ${sqlStr(re)}, ${sqlStr(repl)}, 'g')"
    }

  /** Visible characters of a line fragment (tags stripped, spaces
    * collapsed, trimmed) — HtmlExtract.visible's oracle mirror. */
  private def visibleSql(src: String): String =
    s"""trim(regexp_replace(regexp_replace($src, '(?s)<[^>]+>', ' ', 'g'),
       '[ \\t]+', ' ', 'g'))"""

  /** Anchor-body visible characters of a line fragment. */
  private def anchorVisSql(src: String): String =
    visibleSql(s"""array_to_string(
      regexp_extract_all($src, '(?is)<a[^>]*>(.*?)</a>', 1), ' ')""")

  /** Deterministic multi-domain URL fixture (q115/q116): seven hosts
    * cycling by doc_id mod 7, with userinfo/port noise on some ids so
    * host() earns its regex. */
  private def injectDomainUrls(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
      concat(lit("http://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("crawler@")).otherwise(lit("")),
        lit("Host"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example.com"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(":8080")).otherwise(lit("")),
        lit("/page"), col("doc_id").cast("string")).as("url"))

  /** The q115/q116 fixture + host extraction in DuckDB (host(): lowercase,
    * userinfo and port stripped — \\1 backrefs, RE2 like Spark). */
  private val domainUrlSql =
    """du AS (SELECT doc_id, n_chars,
         'http://' || (CASE WHEN doc_id % 3 = 0 THEN 'crawler@' ELSE '' END)
         || 'Host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
         || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
         || '/page' || CAST(doc_id AS VARCHAR) AS url
       FROM documents),
       dh AS (SELECT doc_id, n_chars,
           lower(regexp_extract(trim(url),
             '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1)) AS domain
         FROM du)"""

  /** Deterministic URL-variant fixture (q112/q113): four cosmetic variants
    * of the same logical page, cycling by doc_id mod 4 — variants 0/1 and
    * 2/3 must each collapse to one canonical URL per doc_id-div-4 group. */
  private def injectUrls(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = expr("doc_id div 4").cast("string")
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("http://Example.com/page"), g))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("http://example.com:80/page"), g, lit("#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("HTTP://EXAMPLE.COM:80/page"), g, lit("?b=2&a=1")))
        .otherwise(
          concat(lit("http://example.com/page"), g, lit("?a=1&b=2#sec")))
        .as("url"))
  }

  /** The same fixture + the full canonicalization replay in DuckDB
    * (q112/q113) — every UrlCanon rule mirrored step for step (DuckDB
    * backreferences are \\1 where Spark's are $1; list_sort is bytewise
    * like array_sort on ASCII). Ends in CTE `fin (doc_id, url,
    * url_canon)`. */
  private val urlCanonSql =
    """u AS (SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'http://Example.com/page' || CAST(doc_id // 4 AS VARCHAR)
           WHEN 1 THEN 'http://example.com:80/page' || CAST(doc_id // 4 AS VARCHAR) || '#frag'
           WHEN 2 THEN 'HTTP://EXAMPLE.COM:80/page' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
           ELSE 'http://example.com/page' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2#sec'
         END AS url FROM documents),
       nf AS (SELECT doc_id, url,
           regexp_replace(trim(url), '#.*$', '') AS nofrag FROM u),
       pr AS (SELECT doc_id, url, nofrag,
           regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1) AS auth,
           regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS rest
         FROM nf),
       ac AS (SELECT doc_id, url, nofrag, rest,
           regexp_replace(regexp_replace(lower(auth),
             '^(http://[^/:]+):80$', '\1'), '^(https://[^/:]+):443$', '\1') AS authc,
           auth FROM pr),
       pq AS (SELECT doc_id, url, nofrag, auth, authc,
           CASE WHEN strpos(rest, '?') > 0
             THEN regexp_extract(rest, '^([^?]*)', 1) ELSE rest END AS path,
           CASE WHEN strpos(rest, '?') > 0
             THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS query
         FROM ac),
       fin AS (SELECT doc_id, url,
           CASE WHEN auth = '' THEN nofrag ELSE
             authc || (CASE WHEN path = '' THEN '/' ELSE path END)
             || (CASE WHEN query = '' THEN ''
                 ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END)
           END AS url_canon
         FROM pq)"""

  /** Deterministic link-rich page template (q110/q111): an anchor-dense
    * nav line, the body text with one inline link, an anchor-only footer —
    * the jusText-lite fixture where nav/footer must score link-dense and
    * the body line link-sparse. */
  private def injectLinkHtml(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/about\">About us</a> | <a href=\"/contact\">Contact</a></div>"),
      lit("<p>"), col("text"), lit(" see <a href=\"/more\">details</a></p>"),
      lit("<div class=\"footer\"><a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a></div></body></html>")).as("html"))

  /** The same template in DuckDB — one copy per element, so the mirrors
    * can't drift. */
  private val linkHtmlInjectSql =
    """inj AS (SELECT doc_id,
         '<html><body><div class="nav"><a href="/">Home</a> | <a href="/about">About us</a> | <a href="/contact">Contact</a></div>'
         || '<p>' || text || ' see <a href="/more">details</a></p>'
         || '<div class="footer"><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></div></body></html>' AS html
       FROM documents)"""

  /** Shared q110/q111 oracle prefix: structural lines with 0-based index. */
  private val linkLinesSql =
    s"""$linkHtmlInjectSql,
       structured AS (SELECT doc_id, ${htmlStructSql("html")} AS s FROM inj),
       ls AS (SELECT doc_id, string_split(s, chr(10)) AS a FROM structured),
       lines AS (SELECT doc_id, CAST(unnest(range(len(a))) AS INT) AS line_idx, a
                 FROM ls),
       per AS (SELECT doc_id, line_idx, a[line_idx + 1] AS line FROM lines),
       scored_lines AS (SELECT doc_id, line_idx, line,
           length(${visibleSql("line")}) AS n_chars,
           -- COALESCE: DuckDB's no-anchor case propagates NULL through
           -- regexp_extract_all→array_to_string where Spark's array_join
           -- of an empty array is '' (length 0)
           CAST(FLOOR(COALESCE(length(${anchorVisSql("line")}), 0) * 1000
                / GREATEST(length(${visibleSql("line")}), 1)) AS INT)
             AS anchor_permille
         FROM per)"""

  /** Shared oracle fragments for the PII / quality / assembly chain (one
    * copy each, so the q92/q95/q99 mirrors can't drift). */
  private val piiInjectSql =
    """inj AS (SELECT doc_id,
           text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
             || CASE WHEN doc_id % 3 <> 0
                  THEN ' or 555-10' || CAST(doc_id % 10 AS VARCHAR) || '-'
                       || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                  THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST(doc_id * 3 % 256 AS VARCHAR)
                  ELSE '' END AS t
           FROM documents)"""

  private def piiRedactSql(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace($t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[PII]', 'g'),
             '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PII]', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII]', 'g')"""

  /** The 8 Gopher metric columns over text expression `t` (q95/q99). */
  private def gopherMetricsSql(t: String): String =
    s"""CAST(len(string_split_regex(trim($t), '\\s+')) AS INT) n_words,
           CAST(list_sum(list_transform(string_split_regex(trim($t), '\\s+'), x -> len(x))) AS INT) total_len,
           CAST(len(list_filter(string_split_regex(trim($t), '\\s+'), x -> regexp_matches(x, '[A-Za-z]'))) AS INT) n_alpha,
           CAST(len(regexp_extract_all($t, '#')) + len(regexp_extract_all($t, '\\.\\.\\.')) AS INT) n_sym,
           CAST(len(string_split($t, chr(10))) AS INT) n_lines,
           CAST(len(list_filter(string_split($t, chr(10)), l -> regexp_matches(ltrim(l), '^[-*•]'))) AS INT) n_bullet,
           CAST(len(list_filter(string_split($t, chr(10)), l -> regexp_matches(rtrim(l), '\\.\\.\\.$$'))) AS INT) n_ellipsis,
           CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
             s -> list_contains(list_transform(string_split_regex(trim($t), '\\s+'), x -> lower(x)), s))) AS INT) n_stop"""

  private def gopherKeepSql(minStop: Int): String =
    s"""(n_words >= 50 AND n_words <= 100000
            AND total_len >= 3 * n_words AND total_len <= 10 * n_words
            AND 10 * n_sym <= n_words AND 5 * n_alpha >= 4 * n_words
            AND 10 * n_bullet <= 9 * n_lines AND 10 * n_ellipsis <= 3 * n_lines
            AND n_stop >= $minStop)"""

  /** One injected phrase per doc_id%6 class for the q126 script census —
    * single source of truth for BOTH engines (Spark literals and the
    * DuckDB SQL interpolate the same strings): Cyrillic, Greek, Han,
    * Hangul, Devanagari (incl. combining virama/vowel signs — script
    * property covers them), Arabic. BMP-only. */
  private val scriptNoise: Seq[String] = Seq(
    " Привет", // Cyrillic "Privet"
    " γειά", // Greek "geia"
    " 你好", // Han "ni hao"
    " 안녕", // Hangul "annyeong"
    " नमस्ते", // Devanagari "namaste"
    " مرحبا") // Arabic "marhaba"

  /** DuckDB replay of Dsir.featureBuckets + both model fits: CTEs `feats`
    * (doc_id, source, bucket — unigrams + space-joined bigrams, 48-bit md5
    * prefix mod 8192), `tgt` (src0 bucket counts) and `rawm` (non-src0
    * bucket counts). */
  private val dsirFeatsSql: String = dsirFeatsSqlFrom("documents")

  /** Same CTE block over an arbitrary (doc_id, source, text) relation —
    * the registry-assembly oracles fit the raw model on a GATED slice. */
  private def dsirFeatsSqlFrom(rel: String): String = {
    val bucket = s"(${hex48Sql("md5(g)")} % 8192)"
    s"""t AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') w FROM $rel),
         grams AS (SELECT doc_id, source, unnest(w) g FROM t
           UNION ALL
           SELECT doc_id, source,
               unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) g
             FROM t WHERE len(w) >= 2),
         feats AS (SELECT doc_id, source, $bucket AS bucket FROM grams),
         tgt AS (SELECT bucket, COUNT(*) ct FROM feats WHERE source = 'src0' GROUP BY 1),
         rawm AS (SELECT bucket, COUNT(*) cr FROM feats WHERE source <> 'src0' GROUP BY 1)"""
  }

  /** The q132 manifest chain as suffixed CTEs (so q135 can instantiate it
    * twice — two releases — in one statement), parametrized by the release's
    * doc predicate. */
  private def manifestCtes(sfx: String, where: String): String =
    s"""t_$sfx AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) n_tokens,
           md5('s5|' || CAST(doc_id AS VARCHAR)) m FROM documents $where),
       k_$sfx AS (SELECT doc_id, n_tokens, ${hex48Sql("m")} k FROM t_$sfx),
       c_$sfx AS (SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY k, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k_$sfx),
       sh_$sfx AS (SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 500 AS INT) AS shard_id FROM c_$sfx),
       m_$sfx AS (SELECT shard_id, COUNT(*) AS n_rows,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_weight,
           CAST(bit_xor(${hex48Sql("md5('m|' || CAST(doc_id AS VARCHAR))")}) AS BIGINT) AS content_xor
         FROM sh_$sfx GROUP BY shard_id)"""

  val oracles: Map[String, String] = Map(
    "q161_glove_cooc" -> {
      val legs = (1 to 4).map { dd =>
        s"""SELECT w[i+1] w1, w[i+1+$dd] w2, ${12 / dd} wt
           FROM (SELECT w, unnest(range(len(w)-$dd)) i FROM t WHERE len(w) > $dd)"""
      }.mkString("\n           UNION ALL ")
      s"""WITH t AS (SELECT string_split_regex(trim(text), '\\s+') w FROM documents),
         p AS ($legs)
         SELECT w1, w2, CAST(COUNT(*) AS BIGINT) n_pairs,
           CAST(SUM(wt) AS BIGINT) weight_scaled
         FROM p GROUP BY w1, w2 ORDER BY w1, w2"""
    },
    "q164_line_quality" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 8)) i FROM t),
         lines0 AS (SELECT doc_id, CAST(i // 8 AS INT) pos,
             array_to_string(w[i+1:i+8], ' ') line FROM st),
         lines AS (SELECT * FROM lines0
           UNION ALL
           SELECT DISTINCT doc_id, 2000, '## 123 $$%' FROM lines0
           WHERE doc_id % 4 = 0),
         kept AS (SELECT * FROM lines
           WHERE len(string_split(line, ' ')) >= 3
             AND len(regexp_replace(line, '[^A-Za-z]', '', 'g')) * 2 >= len(line)),
         rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) clean,
             CAST(COUNT(*) AS INT) n_kept
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean, '') AS clean,
           COALESCE(r.n_kept, 0) AS n_kept
         FROM (SELECT DISTINCT doc_id FROM lines) d
         LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""",
    "q163_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         x AS (SELECT doc_id, unnest(range(len(w))) i, w FROM t),
         idx AS (SELECT doc_id, CAST(i AS INT) pos, w[i+1] term FROM x),
         l0 AS (SELECT doc_id, pos AS base FROM idx WHERE term = 'slow'),
         l1 AS (SELECT doc_id, pos - 1 AS base FROM idx WHERE term = 'hash'),
         l2 AS (SELECT doc_id, pos - 2 AS base FROM idx WHERE term = 'batch')
         SELECT l0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         FROM l0 JOIN l1 USING (doc_id, base) JOIN l2 USING (doc_id, base)
         GROUP BY l0.doc_id ORDER BY doc_id""",
    "q148_overlap_sketch" -> {
      import graft.functions.Hll
      val w = s"(${hex4Sql("x", 3)}::BIGINT * 4294967296 + " +
        s"${hex4Sql("x", 7)}::BIGINT * 65536 + ${hex4Sql("x", 11)}::BIGINT)"
      s"""WITH t AS (SELECT source, string_split_regex(trim(text), '\\s+') w FROM documents),
         sh AS (SELECT source,
             unnest(list_transform(range(len(w)-7), i -> array_to_string(w[i+1:i+8], ' '))) g
           FROM t WHERE len(w) >= 8),
         h AS (SELECT source, md5(g) x FROM sh),
         v AS (SELECT source, CAST(${hex4Sql("x", 0)} // 16 AS INT) AS bucket, $w AS w
           FROM h),
         r AS (SELECT source, bucket, CAST(MAX(${Hll.rhoSql("w")}) AS INT) AS max_rho
           FROM v GROUP BY source, bucket),
         g AS (SELECT DISTINCT source FROM r),
         pr AS (SELECT a.source sa, b.source sb FROM g a JOIN g b ON a.source < b.source),
         u AS (SELECT pr.sa, pr.sb, r.bucket, r.max_rho FROM pr JOIN r ON r.source = pr.sa
           UNION ALL
           SELECT pr.sa, pr.sb, r.bucket, r.max_rho FROM pr JOIN r ON r.source = pr.sb),
         ub AS (SELECT sa, sb, bucket, MAX(max_rho) mr FROM u GROUP BY sa, sb, bucket),
         us AS (SELECT sa, sb, COUNT(*) nb, SUM(mr) sr FROM ub GROUP BY sa, sb),
         ps AS (SELECT source, COUNT(*) nb, SUM(max_rho) sr FROM r GROUP BY source)
         SELECT us.sa AS source_a, us.sb AS source_b,
           CAST(us.nb AS BIGINT) AS n_union_buckets,
           CAST(us.sr AS BIGINT) AS sum_union_rho,
           CAST(pa.nb AS BIGINT) AS n_buckets_a, CAST(pa.sr AS BIGINT) AS sum_rho_a,
           CAST(pb.nb AS BIGINT) AS n_buckets_b, CAST(pb.sr AS BIGINT) AS sum_rho_b
         FROM us JOIN ps pa ON us.sa = pa.source JOIN ps pb ON us.sb = pb.source
         ORDER BY source_a, source_b"""
    },
    "q150_intradoc_lines" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 8)) i FROM t),
         lines0 AS (SELECT doc_id, CAST(i // 8 AS INT) pos,
             array_to_string(w[i+1:i+8], ' ') line FROM st),
         lines AS (SELECT * FROM lines0
           UNION ALL
           SELECT doc_id, pos + 1000, line FROM lines0
           WHERE pos = 0 AND doc_id % 3 = 0),
         kept AS (SELECT doc_id, line, MIN(pos) pos FROM lines GROUP BY doc_id, line),
         rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) clean,
             CAST(COUNT(*) AS INT) n_kept
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean, '') AS clean,
           COALESCE(r.n_kept, 0) AS n_kept
         FROM (SELECT DISTINCT doc_id FROM lines) d
         LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""",
    "q142_recipe_selection" ->
      """WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_toks
           FROM documents),
         c AS (SELECT lang, SUM(n_toks) n_tokens FROM t GROUP BY 1),
         w AS (SELECT lang, n_tokens,
             CAST(FLOOR(sqrt(n_tokens) * 67108864) AS BIGINT) w FROM c),
         tt AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) tw FROM w),
         ep AS (SELECT lang, n_tokens,
             LEAST(CAST(FLOOR((CAST(w AS DOUBLE) / tw) * 15000 / n_tokens * 1000000) AS BIGINT),
               600000) AS epochs_e6
           FROM w, tt),
         pl AS (SELECT lang,
             CAST(CAST(epochs_e6 AS HUGEINT) * n_tokens // 1000000 AS BIGINT) AS planned_tokens
           FROM ep),
         cum AS (SELECT t.doc_id, t.lang, t.n_toks, pl.planned_tokens,
             SUM(t.n_toks) OVER (PARTITION BY t.lang
               ORDER BY md5('r|' || CAST(t.doc_id AS VARCHAR)), t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM t JOIN pl USING (lang))
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sel_tokens,
           MAX(planned_tokens) AS planned_tokens
         FROM cum WHERE c <= planned_tokens
         GROUP BY lang ORDER BY lang""",
    "q141_deep_components" ->
      """SELECT doc_id AS node,
         MIN(doc_id) OVER (PARTITION BY source) AS comp
         FROM documents ORDER BY node""",
    "q175_setsim_join" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(range(len(w)-3),
               i -> array_to_string(w[i+1:i+4], ' '))) s
           FROM t WHERE len(w) >= 4),
         x AS (SELECT doc_id, unnest(s) tok FROM sh),
         cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
           FROM x a JOIN x b ON a.tok = b.tok AND a.doc_id < b.doc_id),
         v AS (SELECT ia, ib,
             len(list_intersect(sa.s, sb.s)) AS inter,
             len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
           FROM cand JOIN sh sa ON sa.doc_id = ia JOIN sh sb ON sb.doc_id = ib)
         SELECT ia AS id_a, ib AS id_b, CAST(inter AS INT) AS n_inter,
           CAST(uni AS INT) AS n_union,
           CAST(inter AS DOUBLE) / uni AS jaccard
         FROM v WHERE 2 * inter >= uni ORDER BY id_a, id_b""",
    "q174_priority_sample" -> {
      val u = s"((${hex48Sql("md5('ps8|' || CAST(doc_id AS VARCHAR))")} + 1) " +
        "/ 281474976710656.0)"
      s"""WITH s AS (SELECT doc_id, n_chars, n_chars / $u AS priority
           FROM documents),
         top AS (SELECT * FROM s ORDER BY priority DESC, doc_id LIMIT 201),
         tau AS (SELECT CASE WHEN COUNT(*) = 201 THEN MIN(priority)
             ELSE 0.0 END t FROM top)
         SELECT doc_id, n_chars, priority,
           GREATEST(CAST(n_chars AS DOUBLE), tau.t) AS w_hat
         FROM (SELECT * FROM s ORDER BY priority DESC, doc_id LIMIT 200), tau
         ORDER BY priority DESC, doc_id"""
    },
    "q140_doc_changelog" ->
      """WITH a AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) fp
           FROM documents),
         b AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(
               CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END
             )), '\s+', ' ', 'g')) fp
           FROM documents WHERE n_chars >= 100
           UNION ALL
           SELECT doc_id + 1000000,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           FROM documents WHERE doc_id < 5),
         d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             a.fp AS fp_a, b.fp AS fp_b,
             CASE WHEN a.fp IS NULL THEN 'added'
                  WHEN b.fp IS NULL THEN 'removed'
                  WHEN a.fp = b.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
           FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         SELECT doc_id, fp_a, fp_b, status FROM d
         WHERE status <> 'unchanged' ORDER BY doc_id""",
    "q137_fertility" ->
      """SELECT lang,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_words,
         CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS n_subtokens,
         CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS DOUBLE)
           / SUM(len(string_split_regex(trim(text), '\s+'))) AS fertility
         FROM documents GROUP BY lang ORDER BY lang""",
    "q138_score_calibration" ->
      s"""WITH m AS (SELECT doc_id, source, ${gopherMetricsSql("text")}
           FROM documents),
         za AS (SELECT doc_id, source, $classifierMarginSql AS z FROM m)
         SELECT doc_id, source, z,
           percent_rank() OVER (PARTITION BY source ORDER BY z, doc_id) AS pr
         FROM za ORDER BY doc_id""",
    "q136_epoch_plan" ->
      """WITH c AS (SELECT lang,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT lang, n_tokens,
             CAST(FLOOR(sqrt(n_tokens) * 67108864) AS BIGINT) w FROM c),
         t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) tw FROM w),
         sel AS (SELECT lang, n_tokens, CAST(w AS DOUBLE) / tw AS share FROM w, t),
         ep AS (SELECT lang, n_tokens, share,
             LEAST(CAST(FLOOR(share * 40000 / n_tokens * 1000000) AS BIGINT),
               1500000) AS epochs_e6
           FROM sel)
         SELECT lang, n_tokens, share, epochs_e6,
           CAST(CAST(epochs_e6 AS HUGEINT) * n_tokens // 1000000 AS BIGINT) AS planned_tokens
         FROM ep ORDER BY lang""",
    "q135_release_diff" ->
      s"""WITH ${manifestCtes("a", "")},
         ${manifestCtes("b", "WHERE n_chars < 300")}
         SELECT COALESCE(m_a.shard_id, m_b.shard_id) AS shard_id,
           m_a.n_rows AS n_rows_a, m_a.sum_weight AS sum_weight_a,
           m_a.content_xor AS content_xor_a,
           m_b.n_rows AS n_rows_b, m_b.sum_weight AS sum_weight_b,
           m_b.content_xor AS content_xor_b,
           CASE WHEN m_a.shard_id IS NULL THEN 'added'
                WHEN m_b.shard_id IS NULL THEN 'removed'
                WHEN m_a.n_rows = m_b.n_rows AND m_a.sum_weight = m_b.sum_weight
                     AND m_a.content_xor = m_b.content_xor THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM m_a FULL OUTER JOIN m_b ON m_a.shard_id = m_b.shard_id
         ORDER BY shard_id""",
    "q121_dsir_evidence" ->
      s"""WITH $dsirFeatsSql,
         ev AS (SELECT f.doc_id, COUNT(*) n_feats,
             COUNT(CASE WHEN tg.ct IS NULL THEN 1 END) n_oov_t,
             SUM(COALESCE(tg.ct, 0)) sum_ct, SUM(COALESCE(rw.cr, 0)) sum_cr
           FROM feats f LEFT JOIN tgt tg ON f.bucket = tg.bucket
                        LEFT JOIN rawm rw ON f.bucket = rw.bucket
           WHERE f.source <> 'src0' GROUP BY 1)
         SELECT d.doc_id, COALESCE(e.n_feats, 0) AS n_feats,
           COALESCE(e.n_oov_t, 0) AS n_oov_t,
           CAST(COALESCE(e.sum_ct, 0) AS BIGINT) AS sum_ct,
           CAST(COALESCE(e.sum_cr, 0) AS BIGINT) AS sum_cr
         FROM documents d LEFT JOIN ev e ON d.doc_id = e.doc_id
         WHERE d.source <> 'src0' ORDER BY d.doc_id""",
    "q122_dsir_select" ->
      s"""WITH $dsirFeatsSql,
         tt AS (SELECT CAST(COUNT(*) + 8192 AS DOUBLE) n FROM feats WHERE source = 'src0'),
         tr AS (SELECT CAST(COUNT(*) + 8192 AS DOUBLE) n FROM feats WHERE source <> 'src0'),
         ev AS (SELECT f.doc_id, COUNT(*) n_feats,
             COUNT(CASE WHEN tg.ct IS NULL THEN 1 END) n_oov_t,
             CAST(SUM(CAST(
                 ln((COALESCE(tg.ct, 0) + 1.0) / tt.n)
                 - ln((COALESCE(rw.cr, 0) + 1.0) / tr.n)
               AS DECIMAL(38,18))) AS DOUBLE) logw
           FROM feats f LEFT JOIN tgt tg ON f.bucket = tg.bucket
                        LEFT JOIN rawm rw ON f.bucket = rw.bucket,
                tt, tr
           WHERE f.source <> 'src0' GROUP BY f.doc_id),
         sel AS (SELECT doc_id, n_feats, n_oov_t FROM ev
           ORDER BY logw + (-ln(-ln(
             (${hex48Sql("md5('dsir|' || CAST(doc_id AS VARCHAR))")} + 0.5)
               / 281474976710656.0))) DESC, doc_id
           LIMIT 200)
         SELECT doc_id, n_feats, n_oov_t FROM sel ORDER BY doc_id""",
    "q133_overlap_matrix" ->
      """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') w FROM documents),
         sh AS (SELECT DISTINCT source,
             unnest(list_transform(range(len(w)-7), i -> array_to_string(w[i+1:i+8], ' '))) g
           FROM t WHERE len(w) >= 8),
         c AS (SELECT source, COUNT(*) n FROM sh GROUP BY 1),
         p AS (SELECT a.source sa, b.source sb, COUNT(*) n_shared
           FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         SELECT p.sa AS source_a, p.sb AS source_b, p.n_shared,
           ca.n AS n_a, cb.n AS n_b,
           CAST(p.n_shared AS DOUBLE) / LEAST(ca.n, cb.n) AS containment,
           CAST(p.n_shared AS DOUBLE) / (ca.n + cb.n - p.n_shared) AS jaccard
         FROM p JOIN c ca ON p.sa = ca.source JOIN c cb ON p.sb = cb.source
         ORDER BY source_a, source_b""",
    "q132_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) n_tokens,
           md5('s5|' || CAST(doc_id AS VARCHAR)) m FROM documents),
         k AS (SELECT doc_id, n_tokens, ${hex48Sql("m")} k FROM t),
         c AS (SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k),
         sh AS (SELECT doc_id, n_tokens,
             CAST((cum - n_tokens) // 500 AS INT) AS shard_id FROM c)
         SELECT shard_id, COUNT(*) AS n_rows,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_weight,
           CAST(bit_xor(${hex48Sql("md5('m|' || CAST(doc_id AS VARCHAR))")}) AS BIGINT) AS content_xor
         FROM sh GROUP BY shard_id ORDER BY shard_id""",
    "q130_data_card" ->
      s"""WITH m AS (SELECT doc_id, source, lang, text, ${gopherMetricsSql("text")}
           FROM documents),
         per AS (SELECT doc_id, source, lang,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
             CASE WHEN ${gopherKeepSql(2)} THEN 1 ELSE 0 END AS keep,
             $classifierMarginSql AS z
           FROM m)
         SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_z
         FROM per GROUP BY source, lang ORDER BY source, lang""",
    "q129_hll_registers" -> {
      import graft.functions.Hll
      // bucket = first 3 hex digits = (first 4 digits) // 16; the rho
      // window = digits 4..15 as three 16-bit groups
      val w = s"(${hex4Sql("x", 3)}::BIGINT * 4294967296 + " +
        s"${hex4Sql("x", 7)}::BIGINT * 65536 + ${hex4Sql("x", 11)}::BIGINT)"
      s"""WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) x FROM documents),
         v AS (SELECT CAST(${hex4Sql("x", 0)} // 16 AS INT) AS bucket, $w AS w
           FROM h)
         SELECT bucket, CAST(MAX(${Hll.rhoSql("w")}) AS INT) AS max_rho
         FROM v GROUP BY bucket ORDER BY bucket"""
    },
    "q128_dsir_assembly" ->
      s"""WITH g0 AS (SELECT doc_id, text, ${gopherMetricsSql("text")}
           FROM documents WHERE source <> 'src0'),
         gated AS (SELECT doc_id, CAST('rawx' AS VARCHAR) AS source, text
           FROM g0 WHERE ${gopherKeepSql(1)}),
         dsrc AS (SELECT doc_id, source, text FROM documents WHERE source = 'src0'
           UNION ALL SELECT doc_id, source, text FROM gated),
         ${dsirFeatsSqlFrom("dsrc")},
         tt AS (SELECT CAST(COUNT(*) + 8192 AS DOUBLE) n FROM feats WHERE source = 'src0'),
         tr AS (SELECT CAST(COUNT(*) + 8192 AS DOUBLE) n FROM feats WHERE source <> 'src0'),
         ev AS (SELECT f.doc_id,
             CAST(SUM(CAST(
                 ln((COALESCE(tg.ct, 0) + 1.0) / tt.n)
                 - ln((COALESCE(rw.cr, 0) + 1.0) / tr.n)
               AS DECIMAL(38,18))) AS DOUBLE) logw
           FROM feats f LEFT JOIN tgt tg ON f.bucket = tg.bucket
                        LEFT JOIN rawm rw ON f.bucket = rw.bucket,
                tt, tr
           WHERE f.source <> 'src0' GROUP BY f.doc_id),
         sel AS (SELECT doc_id FROM ev
           ORDER BY logw + (-ln(-ln(
             (${hex48Sql("md5('dsir|' || CAST(doc_id AS VARCHAR))")} + 0.5)
               / 281474976710656.0))) DESC, doc_id
           LIMIT 150)
         SELECT g.doc_id,
           CAST(len(string_split_regex(trim(g.text), '\\s+')) AS INT) AS n_tokens
         FROM gated g JOIN sel USING (doc_id) ORDER BY g.doc_id""",
    "q127_quality_fusion" ->
      s"""WITH nd AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
         m AS (SELECT doc_id, ${gopherMetricsSql("text")} FROM nd),
         za AS (SELECT doc_id, $classifierMarginSql AS z FROM m),
         la AS (SELECT doc_id, r FROM (
             SELECT doc_id, ROW_NUMBER() OVER (ORDER BY z DESC, doc_id) r FROM za)
           WHERE r <= 200),
         t AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') w FROM documents),
         pairs AS (SELECT doc_id, source,
             unnest(list_transform(range(len(w)-1), i -> w[i+1])) w1,
             unnest(list_transform(range(len(w)-1), i -> w[i+2])) w2
           FROM t WHERE len(w) >= 2),
         refbi AS (SELECT w1, w2, COUNT(*) c12 FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         st AS (SELECT c.doc_id, COUNT(*) n_bigrams,
             COUNT(CASE WHEN b.c12 IS NULL THEN 1 END) n_oov
           FROM pairs c LEFT JOIN refbi b ON c.w1 = b.w1 AND c.w2 = b.w2
           WHERE c.source <> 'src0' GROUP BY 1),
         ob AS (SELECT doc_id, CAST((n_oov * 1000) // n_bigrams AS INT) op
           FROM st WHERE n_bigrams > 0),
         lb AS (SELECT doc_id, r FROM (
             SELECT doc_id, ROW_NUMBER() OVER (ORDER BY op ASC, doc_id) r FROM ob)
           WHERE r <= 200),
         sw AS (SELECT doc_id,
             CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / len(w) AS swr
           FROM t WHERE source <> 'src0'),
         lc AS (SELECT doc_id, r FROM (
             SELECT doc_id, ROW_NUMBER() OVER (ORDER BY swr DESC, doc_id) r FROM sw)
           WHERE r <= 200),
         fused AS (SELECT doc_id, a.r ra, b.r rb, c.r rc,
             ((COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.r), CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), CAST(0.0 AS DOUBLE)))
               + COALESCE(CAST(1.0 AS DOUBLE) / (60 + c.r), CAST(0.0 AS DOUBLE))) rrf
           FROM la a FULL JOIN lb b USING (doc_id) FULL JOIN lc c USING (doc_id)),
         sel AS (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 100)
         SELECT doc_id, ra AS clf_rank, rb AS oov_rank, rc AS stop_rank, rrf
         FROM sel ORDER BY doc_id""",
    "q126_script_profile" -> {
      import graft.functions.LangId.ScriptClasses
      val suffixCase = scriptNoise.zipWithIndex
        .map { case (txt, i) => s"WHEN $i THEN '$txt'" }
        .mkString("CASE CAST(doc_id % 6 AS INT) ", " ", " END")
      val countCols = ScriptClasses.map { case (n, re) =>
        s"CAST(len(regexp_extract_all(t, '${re.replace("{Is", "{")}')) AS BIGINT) AS n_$n"
      }.mkString(",\n             ")
      val bestExpr = ScriptClasses.map { case (n, _) => s"n_$n" }
        .mkString("greatest(", ", ", ")")
      val mainCase = ScriptClasses.map { case (n, _) =>
        s"WHEN best > 0 AND n_$n = best THEN '$n'"
      }.mkString("CASE ", " ", " ELSE 'none' END")
      s"""WITH noisy AS (SELECT doc_id, text || $suffixCase AS t FROM documents),
         c AS (SELECT doc_id,
             $countCols,
             CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit
           FROM noisy),
         g AS (SELECT *, $bestExpr AS best FROM c)
         SELECT doc_id, ${ScriptClasses.map(c => "n_" + c._1).mkString(", ")},
           n_digit, $mainCase AS main_script
         FROM g ORDER BY doc_id"""
    },
    "q125_soft_dedup" ->
      """WITH base AS (SELECT doc_id,
             text || ' price 1984 caf' || chr(233) AS t FROM documents),
         variants AS (SELECT doc_id + 1000000 AS doc_id,
             '  ' || upper(text) || ' PRICE  2042 CAF' || chr(201) AS t
           FROM documents WHERE doc_id < 100),
         all_docs AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
         keyed AS (SELECT doc_id, md5(regexp_replace(regexp_replace(
             strip_accents(lower(trim(t))), '[0-9]', '0', 'g'),
             '\s+', ' ', 'g')) AS fp FROM all_docs),
         n AS (SELECT fp, COUNT(*) n_dups FROM keyed GROUP BY 1)
         SELECT k.doc_id, k.fp, n.n_dups,
           CAST(1.0 AS DOUBLE) / n.n_dups AS weight
         FROM keyed k JOIN n ON k.fp = n.fp ORDER BY k.doc_id""",
    "q124_top_terms" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         tf AS (SELECT doc_id, tok AS term, COUNT(*) tf
                FROM (SELECT doc_id, unnest(w) tok FROM t) GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) df FROM tf GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) n FROM t),
         ranked AS (SELECT f.doc_id, f.term, f.tf, d2.df,
             CAST(ROW_NUMBER() OVER (PARTITION BY f.doc_id
               ORDER BY f.tf * ln(n.n / d2.df) DESC, f.term) AS INT) rk
           FROM tf f JOIN df d2 ON f.term = d2.term, n)
         SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q29_corpus_profile" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
         MIN(n_chars) AS min_chars,
         CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS med_chars,
         MAX(n_chars) AS max_chars,
         CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_chars
         FROM documents GROUP BY source, lang ORDER BY source, lang""",
    "q30_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INT) AS n_distinct,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS ttr,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), x -> len(x))) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS avg_token_len,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the', 'a'))) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
         FROM documents ORDER BY doc_id""",
    "q31_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q32_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fp""",
    "q33_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
         sh AS (SELECT doc_id, unnest(list_transform(range(len(w)-7), i -> array_to_string(w[i+1:i+8], ' '))) s
                FROM t WHERE len(w) >= 8),
         hx AS (SELECT doc_id, md5(s) m FROM sh),
         hb AS (SELECT doc_id, $baseHashSql H FROM hx)
         SELECT doc_id,
           ${(0 until 8).map(i => sigSql(i, s"sig_$i")).mkString(", ")}
         FROM hb GROUP BY doc_id ORDER BY doc_id""",
    "q34_shingle_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(w)-7), i -> array_to_string(w[i+1:i+8], ' '))) s
                FROM t WHERE len(w) >= 8),
         sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
         pairs AS (SELECT l.doc_id a, r.doc_id b, COUNT(*) common
                   FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id GROUP BY 1, 2)
         SELECT a, b, common,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
         FROM pairs JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         ORDER BY a, b""",
    "q35_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) tok FROM documents),
         h AS (SELECT doc_id, md5(tok) hx FROM toks),
         votes AS (
           SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', hx[(j//4+1):(j//4+1)]) - 1) >> (j % 4)) & 1 = 1
                      THEN 1 ELSE -1 END) v
           FROM h CROSS JOIN (SELECT unnest(range(64)) j) bits
           GROUP BY doc_id, j)
         SELECT doc_id,
           array_to_string(list(CASE WHEN v > 0 THEN '1' ELSE '0' END ORDER BY j), '') AS simhash
         FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "q36_langid" ->
      """WITH norm AS (SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
         g AS (SELECT doc_id, lang, unnest(list_transform(range(len(t)-2), i -> t[i+1:i+3])) ngram
               FROM norm WHERE len(t) >= 3),
         counts AS (SELECT lang, ngram, COUNT(*) c FROM g GROUP BY 1, 2),
         prof AS (SELECT lang, ngram FROM (
             SELECT lang, ngram, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, ngram) rk
             FROM counts) WHERE rk <= 300),
         dg AS (SELECT doc_id, ngram, COUNT(*) cnt FROM g GROUP BY 1, 2),
         sc AS (SELECT doc_id, lang, SUM(cnt) score FROM dg JOIN prof USING (ngram) GROUP BY 1, 2),
         pred AS (SELECT doc_id, lang AS predicted_lang FROM (
             SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) rk
             FROM sc) WHERE rk = 1)
         SELECT d.doc_id, d.lang, COALESCE(p.predicted_lang, 'und') AS predicted_lang
         FROM documents d LEFT JOIN pred p USING (doc_id) ORDER BY d.doc_id""",
    "q37_lsh_neardup" ->
      s"""WITH $lshChainSql
         SELECT c.a AS a, c.b AS b, CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) AS jaccard
         FROM cand c JOIN common cm ON c.a = cm.a AND c.b = cm.b
         JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id
         ORDER BY c.a, c.b""",
    "q38_drop_neardups" ->
      s"""WITH $lshChainSql,
         scored AS (SELECT c.a a, c.b b,
             CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) j
           FROM cand c JOIN common cm ON c.a = cm.a AND c.b = cm.b
           JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id),
         dups AS (SELECT DISTINCT b FROM scored WHERE j >= 0.5)
         SELECT doc_id FROM sizes
         WHERE doc_id NOT IN (SELECT b FROM dups)
         ORDER BY doc_id""",
    "q64_connected_components" ->
      s"""WITH RECURSIVE $lshChainSql,
         scored AS (SELECT c.a a, c.b b,
             CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) j
           FROM cand c JOIN common cm ON c.a = cm.a AND c.b = cm.b
           JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id),
         pairs AS (SELECT a, b FROM scored WHERE j >= 0.5),
         sym AS (SELECT a AS x, b AS y FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach AS (SELECT x AS node, y AS r FROM sym
                   UNION
                   SELECT reach.node, sym.y FROM reach JOIN sym ON reach.r = sym.x)
         SELECT node, LEAST(node, MIN(r)) AS comp FROM reach
         GROUP BY node ORDER BY node""",
    "q169_cluster_histogram" ->
      s"""WITH RECURSIVE $lshChainSql,
         scored AS (SELECT c.a a, c.b b,
             CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) j
           FROM cand c JOIN common cm ON c.a = cm.a AND c.b = cm.b
           JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id),
         pairs AS (SELECT a, b FROM scored WHERE j >= 0.5),
         sym AS (SELECT a AS x, b AS y FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach AS (SELECT x AS node, y AS r FROM sym
                   UNION
                   SELECT reach.node, sym.y FROM reach JOIN sym ON reach.r = sym.x),
         comp AS (SELECT node, LEAST(node, MIN(r)) AS c FROM reach GROUP BY node),
         cs AS (SELECT c, COUNT(*) sz FROM comp GROUP BY c)
         SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
         FROM cs GROUP BY sz ORDER BY cluster_size""",
    "q72_decontaminate" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') w FROM documents),
         sh AS (SELECT DISTINCT doc_id, source, unnest(list_transform(range(len(w)-2), i -> array_to_string(w[i+1:i+3], ' '))) s
                FROM t WHERE len(w) >= 3),
         bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         stats AS (SELECT c.doc_id, COUNT(*) n_grams, COUNT(b.s) n_hits
                   FROM sh c LEFT JOIN bench b USING (s)
                   WHERE c.source <> 'src0' GROUP BY 1)
         SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams,
           COALESCE(s.n_hits, 0) AS n_hits,
           COALESCE(CAST(s.n_hits AS DOUBLE) / s.n_grams, 0.0) AS contamination
         FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
         WHERE d.source <> 'src0' ORDER BY d.doc_id""",
    "q73_shard_pack" ->
      """SELECT doc_id, n_chars,
         CAST((SUM(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars) // 5000 AS INT) AS shard_id
         FROM documents ORDER BY doc_id""",
    "q74_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(w)-1), i -> array_to_string(w[i+1:i+2], ' '))) s
               FROM t WHERE len(w) >= 2),
         c AS (SELECT doc_id, s, COUNT(*) c FROM g GROUP BY 1, 2),
         top AS (SELECT doc_id, c, s,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, s DESC) rn
                 FROM c)
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           COALESCE(top.c, 0) AS top_gram_count, top.s AS top_gram,
           COALESCE(CAST(top.c * 2 AS DOUBLE) / len(t.w), 0.0) AS top_gram_frac
         FROM t LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
         ORDER BY t.doc_id""",
    "q75_data_mix" ->
      """WITH want AS (SELECT * FROM (VALUES ('en', 0.25), ('de', 0.125), ('zh', 0.75)) w(lang, p)),
         have AS (SELECT lang, COUNT(*) n FROM documents GROUP BY 1),
         caps AS (SELECT h.lang, LEAST(CAST(FLOOR(w.p * 200) AS BIGINT), h.n) cap
                  FROM have h JOIN want w ON h.lang = w.lang),
         ranked AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
           FROM documents)
         SELECT r.doc_id, r.lang FROM ranked r JOIN caps c ON r.lang = c.lang
         WHERE r.rn <= c.cap ORDER BY r.doc_id""",
    "q108_html_extract" ->
      s"""WITH $htmlInjectSql
         SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
           ${htmlTextSql("html")} AS text
         FROM inj ORDER BY doc_id""",
    "q110_anchor_density" ->
      s"""WITH $linkLinesSql
         SELECT doc_id, line_idx, CAST(n_chars AS INT) AS n_chars,
           anchor_permille
         FROM scored_lines ORDER BY doc_id, line_idx""",
    "q111_drop_boilerplate" ->
      s"""WITH $linkLinesSql,
         kept AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS s
                  FROM scored_lines WHERE anchor_permille <= 500 GROUP BY doc_id),
         all_docs AS (SELECT DISTINCT doc_id FROM inj)
         SELECT d.doc_id, ${htmlFinishSql("COALESCE(k.s, '')")} AS text
         FROM all_docs d LEFT JOIN kept k USING (doc_id) ORDER BY d.doc_id""",
    "q112_url_canon" ->
      s"""WITH $urlCanonSql
         SELECT doc_id, url, url_canon FROM fin ORDER BY doc_id""",
    "q114_twopass_assembly" ->
      s"""WITH m AS (SELECT doc_id, ${gopherMetricsSql("text")} FROM documents),
         t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(w)-1), i -> array_to_string(w[i+1:i+2], ' '))) s
               FROM t WHERE len(w) >= 2),
         c AS (SELECT doc_id, s, COUNT(*) c FROM g GROUP BY 1, 2),
         top AS (SELECT doc_id, c, s,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, s DESC) rn
                 FROM c),
         tg AS (SELECT t.doc_id,
             COALESCE(CAST(top.c * 2 AS DOUBLE) / len(t.w), 0.0) AS top_gram_frac
           FROM t LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)),
         feats AS (SELECT m.doc_id, m.n_words, m.n_stop, tg.top_gram_frac
                   FROM m JOIN tg USING (doc_id)),
         keep AS (SELECT doc_id FROM feats WHERE ($twoPassMarginSql) > 0)
         SELECT d.doc_id,
           CAST(len(string_split_regex(trim(d.text), '\\s+')) AS INT) AS n_tokens
         FROM documents d JOIN keep USING (doc_id) ORDER BY d.doc_id""",
    "q113_url_dedup" ->
      s"""WITH $urlCanonSql,
         r AS (SELECT doc_id, url_canon,
             row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) rn
           FROM fin)
         SELECT doc_id, url_canon FROM r WHERE rn = 1 ORDER BY doc_id""",
    "q115_domain_stats" ->
      s"""WITH $domainUrlSql
         SELECT domain, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM dh GROUP BY domain ORDER BY domain""",
    "q117_unicode_nfc" ->
      // chr codes: 769 = U+0301 combining acute, 64257 = U+FB01 fi
      // ligature (NFC preserves it — only NFKC folds compatibility
      // forms), 305 = U+0131 dotless i, 776 = U+0308 combining diaeresis
      """WITH t AS (SELECT doc_id,
           text || ' cafe' || chr(769) || ' ' || chr(64257) || 'nal na'
             || chr(305) || chr(776) || 've' AS t
         FROM documents)
         SELECT doc_id, nfc_normalize(t) AS text,
           CAST(length(t) - length(nfc_normalize(t)) AS INT) AS delta
         FROM t ORDER BY doc_id""",
    "q116_domain_cap" ->
      s"""WITH $domainUrlSql,
         r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
           FROM dh)
         SELECT doc_id, domain FROM r WHERE rn <= 30 ORDER BY doc_id""",
    "q118_ccnet_dedup" ->
      // the accent fixture is intentionally composed (chr(233) é /
      // chr(201) É) where the Spark side injects DECOMPOSED e+U+0301 —
      // matching fps prove both engines' normalization chains converge
      """WITH base AS (SELECT doc_id,
             text || ' price 1984 caf' || chr(233) AS t FROM documents),
         variants AS (SELECT doc_id + 1000000 AS doc_id,
             '  ' || upper(text) || ' PRICE  2042 CAF' || chr(201) AS t
           FROM documents WHERE doc_id < 100),
         all_docs AS (SELECT * FROM base UNION ALL SELECT * FROM variants)
         SELECT md5(regexp_replace(regexp_replace(
             strip_accents(lower(trim(t))), '[0-9]', '0', 'g'),
             '\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
         FROM all_docs GROUP BY 1 ORDER BY fp""",
    "q119_cluster_keep_best" ->
      s"""WITH RECURSIVE $lshChainSql,
         scored AS (SELECT c.a a, c.b b,
             CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) j
           FROM cand c JOIN common cm ON c.a = cm.a AND c.b = cm.b
           JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id),
         pairs AS (SELECT a, b FROM scored WHERE j >= 0.5),
         sym AS (SELECT a AS x, b AS y FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach AS (SELECT x AS node, y AS r FROM sym
                   UNION
                   SELECT reach.node, sym.y FROM reach JOIN sym ON reach.r = sym.x),
         comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
         labeled AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster, d.n_chars
                     FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         ranked AS (SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM labeled)
         SELECT doc_id, n_chars FROM ranked WHERE rn = 1 ORDER BY doc_id""",
    "q109_crawl_assembly" ->
      s"""WITH $htmlInjectSql,
         ext AS (SELECT doc_id, ${htmlTextSql("html")} AS t FROM inj),
         m AS (SELECT doc_id, t, ${gopherMetricsSql("t")} FROM ext),
         keep AS (SELECT doc_id, t FROM m WHERE ${gopherKeepSql(1)}),
         red AS (SELECT doc_id, ${piiRedactSql("t")} AS r FROM keep),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(r), '\\s+')) AS INT) n_tokens,
             md5('c7|' || CAST(doc_id AS VARCHAR)) mm FROM red),
         k AS (SELECT doc_id, n_tokens, ${hex48Sql("mm")} sk FROM tok),
         c AS (SELECT doc_id, n_tokens, sk,
             SUM(n_tokens) OVER (ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k)
         SELECT doc_id, n_tokens, sk AS shuffle_key,
           CAST((cum - n_tokens) // 2000 AS INT) AS shard_id
         FROM c ORDER BY doc_id""",
    "q106_temperature_mix" -> {
      val scale = graft.operators.DataMix.WeightScale
      s"""WITH have AS (SELECT source, COUNT(*) n FROM documents GROUP BY 1),
         w AS (SELECT source, CAST(FLOOR(sqrt(n) * $scale) AS BIGINT) wi FROM have),
         t AS (SELECT SUM(wi) tt FROM w),
         caps AS (SELECT w.source,
             CAST(FLOOR(w.wi / t.tt * 300) AS BIGINT) cap FROM w, t),
         ranked AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
           FROM documents)
         SELECT r.doc_id, r.source FROM ranked r JOIN caps c ON r.source = c.source
         WHERE r.rn <= c.cap ORDER BY r.doc_id"""
    },
    "q107_ccnet_buckets" -> {
      val t1 = 1.0 / 3
      val t2 = 2.0 / 3
      s"""WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') w FROM documents),
         pairs AS (SELECT doc_id, source,
             unnest(list_transform(range(len(w)-1), i -> w[i+1])) w1,
             unnest(list_transform(range(len(w)-1), i -> w[i+2])) w2
           FROM t WHERE len(w) >= 2),
         refbi AS (SELECT w1, w2, COUNT(*) c12 FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         stats AS (SELECT c.doc_id, COUNT(*) n_bigrams,
             COUNT(CASE WHEN b.c12 IS NULL THEN 1 END) n_oov
           FROM pairs c LEFT JOIN refbi b ON c.w1 = b.w1 AND c.w2 = b.w2
           WHERE c.source <> 'src0' GROUP BY 1),
         rated AS (SELECT d.doc_id,
             CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov,
             CASE WHEN COALESCE(s.n_bigrams, 0) > 0
               THEN CAST((s.n_oov * 1000) // s.n_bigrams AS INT) END AS oov_permille
           FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
           WHERE d.source <> 'src0'),
         th AS (SELECT quantile_cont(oov_permille, $t1) q1,
                       quantile_cont(oov_permille, $t2) q2 FROM rated)
         SELECT r.doc_id, r.n_bigrams, r.n_oov, r.oov_permille,
           CASE WHEN r.oov_permille IS NULL THEN NULL
             ELSE (CASE WHEN r.oov_permille > th.q1 THEN 1 ELSE 0 END
                 + CASE WHEN r.oov_permille > th.q2 THEN 1 ELSE 0 END) END AS bucket
         FROM rated r, th ORDER BY r.doc_id"""
    },
    "q76_bloom_blocklist" ->
      """SELECT d.doc_id FROM documents d
         WHERE d.source <> 'src0'
           AND NOT EXISTS (SELECT 1 FROM documents b
                           WHERE b.source = 'src0' AND b.n_chars = d.n_chars)
         ORDER BY d.doc_id""",
    "q79_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w) - 8, 1), 24)) i FROM t)
         SELECT doc_id, CAST(i // 24 AS INT) AS chunk_idx,
           array_to_string(w[i+1:i+32], ' ') AS chunk_text,
           CAST(len(w[i+1:i+32]) AS INT) AS chunk_tokens
         FROM st ORDER BY doc_id, chunk_idx""",
    "q80_incremental_dedup" ->
      s"""WITH $lshChainSql,
         cand2 AS (SELECT DISTINCT n.doc_id new_id, o.doc_id old_id
                   FROM bands n JOIN bands o ON n.band = o.band AND n.h = o.h
                   WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
         agree AS (SELECT c.new_id,
             (${(0 until 16).map(i => s"CASE WHEN ns.s$i = os.s$i THEN 1 ELSE 0 END").mkString(" + ")}) / 16.0 a
           FROM cand2 c JOIN sig ns ON ns.doc_id = c.new_id
                        JOIN sig os ON os.doc_id = c.old_id)
         SELECT doc_id FROM t WHERE len(w) >= 8 AND doc_id % 2 = 1
           AND doc_id NOT IN (SELECT new_id FROM agree WHERE a >= 0.5)
         ORDER BY doc_id""",
    "q81_bm25" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         d AS (SELECT doc_id, CAST(len(w) AS DOUBLE) dl, w FROM t),
         stats AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
             CAST(SUM(CAST(CAST(len(w) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) sdl FROM t),
         tf AS (SELECT doc_id, dl, tok AS term, CAST(COUNT(*) AS DOUBLE) tf
                FROM (SELECT doc_id, dl, unnest(w) tok FROM d) u
                WHERE tok IN ('stream', 'table', 'query') GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) dft FROM tf GROUP BY 1)
         SELECT f.doc_id, f.term, CAST(f.tf AS BIGINT) AS tf, CAST(f.dl AS BIGINT) AS dl,
           (s.n - d2.dft + CAST(0.5 AS DOUBLE)) / (d2.dft + CAST(0.5 AS DOUBLE))
             + CAST(1.0 AS DOUBLE) AS idf_arg,
           f.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (f.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                + CAST(0.75 AS DOUBLE) * (f.dl / (s.sdl / s.n)))) AS tf_factor
         FROM tf f JOIN dft d2 ON f.term = d2.term, stats s
         ORDER BY f.doc_id, f.term""",
    "q84_quantile_trim" ->
      """WITH b AS (SELECT quantile_cont(n_chars, 0.1) lo, quantile_cont(n_chars, 0.9) hi
                    FROM documents)
         SELECT doc_id, n_chars FROM documents, b
         WHERE n_chars >= lo AND n_chars <= hi ORDER BY doc_id""",
    "q87_lm_score" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') w FROM documents),
         pairs AS (SELECT doc_id, source,
             unnest(list_transform(range(len(w)-1), i -> w[i+1])) w1,
             unnest(list_transform(range(len(w)-1), i -> w[i+2])) w2
           FROM t WHERE len(w) >= 2),
         refbi AS (SELECT w1, w2, COUNT(*) c12 FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         refuni AS (SELECT w1, COUNT(*) c1 FROM (SELECT unnest(w) w1 FROM t WHERE source = 'src0') GROUP BY 1),
         stats AS (SELECT c.doc_id, COUNT(*) n_bigrams,
             COUNT(CASE WHEN b.c12 IS NULL THEN 1 END) n_oov,
             SUM(COALESCE(b.c12, 0)) sum_c12, SUM(COALESCE(u.c1, 0)) sum_c1
           FROM pairs c LEFT JOIN refbi b ON c.w1 = b.w1 AND c.w2 = b.w2
                        LEFT JOIN refuni u ON c.w1 = u.w1
           WHERE c.source <> 'src0' GROUP BY 1)
         SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.n_oov, 0) AS n_oov,
           CAST(COALESCE(s.sum_c12, 0) AS BIGINT) AS sum_c12, CAST(COALESCE(s.sum_c1, 0) AS BIGINT) AS sum_c1
         FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
         WHERE d.source <> 'src0' ORDER BY d.doc_id""",
    "q88_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) k FROM documents),
         n AS (SELECT COUNT(*) nn FROM tok)
         SELECT k AS key, COUNT(*) AS cnt FROM tok, n
         GROUP BY k, n.nn HAVING COUNT(*) * 51 > n.nn ORDER BY key""",
    "q86_set_ops" ->
      """WITH en AS (SELECT source FROM documents WHERE lang = 'en'),
         de AS (SELECT source FROM documents WHERE lang = 'de')
         SELECT source, 'both' AS op FROM (SELECT source FROM en INTERSECT SELECT source FROM de)
         UNION ALL
         SELECT source, 'en_only' AS op FROM (SELECT source FROM en EXCEPT SELECT source FROM de)
         ORDER BY op, source""",
    "q91_bpe_detok" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS detok
         FROM documents WHERE source <> 'src0' ORDER BY doc_id""",
    "q92_pii_redact" ->
      s"""WITH $piiInjectSql
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ip,
           ${piiRedactSql("t")} AS redacted
         FROM inj ORDER BY doc_id""",
    "q102_countmin" -> {
      val coef = TextDedup.minhashCoefficients(4)
      val buckets = coef.map { case (a, b) =>
        s"CAST(H * $a + $b AS BIGINT) % ${TextDedup.MinhashPrime} % 256"
      }
      s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) k FROM documents),
         cnts AS (SELECT k, COUNT(*) cnt FROM tok GROUP BY k),
         hx AS (SELECT k, cnt, md5(k) m FROM cnts),
         hb AS (SELECT k, cnt, $baseHashSql H FROM hx),
         rows_ AS (SELECT k, cnt,
             unnest([0, 1, 2, 3]) ri,
             unnest([${buckets.mkString(", ")}]) bucket FROM hb),
         sk AS (SELECT ri, bucket, SUM(cnt) cnt FROM rows_ GROUP BY 1, 2),
         tot AS (SELECT SUM(cnt) nn FROM cnts),
         hh AS (SELECT k, cnt FROM cnts, tot WHERE cnt * 51 > nn),
         est AS (SELECT r.k, MIN(CAST(COALESCE(s.cnt, 0) AS BIGINT)) est
           FROM (SELECT k, ri, bucket FROM rows_
                 WHERE k IN (SELECT k FROM hh)) r
           LEFT JOIN sk s ON r.ri = s.ri AND r.bucket = s.bucket
           GROUP BY r.k)
         SELECT h.k AS key, e.est AS est, CAST(h.cnt AS BIGINT) AS cnt
         FROM hh h JOIN est e ON h.k = e.k ORDER BY key"""
    },
    "q101_example_pack" ->
      s"""WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) n FROM documents),
         c AS (SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum FROM t),
         e AS (SELECT doc_id, n, cum,
             unnest(range((cum - n) // 512, (cum - 1) // 512 + 1)) eid
           FROM c WHERE n > 0)
         SELECT doc_id, CAST(eid AS INT) AS example_id,
           CAST(greatest(eid * 512 - (cum - n), 0) AS INT) AS off_in_doc,
           CAST(greatest((cum - n) - eid * 512, 0) AS INT) AS off_in_example,
           CAST(least(eid * 512 + 512, cum) - greatest(eid * 512, cum - n) AS INT) AS len
         FROM e ORDER BY doc_id, example_id""",
    "q100_winnow_fingerprints" -> {
      // polynomial-hash mirror built from RollingHashF's OWN constants:
      // h = Σ_j cp(i+j)·B^(7−j) mod M — every term < 2^52, BIGINT-exact
      val M = graft.sql.RollingHashF.Mod
      val B = graft.sql.RollingHashF.Base
      val pows = Array.iterate(1L, 8)(p => p * B % M).reverse // B^7..B^0
      val hashTerms = (0 until 8).map(j =>
        s"CAST(unicode(t[CAST(i + ${j + 1} AS INT):CAST(i + ${j + 1} AS INT)]) AS BIGINT) * ${pows(j)}")
        .mkString("(", " + ", s") % $M")
      s"""WITH norm AS (SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') t FROM documents),
         gs AS (SELECT doc_id, t, unnest(range(greatest(len(t) - 7, 0))) i FROM norm),
         hb AS (SELECT doc_id, CAST(i AS INT) pos, $hashTerms H FROM gs),
         win AS (SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id) n,
             MIN(H * 2097152 + pos) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) sel
           FROM hb),
         fp AS (SELECT DISTINCT doc_id, sel FROM win WHERE pos <= n - 4)
         SELECT doc_id, CAST(sel % 2097152 AS INT) AS pos,
           sel // 2097152 AS hash
         FROM fp ORDER BY doc_id, pos"""
    },
    "q99_corpus_assembly" ->
      s"""WITH $piiInjectSql,
         m AS (SELECT doc_id, t, ${gopherMetricsSql("t")} FROM inj),
         keep AS (SELECT doc_id, t FROM m WHERE ${gopherKeepSql(1)}),
         red AS (SELECT doc_id, ${piiRedactSql("t")} AS r FROM keep),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(r), '\\s+')) AS INT) n_tokens,
             md5('s5|' || CAST(doc_id AS VARCHAR)) mm FROM red),
         k AS (SELECT doc_id, n_tokens, ${hex48Sql("mm")} sk FROM tok),
         c AS (SELECT doc_id, n_tokens, sk,
             SUM(n_tokens) OVER (ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k)
         SELECT doc_id, n_tokens, sk AS shuffle_key,
           CAST((cum - n_tokens) // 2000 AS INT) AS shard_id
         FROM c ORDER BY doc_id""",
    "q93_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 8)) i FROM t),
         lines AS (SELECT doc_id, CAST(i // 8 AS INT) pos,
             array_to_string(w[i+1:i+8], ' ') line FROM st),
         kept AS (SELECT line, MIN({'doc_id': doc_id, 'pos': pos}) f FROM lines GROUP BY line),
         surv AS (SELECT f.doc_id doc_id, f.pos pos, line FROM kept),
         rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) clean,
             CAST(COUNT(*) AS INT) n_kept
           FROM surv GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean, '') AS clean,
           COALESCE(r.n_kept, 0) AS n_kept
         FROM (SELECT DISTINCT doc_id FROM lines) d
         LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""",
    "q120_ccnet_line_dedup" ->
      // first occurrence per NORMALIZED key via a struct-min whose first
      // field is the unique packed (doc,pos) long — the struct carries
      // the original line bytes of exactly that occurrence
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         st AS (SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 8)) i FROM t),
         lines0 AS (SELECT doc_id, CAST(i // 8 AS INT) pos,
             array_to_string(w[i+1:i+8], ' ') raw FROM st),
         lines AS (SELECT doc_id, pos,
             CASE WHEN doc_id % 2 = 1 THEN upper(raw) ELSE raw END line
           FROM lines0),
         keyed AS (SELECT doc_id, pos, line,
             md5(regexp_replace(regexp_replace(
               strip_accents(lower(trim(line))), '[0-9]', '0', 'g'),
               '\s+', ' ', 'g')) fp
           FROM lines),
         kept AS (SELECT fp,
             MIN({'k': doc_id * 2097152 + pos, 'line': line}) f
           FROM keyed GROUP BY fp),
         surv AS (SELECT CAST(f.k // 2097152 AS BIGINT) doc_id,
             CAST(f.k % 2097152 AS INT) pos, f.line line FROM kept),
         rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) clean,
             CAST(COUNT(*) AS INT) n_kept
           FROM surv GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean, '') AS clean,
           COALESCE(r.n_kept, 0) AS n_kept
         FROM (SELECT DISTINCT doc_id FROM lines) d
         LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""",
    "q94_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
         gs AS (SELECT doc_id, w, unnest(range(greatest(len(w)-7, 0))) i FROM t),
         g AS (SELECT doc_id, CAST(i AS INT) pos,
             array_to_string(w[i+1:i+8], ' ') gram FROM gs),
         f AS (SELECT gram, MIN(doc_id * 2097152 + pos) fp FROM g GROUP BY gram),
         marked AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)
                    WHERE g.doc_id * 2097152 + g.pos > f.fp),
         cm AS (SELECT doc_id, unnest(range(pos, pos + 8)) p FROM marked),
         cov AS (SELECT DISTINCT doc_id, CAST(p AS INT) pos FROM cm),
         ts AS (SELECT doc_id, w, unnest(range(len(w))) i FROM t),
         tok AS (SELECT doc_id, CAST(i AS INT) pos, w[CAST(i AS INT) + 1] tok FROM ts),
         kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
                  LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
                  WHERE c.doc_id IS NULL),
         rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) clean,
             CAST(COUNT(*) AS INT) n_kept FROM kept GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(r.clean, '') AS clean,
           COALESCE(r.n_kept, 0) AS n_kept
         FROM t LEFT JOIN rebuilt r USING (doc_id) ORDER BY t.doc_id""",
    "q98_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",
    "q97_shuffled_shards" ->
      s"""WITH t AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) n_tokens,
           md5('s5|' || CAST(doc_id AS VARCHAR)) m FROM documents),
         k AS (SELECT doc_id, n_tokens, ${hex48Sql("m")} k FROM t),
         c AS (SELECT doc_id, n_tokens, k,
             SUM(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k)
         SELECT doc_id, k AS shuffle_key, n_tokens,
           CAST((cum - n_tokens) // 500 AS INT) AS shard_id
         FROM c ORDER BY doc_id""",
    "q95_gopher_rules" ->
      s"""WITH m AS (SELECT doc_id, ${gopherMetricsSql("text")} FROM documents)
         SELECT doc_id, n_words, total_len, n_alpha, n_sym, n_lines,
           n_bullet, n_ellipsis, n_stop, ${gopherKeepSql(1)} AS keep
         FROM m ORDER BY doc_id""",
    "q104_quality_classifier" ->
      s"""WITH m AS (SELECT doc_id, ${gopherMetricsSql("text")} FROM documents),
         z AS (SELECT doc_id, $classifierMarginSql AS z FROM m)
         SELECT doc_id, z, z > 0 AS keep FROM z ORDER BY doc_id""",
    "q105_classifier_assembly" ->
      s"""WITH $piiInjectSql,
         m AS (SELECT doc_id, t, ${gopherMetricsSql("t")} FROM inj),
         keep AS (SELECT doc_id, t FROM m WHERE ($classifierMarginSql) > 0),
         red AS (SELECT doc_id, ${piiRedactSql("t")} AS r FROM keep),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(r), '\\s+')) AS INT) n_tokens,
             md5('c6|' || CAST(doc_id AS VARCHAR)) mm FROM red),
         k AS (SELECT doc_id, n_tokens, ${hex48Sql("mm")} sk FROM tok),
         c AS (SELECT doc_id, n_tokens, sk,
             SUM(n_tokens) OVER (ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM k)
         SELECT doc_id, n_tokens, sk AS shuffle_key,
           CAST((cum - n_tokens) // 2000 AS INT) AS shard_id
         FROM c ORDER BY doc_id""",
    "q103_epoch_pack" ->
      s"""WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) n FROM documents),
         h AS (SELECT e.epoch, t.doc_id, t.n,
             md5(e.epoch || '|' || CAST(t.doc_id AS VARCHAR)) m
           FROM t CROSS JOIN (VALUES ('epoch1'), ('epoch2')) e(epoch)),
         k AS (SELECT epoch, doc_id, n, ${hex48Sql("m")} k FROM h),
         c AS (SELECT epoch, doc_id, n,
             CAST(SUM(n) OVER (PARTITION BY epoch ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum
           FROM k),
         e AS (SELECT epoch, doc_id, n, cum,
             unnest(range((cum - n) // 512, (cum - 1) // 512 + 1)) eid
           FROM c WHERE n > 0)
         SELECT epoch, doc_id, CAST(eid AS INT) AS example_id,
           CAST(greatest(eid * 512 - (cum - n), 0) AS INT) AS off_in_doc,
           CAST(greatest((cum - n) - eid * 512, 0) AS INT) AS off_in_example,
           CAST(least(eid * 512 + 512, cum) - greatest(eid * 512, cum - n) AS INT) AS len
         FROM e ORDER BY epoch, doc_id, example_id""")

  /** Shared LSH oracle chain (shingles → sizes → minhash sigs → bands →
    * candidate pairs → pairwise common counts) — mirrors TextDedup's
    * minhash/LSH pipeline; used by the q37 scoring and q38 removal
    * oracles. */
  private lazy val lshChainSql: String = {
    val bandHashes = (0 until 8).map(b =>
      s"md5(CAST(s${2 * b} AS VARCHAR) || '|' || CAST(s${2 * b + 1} AS VARCHAR))")
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
       sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(w)-7), i -> array_to_string(w[i+1:i+8], ' '))) s
              FROM t WHERE len(w) >= 8),
       sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
       hx AS (SELECT doc_id, md5(s) m FROM sh),
       hb AS (SELECT doc_id, $baseHashSql H FROM hx),
       sig AS (SELECT doc_id,
           ${(0 until 16).map(i => sigSql(i, s"s$i")).mkString(", ")}
         FROM hb GROUP BY doc_id),
       bands AS (SELECT doc_id,
           unnest([${bandHashes.mkString(", ")}]) h,
           unnest([0, 1, 2, 3, 4, 5, 6, 7]) band
         FROM sig),
       cand AS (SELECT DISTINCT l.doc_id a, r.doc_id b
                FROM bands l JOIN bands r ON l.band = r.band AND l.h = r.h AND l.doc_id < r.doc_id),
       common AS (SELECT l.doc_id a, r.doc_id b, COUNT(*) common
                  FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id GROUP BY 1, 2)"""
  }
}
