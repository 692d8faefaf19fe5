package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties (SURVEY §5): algebraic invariants of the pure
  * plan-constant generators, plus dataflow invariants (dedup idempotence,
  * split partitioning) over small generated DataFrames.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def check(p: Prop, cases: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  test("minhashCoefficients: a odd in [1,2^31), b in [0,2^31), no a*H+b overflow") {
    check(Prop.forAll(Gen.choose(1, 64)) { k =>
      val cs = graft.dedup.TextDedup.minhashCoefficients(k)
      cs.length == k && cs.forall { case (a, b) =>
        a % 2 == 1 && a >= 1 && a < (1L << 31) && b >= 0 && b < (1L << 31) &&
          // H < 2^32 ⇒ a*H+b < 2^63 (the no-BIGINT-overflow contract)
          a * 4294967295L + b > 0
      }
    })
  }

  test("minhashCoefficients is a stable prefix family (k+1 extends k)") {
    check(Prop.forAll(Gen.choose(1, 32)) { k =>
      val small = graft.dedup.TextDedup.minhashCoefficients(k).toSeq
      val big = graft.dedup.TextDedup.minhashCoefficients(k + 1).toSeq
      big.take(k) == small
    })
  }

  test("DCG discounts decrease; ideal DCG strictly increases with truth size") {
    check(Prop.forAll(Gen.choose(1, 100)) { k =>
      val d = graft.rank.RankingEval.discountsScaled(k)
      val ideal = graft.rank.RankingEval.idcgScaled(k)
      d.zip(d.tail).forall { case (x, y) => x >= y && y > 0 } &&
        ideal.zip(ideal.tail).forall { case (x, y) => x < y }
    })
  }

  test("columnUnion: deduplicating, order-preserving, idempotent") {
    val gen = Gen.listOf(Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e")))
    check(Prop.forAll(gen) { groups =>
      val u = graft.models.StarDag.columnUnion(groups)
      u.distinct == u &&
        u.toSet == groups.flatten.toSet &&
        graft.models.StarDag.columnUnion(Seq(u)) == u
    })
  }

  test("srpSigns entries are exactly ±1 and the family is a stable prefix") {
    check(Prop.forAll(Gen.choose(1, 16), Gen.choose(1, 32)) { (bits, dim) =>
      val s = graft.sim.Knn.srpSigns(bits, dim)
      s.forall(_.forall(v => v == 1.0 || v == -1.0)) &&
        graft.sim.Knn.srpSigns(bits, dim + 1).map(_.take(dim).toSeq).toSeq ==
          s.map(_.toSeq).toSeq
    }, cases = 30)
  }

  test("dropExactDuplicates is idempotent and canonical ids survive (dataflow)") {
    val docGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(1L, 1000L), Gen.oneOf("a b", "A  b", "x", "x ", "y z w")))
    check(Prop.forAll(docGen) { rows =>
      val df = rows.toDF("doc_id", "text").dropDuplicates("doc_id")
      val fp = graft.functions.TextOps.fingerprint($"text")
      val once = graft.dedup.TextDedupSpec.dropExactDuplicatesBy(df, "doc_id", fp)
      // re-materialize before the second pass: a doubly-nested self-semi-join
      // trips an attribute-binding INTERNAL_ERROR in Spark 4.1's analyzer
      val onceLocal = once.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      val twice = graft.dedup.TextDedupSpec.dropExactDuplicatesBy(
        onceLocal.toDF("doc_id", "text"), "doc_id", fp)
      onceLocal.map(_._1).sorted == twice.select($"doc_id").as[Long].collect().toSeq.sorted
    }, cases = 10)
  }

  test("timeSplit partitions exactly for arbitrary boundaries (dataflow)") {
    val tsGen = Gen.listOfN(20, Gen.choose(0L, 4000L))
    val bGen = Gen.zip(Gen.choose(0L, 2000L), Gen.choose(2000L, 4000L))
    check(Prop.forAll(tsGen, bGen) { case (ts, (b1, b2)) =>
      val df = ts.toDF("t").select(timestamp_seconds($"t").as("ts"))
      val (a, b, c) = graft.operators.Relational.timeSplit(df, "ts",
        timestamp_seconds(lit(b1)), timestamp_seconds(lit(b2)))
      a.count() + b.count() + c.count() == df.count()
    }, cases = 10)
  }

  test("asOf equals per-row brute force on random event streams (dataflow)") {
    // random spines/features over few keys and a tight time range, so ties,
    // matchless keys and duplicate feature times all occur
    val spineGen = Gen.listOfN(15, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L)))
    val featGen = Gen.listOfN(15,
      Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L), Gen.choose(0, 99)))
    check(Prop.forAll(spineGen, featGen) { case (sp, ft) =>
      val spine = sp.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "t")
      val feats = ft.map { case (k, t, v) => (k, t, v.toDouble) }.toDF("k", "ft", "v")
      val got = graft.operators.AsOfJoin
        .asOf(spine, feats, Seq("k"), "t", "ft", Seq("v"))
        .select($"id", $"asof_v", $"asof_ft").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
      sp.zipWithIndex.forall { case ((k, t), i) =>
        val eligible = ft.filter { case (fk, fts, _) => fk == k && fts <= t }
        val expect =
          if (eligible.isEmpty) (None, None)
          else {
            // operator tie-break: latest time, then greatest value tuple
            val (_, bt, bv) = eligible.maxBy { case (_, fts, v) => (fts, v) }
            (Some(bv.toDouble), Some(bt))
          }
        got(i.toLong) == expect
      }
    }, cases = 20)
  }

  test("intervalJoin equals the naive band join for random bins (dataflow)") {
    val ptGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 3L)))
    val ivGen = Gen.listOfN(6,
      Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 20L), Gen.choose(0L, 3L)))
    val binGen = Gen.oneOf(1L, 3L, 7L, 100L)
    check(Prop.forAll(ptGen, ivGen, binGen) { case (ps, ivs, bin) =>
      val points = ps.zipWithIndex.map { case ((t, k), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "t")
      val intervals = ivs.zipWithIndex.map { case ((lo, len, k), i) =>
        (1000L + i, k, lo, lo + len) }.toDF("iid", "k", "lo", "hi")
      val got = graft.operators.Relational
        .intervalJoin(points, intervals, "t", "lo", "hi", bin, Seq("k"))
        .select($"pid", $"iid").as[(Long, Long)].collect().toSet
      val expect = (for {
        ((t, k), i) <- ps.zipWithIndex
        ((lo, len, ik), j) <- ivs.zipWithIndex
        if ik == k && t >= lo && t <= lo + len
      } yield (i.toLong, 1000L + j)).toSet
      got == expect
    }, cases = 20)
  }

  test("ShardPack.cumsum equals the in-memory prefix sum for any buckets (dataflow)") {
    val rowGen = Gen.listOfN(15, Gen.zip(Gen.choose(-1000L, 1000L), Gen.choose(1L, 500L)))
    val bucketGen = Gen.oneOf(1, 2, 7, 64)
    check(Prop.forAll(rowGen, bucketGen) { case (rows0, buckets) =>
      val rows = rows0.distinctBy(_._1) // unique order keys
      rows.isEmpty || {
        val got = graft.operators.ShardPack
          .cumsum(rows.toDF("id", "w"), "id", $"w", "cum", buckets)
          .orderBy($"id").select($"cum").as[Long].collect().toSeq
        val expect = rows.sortBy(_._1).map(_._2).scanLeft(0L)(_ + _).tail
        got == expect
      }
    }, cases = 15)
  }

  test("Chunking covers every token exactly and never emits an overlap-only tail (dataflow)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      size <- Gen.choose(2, 16)
      overlap <- Gen.choose(0, size - 1)
    } yield (n, size, overlap)
    check(Prop.forAll(gen) { case (n, size, overlap) =>
      val toks = (1 to n).map(i => s"w$i")
      val df = Seq((1L, toks)).toDF("id", "t")
      val chunks = graft.functions.Chunking
        .chunkTokens(df, "id", $"t", size, overlap)
        .orderBy($"chunk_idx")
        .select($"chunk_text").as[String].collect().toSeq
        .map(s => if (s.isEmpty) Seq.empty[String] else s.split(" ").toSeq)
      val step = size - overlap
      val starts = 1 to math.max(n - overlap, 1) by step
      chunks.length == starts.length &&
        chunks.flatten.toSet == toks.toSet &&
        chunks.zip(starts).forall { case (c, st) =>
          c == toks.slice(st - 1, st - 1 + size) }
    }, cases = 25)
  }

  test("DataMix.capPerGroup keeps exactly min(cap, group size) per group (dataflow)") {
    val rowGen = Gen.listOfN(20, Gen.zip(Gen.choose(1L, 500L), Gen.oneOf("x", "y", "z")))
    val capGen = Gen.listOfN(3, Gen.choose(0L, 10L))
    check(Prop.forAll(rowGen, capGen) { case (rows0, caps0) =>
      val rows = rows0.distinctBy(_._1)
      val caps = Seq("x", "y", "z").zip(caps0)
      val got = graft.operators.DataMix
        .capPerGroup(rows.toDF("id", "g"), "g", $"id", caps.toDF("g", "cap"))
        .groupBy($"g").count().as[(String, Long)].collect().toMap
      caps.forall { case (g, cap) =>
        val have = rows.count(_._2 == g).toLong
        got.getOrElse(g, 0L) == math.min(cap, have)
      }
    }, cases = 15)
  }

  test("Decontaminate report: contamination in [0,1], one row per corpus doc (dataflow)") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val textGen = Gen.listOfN(6, word).map(_.mkString(" "))
    val gen = Gen.zip(Gen.listOfN(6, textGen), Gen.listOfN(3, textGen))
    check(Prop.forAll(gen) { case (corpusTexts, benchTexts) =>
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select($"id", graft.functions.TextOps.tokens($"text").as("__toks"))
      val bench = benchTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("id", "text")
        .select($"id", graft.functions.TextOps.tokens($"text").as("__toks"))
      val grams = graft.functions.TextOps.wordShingles($"__toks", 3)
      val rep = graft.dedup.Decontaminate.contamination(corpus, "id", grams,
          graft.dedup.Decontaminate.benchmarkGrams(bench, grams))
        .select($"id", $"contamination").as[(Long, Double)].collect()
      rep.length == corpusTexts.length &&
        rep.forall { case (_, c) => c >= 0.0 && c <= 1.0 }
    }, cases = 10)
  }

  test("SpanDedup equals the in-memory reference on random low-vocab corpora (dataflow)") {
    val k = 3
    // tiny vocabulary + short docs force heavy cross- and within-doc gram
    // collisions, overlapping spans, and sub-k docs
    val docGen = Gen.choose(0, 9)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    check(Prop.forAll(Gen.listOfN(5, docGen)) { docs0 =>
      val docs = docs0.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      // reference: mark every non-first duplicated-gram occurrence, cut
      val occ = for ((id, ts) <- docs; i <- 0 to ts.length - k)
        yield (id, i, ts.slice(i, i + k).mkString(" "))
      val first = occ.groupBy(_._3).map { case (g, os) =>
        g -> os.map(o => (o._1, o._2)).min }
      val covered = occ.filter { case (id, i, g) => (id, i) != first(g) }
        .groupBy(_._1).map { case (id, ms) =>
          id -> ms.flatMap(m => m._2 until m._2 + k).toSet }
      val expect = docs.map { case (id, ts) =>
        val cov = covered.getOrElse(id, Set.empty[Int])
        val kept = ts.zipWithIndex.collect { case (t, i) if !cov(i) => t }
        (id, kept.mkString(" "), kept.length)
      }.sortBy(_._1)
      val in = docs.toDF("id", "toks")
      val got = graft.dedup.SpanDedup
        .removeDuplicateSpans(in, "id", $"toks", k)
        .orderBy($"id").as[(Long, String, Int)].collect().toSeq
      got == expect
    }, cases = 15)
  }

  test("CorpusShuffle shards are a permutation packed exactly like the reference (dataflow)") {
    val rowGen = Gen.listOfN(12, Gen.choose(1L, 50L))
    val budgetGen = Gen.oneOf(10L, 60L, 1000L)
    check(Prop.forAll(rowGen, budgetGen) { case (ws, budget) =>
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val got = graft.operators.CorpusShuffle
        .shuffledShards(rows.toDF("id", "w"), "id", $"w", "seed", budget)
        .select($"id", $"shuffle_key", $"shard_id")
        .as[(Long, Long, Int)].collect().toSeq
      // reference: sort by (key, id), exclusive-prefix-sum DIV budget
      val byKey = got.map(t => t._1 -> t._2).toMap
      val ordered = rows.sortBy { case (id, _) => (byKey(id), id) }
      val shards = ordered.map(_._2).scanLeft(0L)(_ + _).init
        .map(excl => (excl / budget).toInt)
      val expect = ordered.map(_._1).zip(shards).toMap
      rows.isEmpty ||
        (got.map(_._1).sorted == rows.map(_._1) && // a permutation: all ids, once
          got.map(t => t._1 -> t._3).toMap == expect)
    }, cases = 15)
  }

  test("Hll.rhoOf ladder matches JVM leading-zero ground truth over md5") {
    check(Prop.forAll(Gen.choose(0L, 10000000L)) { id =>
      val got = Seq(Tuple1(id)).toDF("k")
        .select(graft.functions.Hll.rhoOf($"k").as("r")).head.getInt(0)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val w = java.lang.Long.parseLong(hex.substring(3, 15), 16)
      val expect =
        if (w == 0L) 49 else java.lang.Long.numberOfLeadingZeros(w) - 16 + 1
      got == expect
    }, cases = 20)
  }

  test("Dsir.featureBuckets arity: n tokens -> 2n-1 features (n>=2), n==1 -> 1") {
    val gen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty)).map(_.take(30))
    check(Prop.forAll(gen) { toks =>
      val df = Seq(Tuple1(toks)).toDF("__toks")
      val n = df.select(graft.operators.Dsir.featureBuckets($"__toks", 64).as("f"))
        .head.getSeq[Long](0).length
      n == (if (toks.length >= 2) 2 * toks.length - 1 else toks.length)
    }, cases = 20)
  }

  test("Rrf.fuse equals the closed form for random rank pairs") {
    check(Prop.forAll(Gen.choose(1, 200), Gen.choose(1, 200)) { (r1, r2) =>
      val a = Seq((1L, r1)).toDF("id", "rank")
      val b = Seq((1L, r2)).toDF("id", "rank")
      val s = graft.rank.Rrf.fuse(Seq(a, b), "id", "rank").head.getDouble(3)
      s == 1.0 / (60 + r1) + 1.0 / (60 + r2) && s <= 2.0 / 61 && s > 0
    }, cases = 10)
  }

  /** Independent integer PageRank (same recurrence, no Spark) for the
    * dataflow property below — separate from PageRankSpec's copy on
    * purpose: two hand-written references agreeing with the operator on
    * random graphs is the strongest cheap evidence the fixed-point
    * arithmetic is what the Scaladoc claims. */
  private def prReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val scale = graft.graph.PageRank.Scale
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val tele = scale / n
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> tele).toMap
    for (_ <- 0 until iters) {
      val dang = nodes.filterNot(outdeg.contains).map(r).sum
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- edges) in(d) += r(s) / outdeg(s)
      r = nodes.map(v => v -> (15L * tele + 85L * (in(v) + dang / n)) / 100L).toMap
    }
    r
  }

  test("PageRank equals the integer reference on random digraphs (dataflow)") {
    val genEdge = for {
      a <- Gen.choose(0L, 12L); b <- Gen.choose(0L, 12L) if a != b
    } yield (a, b)
    check(Prop.forAll(Gen.nonEmptyListOf(genEdge), Gen.choose(0, 4)) {
      (es0, iters) =>
        val es = es0.distinct
        val got = graft.graph.PageRank.run(es.toDF("src", "dst"), iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == prReference(es, iters)
    }, cases = 8)
  }

  test("the vector kernels' primitive sorts keep ties in order, as the boxed stable sorts") {
    val row = for { id <- Gen.choose(-3L, 3L); cell <- Gen.choose(-1L, 3L) } yield (id, cell)
    check(Prop.forAll(Gen.listOf(row)) { rows =>
      val ids = rows.map(_._1).toArray
      val cells = rows.map(_._2).toArray
      graft.sql.TopKDotF32.idOrder(ids).toSeq == ids.indices.sortBy(ids(_)) &&
        graft.sql.TopKDotIvfF32.cellOrder(ids, cells, 3).toSeq ==
          ids.indices.filter(r => cells(r) >= 0 && cells(r) < 3).sortBy(r => (cells(r), ids(r)))
    }, cases = 300)
  }
}
