package graft.rank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.operators.Budgets.integral

/** Deterministic item–item co-occurrence retrieval (the engine's fully
  * reproducible recommender; capability analog of the reference's top-k
  * retrieval, my_merlin_flow.py:333-345, with integer scoring so results are
  * exactly reproducible in any SQL engine — the ALS path in AlsRecommender
  * is the learned counterpart).
  *
  * Scale design: the per-user self-join is quadratic in basket size — pass
  * `maxBasket` to bound it (Interactions.recentN keeps each user's most
  * recent N items, so per-user pair space is <= N·(N-1) no matter how hot
  * the user); the neighbor model is capped at `maxNeighbors` per item
  * (count desc, item asc — deterministic), so the model table is
  * |items| × M rows: broadcastable for dims in the millions,
  * shuffle-joinable beyond. At 100 TB both caps are mandatory.
  */
object Cooccur {

  /** Fit: DataFrame[item_a, item_b, c] — for each item, its top-M
    * co-purchased items by co-user count.
    *
    * Shuffle plan: ONE full-width shuffle. The pair stream is explicitly
    * repartitioned on item_a; HashPartitioning(item_a) satisfies the
    * clustering requirement of both the (item_a, item_b) aggregation
    * (subset-key clustering) and the item_a window, so neither inserts
    * another exchange over the multi-10M-row pair stream.
    */
  def itemNeighbors(inter: DataFrame, maxNeighbors: Int = 50, maxBasket: Int = 0): DataFrame =
    itemNeighborsRanked(inter, maxNeighbors, maxBasket).drop("nb_rank")

  /** Recommend: top-k unseen items per user, scored by the summed co-user
    * count over the user's history. Output: user_id, rk, item_id, score.
    *
    * Shuffle plan: the scored candidate stream (|history| × M rows) crosses
    * ONE shuffle, on user_id. The seen-items exclusion is NOT a join — an
    * anti join on (user_id, item_b) would force a second full-width shuffle
    * and then the per-user window a third. Instead, history rows are
    * unioned into the candidate stream as null-scored marker rows; the one
    * (user_id, item_b) aggregation sums scores AND detects the marker, and
    * HashPartitioning(user_id) satisfies the aggregation, the filter, and
    * the top-k window without further exchanges.
    *
    * The final cut deliberately stays the WINDOW form, not TopKAggF
    * (round-10 audit): its input is already HashPartitioning(user_id) —
    * there is no exchange left for a map-side heap to shrink — and
    * Spark's InferWindowGroupLimit already bounds the per-group sort to
    * rank <= k survivors, so the aggregate form would only swap one
    * bounded in-partition pass for another.
    */
  def recommend(inter: DataFrame, neighbors: DataFrame, k: Int = 10,
      maxBasket: Int = 0): DataFrame = {
    val t = inter.select(col("user_id"), col("item_id")).distinct()
    // With maxBasket > 0, candidates are generated from the capped recent
    // history (|hist| × M rows stays bounded for hot users), but the seen-
    // items exclusion still covers the FULL history — an item the user
    // touched long ago is still "seen", and the seen stream is linear in
    // interactions, so keeping it uncapped costs nothing quadratic.
    val hist =
      if (maxBasket > 0)
        Interactions.recentN(inter, maxBasket).select(col("user_id"), col("item_id"))
      else t
    val cand = hist.join(neighbors, hist("item_id") === neighbors("item_a"))
      .select(col("user_id"), col("item_b"), col("c"), lit(false).as("__seen"))
    val seenRows = t.select(col("user_id"), col("item_id").as("item_b"),
      lit(null).cast("long").as("c"), lit(true).as("__seen"))
    val unseen = cand.unionByName(seenRows)
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("item_b"))
      .agg(sum(col("c")).as("score"), max(col("__seen")).as("__s"))
      .filter(!col("__s"))
      .select(col("user_id"), col("item_b"), col("score"))
    Relational.topKPerGroup(unseen, Seq("user_id"),
        Seq(col("score").desc, col("item_b").asc), k)
      .select(col("user_id"), col("rk"), col("item_b").as("item_id"), col("score"))
  }

  /** [[itemNeighbors]] keeping the per-item neighbor rank (`nb_rank`,
    * 1-based under (c desc, item_b asc)) — the nested-grid primitive:
    * `nb_rank <= m` of one maxNeighbors fit IS itemNeighbors(inter, m)
    * for every m <= maxNeighbors, so a cap grid fits ONCE at the largest
    * cap instead of once per point. */
  def itemNeighborsRanked(inter: DataFrame, maxNeighbors: Int = 50,
      maxBasket: Int = 0): DataFrame = {
    // user-keyed repartition feeds the (user, item) distinct (subset
    // clustering) AND both sides of the self-join (co-partitioned on the
    // join key) — measured 2 fewer exchanges than distinct-then-join.
    // With maxBasket > 0 the capped history is already distinct AND already
    // HashPartitioning(user_id) after recentN's window, so the self-join
    // still reuses one exchange and the pair space is bounded by N·(N-1)
    // per user.
    val t =
      if (maxBasket > 0)
        Interactions.recentN(inter, maxBasket).select(col("user_id"), col("item_id"))
      else inter.select(col("user_id"), col("item_id"))
        .repartition(col("user_id")).distinct()
    // shuffled-hash build (round 15, guide §3.1): the sides are already
    // co-partitioned on the basket key, so sort-merge paid two
    // per-partition sorts for nothing — the hinted build is
    // row-identical (order-insensitive consumers) and measured faster
    // on every basket self-join shape (see StarQueries.copurchaseJoin).
    val pairs = t.as("a").join(t.as("b").hint("shuffle_hash"),
        col("a.user_id") === col("b.user_id") && col("a.item_id") =!= col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"))
      .repartition(col("item_a"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("c"))
    Relational.topKPerGroup(pairs, Seq("item_a"),
        Seq(col("c").desc, col("item_b").asc), maxNeighbors, "__nrk")
      .withColumnRenamed("__nrk", "nb_rank")
  }

  /** The whole neighbor-cap grid in ONE candidate pass: per-cap recs
    * identical to `recommend(inter, itemNeighbors(inter, m), k)` for every
    * m in `caps`, but the scored candidate stream (|history| × M rows —
    * the grid's dominant cost) crosses its one user_id shuffle ONCE
    * instead of once per grid point. Per-cap scores are conditional sums
    * over the shared ranked-neighbor join (`sum(c) filter nb_rank <= m` —
    * exact same integer totals as the per-cap fit, since a cap-m neighbor
    * list is the rank-<=m prefix of the largest fit); the aggregated
    * per-user frame is materialized once (users × distinct-candidates
    * rows, ContextCleaner-reclaimed) and each cap's top-k window re-reads
    * it instead of replaying the candidate join. Output adds `cap` to the
    * recommend schema; row-parity with the per-cap form is spec-pinned
    * (CooccurSpec) and q53's oracle replays each cap independently.
    *
    * `neighborsRanked` must come from [[itemNeighborsRanked]] with
    * maxNeighbors >= max(caps) (required). */
  def recommendMultiCap(inter: DataFrame, neighborsRanked: DataFrame,
      caps: Seq[Int], k: Int = 10, maxBasket: Int = 0): DataFrame = {
    require(caps.nonEmpty, "empty cap grid")
    val t = inter.select(col("user_id"), col("item_id")).distinct()
    val hist =
      if (maxBasket > 0)
        Interactions.recentN(inter, maxBasket).select(col("user_id"), col("item_id"))
      else t
    val cand = hist.join(neighborsRanked, hist("item_id") === neighborsRanked("item_a"))
      .select(col("user_id"), col("item_b"), col("c"), col("nb_rank"),
        lit(false).as("__seen"))
    val seenRows = t.select(col("user_id"), col("item_id").as("item_b"),
      lit(null).cast("long").as("c"), lit(null).cast("int").as("nb_rank"),
      lit(true).as("__seen"))
    val capScores = caps.map(m =>
      sum(when(col("nb_rank") <= m, col("c"))).as(s"__score_$m"))
    val scored = cand.unionByName(seenRows)
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("item_b"))
      .agg(capScores.head, capScores.tail :+ max(col("__seen")).as("__s"): _*)
      .filter(!col("__s"))
      .localCheckpoint() // one pass feeds every cap's top-k branch
    caps.map { m =>
      val unseen = scored.filter(col(s"__score_$m").isNotNull)
        .select(col("user_id"), col("item_b"), col(s"__score_$m").as("score"))
      Relational.topKPerGroup(unseen, Seq("user_id"),
          Seq(col("score").desc, col("item_b").asc), k)
        .select(lit(m).as("cap"), col("user_id"), col("rk"),
          col("item_b").as("item_id"), col("score"))
    }.reduce(_ unionByName _)
  }

  /** Budget-fused [[recommend]] — the TopKDotF32 lesson applied to the
    * EXACT co-occurrence ranker. The round-11 serving audit (SCALE.md
    * r11serve) proved the join plan's candidate shuffle is the
    * exact-semantics floor FOR A JOIN PLAN: a candidate's (user, item_b)
    * duplicates originate in different item_a partitions, so no map-side
    * combine exists. But the model itself is BOUNDED (items × maxNeighbors
    * rows, capped by construction) — under `Budgets.cooccurModelRows` it
    * broadcasts, and each user's scores accumulate ROW-LOCALLY over their
    * grouped history: the |history|×M candidate rows never exist, and the
    * only exchanges are the two user-keyed groupings (seen set + capped
    * basket, co-partitioned for their join). Scores are sums of longs
    * (order-free) and the cut replays (score desc, item asc), so the
    * output is row-identical to [[recommend]] — spec-pinned at cap 0 and
    * capped, with ties.
    *
    * None — callers fall back to the join plan — past the model budget
    * or what the session's driver holds (`Budgets.driverRows`), for an
    * empty or null-bearing model, for non-integral/mismatched id types
    * or a non-integral score column (the fused path casts `c` to long,
    * which would silently truncate a double where recommend() sums it
    * exactly — round-12 advice), or when
    * interactions carry a null user/item (detected with the
    * collect_set-size device before anything is collected): 100 TB of
    * interactions stream through this plan fine (they are never
    * collected), but a model past executor memory belongs to the join.
    * The model gate is a MEASURED crossover, not a heap bound (SCALE.md
    * r12serve: fused wins 2.2× at a 1M-row model, loses 1.2× at 10M).
    *
    * `users` (round-12 verdict task 3 — the TwoTower.recommend pattern):
    * when given, only those users are scored — the history/seen frames
    * semi-join on the user set BEFORE the grouped aggregates, so a
    * filtered consumer (q182's `user_id < 200` shape) stops paying a
    * full-population serve. Row-identical to
    * `recommend(...).join(users, Seq("user_id"), "left_semi")` (per-user
    * scores are independent, so restricting the input users restricts
    * nothing else) — spec-pinned. A users frame with a non-matching id
    * type refuses; null user rows can never match a semi-join and are
    * dropped on both plans.
    *
    * `minFusedUsers` (default `Budgets.cooccurMinUsers`; round-13 verdict
    * task 4): a SMALL user subset refuses the fused path. The fused
    * plan's fixed cost (model collect + broadcast) is paid
    * regardless of |users|, while the join-plan fallback's cost SCALES
    * with the subset (Catalyst pushes the semi-join below the score
    * aggregate to the history scans). The subset count is probed on the
    * already-checkpointed distinct frame — one bounded aggregate, no
    * extra scan of `inter`. */
  def recommendFused(inter: DataFrame, neighbors: DataFrame, k: Int = 10,
      maxBasket: Int = 0,
      users: Option[DataFrame] = None,
      minFusedUsers: Long = graft.operators.Budgets.get.cooccurMinUsers)
      : Option[DataFrame] = {
    require(k >= 1, s"k must be >= 1: $k")
    val maxModelRows = graft.operators.Budgets.get.cooccurModelRows
    val uT = inter.schema("user_id").dataType
    val iT = inter.schema("item_id").dataType
    val aT = neighbors.schema("item_a").dataType
    val bT = neighbors.schema("item_b").dataType
    if (!integral(uT) || !integral(iT) || aT != iT || bT != iT
        || !integral(neighbors.schema("c").dataType)
        || maxModelRows <= 0) return None
    if (users.exists(u => u.schema("user_id").dataType != uT)) return None
    val spark = inter.sparkSession
    import spark.implicits._
    // the subset frame is read twice (seen-set grouping + capped-history
    // grouping) — materialize it once; long-cast so the semi-joins below
    // are co-typed with the cast frames they prune
    val uSub = users.map(_.select(col("user_id").cast("long").as("u"))
      .filter(col("u").isNotNull).distinct().localCheckpoint())
    // free the subset checkpoint on every refusal path (round-13 advice:
    // a refused call leaked uSub's cached blocks)
    def refuse(): Option[DataFrame] = {
      uSub.foreach(graft.operators.Checkpoints.free)
      None
    }
    // |users| regime gate (see the doc): the count reads the checkpointed
    // blocks — bounded, no recompute
    if (uSub.exists(_.count() < minFusedUsers)) return refuse()
    // model: the packed graph format's driver CSR over (item_b, item_a, c)
    // (graft.graph.PackedGraph): each item_a's in-edge group is its
    // neighbor list, `inW` its counts, and `nodes` the dense id dictionary
    // of both columns, so the executor kernel scores by direct array
    // indexing with zero hashing and zero boxing. Its one pass refuses an
    // empty model, a null anywhere and a model past the gate or what the
    // session's driver holds (~24 B/row of task results, ~192 B/row of
    // heap: the weighted-CSR sizing of ShortestPaths.runFused).
    val model = graft.graph.PackedGraph.driverCsr(
        neighbors.select(col("item_b").cast("long").as("b"),
          col("item_a").cast("long").as("a"), col("c").cast("long").as("c")),
        maxModelRows, 24L, 192L)() match {
      case Some(g) => g
      case None => return refuse()
    }
    // per-user frames: full-history seen set (+ the collect_set-size null
    // device: t is distinct, so size(set) == count(1) iff no null item).
    // With a `users` subset, the semi-join prunes BEFORE the grouped
    // aggregate — non-subset users never shuffle, the q50 join plan's
    // pushed-down-filter economics on this plan's one exchange.
    val t0 = inter.select(col("user_id").cast("long").as("u"),
        col("item_id").cast("long").as("i"))
      .distinct()
    val t = uSub.map(s => t0.join(s, Seq("u"), "left_semi")).getOrElse(t0)
    val seenG = t.groupBy(col("u"))
      .agg(collect_set(col("i")).as("__seen"), count(lit(1)).as("__cnt"))
      .localCheckpoint()
    // one pass, no exchange: rows whose set lost a null item, then rows
    // with a null (only `u` can be)
    val sProbe = graft.graph.PackedGraph.header(seenG, graft.graph.PackedGraph.Fold.sum(
      (size(col("__seen")) =!= col("__cnt")).cast("long")))
    if (sProbe.getLong(0) != 0L || sProbe.getLong(1) != 0L) {
      graft.operators.Checkpoints.free(seenG)
      return refuse()
    }
    // broadcast AFTER the last refusal path (round-12 advice: a broadcast
    // created before the seenG probe leaked one executor-resident model
    // per refused call until the ContextCleaner ran)
    val bc = spark.sparkContext.broadcast((model.nodes, model.inOff, model.inSrc, model.inW))
    val both =
      if (maxBasket > 0) {
        val capped = inter.select(col("user_id").cast("long").as("user_id"),
          col("item_id").cast("long").as("item_id"), col("ts"))
        val cappedSub = uSub.map(s => capped.join(
            s.withColumnRenamed("u", "user_id"), Seq("user_id"), "left_semi"))
          .getOrElse(capped)
        val histG = Interactions.recentN(cappedSub, maxBasket)
          .groupBy(col("user_id").as("u"))
          .agg(collect_list(col("item_id")).as("__hist"))
        histG.join(seenG, Seq("u"))
      } else seenG.withColumn("__hist", col("__seen"))
    val slices = spark.sparkContext.defaultParallelism
    // PRIMITIVE SCORING KERNEL (round 16, guide §4/§5): rows decode
    // through the InternalRow RDD (UnsafeArrayData.toLongArray is a bulk
    // primitive copy), scores accumulate into a generation-stamped dense
    // long[] over the model's dense ids (one per task, reused across users
    // — O(touched) per user, no per-user allocation or zeroing),
    // seen-membership is a binary search over the user's sorted seen ids,
    // and the top-k cut is a bounded insertion into two k-length arrays
    // under the same (score desc, id asc) order. Row-identical: long sums
    // are order-free and the cut replays the same total order
    // (CooccurSpec pins fused ≡ join plan, with ties).
    val prepared = both
      .select(col("u").cast("long"), col("__hist").cast("array<bigint>"),
        col("__seen").cast("array<bigint>"))
      .repartition(slices)
    val outRdd = prepared.queryExecution.toRdd.mapPartitions { it =>
      val (nodes, inOff, inSrc, inW) = bc.value
      val n = nodes.length
      val scores = new Array[Long](n)
      val stamp = new Array[Int](n)
      var touched = new Array[Int](math.min(math.max(n, 16), 1 << 16))
      var epoch = 0
      val topI = new Array[Long](k)
      val topS = new Array[Long](k)
      it.flatMap { r =>
        val u = r.getLong(0)
        // toLongArray reads a null element as item 0, so it relies on
        // arrays with no null elements: both are built above by
        // collect_set (__seen) and collect_list (__hist), which skip null
        // ids and never return a null array.
        val hist = r.getArray(1).toLongArray()
        val seen = r.getArray(2).toLongArray()
        if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); epoch = 0 }
        epoch += 1
        var nTouched = 0
        var hi = 0
        while (hi < hist.length) {
          val a = java.util.Arrays.binarySearch(nodes, hist(hi))
          if (a >= 0) {
            var j = inOff(a)
            val end = inOff(a + 1)
            while (j < end) {
              val bi = inSrc(j)
              if (stamp(bi) != epoch) {
                stamp(bi) = epoch
                scores(bi) = inW(j)
                if (nTouched == touched.length)
                  touched = java.util.Arrays.copyOf(touched, touched.length * 2)
                touched(nTouched) = bi
                nTouched += 1
              } else scores(bi) += inW(j)
              j += 1
            }
          }
          hi += 1
        }
        java.util.Arrays.sort(seen) // fresh copy from toLongArray — safe
        var sz = 0
        var t = 0
        while (t < nTouched) {
          val bi = touched(t)
          val id = nodes(bi)
          if (java.util.Arrays.binarySearch(seen, id) < 0) {
            val s = scores(bi)
            if (sz < k || s > topS(sz - 1) ||
                (s == topS(sz - 1) && id < topI(sz - 1))) {
              var pos = if (sz < k) sz else k - 1
              while (pos > 0 && (topS(pos - 1) < s ||
                  (topS(pos - 1) == s && topI(pos - 1) > id))) {
                topS(pos) = topS(pos - 1); topI(pos) = topI(pos - 1); pos -= 1
              }
              topS(pos) = s
              topI(pos) = id
              if (sz < k) sz += 1
            }
          }
          t += 1
        }
        val outArr = new Array[(Long, Int, Long, Long)](sz)
        var x = 0
        while (x < sz) { outArr(x) = (u, x + 1, topI(x), topS(x)); x += 1 }
        outArr.toSeq
      }
    }
    val out = spark.createDataset(outRdd)
      .toDF("user_id", "rk", "item_id", "score")
    Some(out.select(col("user_id").cast(uT).as("user_id"),
      col("rk").cast("int").as("rk"),
      col("item_id").cast(iT).as("item_id"), col("score")))
  }

  /** Budget dispatcher for [[recommend]]. With a `users` subset, the fused
    * plan scores only those users — and only when the subset is large
    * enough to amortize the fused plan's fixed model prep
    * (`Budgets.cooccurMinUsers`); the join-plan fallback appends a
    * left-semi join that Catalyst's PushDownLeftSemiAntiJoin pushes below
    * the top-k window and the score aggregate to the history scans —
    * both routes serve the subset without a full-population pass. */
  def recommendAuto(inter: DataFrame, neighbors: DataFrame, k: Int = 10,
      maxBasket: Int = 0, users: Option[DataFrame] = None): DataFrame =
    recommendFused(inter, neighbors, k, maxBasket, users)
      .getOrElse {
        val r = recommend(inter, neighbors, k, maxBasket)
        users.map(u => r.join(u.select(col("user_id")).distinct(),
            Seq("user_id"), "left_semi"))
          .getOrElse(r)
      }
}
