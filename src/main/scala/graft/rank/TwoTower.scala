package graft.rank

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Budgets.integral

/** Neural two-tower retrieval trainer — the reference's TF/Merlin
  * TwoTowerModel (src/my_merlin_flow.py:306-324: user tower MLP × item
  * tower MLP, dot-product scored, in-batch sampled-softmax loss) rebuilt
  * on Spark alone, no DL runtime: each tower is id-embedding → ReLU
  * dense layer; training is mini-batch SGD with the in-batch
  * sampled-softmax objective (Yi et al. 2019, the standard retrieval
  * loss the reference's `ItemRetrievalTask` wraps).
  *
  * Execution model (the honest pure-Spark seam): weights live on the
  * driver between steps and travel to executors as a broadcast; the
  * encoded pairs are partitioned ONCE into (md5-batch × shard)
  * partitions of a persisted RDD, and each step is a
  * PARTITION-TARGETED job (`sc.runJob` on exactly the step's batch
  * partitions) — no per-step plan, no per-step codegen compile, no
  * scan of the other batches (the round-8 form re-planned a literal
  * filter per step, and that fixed tax dwarfed the gradient math). At
  * bench batch sizes the gradient is deliberately ONE sorted task
  * applying local-SGD chunk updates, which makes training
  * bit-deterministic (fixed float accumulation order — rerun ≡ rerun,
  * any input partitioning); the chunked in-batch losses are
  * independent, so `Config.shards > 1` switches to the cluster-scale
  * data-parallel form — chunks sharded across tasks against the
  * broadcast snapshot, driver sums in shard order and applies one
  * Adagrad step (still deterministic; see Config doc).
  * Embedding tables are the parameter-server part: driver-held while
  * both fit `Budgets.driverEmbedFloats` (~10M ids × dim 32 ≈ 1.2 GB),
  * and CLUSTER-HELD past that, chosen by the trainer itself — the
  * factored/ALS block layout, bit-identical to the driver-held form (see
  * [[EmbStore]]).
  *
  * Serving integrates with the existing stack: towers are PRECOMPUTED
  * into (id, vec array<float>) frames — the CLIP-style corpus-embedding
  * contract — so recommend() is the q158k kernel shape (broadcast item
  * vectors, codegen DotF32 scores, bounded topKPerGroup) and the vectors
  * drop into Knn/Ivf/ScalarQuant unchanged. Persistence is two parquet
  * tables.
  *
  * Determinism: init is md5-hashed per weight, batches are md5-bucketed,
  * accumulation order is fixed (see above) — fit() is a pure function of
  * (interactions, config). Scores are floats, so the SPEC pins exact
  * rerun-equality and behavioral metrics, not an external oracle hash
  * (the documented carve-out, same as ALS/IVF).
  */
object TwoTower {

  /** `shards` > 1 switches the gradient from the single-sorted-task
    * local-SGD form to the data-parallel form (chunks sharded across
    * `shards` tasks, each computing its chunk gradients against the
    * broadcast weight snapshot; the driver sums shard gradients in
    * partition order and applies ONE Adagrad update per step). Both
    * forms are bit-deterministic — shard assignment is a hash of the
    * deterministic order key, within-shard accumulation is sorted, and
    * the driver merge is ordered — they just fix DIFFERENT accumulation
    * orders, so they converge to different (equally valid) weights.
    *
    * When either embedding table would pass `Budgets.driverEmbedFloats`
    * (~1.2 GB), training moves the EMBEDDING TABLES off the driver
    * (round 10): each table lives as a persisted RDD of (id, (vec,
    * adagradAcc)) rows in `defaultParallelism` partitions, the ALS block
    * idea applied to the id space. Per step the driver touches only the
    * BATCH'S rows — one tiny job lists the step's touched ids, a gather
    * job filters them out of the table (broadcast id set, batch-bounded
    * result), the existing step logic runs on the compact gathered
    * arrays, and a scatter map writes the updated rows into a new
    * persisted RDD (batch-bounded broadcast delta; lineage cut every 25
    * steps). Driver memory is O(batch), table memory is distributed —
    * and the model is BIT-IDENTICAL to the driver-held form
    * (spec-pinned): the compact remap changes indexing, not one float of
    * arithmetic. Costs per step: two extra small jobs + one table-wide
    * filter scan, paid only past the driver budget.
    *
    * `stepsPerJob` (round-10 verdict task 3) folds k consecutive
    * optimizer steps into ONE Spark job when `shards == 1`: the batch
    * layout co-partitions groups of k md5-batches, and the single sorted
    * task walks its group's batches IN ORDER, applying each batch's
    * chunked local-SGD updates with the same per-batch lr decay the
    * driver loop would — so the arithmetic sequence is unchanged and the
    * model is BIT-IDENTICAL to stepsPerJob=1 (TwoTowerSpec). What
    * changes is the wall: one job per k steps instead of one per step,
    * so the fixed scheduling latency (the dominant cost of q63t at small
    * batches — see the bench entry doc) is paid steps/k times. The
    * data-parallel form (shards > 1) cannot fold: its per-step driver
    * gradient merge IS the synchronization point, so stepsPerJob is
    * ignored there.
    *
    * `stepsPerJob` is an EXECUTION choice, not a hyperparameter (the
    * model is identical), so it stays out of `key`. */
  case class Config(
      embDim: Int = 32, hiddenDim: Int = 16, steps: Int = 80,
      batchRows: Int = 4096, chunk: Int = 256, lr: Double = 0.1,
      lrDecay: Double = 1.0, logitScale: Double = 4.0, seed: String = "tt",
      shards: Int = 1, stepsPerJob: Int = 1) {
    /** Deterministic grid identity (the F11 model-selection contract). */
    def key: String = s"bs=$batchRows,lr=$lr,dim=$embDim,steps=$steps," +
      s"shards=$shards"
  }

  /** Trained model: serving-space tower outputs per natural id. */
  case class Model(userVecs: DataFrame, itemVecs: DataFrame, cfg: Config) {
    def save(path: String): Unit = {
      userVecs.write.mode("overwrite").parquet(s"$path/user_vecs.parquet")
      itemVecs.write.mode("overwrite").parquet(s"$path/item_vecs.parquet")
    }
  }

  def load(spark: SparkSession, path: String, cfg: Config = Config()): Model =
    Model(spark.read.parquet(s"$path/user_vecs.parquet"),
      spark.read.parquet(s"$path/item_vecs.parquet"), cfg)

  // ---- deterministic init ----------------------------------------------

  /** md5-uniform in [-scale, +scale], a pure function of (seed, tag, j). */
  private def initVal(seed: String, tag: String, j: Int, scale: Float): Float = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$tag|$j".getBytes("UTF-8"))
    val u = (((h(0) & 0xffL) << 40) | ((h(1) & 0xffL) << 32) |
      ((h(2) & 0xffL) << 24) | ((h(3) & 0xffL) << 16) |
      ((h(4) & 0xffL) << 8) | (h(5) & 0xffL)).toDouble / 281474976710656.0
    ((u * 2.0 - 1.0) * scale).toFloat
  }

  private def initMatrix(seed: String, tag: String, rows: Int, cols: Int,
      scale: Float): Array[Array[Float]] =
    Array.tabulate(rows, cols)((r, c) => initVal(seed, s"$tag|$r", c, scale))

  /** All trainable weights, flat on the driver. */
  final class Weights(val uEmb: Array[Array[Float]], val iEmb: Array[Array[Float]],
      val wU: Array[Array[Float]], val bU: Array[Float],
      val wI: Array[Array[Float]], val bI: Array[Float]) extends Serializable

  private def init(nU: Int, nI: Int, cfg: Config): Weights = {
    // He-style uniform fan-in scaling — without it the random towers'
    // logits start so close to uniform-softmax that gradients stall
    val se = 0.5f
    val sw = math.sqrt(6.0 / cfg.embDim).toFloat
    new Weights(
      initMatrix(cfg.seed, "ue", nU, cfg.embDim, se),
      initMatrix(cfg.seed, "ie", nI, cfg.embDim, se),
      initMatrix(cfg.seed, "wu", cfg.hiddenDim, cfg.embDim, sw),
      new Array[Float](cfg.hiddenDim),
      initMatrix(cfg.seed, "wi", cfg.hiddenDim, cfg.embDim, sw),
      new Array[Float](cfg.hiddenDim))
  }

  /** Adagrad squared-gradient accumulators (same shapes as Weights). */
  private final class AdaState(
      val uEmb: Array[Array[Double]], val iEmb: Array[Array[Double]],
      val wU: Array[Array[Double]], val bU: Array[Double],
      val wI: Array[Array[Double]], val bI: Array[Double]) extends Serializable {
    def this(nU: Int, nI: Int, cfg: Config) = this(
      Array.ofDim[Double](nU, cfg.embDim), Array.ofDim[Double](nI, cfg.embDim),
      Array.ofDim[Double](cfg.hiddenDim, cfg.embDim),
      new Array[Double](cfg.hiddenDim),
      Array.ofDim[Double](cfg.hiddenDim, cfg.embDim),
      new Array[Double](cfg.hiddenDim))
  }

  private def copyW(w: Weights): Weights = new Weights(
    w.uEmb.map(_.clone()), w.iEmb.map(_.clone()),
    w.wU.map(_.clone()), w.bU.clone(), w.wI.map(_.clone()), w.bI.clone())

  private def copyA(a: AdaState, nU: Int, nI: Int, cfg: Config): AdaState = {
    val c = new AdaState(nU, nI, cfg)
    def cp(src: Array[Array[Double]], dst: Array[Array[Double]]): Unit = {
      var r = 0
      while (r < src.length) { Array.copy(src(r), 0, dst(r), 0, src(r).length); r += 1 }
    }
    cp(a.uEmb, c.uEmb); cp(a.iEmb, c.iEmb); cp(a.wU, c.wU); cp(a.wI, c.wI)
    Array.copy(a.bU, 0, c.bU, 0, a.bU.length)
    Array.copy(a.bI, 0, c.bI, 0, a.bI.length)
    c
  }

  // ---- forward pieces ---------------------------------------------------

  /** h = tanh(W e + b). tanh, NOT relu, deliberately: relu towers feed
    * the in-batch softmax only POSITIVE-orthant vectors, every dot is
    * >= 0, and the loss's dominant push-negatives-apart term drives all
    * pre-activations negative — measured as total dead-unit collapse
    * (loss pinned at exactly ln(chunk) from step 2, gradient identically
    * zero through the dead mask). tanh is symmetric (dots can be
    * negative) and its gradient never fully dies. */
  private def tower(w: Array[Array[Float]], b: Array[Float],
      e: Array[Float]): Array[Float] = {
    val d1 = b.length
    val out = new Array[Float](d1)
    var r = 0
    while (r < d1) {
      var s = b(r).toDouble
      val row = w(r)
      var c = 0
      while (c < e.length) { s += row(c).toDouble * e(c); c += 1 }
      out(r) = math.tanh(s).toFloat
      r += 1
    }
    out
  }

  // ---- gradient of one chunk (in-batch sampled softmax) -----------------

  /** Accumulates the gradient of the chunk's in-batch softmax loss into
    * `g` (same shapes as Weights, double accumulators; embedding grads
    * sparse by touched row). Returns the chunk loss. */
  private final class Grad(nU: Int, nI: Int, cfg: Config) extends Serializable {
    val uEmb = new java.util.TreeMap[Integer, Array[Double]]()
    val iEmb = new java.util.TreeMap[Integer, Array[Double]]()
    val wU: Array[Array[Double]] = Array.ofDim(cfg.hiddenDim, cfg.embDim)
    val bU = new Array[Double](cfg.hiddenDim)
    val wI: Array[Array[Double]] = Array.ofDim(cfg.hiddenDim, cfg.embDim)
    val bI = new Array[Double](cfg.hiddenDim)
    var loss = 0.0
    var n = 0L

    private def embRow(m: java.util.TreeMap[Integer, Array[Double]], id: Int,
        d: Int): Array[Double] = {
      var r = m.get(id)
      if (r == null) { r = new Array[Double](d); m.put(id, r) }
      r
    }

    def addChunk(w: Weights, us: Array[Int], is: Array[Int], cfg: Config): Unit = {
      val b = us.length
      if (b < 2) return // softmax over one candidate is degenerate
      val hU = Array.tabulate(b)(a => tower(w.wU, w.bU, w.uEmb(us(a))))
      val hI = Array.tabulate(b)(a => tower(w.wI, w.bI, w.iEmb(is(a))))
      // logits + row softmax
      // logits scaled by 1/temperature (Yi et al. 2019): an unscaled dot
      // over a fresh init sits in the flat near-uniform softmax region
      // where the pull-toward-positive and push-from-mean terms cancel
      // and learning crawls (measured: loss froze ~ln(chunk) without it)
      val p = Array.ofDim[Double](b, b)
      var a = 0
      while (a < b) {
        var mx = Double.NegativeInfinity
        var j = 0
        while (j < b) {
          var s = 0.0
          var k = 0
          while (k < cfg.hiddenDim) { s += hU(a)(k).toDouble * hI(j)(k); k += 1 }
          p(a)(j) = s * cfg.logitScale
          if (p(a)(j) > mx) mx = p(a)(j)
          j += 1
        }
        var z = 0.0
        j = 0
        while (j < b) { p(a)(j) = math.exp(p(a)(j) - mx); z += p(a)(j); j += 1 }
        j = 0
        while (j < b) { p(a)(j) /= z; j += 1 }
        loss -= math.log(math.max(p(a)(a), 1e-12))
        p(a)(a) -= 1.0 // dL/dlogit
        a += 1
      }
      n += b
      // grad wrt tower outputs
      val gHU = Array.ofDim[Double](b, cfg.hiddenDim)
      val gHI = Array.ofDim[Double](b, cfg.hiddenDim)
      a = 0
      while (a < b) {
        var j = 0
        while (j < b) {
          // chain rule through the scaled logit: dL/d(dot) = scale·(p−δ)
          val d = p(a)(j) * cfg.logitScale
          if (d != 0.0) {
            var k = 0
            while (k < cfg.hiddenDim) {
              gHU(a)(k) += d * hI(j)(k)
              gHI(j)(k) += d * hU(a)(k)
              k += 1
            }
          }
          j += 1
        }
        a += 1
      }
      // back through each tower (tanh derivative 1 - h^2)
      a = 0
      while (a < b) {
        backTower(w.wU, w.uEmb(us(a)), hU(a), gHU(a), wU, bU,
          embRow(uEmb, us(a), cfg.embDim))
        backTower(w.wI, w.iEmb(is(a)), hI(a), gHI(a), wI, bI,
          embRow(iEmb, is(a), cfg.embDim))
        a += 1
      }
    }

    private def backTower(wT: Array[Array[Float]], e: Array[Float],
        h: Array[Float], gH: Array[Double], gW: Array[Array[Double]],
        gB: Array[Double], gE: Array[Double]): Unit = {
      var r = 0
      while (r < gB.length) {
        if (gH(r) != 0.0) {
          // d tanh = 1 - h^2
          val g = gH(r) * (1.0 - h(r).toDouble * h(r))
          gB(r) += g
          val wRow = wT(r); val gwRow = gW(r)
          var c = 0
          while (c < e.length) {
            gwRow(c) += g * e(c)
            gE(c) += g * wRow(c)
            c += 1
          }
        }
        r += 1
      }
    }

    def merge(o: Grad): Grad = {
      def mergeEmb(a: java.util.TreeMap[Integer, Array[Double]],
          b: java.util.TreeMap[Integer, Array[Double]]): Unit = {
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val mine = a.get(e.getKey)
          if (mine == null) a.put(e.getKey, e.getValue)
          else { var c = 0; while (c < mine.length) { mine(c) += e.getValue()(c); c += 1 } }
        }
      }
      mergeEmb(uEmb, o.uEmb); mergeEmb(iEmb, o.iEmb)
      var r = 0
      while (r < bU.length) {
        bU(r) += o.bU(r); bI(r) += o.bI(r)
        var c = 0
        while (c < wU(r).length) { wU(r)(c) += o.wU(r)(c); wI(r)(c) += o.wI(r)(c); c += 1 }
        r += 1
      }
      loss += o.loss; n += o.n
      this
    }
  }

  // ---- test hooks (gradient finite-difference validation) ---------------

  private[rank] def testInit(nU: Int, nI: Int, cfg: Config): Weights =
    init(nU, nI, cfg)

  private[rank] final class GradView(g: Grad, cfg: Config) {
    private def row(m: java.util.TreeMap[Integer, Array[Double]], id: Int) =
      Option(m.get(id)).getOrElse(new Array[Double](cfg.embDim))
    def uEmbGrad(id: Int): Array[Double] = row(g.uEmb, id)
    def iEmbGrad(id: Int): Array[Double] = row(g.iEmb, id)
    def wUGrad: Array[Array[Double]] = g.wU
    def wIGrad: Array[Array[Double]] = g.wI
    def bUGrad: Array[Double] = g.bU
    def bIGrad: Array[Double] = g.bI
  }

  private[rank] def testGrad(w: Weights, us: Array[Int], is: Array[Int],
      cfg: Config): (GradView, Double) = {
    val g = new Grad(0, 0, cfg)
    g.addChunk(w, us, is, cfg)
    (new GradView(g, cfg), g.loss)
  }

  /** Identity partitioner for the precomputed (batch*shards + shard)
    * partition index — partition p of the persisted batch RDD IS batch
    * p/shards, shard p%shards, so a training step can `runJob` exactly
    * its own partitions. */
  private final class IdPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Cluster-held embedding table (past the driver budget): (id, (vec,
    * adagradAccumulator)) rows persisted across the default parallelism — the
    * ALS block layout applied to one tower's id space, so the table's
    * memory is executor memory, not driver memory. Initialization runs
    * the SAME md5 ladder as the driver-held `initMatrix` (same tags), so
    * the two storage modes start — and, because the step arithmetic is
    * shared, stay — bit-identical (TwoTowerSpec). gather/scatter move
    * only batch-bounded data: a step broadcasts its touched-id set down
    * and its updated rows back, never the table; the per-step table-wide
    * work is one filter scan (gather) and one map (scatter). Scatter
    * chains a map per step over the persisted parent and cuts lineage
    * with a localCheckpoint every 25 steps — the localCheckpoint
    * single-box fault-tolerance trade the fit already makes for its
    * batch layout. */
  private final class EmbStore(sc: org.apache.spark.SparkContext, n: Int,
      cfg: Config, tag: String, scale: Float, embedFloats: Long) {
    import org.apache.spark.storage.StorageLevel

    var rdd: org.apache.spark.rdd.RDD[(Int, (Array[Float], Array[Double]))] = {
      // locals only in the closure: capturing a field would drag this
      // (non-serializable) store into the task
      val (seed, t, d, sc2) = (cfg.seed, tag, cfg.embDim, scale)
      val r = sc.parallelize(0 until n, math.max(1, math.min(sc.defaultParallelism, n)))
        .map(id => (id,
          (Array.tabulate(d)(c => initVal(seed, s"$t|$id", c, sc2)),
            new Array[Double](d))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }

    /** Rows updated since the last compaction (round-11 verdict task 4):
      * scatter no longer rewrites — and re-persists — the WHOLE table
      * every step (2 full-table writes/step was the named scale term in
      * SCALE.md's 10M-id row); it overlays the step's batch-bounded rows
      * here, gather merges the overlay over the base, and [[compact]]
      * folds the overlay into a new persisted base every `compactEvery`
      * steps — the SAME cadence as the old lineage cut, which the
      * compaction now IS. Driver memory stays O(batch): the overlay is
      * bounded by `deltaRowCap` (an early compaction trips before it
      * outgrows a fixed slice of the driver budget), and values are the
      * exact arrays the step produced — storage layout cannot change one
      * float (bit-parity spec-pinned in TwoTowerSpec). */
    private val delta = new java.util.HashMap[Int, (Array[Float], Array[Double])]()
    private var sinceCompact = 0
    private val compactEvery = 25
    // vec floats (4 B) + adagrad doubles (8 B) ≈ 12·embDim B/row; cap the
    // overlay at ~1/8 of the driver budget's float bytes
    private val deltaRowCap =
      math.max(1L, embedFloats / (8L * math.max(1, cfg.embDim)))

    /** Rows for `ids` (ascending), as (vecs, accs) in ids order — the
      * driver-held overlay answers ids it holds; only the rest run the
      * batch-bounded cluster filter (the id set travels as a broadcast,
      * survivors as task results). A step re-touching recent ids skips
      * the cluster entirely. */
    def gather(ids: Array[Int]): (Array[Array[Float]], Array[Array[Double]]) = {
      val missing = ids.filter(id => !delta.containsKey(id))
      val m: Map[Int, (Array[Float], Array[Double])] =
        if (missing.isEmpty) Map.empty
        else {
          val bset = sc.broadcast(missing.toSet)
          val rows = sc.runJob(rdd,
            (it: Iterator[(Int, (Array[Float], Array[Double]))]) =>
              it.filter(r => bset.value.contains(r._1)).toArray).flatten
          bset.unpersist(blocking = false)
          rows.toMap
        }
      (ids.map(id => Option(delta.get(id)).map(_._1).getOrElse(m(id)._1)),
        ids.map(id => Option(delta.get(id)).map(_._2).getOrElse(m(id)._2)))
    }

    /** Write updated rows into the overlay (absolute values, not
      * gradients — the step already applied its Adagrad arithmetic on the
      * gathered copies). ZERO Spark jobs on the common path; the table
      * write happens once per [[compactEvery]] steps (or early when the
      * overlay trips its row cap) instead of every step. */
    def scatter(ids: Array[Int], emb: Array[Array[Float]],
        acc: Array[Array[Double]], step: Int): Unit = {
      var j = 0
      while (j < ids.length) { delta.put(ids(j), (emb(j), acc(j))); j += 1 }
      sinceCompact += 1
      if (sinceCompact >= compactEvery || delta.size.toLong > deltaRowCap)
        compact()
    }

    /** Fold the overlay into a new persisted, localCheckpointed base —
      * one broadcast map over the old base. The checkpoint doubles as the
      * lineage cut (blocks materialized by the count BEFORE the old base
      * is freed, so the table stays recomputable after an executor loss —
      * round-10 advice, unchanged guarantee). */
    private def compact(): Unit = {
      if (delta.isEmpty) { sinceCompact = 0; return }
      val b = sc.broadcast(new java.util.HashMap(delta))
      val old = rdd
      val next = old.mapPartitions(
        { it: Iterator[(Int, (Array[Float], Array[Double]))] =>
          it.map { r =>
            val u = b.value.get(r._1)
            if (u == null) r else (r._1, u)
          }
        }, preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      next.count()
      old.unpersist(blocking = false)
      b.unpersist(blocking = false)
      rdd = next
      delta.clear()
      sinceCompact = 0
    }

    /** Serving vectors computed WHERE THE TABLE LIVES: one map applying
      * the (broadcast, tiny) tower MLP per row; materialized eagerly so
      * the store can be freed afterwards. Compacts first so the overlay's
      * newest rows are in the scanned table. */
    def toVecs(spark: SparkSession, wT: Array[Array[Float]], b: Array[Float],
        dict: DataFrame, idName: String): DataFrame = {
      compact()
      val bw = spark.sparkContext.broadcast((wT, b))
      val rows = rdd.map { case (id, (e, _)) =>
        val (wt, bb) = bw.value
        org.apache.spark.sql.Row(id + 1L, tower(wt, bb, e).toSeq)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false),
          nullable = false)))
      val vecs = spark.createDataFrame(rows, schema).localCheckpoint()
      bw.unpersist(blocking = false)
      dict.select(col("value").as(idName), col("id"))
        .join(vecs, Seq("id")).drop("id")
    }

    def free(): Unit = {
      rdd.unpersist(blocking = false)
      delta.clear()
    }
  }

  // ---- training ---------------------------------------------------------

  /** Fit on DataFrame[user_id, item_id] (any extra columns ignored;
    * natural keys of any integral type). Returns serving-space vectors
    * per natural id. */
  def fit(inter: DataFrame, cfg: Config = Config()): Model =
    fitWithLoss(inter, cfg)._1

  /** fit + the per-step mean in-batch softmax loss (convergence
    * telemetry; the spec asserts it decreases). One [[prepare]], one
    * batch layout, one [[train]]; the layout and the encoded pairs are
    * freed once training stops, the dictionaries live on in the model. */
  def fitWithLoss(inter: DataFrame, cfg: Config = Config()): (Model, Seq[Double]) = {
    val p = prepare(inter)
    var built: Batches = null
    try {
      val t = train(p, cfg, g => { built = layout(p, g); built })
      (t.model, t.losses)
    } finally {
      if (built != null) built.unpersist(blocking = false)
      graft.operators.Checkpoints.free(p.enc)
    }
  }

  /** The config-independent half of a fit: both Categorify dictionaries
    * with their sizes, and the encoded distinct pairs with their count.
    * `gridSearch` builds it once for the whole grid. */
  private final class Prepared(val uDict: DataFrame, val iDict: DataFrame,
      val nU: Int, val nI: Int, val enc: DataFrame, val nPairs: Long) {
    def driverHeld(cfg: Config, embedFloats: Long): Boolean =
      TwoTower.driverHeld(nU, nI, cfg.embDim, embedFloats)
  }

  /** Both `nU` x `embDim` and `nI` x `embDim` tables fit `embedFloats`
    * on the driver; otherwise training holds them on the cluster. */
  private[rank] def driverHeld(nU: Int, nI: Int, embDim: Int, embedFloats: Long): Boolean =
    nU.toLong * embDim < embedFloats && nI.toLong * embDim < embedFloats

  /** `fork` runs the item dictionary's fit while this thread fits the
    * user dictionary; the default runs it inline, after. */
  private def prepare(inter: DataFrame,
      fork: (() => (DataFrame, Int)) => (() => (DataFrame, Int)) = f => f): Prepared = {
    import graft.features.Categorify
    // ONE materialization of the (possibly expensive) input lineage: the
    // two dictionary fits and the distinct below read this checkpoint
    // instead of re-running the caller's upstream plan per pass (q63t's
    // input is a window over events — unmaterialized, fit re-executed it
    // four times).
    val src = inter.select(col("user_id"), col("item_id")).localCheckpoint()
    def dictionary(c: String): (DataFrame, Int) = {
      val d = Categorify.fitDictionary(src, c).localCheckpoint()
      (d, d.count().toInt)
    }
    val items = fork(() => dictionary("item_id"))
    val (uDict, nU) = dictionary("user_id")
    val (iDict, nI) = items()
    // encoded distinct pairs; every batch layout is keyed from these
    val enc = Categorify.encode(
        Categorify.encode(src.distinct(), "user_id", uDict, "__u"), "item_id", iDict, "__i")
      .select((col("__u") - 1).cast("int").as("u"), (col("__i") - 1).cast("int").as("i"))
      .localCheckpoint()
    graft.operators.Checkpoints.free(src) // superseded by enc
    // enc's checkpoint stays alive until training COMPLETES (the caller
    // frees it next to the layouts): a layout's MEMORY_AND_DISK blocks
    // recompute through enc's blocks after a mid-training executor loss,
    // so freeing enc earlier would turn one lost executor into a failed
    // fit on a real cluster (round-9 advice).
    new Prepared(uDict, iDict, nU, nI, enc, enc.count())
  }

  /** Everything a persisted batch layout depends on: configs that agree
    * on it (the reference grid's two learning rates per batch size) can
    * train from one layout. */
  private final case class Geometry(seed: String, nBatches: Int, groupSize: Int,
      shards: Int)

  private def geometry(p: Prepared, cfg: Config): Geometry = {
    val shards = math.max(1, cfg.shards)
    val nBatches = math.max(1L, p.nPairs / cfg.batchRows).toInt
    // stepsPerJob folds k consecutive batches into one partition/job —
    // single-task form only (the sharded form's per-step driver merge
    // cannot fold; see Config doc)
    val groupSize =
      if (shards == 1) math.min(math.max(1, cfg.stepsPerJob), nBatches) else 1
    Geometry(cfg.seed, nBatches, groupSize, shards)
  }

  /** Persisted (batch, u, i, __o) rows, partitioned for partition-targeted
    * training jobs (see [[layout]]). */
  private type Batches = org.apache.spark.rdd.RDD[(Int, Int, Int, String)]

  /** Batch layout, built ONCE per geometry: partition p = batch*shards +
    * shard (shards > 1) or batch/groupSize (single-task — a partition
    * holds its group's k consecutive md5-batches, tagged by __b so the
    * task can walk them in order) holds batch (md5-bucket) rows, with the
    * deterministic shuffle-order key __o precomputed. Shard assignment is
    * pmod(murmur3(__o), shards) — the exact partition function
    * `repartition(shards, col("__o"))` uses, so the sharded form's
    * accumulation order is unchanged from the round-8 per-step
    * repartition. Each training job then runs on exactly its own
    * partition(s): no per-step plan, no codegen, no full scan. */
  private def layout(p: Prepared, g: Geometry): Batches = {
    val keyed = p.enc
      .withColumn("__b",
        (conv(substring(md5(concat(lit(g.seed + "|b|"), col("u"),
          lit("|"), col("i"))), 1, 12), 16, 10).cast("long") % g.nBatches).cast("int"))
      .withColumn("__o",
        md5(concat(lit(g.seed + "|s|"), col("u"), lit("|"), col("i"))))
      .withColumn("__p", (
        if (g.shards > 1) col("__b") * g.shards + pmod(hash(col("__o")), lit(g.shards))
        else col("__b") / g.groupSize).cast("int"))
    val nGroups = (g.nBatches + g.groupSize - 1) / g.groupSize
    val nParts = if (g.shards > 1) g.nBatches * g.shards else nGroups
    val batchRdd = keyed.select(col("__p"), col("__b"), col("u"), col("i"), col("__o")).rdd
      .map(r => (r.getInt(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .partitionBy(new IdPartitioner(nParts))
      .map(_._2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchRdd.count() // materialize every batch partition in one pass
    batchRdd
  }

  /** A trained model with its per-step losses and, in the driver-held
    * mode, the serving vectors still on the driver (row ix = dictionary
    * id ix + 1), which [[gridSearch]] scores from without a collect. */
  private final case class Trained(model: Model, losses: Seq[Double],
      userVecs: Option[Array[Array[Float]]], itemVecs: Option[Array[Array[Float]]])

  /** The per-config half of a fit: the embedding layout (driver-held
    * under `Budgets.driverEmbedFloats`, cluster-held past it), then
    * training on the layout `batches` returns for this config's geometry,
    * then the serving vectors. Reads `p`, never frees it. */
  private def train(p: Prepared, cfg: Config, batches: Geometry => Batches): Trained = {
    val spark = p.enc.sparkSession
    val (uDict, iDict, nU, nI) = (p.uDict, p.iDict, p.nU, p.nI)
    require(cfg.chunk >= 1, s"chunk must be >= 1, got ${cfg.chunk}")
    val embedFloats = graft.operators.Budgets.get.driverEmbedFloats
    val clusterEmb = !p.driverHeld(cfg, embedFloats)
    val g = geometry(p, cfg)
    val (shards, nBatches, groupSize) = (g.shards, g.nBatches, g.groupSize)
    val batchRdd = batches(g)

    val uStore = if (clusterEmb)
      new EmbStore(spark.sparkContext, nU, cfg, "ue", 0.5f, embedFloats) else null
    val iStore = if (clusterEmb)
      new EmbStore(spark.sparkContext, nI, cfg, "ie", 0.5f, embedFloats) else null
    // cluster mode: w/ada carry only the (tiny) MLP halves; embedding
    // rows live in the stores and visit the driver per step, compacted
    var w = if (clusterEmb) init(0, 0, cfg) else init(nU, nI, cfg)
    var ada = if (clusterEmb) new AdaState(0, 0, cfg) else new AdaState(nU, nI, cfg)
    var lr = cfg.lr
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    var step = 0
    while (step < cfg.steps) {
      // deterministic SHUFFLE order (__o), not (u, i) order: chunked
      // in-batch softmax needs diverse users/items per chunk — id-sorted
      // chunks would pack one user's positives together, where they
      // demote each other as in-batch negatives and training stalls
      // (measured: loss froze at ln(chunk) until this sort key changed)
      val curBatch = step % nBatches
      // single-task form: this job walks curBatch's whole GROUP (k
      // consecutive batches, co-partitioned above) and advances `step`
      // by the number of batches processed — truncated at schedule end.
      // Group boundaries align with the cycling batch sequence (todo
      // always completes the group), so the per-batch order — and hence
      // every float op — is identical to stepsPerJob=1.
      val group = curBatch / groupSize
      val todo =
        if (shards > 1) 1
        else math.min(math.min(groupSize, nBatches - group * groupSize),
          cfg.steps - step)
      val lrNow = lr
      val jobParts: Seq[Int] =
        if (shards > 1) (curBatch * shards) until (curBatch * shards + shards)
        else Seq(group)
      // Cluster-held tables: list the job's touched ids (one tiny job),
      // gather their rows into COMPACT arrays, and run the unchanged step
      // arithmetic on the compact view — us/is are remapped to local
      // indices inside the gradient task via the broadcast maps. Sorted
      // id order keeps the compact layout (and so every float op)
      // deterministic. (With stepsPerJob > 1 the gather covers the whole
      // group's union of touched ids and the scatter runs ONCE per job.)
      val (stepW, stepA, uIds, iIds) =
        if (clusterEmb) {
          val parts = spark.sparkContext.runJob(batchRdd,
            (it: Iterator[(Int, Int, Int, String)]) => {
              val u = scala.collection.mutable.HashSet[Int]()
              val i = scala.collection.mutable.HashSet[Int]()
              it.foreach { t => u += t._2; i += t._3 }
              (u.toArray, i.toArray)
            }, jobParts)
          val uIds0 = parts.flatMap(_._1).distinct.sorted
          val iIds0 = parts.flatMap(_._2).distinct.sorted
          val (ue, ua) = uStore.gather(uIds0)
          val (ie, ia) = iStore.gather(iIds0)
          (new Weights(ue, ie, w.wU, w.bU, w.wI, w.bI),
            new AdaState(ua, ia, ada.wU, ada.bU, ada.wI, ada.bI),
            uIds0, iIds0)
        } else (w, ada, null, null)
      def localIdMap(ids: Array[Int]): java.util.HashMap[Int, Int] =
        if (ids == null) null
        else {
          val m = new java.util.HashMap[Int, Int](ids.length * 2)
          var j = 0
          while (j < ids.length) { m.put(ids(j), j); j += 1 }
          m
        }
      val uMap = localIdMap(uIds)
      val iMap = localIdMap(iIds)
      if (cfg.shards <= 1) {
        // ONE sorted task -> fixed accumulation order -> bit-deterministic.
        // The task applies ONE Adagrad update per chunk SEQUENTIALLY (local
        // SGD): ~batch/chunk optimizer steps per Spark job instead of one —
        // the difference between converging in tens of jobs and thousands.
        // Still one sorted task, so accumulation AND update order are fixed
        // and training stays bit-deterministic. With stepsPerJob > 1 the
        // task walks its group's `todo` batches in batch order, decaying
        // lr between batches exactly as the driver loop would — one Spark
        // job per k optimizer steps, unchanged arithmetic. The single-task
        // form is right while one executor core chews a mini-batch in
        // microseconds; past that, cfg.shards > 1 switches to the
        // data-parallel form below.
        val bw = spark.sparkContext.broadcast(
          (stepW, stepA, uMap, iMap, curBatch, todo, lrNow, cfg.lrDecay))
        val (nw, na, perBatch) = spark.sparkContext.runJob(
          batchRdd,
          (it: Iterator[(Int, Int, Int, String)]) => {
            val (w0, a0, um, im, b0, nb, lr0, decay) = bw.value
            val lw = copyW(w0)
            val la = copyA(a0, w0.uEmb.length, w0.iEmb.length, cfg)
            // sort once by (batch, __o): within a batch this is the ascii
            // hex order sortWithinPartitions would give — the step order
            val buf = it.toArray.sortBy(t => (t._1, t._4))
            val stats = new Array[(Double, Long)](nb)
            var lrCur = lr0
            var bi = 0
            var off = 0
            while (bi < nb) {
              val b = b0 + bi
              while (off < buf.length && buf(off)._1 < b) off += 1
              var end0 = off
              while (end0 < buf.length && buf(end0)._1 == b) end0 += 1
              var lossAcc = 0.0
              var n = 0L
              while (off < end0) {
                val end = math.min(off + cfg.chunk, end0)
                val us = new Array[Int](end - off)
                val is = new Array[Int](end - off)
                var k = off
                while (k < end) {
                  us(k - off) = if (um == null) buf(k)._2 else um.get(buf(k)._2)
                  is(k - off) = if (im == null) buf(k)._3 else im.get(buf(k)._3)
                  k += 1
                }
                val g = new Grad(lw.uEmb.length, lw.iEmb.length, cfg)
                g.addChunk(lw, us, is, cfg)
                applyUpdate(lw, g, lrCur, la)
                lossAcc += g.loss
                n += g.n
                off = end
              }
              stats(bi) = (lossAcc, n)
              lrCur *= decay
              bi += 1
            }
            (lw, la, stats)
          }, jobParts).head
        bw.destroy()
        if (clusterEmb) {
          w = new Weights(w.uEmb, w.iEmb, nw.wU, nw.bU, nw.wI, nw.bI)
          ada = new AdaState(ada.uEmb, ada.iEmb, na.wU, na.bU, na.wI, na.bI)
          if (uIds.nonEmpty) uStore.scatter(uIds, nw.uEmb, na.uEmb, step + todo - 1)
          if (iIds.nonEmpty) iStore.scatter(iIds, nw.iEmb, na.iEmb, step + todo - 1)
        } else {
          w = nw
          ada = na
        }
        perBatch.foreach { case (lossSum, nPos) =>
          losses += (if (nPos > 0) lossSum / nPos else 0.0)
        }
        // same repeated-multiply lr sequence as the per-step loop (a
        // pow() shortcut could differ in the last ulp)
        var t = 1
        while (t < todo) { lr *= cfg.lrDecay; t += 1 }
        step += todo - 1
      } else {
        // Data-parallel form (the cluster-scale seam, round-9): chunks
        // shard across `shards` tasks, each computing its chunk gradients
        // against the broadcast weight SNAPSHOT (no local updates); the
        // driver sums shard gradients in shard order and applies ONE
        // Adagrad update per step. Shard assignment hashes the
        // deterministic order key, within-shard accumulation is sorted,
        // and the driver merge is shard-ordered — so this form is ALSO
        // bit-deterministic (rerun ≡ rerun); it just fixes a different
        // accumulation order than the single-task form. Fewer optimizer
        // updates per job than local SGD (one vs batch/chunk), so
        // schedules trade steps for per-step wall — the gridSearch
        // surface exists exactly to pick that trade.
        val bw = spark.sparkContext.broadcast((stepW, uMap, iMap))
        val parts = spark.sparkContext.runJob(
          batchRdd,
          (it: Iterator[(Int, Int, Int, String)]) => {
            val (w0, um, im) = bw.value
            val g = new Grad(w0.uEmb.length, w0.iEmb.length, cfg)
            val buf = it.toArray.sortBy(_._4)
            var off = 0
            while (off < buf.length) {
              val end = math.min(off + cfg.chunk, buf.length)
              val us = new Array[Int](end - off)
              val is = new Array[Int](end - off)
              var k = off
              while (k < end) {
                us(k - off) = if (um == null) buf(k)._2 else um.get(buf(k)._2)
                is(k - off) = if (im == null) buf(k)._3 else im.get(buf(k)._3)
                k += 1
              }
              g.addChunk(w0, us, is, cfg)
              off = end
            }
            (buf.nonEmpty, g)
          }, jobParts)
        bw.destroy()
        // runJob returns results in partition (= shard) order
        parts.toSeq.collect { case (true, g) => g }
          .reduceOption(_.merge(_)) match {
          case Some(g) if g.n > 0 =>
            // stepW/stepA alias w/ada in driver mode (mutated in place,
            // as before); in cluster mode they are the compact copies,
            // scattered back below
            applyUpdate(stepW, g, lrNow, stepA)
            losses += g.loss / g.n
            if (clusterEmb) {
              if (uIds.nonEmpty) uStore.scatter(uIds, stepW.uEmb, stepA.uEmb, step)
              if (iIds.nonEmpty) iStore.scatter(iIds, stepW.iEmb, stepA.iEmb, step)
            }
          case _ => losses += 0.0
        }
      }
      lr *= cfg.lrDecay
      step += 1
    }

    // precompute serving vectors and decode back to natural keys
    if (clusterEmb) {
      val uv = uStore.toVecs(spark, w.wU, w.bU, uDict, "user_id")
      val iv = iStore.toVecs(spark, w.wI, w.bI, iDict, "item_id")
      uStore.free()
      iStore.free()
      Trained(Model(uv, iv, cfg), losses.toSeq, None, None)
    } else {
      val uv = towerOut(w.uEmb, w.wU, w.bU)
      val iv = towerOut(w.iEmb, w.wI, w.bI)
      Trained(Model(vecsFrame(spark, uv, uDict, "user_id"),
        vecsFrame(spark, iv, iDict, "item_id"), cfg), losses.toSeq, Some(uv), Some(iv))
    }
  }

  /** Adagrad step (Duchi et al. 2011): per-parameter adaptive rates make
    * the trainer robust to the logit scale without hand-tuned schedules;
    * the accumulator update is elementwise, so the step stays a
    * deterministic function of the (deterministic) gradient stream. */
  private def applyUpdate(w: Weights, g: Grad, lr: Double, s: AdaState): Unit = {
    val n = math.max(1L, g.n).toDouble
    val eps = 1e-8
    def step(wv: Float, grad: Double, acc: Array[Double], c: Int): Float = {
      val gn = grad / n
      acc(c) += gn * gn
      (wv - lr * gn / (math.sqrt(acc(c)) + eps)).toFloat
    }
    def upEmb(emb: Array[Array[Float]], accs: Array[Array[Double]],
        ge: java.util.TreeMap[Integer, Array[Double]]): Unit = {
      val it = ge.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val row = emb(e.getKey)
        val acc = accs(e.getKey)
        var c = 0
        while (c < row.length) {
          row(c) = step(row(c), e.getValue()(c), acc, c); c += 1
        }
      }
    }
    upEmb(w.uEmb, s.uEmb, g.uEmb); upEmb(w.iEmb, s.iEmb, g.iEmb)
    var r = 0
    while (r < w.bU.length) {
      w.bU(r) = step(w.bU(r), g.bU(r), s.bU, r)
      w.bI(r) = step(w.bI(r), g.bI(r), s.bI, r)
      var c = 0
      while (c < w.wU(r).length) {
        w.wU(r)(c) = step(w.wU(r)(c), g.wU(r)(c), s.wU(r), c)
        w.wI(r)(c) = step(w.wI(r)(c), g.wI(r)(c), s.wI(r), c)
        c += 1
      }
      r += 1
    }
  }

  /** Every embedding row pushed through its tower ON THE DRIVER (tables
    * are driver-held during training in this mode anyway; the
    * cluster-held mode uses EmbStore.toVecs instead). Row ix is the
    * dictionary id ix + 1. */
  private def towerOut(emb: Array[Array[Float]], wT: Array[Array[Float]],
      b: Array[Float]): Array[Array[Float]] = emb.map(tower(wT, b, _))

  /** (natural id, vec) frame of driver-held tower outputs, parallelized —
    * the serving artifact. */
  private def vecsFrame(spark: SparkSession, vecs: Array[Array[Float]],
      dict: DataFrame, idName: String): DataFrame = {
    import spark.implicits._
    val rows = vecs.indices.map(ix => (ix + 1L, vecs(ix).toSeq))
    val frame = rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    dict.select(col("value").as(idName), col("id"))
      .join(frame, Seq("id")).drop("id")
  }

  /** Top-k retrieval in the q158k kernel shape: users' tower vectors ⨝
    * broadcast item vectors, codegen DotF32 scores, bounded per-user
    * top-k. `excludeSeen` anti-joins (user_id, item_id) pairs out before
    * ranking — the standard held-out evaluation protocol (a trainer that
    * memorizes its positives would otherwise fill every slot with them).
    * Output (user_id, rk, item_id, score) — RankingEval-ready.
    *
    * Scale shape (round-9): the candidate set is users × catalog and
    * must never cross an exchange — the anti-join broadcasts the seen
    * pairs OF THE SCORED USERS ONLY (semi-filtered first: size is
    * users × avg-history, not the full interaction log), and the top-k
    * is the map-side k-bounded aggregate (sql.TopKAggF), so the one
    * shuffle carries users × k survivor rows. Measured at sf0.1 (1.9k
    * users × 20k items = 38M candidates): 16 s → ~8 s over the round-8
    * window-plus-merge-anti plan (2.5 s scoring, ~3.5 s broadcast anti
    * probe, ~2 s map-side heap).
    *
    * Two guards (round-10, both advice-driven):
    *  - TopKAggF carries ids as LONG, so the aggregate form runs only
    *    when item_id is an integral type; any other id type (Categorify
    *    accepts strings, UUIDs, …) would cast to null and be silently
    *    DROPPED — those models take the window form, same output
    *    contract, one candidate-width exchange more.
    *  - the seen-pair broadcast is right for eval-user subsets but a
    *    full-user-base serve would exceed executor broadcast memory;
    *    when the semi-filtered history exceeds `Budgets.seenBroadcastRows`
    *    (counted — one cheap job on two slim columns) the exclusion falls
    *    back to a shuffle anti-join: slower, but the plan that actually
    *    completes at catalog × user-base scale (spec-pinned). */
  def recommend(model: Model, users: DataFrame, k: Int = 10,
      excludeSeen: Option[DataFrame] = None): DataFrame = {
    graft.sql.GraftFunctions.register(model.userVecs.sparkSession)
    val budgets = graft.operators.Budgets.get
    val uIds = users.select(col("user_id")).distinct()
    val iType = model.itemVecs.schema("item_id").dataType
    val integralId = integral(iType)
    // FUSED serving path (round 11): integral-id catalogs of one vector
    // length inside the float budget and the driver are collected once
    // (Retrieval's guarded vector collect: one pass packs the catalog and
    // reads its header, which decides before the transfer) and scored
    // through sql.TopKDotF32 —
    // candidates never materialize as rows, the seen-set anti-join becomes
    // a row-local membership test, and the plan's only exchange is the
    // small per-user history aggregation. Row-identical to the unfused
    // plan below (spec-pinned); catalogs it refuses (past the budget,
    // ragged vectors) or non-integral ids fall through to it.
    if (integralId && budgets.catalogFloats > 0) {
      val u = uIds.join(model.userVecs, Seq("user_id"))
      graft.sim.Retrieval.topKDot(u, "user_id", "vec",
          model.itemVecs, "item_id", "vec", k,
          seen = excludeSeen.map(_.select(col("user_id"), col("item_id")))) match {
        case Some(recs) =>
          return recs.select(col("user_id"), col("rk"),
            col("item_id").cast(iType).as("item_id"),
            col("score").cast("float").as("score"))
        case None => () // catalog past the budget — unfused plan below
      }
    }
    // same AQE hazard as the fused path: the user frame is ~MB but each
    // row fans out to |catalog| scored rows — spread it before the join
    val u = uIds.join(model.userVecs, Seq("user_id"))
      .repartition(model.userVecs.sparkSession.sparkContext.defaultParallelism)
    val scored0 = u.crossJoin(
        broadcast(model.itemVecs.select(col("item_id"), col("vec").as("__iv"))))
      .select(col("user_id"), col("item_id"),
        graft.sql.GraftFunctions.dotF32(col("vec"), col("__iv")).as("score"))
    val scored = excludeSeen match {
      case Some(seen) =>
        // materialized once (eager): the size probe and the anti-join
        // both read these blocks, so the guard costs one bounded count
        // over materialized rows, not a second semi-join pass
        val seenScored = seen.select(col("user_id"), col("item_id"))
          .join(uIds, Seq("user_id"), "left_semi").localCheckpoint()
        val seenLimit = budgets.seenBroadcastRows
        val small = seenScored.limit(seenLimit.min(Int.MaxValue - 1L)
          .toInt + 1).count() <= seenLimit
        scored0.join(if (small) broadcast(seenScored) else seenScored,
          Seq("user_id", "item_id"), "left_anti")
      case None => scored0
    }
    if (integralId)
      graft.operators.Relational.topKPerGroupAgg(scored, Seq("user_id"),
          col("score"), col("item_id"), k,
          idName = "item_id", scoreName = "score")
        .select(col("user_id"), col("rk"),
          col("item_id").cast(iType).as("item_id"),
          col("score").cast("float").as("score"))
    else
      graft.operators.Relational.topKPerGroup(scored, Seq("user_id"),
          Seq(col("score").desc, col("item_id").asc), k)
        .select(col("user_id"), col("rk").cast("int").as("rk"),
          col("item_id"), col("score"))
  }

  /** MIPS→L2 reduction of the item catalog (Bachrach et al., RecSys 2014;
    * Neyshabur & Srebro 2015): append sqrt(M² − ‖i‖²) to every item
    * vector (M = max item norm) and a literal 0 to query vectors. Dot
    * products are UNCHANGED — the augmented item coordinate multiplies
    * the query's 0 — but L2 proximity in the augmented space now ORDERS
    * BY INNER PRODUCT, so an IVF probe of L2-nearest cells stops missing
    * high-norm items that sit far from the query direction. Round 13:
    * the new bench recall gauge read 0.18 @ nprobe 8/64 on the raw
    * vectors — the classic MIPS/L2 mismatch (two-tower item norms vary),
    * fixed here by construction rather than by probing more cells. */
  private def augmentItems(itemVecs: DataFrame): DataFrame = {
    graft.sql.GraftFunctions.register(itemVecs.sparkSession)
    // max ‖i‖² in one bounded aggregate (max is order-free → deterministic)
    val m2 = itemVecs.agg(max(
      graft.sql.GraftFunctions.dotF32(col("vec"), col("vec")))).head().getDouble(0)
    itemVecs.select(col("item_id"),
      concat(col("vec"), array(
        sqrt(greatest(lit(m2) - graft.sql.GraftFunctions.dotF32(col("vec"),
          col("vec")), lit(0.0))).cast("float"))).as("vec"))
  }

  /** Fit the ANN quantizer on the MIPS-augmented catalog — the centroids
    * [[recommendAnn]] probes MUST come from here (or be refit per model
    * refresh through it): they live in the (dim+1)-augmented space. */
  def annCentroids(model: Model, nlist: Int = 64,
      iters: Int = 3): Array[Array[Float]] =
    graft.sim.Ivf.fitCentroids(augmentItems(model.itemVecs), "item_id", "vec",
      nlist, iters)

  /** Matched ANN serving artifacts (round-13 verdict task 6): the IVF
    * index and the centroids it was bucketed by, produced TOGETHER in the
    * MIPS-augmented space — the only way to construct the value
    * `RecsTable.streamAnnRefresh`'s typed overload accepts, and what
    * [[recommendAnn]] serves from. The constructor is package-private ON
    * PURPOSE: the generic streaming seam cannot check the augmented-space
    * contract (a raw-space index + raw-space centroids are
    * self-consistent and would silently serve at ~0.18 recall — the
    * round-13 gauge finding); a value of this type certifies the pair
    * came through [[annServeArtifacts]]'s check. */
  final case class AnnServeArtifacts private[rank] (
      index: DataFrame, centroids: Array[Array[Float]], augDim: Int)

  /** Build matched serving artifacts for [[graft.serve.RecsTable]]'s
    * streaming ANN leg: augmented index + centroids as ONE value. Pass
    * persisted `centroids` (from [[annCentroids]] via Ivf.saveCentroids /
    * loadCentroids) to skip the quantizer fit — they are dimension-checked
    * against the model's augmented space, so a raw-space artifact REFUSES
    * LOUDLY here instead of silently mis-probing per batch. */
  def annServeArtifacts(model: Model, nlist: Int = 64, iters: Int = 3,
      centroids: Option[Array[Array[Float]]] = None): AnnServeArtifacts = {
    val embDim = model.itemVecs.select(size(col("vec"))).head().getInt(0)
    val cents = centroids.getOrElse(annCentroids(model, nlist, iters))
    require(cents.nonEmpty && cents.forall(_.length == embDim + 1),
      s"centroids must be fit in the MIPS-augmented space (dim ${embDim + 1}" +
        s", got ${cents.headOption.map(_.length).getOrElse(0)}) — " +
        "use TwoTower.annCentroids / annServeArtifacts, not raw-space " +
        "Ivf.fitCentroids output")
    AnnServeArtifacts(
      graft.sim.Retrieval.annIndex(augmentItems(model.itemVecs), "item_id",
        "vec", cents),
      cents, embDim + 1)
  }

  /** ANN-served recommend (round-11 verdict task 2): the same output
    * contract as [[recommend]] at catalog sizes PAST the fused kernel's
    * float budget — per-user top-k through the IVF probe with exact
    * in-cell scoring (sim.Retrieval.topKAnn): each user's vector probes
    * its `nprobe` nearest of `nlist` cells, only those cells' item rows
    * are scored (one cid equi-join — at 100 TB the index is parquet
    * `partitionBy("cid")` and probes prune files), the seen exclusion is
    * row-local, and the map-side heap cuts candidates to users × k.
    * Probing runs in the MIPS-augmented space (see [[augmentItems]] —
    * scores are bit-identical to the raw dot, the probe ranking is not),
    * so recall vs [[recommend]] is nprobe/nlist-governed WITHOUT the
    * inner-product blind spot; with nprobe = nlist the rows EQUAL the
    * exact kernel's (spec-pinned in TwoTowerSpec, with a recall floor at
    * nprobe < nlist). Pass prebuilt `centroids` from [[annCentroids]]
    * (persist via Ivf.saveCentroids) to skip the quantizer fit — the
    * production serve fits on the model-refresh cadence, not per
    * request; index and centroids come from [[annServeArtifacts]], whose
    * dimension check refuses raw-space or empty centroids. */
  def recommendAnn(model: Model, users: DataFrame, k: Int = 10,
      excludeSeen: Option[DataFrame] = None,
      nlist: Int = 64, nprobe: Int = 8, iters: Int = 3,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    graft.sql.GraftFunctions.register(model.userVecs.sparkSession)
    val iType = model.itemVecs.schema("item_id").dataType
    val arts = annServeArtifacts(model, nlist, iters, centroids)
    val u = users.select(col("user_id")).distinct()
      .join(model.userVecs, Seq("user_id"))
      .select(col("user_id"),
        concat(col("vec"), array(lit(0.0f))).as("vec"))
    graft.sim.Retrieval.topKAnn(u, "user_id", "vec", arts.index, "item_id", "vec",
        arts.centroids, k, nprobe,
        seen = excludeSeen.map(_.select(col("user_id"), col("item_id"))))
      .select(col("user_id"), col("rk"),
        col("item_id").cast(iType).as("item_id"),
        col("score").cast("float").as("score"))
  }

  /** The reference's hyperparameter grid: batch sizes × learning rates
    * (reference: src/my_merlin_flow.py:248-260 — batch_sizes [16384,
    * 4096] × learning_rates [0.04, 0.02], fanned out per config). Scale
    * the base schedule through it with `base.copy(...)`. */
  def referenceGrid(base: Config,
      batchSizes: Seq[Int] = Seq(16384, 4096),
      learningRates: Seq[Double] = Seq(0.04, 0.02)): Seq[Config] =
    for (bs <- batchSizes; lr <- learningRates)
      yield base.copy(batchRows = bs, lr = lr)

  /** Grid-search fan-out + model selection for the neural path (F10/F11
    * parity with AlsRecommender.gridSearch). It follows the reference's
    * flow: prepare the data once (NVTabular Categorify,
    * my_merlin_flow.py:216-263), then a CONCURRENT foreach over the hyper
    * sets (Metaflow `foreach` with --max-workers 4, :263-331). The
    * config-independent work runs once per grid:
    *  - one [[prepare]]: the input checkpoint, both dictionaries and the
    *    encoded distinct pairs;
    *  - one persisted batch layout per [[Geometry]], built by the first
    *    config that needs it (the reference grid's two learning rates per
    *    batch size share one);
    *  - one evaluation context: each validation user's `excludeSeen` id
    *    set and [[RankingEval.truthSets]] row, built on the pool while the
    *    calling thread prepares.
    * Each config then only trains, publishes its item catalog, scores
    * the context through the fused TopKDotF32 kernel and sums its hits
    * in-row ([[RankingEval.rankedMetrics]]). Non-integral ids, or a
    * catalog past the fused kernel's float budget, evaluate through
    * [[recommend]] + [[RankingEval.perUser]] instead.
    *
    * Configs fit in parallel on a driver thread pool of `maxWorkers`
    * (Spark schedules concurrent jobs from multiple driver threads
    * natively; each fit's jobs interleave on the executor cores the
    * sequential form left idle between its small partition-targeted
    * steps). Determinism is untouched: the shared pieces are the same
    * pure functions of the data a standalone fit computes, so each model
    * equals `fit(trainDf, cfg)` exactly, and each metric equals
    * `meanMetrics(perUser(recommend(...)))`'s recall up to the summation
    * order of the mean (both spec-pinned). Results are collected in GRID
    * order, and the argmax of (metric, config key) never sees thread
    * timing.
    *
    * Pool threads, started by the caller, inherit its
    * [[graft.operators.Budgets]].
    * A failing config surfaces its OWN exception (e.g. the
    * IllegalArgumentException of a bad config's require), not the pool's
    * ExecutionException wrapper. Its siblings are interrupted and their
    * jobs cancelled (every pool job carries the grid's tag), and the
    * shared checkpoints and layouts are freed only after every pool
    * thread has stopped, so no sibling reads freed blocks. */
  def gridSearch(trainDf: DataFrame, valid: DataFrame, configs: Seq[Config],
      k: Int = 10, excludeSeen: Option[DataFrame] = None,
      maxWorkers: Int = 4): (Config, Model, Map[String, Double]) = {
    require(configs.nonEmpty, "empty grid")
    require(maxWorkers > 0, s"maxWorkers must be positive, got $maxWorkers")
    import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit}
    val sc = trainDf.sparkSession.sparkContext
    val tag = s"graft-twotower-grid-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(maxWorkers, configs.size))
    def submit[T](body: => T): Future[T] = pool.submit(new Callable[T] {
      override def call(): T = { sc.addJobTag(tag); body }
    })
    var ctx: Option[Future[DataFrame]] = None
    var prep: Option[Prepared] = None
    var layouts = Map.empty[Geometry, SharedLayout]
    var failed = true
    try {
      if (integral(trainDf.schema("item_id").dataType) &&
          integral(valid.schema("item_id").dataType))
        ctx = Some(submit(evalContext(valid, excludeSeen)))
      val p = prepare(trainDf, f => { val item = submit(f()); () => item.get() })
      prep = Some(p)
      val shared = configs.map(geometry(p, _)).distinct
        .map(g => g -> new SharedLayout(p, g)).toMap
      layouts = shared
      val evalCtx = ctx
      val ids = new DictIds(p)
      val futures = configs.map { cfg =>
        submit {
          val t = train(p, cfg, g => shared(g).get())
          val recall = evalCtx.flatMap(c => fusedRecall(t, ids, c.get(), k))
            .getOrElse(RankingEval.meanMetrics(RankingEval.perUser(
              recommend(t.model, valid.select("user_id"), k, excludeSeen), valid, k))._1)
          (cfg, t.model, recall)
        }
      }
      // on this otherwise idle thread, while the configs train
      val embedFloats = graft.operators.Budgets.get.driverEmbedFloats
      if (evalCtx.isDefined && configs.exists(p.driverHeld(_, embedFloats)))
        ids.load()
      val fitted = futures.map(_.get()) // grid order, independent of completion order
      failed = false
      val best = fitted.maxBy { case (cfg, _, r) => (r, cfg.key) }
      (best._1, best._2, fitted.map { case (cfg, _, r) => cfg.key -> r }.toMap)
    } catch {
      case e: ExecutionException => throw rootCause(e)
    } finally {
      if (failed) {
        pool.shutdownNow()
        sc.cancelJobsWithTag(tag)
      } else pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      // a job submitted between the interrupt and the thread's exit
      if (failed) sc.cancelJobsWithTag(tag)
      layouts.values.foreach(_.free())
      prep.foreach(p => graft.operators.Checkpoints.free(p.enc))
      ctx.filter(_.isDone).flatMap(c => scala.util.Try(c.get()).toOption)
        .foreach(graft.operators.Checkpoints.free)
    }
  }

  @scala.annotation.tailrec
  private def rootCause(e: Throwable): Throwable = e match {
    case x: java.util.concurrent.ExecutionException if x.getCause != null =>
      rootCause(x.getCause)
    case x => x
  }

  /** One grid geometry's batch layout: the first config that needs it
    * builds it while the others of its geometry wait on the lock. */
  private final class SharedLayout(p: Prepared, g: Geometry) {
    private var rdd: Batches = null
    def get(): Batches = synchronized {
      if (rdd == null) rdd = layout(p, g)
      rdd
    }
    def free(): Unit = synchronized {
      if (rdd != null) rdd.unpersist(blocking = false)
    }
  }

  /** The validation side every grid config scores against: one row per
    * validation user with its truth set and size and its `excludeSeen`
    * id set (`__seen`, the fused kernel's per-query seen array). */
  private def evalContext(valid: DataFrame, excludeSeen: Option[DataFrame]): DataFrame =
    graft.sim.Retrieval.withSeen(RankingEval.truthSets(valid), "user_id",
      excludeSeen, "item_id").localCheckpoint()

  /** The dictionaries' natural ids by row (row ix = id ix + 1; item ids
    * as LONG), collected once per grid on first use. With a config's
    * driver-held vectors they give its user frame and item catalog with
    * no per-config collect. */
  private final class DictIds(p: Prepared) {
    lazy val users: Array[Any] = {
      val out = new Array[Any](p.nU)
      p.uDict.select(col("value"), col("id")).collect()
        .foreach(r => out(r.getLong(1).toInt - 1) = r.get(0))
      out
    }
    lazy val items: Array[Long] = {
      val out = new Array[Long](p.nI)
      p.iDict.select(col("value").cast("long"), col("id")).collect()
        .foreach(r => out(r.getLong(1).toInt - 1) = r.getLong(0))
      out
    }

    def load(): Unit = { users; items; () }

    /** (user_id, vec) as a local frame: the rows of `Model.userVecs`. */
    def userFrame(vecs: Array[Array[Float]]): DataFrame = {
      import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](vecs.length)
      vecs.indices.foreach(ix => rows.add(org.apache.spark.sql.Row(users(ix), vecs(ix).toSeq)))
      p.uDict.sparkSession.createDataFrame(rows, StructType(Seq(
        p.uDict.schema("value").copy(name = "user_id"),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    }
  }

  /** Mean recall@k of a trained config over an [[evalContext]]: the fused
    * kernel ranks each user's catalog in-row (seen ids skipped) and
    * [[RankingEval.rankedMetrics]] scores that list against the user's
    * truth set in the same row, so no candidate or recs rows exist. A
    * user without a vector ranks nothing and scores 0, as in
    * [[RankingEval.perUser]]. Driver-held vectors publish straight from
    * the driver; cluster-held ones collect like [[recommend]]. None =
    * catalog past the fused float budget (`Budgets.catalogFloats`). */
  private def fusedRecall(t: Trained, ids: DictIds, ctx: DataFrame,
      k: Int): Option[Double] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sc = ctx.sparkSession.sparkContext
    val (users, catalog) = (t.userVecs, t.itemVecs) match {
      case (Some(uv), Some(iv)) =>
        (ids.userFrame(uv), graft.sim.Retrieval.publishLocal(sc, ids.items, iv))
      case _ => (t.model.userVecs,
        graft.sim.Retrieval.publishCatalog(t.model.itemVecs, "item_id", "vec"))
    }
    catalog.map { bc =>
      val top = graft.sql.TopKDotF32.fused(col("vec").cast("array<float>"),
        coalesce(col("__seen"), typedLit(Seq.empty[Long])), bc, k)
      val (recall, _) = RankingEval.rankedMetrics(col("__ranked"), col("truth_ids"),
        col("n_test"), k)
      // same AQE hazard as recommend: a user row is ~dim bytes but
      // catalog × dim work, so spread the rows before scoring
      val r = ctx.join(users, Seq("user_id"), "left")
        .repartition(sc.defaultParallelism)
        .select(transform(top, x => x.getField("item_id")).as("__ranked"),
          col("truth_ids"), col("n_test"))
        .agg(avg(recall)).head().getDouble(0)
      bc.unpersist(blocking = false)
      r
    }
  }
}
