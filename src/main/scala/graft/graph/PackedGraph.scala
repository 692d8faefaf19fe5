package graft.graph

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.storage.StorageLevel
import graft.operators.{Budgets, Checkpoints}

/** The packed graph format the fused and broadcast graph kernels share:
  * how an edge list reaches the driver, how node ids become dense ints,
  * and how the dst-grouped CSR is laid out. Two fused serves outside
  * `graft.graph` use it too: `Cooccur.recommendFused` builds its neighbor
  * model with [[driverCsr]] (each item's in-edges are its neighbors), and
  * `ConnectedComponents.runFused` collects its pair graph through
  * [[collect]] and labels it over [[dictionary]]'s dense ids.
  *
  *  - Transfer: each partition sends ONE long[] of its rows through the
  *    InternalRow RDD (a long column writes its value, an array column
  *    its length and then its elements). Not the Dataset encoder
  *    (round 14): a Dataset collect of big primitive-array rows
  *    deserializes on the DRIVER through SafeProjection → generic
  *    ArrayData.toLongArray, a per-element walk over a boxed array
  *    (measured at 120M edges: minutes of single-threaded driver CPU and
  *    GBs of Long garbage, dwarfing the sweep); the raw RDD path moves
  *    each chunk as a primitive array end to end. No shuffle either (the
  *    round-12 grouped form paid an exchange).
  *  - Guard: one aggregate counts the rows and the rows with a null
  *    column BEFORE anything is collected, so an over-budget or
  *    null-bearing graph is refused while it is still distributed; the
  *    cap is the caller's gate and what the session holds
  *    ([[Budgets.driverRows]] at the caller's bytes per row).
  *  - Node dictionary: sorted distinct ids; position = dense id.
  *  - CSR: in-edges grouped by dense dst (see [[Csr]]).
  */
private[graft] object PackedGraph {

  /** Largest row count an Int-indexed driver image takes: the node-id
    * image is a long[2m + 1] and the CSR offsets are Ints, so a gate
    * raised past ~1.07B would wrap m.toInt into a negative allocation
    * instead of falling back (round-13 advice). */
  private val IntCap: Long = (Int.MaxValue / 2 - 8).toLong

  /** Records per executor-side dense chunk (1M): a single ArrayBuilder
    * doubling up to a ~90 MB partition image holds ~2x that transiently,
    * and 32 concurrent tasks of it starved the 8g execution pool in the
    * first r15graph attempt — the fixed chunk keeps the build's working
    * set flat at any partition size. */
  private val SubChunk = 1 << 20

  /** `srcCol`'s and `dstCol`'s shared id type when it is integral: a
    * fused kernel keys ids by long ([[Budgets.integral]]). */
  def idType(edges: DataFrame, srcCol: String, dstCol: String): Option[DataType] = {
    val t = edges.schema(srcCol).dataType
    if (Budgets.integral(t) && edges.schema(dstCol).dataType == t) Some(t) else None
  }

  /** One aggregate over `e`: `rows`, the count of rows with a null in
    * any column, then `extra`. */
  private def probe(e: DataFrame, rows: Column, extra: Column*): Row = {
    val anyNull = e.columns.map(c => col(c).isNull).reduce(_ || _)
    e.agg(rows, (coalesce(sum(when(anyNull, 1L).otherwise(0L)), lit(0L)) +: extra): _*)
      .head()
  }

  /** The guarded packed collect: probes `e` ([[probe]]) and collects its
    * packed chunks only when it has no null, passes `admit`, and its row
    * count fits `gate` and the session's driver at `resultBytes` of task
    * results and `heapBytes` of driver heap per row. Returns the chunks
    * with the probe row. `e` stays as it is; the caller frees it. */
  def collect(e: DataFrame, gate: Long, resultBytes: Long, heapBytes: Long,
      rows: Column = count(lit(1)), extra: Seq[Column] = Nil)(
      admit: Row => Boolean = _ => true): Option[(Array[Array[Long]], Row)] = {
    val p = probe(e, rows, extra: _*)
    val m = p.getLong(0)
    val cap = math.min(gate, Budgets.driverRows(
      e.sparkSession.sparkContext.getConf, resultBytes, heapBytes))
    if (m > cap || p.getLong(1) != 0L || !admit(p)) None
    else Some((chunks(e), p))
  }

  /** Each partition's rows as one long[] (see the object doc). */
  private def chunks(e: DataFrame): Array[Array[Long]] = {
    val isArray = e.schema.fields.map(_.dataType.isInstanceOf[ArrayType])
    e.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r =>
        var c = 0
        while (c < isArray.length) {
          if (isArray(c)) {
            val a = r.getArray(c)
            b += a.numElements().toLong
            var i = 0
            while (i < a.numElements()) { b += a.getLong(i); i += 1 }
          } else b += r.getLong(c)
          c += 1
        }
      }
      Iterator.single(b.result())
    }.collect()
  }

  /** The node dictionary of `ids`, which it sorts in place: sorted
    * distinct ids, position = dense id. */
  def dictionary(ids: Array[Long]): Array[Long] = {
    java.util.Arrays.parallelSort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(ids, n)
  }

  /** The node dictionary of the first `min(stride, 2)` longs (the
    * endpoints) of every `stride`-long record in `chunks`, plus `extra`. */
  def dictionary(chunks: Array[Array[Long]], stride: Int, extra: Option[Long]): Array[Long] = {
    val keys = math.min(stride, 2)
    val ids = new Array[Long](chunks.map(_.length / stride * keys).sum + extra.size)
    var p = 0
    extra.foreach { x => ids(p) = x; p += 1 }
    chunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        var k = 0
        while (k < keys) { ids(p) = c(i + k); p += 1; k += 1 }
        i += stride
      }
    }
    dictionary(ids)
  }

  /** Runs `body(t, lo, hi)` on `pool` for `threads` disjoint slices
    * [lo, hi) covering [0, size), and waits for all of them (a worker's
    * exception surfaces here). */
  def inParallel(pool: java.util.concurrent.ExecutorService, size: Int, threads: Int)(
      body: (Int, Int, Int) => Unit): Unit = {
    val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
    (0 until threads).foreach { t =>
      val lo = (t.toLong * size / threads).toInt
      val hi = ((t + 1).toLong * size / threads).toInt
      tasks.add(() => body(t, lo, hi))
    }
    pool.invokeAll(tasks).forEach(_.get())
  }

  /** Runs `sweep` with a fixed pool of `threads` (≥ 1, ≤ size) threads
    * for a kernel's iterations over `size` nodes, shutting it down after. */
  def withPool[T](size: Int, parallelism: Int)(
      sweep: (java.util.concurrent.ExecutorService, Int) => T): T = {
    val threads = math.max(1, math.min(parallelism, size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try sweep(pool, threads) finally pool.shutdown()
  }

  /** Dense CSR image of a collected edge list (round 13): the round-12
    * fused sweep iterated a boxed `HashMap[Long, Long]` single-threaded,
    * which measured 1.3-1.5× SLOWER than the join plan at 24M edges.
    * Primitive arrays + a dense id remap make each sweep a cache-linear
    * pass, and disjoint node ranges parallelize it with zero
    * synchronization (every write is to the owner's slot).
    *
    *  - `nodes`: the node dictionary; position = dense id
    *  - `inOff`/`inSrc`: in-adjacency with multiplicity, grouped by dense
    *    dst: the sources of v's in-edges sit at inSrc[inOff(v) until
    *    inOff(v+1)), in input order
    *  - `inW`: each in-edge's weight, or null for an unweighted graph */
  final class Csr(val nodes: Array[Long], val inOff: Array[Int],
      val inSrc: Array[Int], val inW: Array[Long]) {
    def n: Int = nodes.length
    def denseIdOf(id: Long): Int = java.util.Arrays.binarySearch(nodes, id)
  }

  /** CSR from packed (src, dst[, weight]) chunks of `stride` 2 or 3 and
    * `m` records in total; the dictionary also holds `extra`. Every O(m)
    * phase is parallel (the first CSR cut kept a serial binary-search
    * fill, which became the fused wall at 24M edges):
    *
    *  1. node dictionary ([[dictionary]]);
    *  2. dense map: each chunk maps its records at its precomputed
    *     disjoint offset — the source's dense id, the weight, and the key
    *     (denseDst << 32 | flatIndex);
    *  3. parallelSort the keys: after it, every in-edge's CSR position is
    *     its sort position, so a range-parallel gather through the flat
    *     index fills inSrc/inW and a boundary scan of the high words fills
    *     inOff.
    *
    * Deterministic at any parallelism: the low word makes every key
    * unique, so the sort has one answer. */
  def buildCsr(chunks: Array[Array[Long]], stride: Int, m: Int, extra: Option[Long]): Csr = {
    val nodes = dictionary(chunks, stride, extra)
    val n = nodes.length
    val offs = chunks.scanLeft(0)(_ + _.length / stride)
    val us = new Array[Int](m)
    val ws = if (stride > 2) new Array[Long](m) else null
    val keys = new Array[Long](m)
    val fjp = java.util.concurrent.ForkJoinPool.commonPool()
    inParallel(fjp, chunks.length, chunks.length) { (_, lo, hi) =>
      var ci = lo
      while (ci < hi) {
        val c = chunks(ci)
        var o = offs(ci)
        var j = 0
        while (j < c.length) {
          us(o) = java.util.Arrays.binarySearch(nodes, c(j))
          if (ws != null) ws(o) = c(j + 2)
          keys(o) = (java.util.Arrays.binarySearch(nodes, c(j + 1)).toLong << 32) | o.toLong
          o += 1; j += stride
        }
        ci += 1
      }
    }
    java.util.Arrays.parallelSort(keys)
    val inSrc = new Array[Int](m)
    val inW = if (ws == null) null else new Array[Long](m)
    val threads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), m / 65536))
    inParallel(fjp, m, threads) { (_, lo, hi) =>
      var j = lo
      while (j < hi) {
        val fi = keys(j).toInt
        inSrc(j) = us(fi)
        if (inW != null) inW(j) = ws(fi)
        j += 1
      }
    }
    val inOff = new Array[Int](n + 1)
    var i = 0
    while (i < m) { inOff((keys(i) >>> 32).toInt + 1) += 1; i += 1 }
    i = 1
    while (i <= n) { inOff(i) += inOff(i - 1); i += 1 }
    new Csr(nodes, inOff, inSrc, inW)
  }

  /** The driver-CSR tier: the guarded collect ([[collect]]) of `e`
    * — (src, dst[, weight]) as long columns, checkpointed here so the
    * probe and the collect read one stable copy — when it has rows and
    * fits `gate` and [[IntCap]], then [[buildCsr]] with `extra` in the
    * dictionary. */
  def driverCsr(e: DataFrame, gate: Long, resultBytes: Long, heapBytes: Long,
      extra: Option[Long] = None, extraProbe: Seq[Column] = Nil)(
      admit: Row => Boolean = _ => true): Option[Csr] = {
    val ck = e.localCheckpoint()
    val got = collect(ck, math.min(gate, IntCap), resultBytes, heapBytes,
      extra = extraProbe)(p => p.getLong(0) > 0L && admit(p))
    Checkpoints.free(ck)
    got.map { case (cs, p) => buildCsr(cs, ck.schema.length, p.getLong(0).toInt, extra) }
  }

  /** The broadcast tiers' edge image: the edges never reach the driver.
    * `e` — (src, dst[, weight]) as long columns — is persisted DISK_ONLY,
    * not checkpointed: it is scanned three times (probe, node dictionary,
    * dense build) and must be STABLE across scans for any source, but at
    * 120M edges the checkpoint's in-memory blocks (~5 GB) starved the
    * execution pool on an 8g session (UNABLE_TO_ACQUIRE_MEMORY in the
    * dictionary distinct — the first r15graph attempt). Disk-backed
    * blocks give the same stability with no storage-pool pressure, the
    * posture that scales: at 100 TB you re-read cheap columnar bytes.
    *
    * The edges must have rows, no null and pass `admit` on the probe row
    * (rows, nulls, `extraProbe`...). Their distinct endpoints come to the
    * driver by the guarded collect under `gate`, [[IntCap]] and the
    * session (~24 B/node of task results; driver arrays + a per-round
    * broadcast ~64 B/node of heap), and become the dictionary with
    * `extra`. The edges are then dense-indexed ONCE on the executors
    * against the broadcast dictionary into packed (srcIdx, dstIdx[,
    * weight]) chunks of [[SubChunk]] records, cached memory-and-disk
    * (cache pressure spills instead of failing). None on any refusal. */
  def executorImage(edges: DataFrame, gate: Long, extra: Option[Long] = None,
      extraProbe: Seq[Column] = Nil)(admit: Row => Boolean = _ => true):
      Option[(Array[Long], Broadcast[Array[Long]], RDD[Array[Long]])] = {
    val e = edges.persist(StorageLevel.DISK_ONLY)
    val p = probe(e, count(lit(1)), extraProbe: _*)
    val nodesDf =
      if (p.getLong(0) == 0L || p.getLong(1) != 0L || !admit(p)) None
      else Some(e.select(col(e.columns(0)).as("node"))
        .union(e.select(col(e.columns(1)).as("node"))).distinct().localCheckpoint())
    val got = nodesDf.flatMap(collect(_, math.min(gate, IntCap), 24L, 64L)())
    nodesDf.foreach(Checkpoints.free)
    val image = got.map { case (cs, _) =>
      val nodes = dictionary(cs, 1, extra)
      val bc = e.sparkSession.sparkContext.broadcast(nodes)
      val packed = denseChunks(e, bc).persist(StorageLevel.MEMORY_AND_DISK)
      packed.count() // materialized, so e's blocks can go now
      (nodes, bc, packed)
    }
    e.unpersist(blocking = false)
    image
  }

  /** `e`'s rows dense-indexed on the executors in [[SubChunk]]-record
    * chunks: the first two columns become dense ids in `bc`'s dictionary,
    * the rest are carried as they are. */
  private def denseChunks(e: DataFrame, bc: Broadcast[Array[Long]]): RDD[Array[Long]] = {
    val width = e.schema.length
    val sub = SubChunk
    e.queryExecution.toRdd.mapPartitions { it =>
      val dict = bc.value
      new Iterator[Array[Long]] {
        def hasNext: Boolean = it.hasNext
        def next(): Array[Long] = {
          val b = new Array[Long](width * sub)
          var k = 0
          while (k < b.length && it.hasNext) {
            val r = it.next()
            b(k) = java.util.Arrays.binarySearch(dict, r.getLong(0)).toLong
            b(k + 1) = java.util.Arrays.binarySearch(dict, r.getLong(1)).toLong
            var c = 2
            while (c < width) { b(k + c) = r.getLong(c); c += 1 }
            k += width
          }
          if (k == b.length) b else java.util.Arrays.copyOf(b, k)
        }
      }
    }
  }

  /** (node, `valueCol`) rows of every dense id whose value `keep`s, the
    * node cast back to `nodeType`, in node order. The rows are emitted on
    * the executors from `defaultParallelism` primitive slices of the two
    * arrays, so the driver holds the slices (16 B per node) and no row
    * objects: no boxed builder and no local relation. */
  def frame(spark: SparkSession, nodes: Array[Long], values: Array[Long],
      valueCol: String, nodeType: DataType = LongType,
      keep: Long => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    val n = nodes.length
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n))
    val parts = Seq.tabulate(slices) { s =>
      val from = (n.toLong * s / slices).toInt
      val until = (n.toLong * (s + 1) / slices).toInt
      (java.util.Arrays.copyOfRange(nodes, from, until),
        java.util.Arrays.copyOfRange(values, from, until))
    }
    val rows = spark.sparkContext.parallelize(parts, slices).flatMap { case (ns, vs) =>
      Iterator.range(0, ns.length).filter(i => keep(vs(i))).map(i => (ns(i), vs(i)))
    }
    spark.createDataset(rows).toDF("node", valueCol)
      .select(col("node").cast(nodeType).as("node"), col(valueCol))
  }
}
