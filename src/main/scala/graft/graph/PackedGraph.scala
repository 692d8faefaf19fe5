package graft.graph

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag
import graft.operators.Budgets

/** The packed graph format the fused and broadcast graph kernels share:
  * how an edge list reaches the driver, how node ids become dense ints,
  * and how the dst-grouped CSR is laid out. Two fused serves outside
  * `graft.graph` use it too: `Cooccur.recommendFused` builds its neighbor
  * model with [[driverCsr]] (each item's in-edges are its neighbors),
  * `ConnectedComponents.runFused` collects its pair graph through
  * [[collect]] and labels it over [[dictionary]]'s dense ids, and a
  * streaming serve's driver state collects its seen pairs through
  * [[collect]]. So do the vector collects (`Retrieval.vectorRows`): the
  * dense catalog (`Retrieval.publishCatalog`), the IVF cell catalog
  * (`Retrieval.publishCellCatalog`) and a streaming serve's user vectors
  * (`RecsTable.ServedState`); [[unpack]] decodes their chunks.
  *
  *  - Transfer: each partition packs its rows into long[] chunks, split
  *    at record boundaries, through the InternalRow RDD (a long column
  *    writes its value, an array<long> column its length and then its
  *    elements, an array<float> column its length and then its elements'
  *    raw bits, two per long). Not the Dataset encoder (round 14): a
  *    Dataset collect of big primitive-array rows deserializes on the
  *    DRIVER through SafeProjection → generic
  *    ArrayData.toLongArray, a per-element walk over a boxed array
  *    (measured at 120M edges: minutes of single-threaded driver CPU and
  *    GBs of Long garbage, dwarfing the sweep); the raw RDD path moves
  *    each chunk as a primitive array end to end. No shuffle either (the
  *    round-12 grouped form paid an exchange). Chunks of at most
  *    [[PackChunk]] longs keep the driver heap at the longs' size.
  *  - Guard: the packing pass reads the input ONCE ([[scanned]]): in the
  *    same scan each partition folds its header (rows, rows with a null
  *    column, the caller's extra columns, such as a vector collect's min
  *    and max length), and the packed chunks are persisted DISK_ONLY. The
  *    driver sums the headers (one `fold` job, no exchange) and applies
  *    the caller's gate, what the session holds ([[Budgets.driverRows]] at
  *    the caller's bytes per row) and [[IntCap]] BEFORE anything is
  *    collected, so an over-budget, null-bearing or otherwise refused
  *    input never reaches the driver. One read needs no stable copy: the
  *    header and the chunks come from the same scan.
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

  /** Longs per packed transfer chunk (32K, 256 KB): below half of G1's
    * smallest region (1 MB), so no chunk is a humongous object, which the
    * heap rounds up to whole regions. On a 5 GB driver (2 MB regions)
    * whole-partition arrays of 10–35 MB measured +26 % per d = 16 vector
    * row, and 1M-long chunks of 11-long cell rows +53 % (each array a few
    * bytes past four regions). */
  private val PackChunk = 1 << 15

  /** `srcCol`'s and `dstCol`'s shared id type when it is integral: a
    * fused kernel keys ids by long ([[Budgets.integral]]). */
  def idType(edges: DataFrame, srcCol: String, dstCol: String): Option[DataType] = {
    val t = edges.schema(srcCol).dataType
    if (Budgets.integral(t) && edges.schema(dstCol).dataType == t) Some(t) else None
  }

  /** A header column: `c`, a long per row, summed over the rows
    * ([[Fold.sum]]), or its least or greatest value ([[Fold.min]],
    * [[Fold.max]]: Long.MaxValue and Long.MinValue over none); null values
    * are skipped. */
  final class Fold private (val c: Column, val op: Int) {
    def zero: Long = if (op == 0) 0L else if (op == 1) Long.MaxValue else Long.MinValue
  }
  object Fold {
    def sum(c: Column): Fold = new Fold(c, 0)
    def min(c: Column): Fold = new Fold(c, 1)
    def max(c: Column): Fold = new Fold(c, 2)
  }

  private def fold(op: Int, a: Long, b: Long): Long =
    if (op == 0) a + b else if (op == 1) math.min(a, b) else math.max(a, b)

  /** `use` of one scan of `e` and its header. With `pack`, the scan is
    * each partition's rows as packed chunks of at most [[PackChunk]] longs
    * (see the object doc; a longer record is a chunk alone), split between
    * records, then, last, the partition's header; without, the header
    * alone. The header folds `rows`, the count of rows with a null in any
    * column (a null array packs as length 0), then `extra`, over the
    * partition's rows; the driver folds the partitions' headers (one job,
    * no exchange, where an aggregate pays an exchange and, under adaptive
    * execution, a second job) into a Row of longs. Packed chunks are
    * persisted DISK_ONLY for `use` and unpersisted after it, however it
    * ends. */
  private def scanned[T](e: DataFrame, pack: Boolean, rows: Fold, extra: Seq[Fold])(
      use: (RDD[AnyRef], Row) => T): T = {
    val folds = rows +: Fold.sum(e.columns.map(col(_).isNull).reduce(_ || _).cast("long")) +: extra
    val (ops, zeros) = (folds.map(_.op).toArray, folds.map(_.zero).toArray)
    // per packed column: 0 = a long, 1 = an array<long>, 2 = an array<float>
    val kinds = if (!pack) Array.emptyIntArray else e.schema.fields.map(_.dataType match {
      case ArrayType(FloatType, _) => 2
      case _: ArrayType => 1
      case _ => 0
    })
    val (w, sub) = (kinds.length, PackChunk)
    // each long[] travels as an AnyRef: the block manager writes the
    // blocks of an RDD of primitive arrays with Kryo, whose first use in a
    // JVM measured ~160 ms and ~0.7 MB of pooled heap; the default
    // serializer is already in use
    val scan = e.select(e.columns.take(w).map(col) ++ folds.map(_.c.cast("long")): _*)
      .queryExecution.toRdd.mapPartitions[AnyRef] { it =>
        val v = zeros.clone()
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.flatMap { r =>
          var i = 0
          while (i < v.length) {
            if (!r.isNullAt(w + i)) v(i) = fold(ops(i), v(i), r.getLong(w + i))
            i += 1
          }
          val start = b.length
          var c = 0
          while (c < w) {
            if (kinds(c) == 0) b += r.getLong(c)
            else if (r.isNullAt(c)) b += 0L
            else {
              val a = r.getArray(c)
              def bits(i: Int): Long =
                if (i < a.numElements()) java.lang.Float.floatToRawIntBits(a.getFloat(i)) else 0
              b += a.numElements().toLong
              var j = 0
              if (kinds(c) == 1) while (j < a.numElements()) { b += a.getLong(j); j += 1 }
              else while (j < a.numElements()) { b += bits(j + 1) << 32 | bits(j) & 0xffffffffL; j += 2 }
            }
            c += 1
          }
          // past the bound: the chunk ends before this record
          if (start == 0 || b.length <= sub) Iterator.empty
          else {
            val x = b.result()
            b.clear()
            b.addAll(x, start, x.length - start)
            Iterator.single(java.util.Arrays.copyOf(x, start))
          }
        } ++ Iterator(b.result(), v).filter(_.length > 0)
      }
    if (pack) scan.persist(StorageLevel.DISK_ONLY)
    try use(scan, Row.fromSeq(scan.mapPartitions(it =>
        Iterator.single(it.reduce((_, h) => h).asInstanceOf[Array[Long]]))
      .fold(zeros)((a, h) => Array.tabulate(a.length)(i => fold(ops(i), a(i), h(i)))).toSeq))
    finally if (pack) scan.unpersist(blocking = false)
  }

  /** The header of `e` alone ([[scanned]]): `rows`, the count of rows
    * with a null in any column, then `extra`, as longs. */
  def header(e: DataFrame, rows: Fold = Fold.sum(lit(1L)), extra: Seq[Fold] = Nil): Row =
    scanned(e, pack = false, rows, extra)((_, h) => h)

  /** The guarded packed collect: one scan of `e` ([[scanned]]) packs its
    * chunks and folds its header, and the chunks are collected only when
    * `e` has no null, passes `admit`, and its `rows` fit `gate`,
    * [[IntCap]] and the session's driver at `resultBytes` of task results
    * and `heapBytes` of driver heap per row (a caller whose cost grows
    * with an array's length counts its rows in elements). Returns the
    * chunks with the header row. `e` stays as it is. */
  def collect(e: DataFrame, gate: Long, resultBytes: Long, heapBytes: Long,
      rows: Fold = Fold.sum(lit(1L)), extra: Seq[Fold] = Nil)(
      admit: Row => Boolean = _ => true): Option[(Array[Array[Long]], Row)] =
    scanned(e, pack = true, rows, extra) { (packed, p) =>
      val cap = math.min(math.min(gate, IntCap), Budgets.driverRows(
        e.sparkSession.sparkContext.getConf, resultBytes, heapBytes))
      if (p.getLong(0) > cap || p.getLong(1) != 0L || !admit(p)) None
      else Some((packed.glom().collect().flatMap(_.init.map(_.asInstanceOf[Array[Long]])), p))
    }

  /** Packed records of `keys` longs and one array<float> ([[collect]]) as
    * `keys` arrays of their longs and one float array per record, in
    * transfer order. Each chunk is released once read. */
  private[graft] def unpack(chunks: Array[Array[Long]], keys: Int)
      : (Array[Array[Long]], Array[Array[Float]]) = {
    val n = chunks.map(c => Iterator.iterate(0)(j => j + keys + 1 + (c(j + keys).toInt + 1) / 2)
      .takeWhile(_ < c.length).size).sum
    val ks = Array.fill(keys)(new Array[Long](n))
    val vs = new Array[Array[Float]](n)
    var r = 0
    chunks.indices.foreach { ci =>
      val c = chunks(ci)
      chunks(ci) = null
      var j = 0
      while (j < c.length) {
        var k = 0
        while (k < keys) { ks(k)(r) = c(j); j += 1; k += 1 }
        val v = new Array[Float](c(j).toInt)
        var i = 0
        while (i < v.length) {
          v(i) = java.lang.Float.intBitsToFloat((c(j + 1 + (i >> 1)) >>> 32 * (i & 1)).toInt)
          i += 1
        }
        j += 1 + (v.length + 1) / 2
        vs(r) = v
        r += 1
      }
    }
    (ks, vs)
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
  def buildCsr(chunks: Array[Array[Long]], stride: Int, m: Int, extra: Option[Long]): Csr =
    buildCsr(dictionary(chunks, stride, extra), chunks, stride, m)

  /** [[buildCsr]] over a node dictionary the caller already holds; it must
    * contain every endpoint of `chunks`. */
  def buildCsr(nodes: Array[Long], chunks: Array[Array[Long]], stride: Int, m: Int): Csr = {
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
    * — (src, dst[, weight]) as long columns — when it has rows, then
    * [[buildCsr]] with `extra` in the dictionary. */
  def driverCsr(e: DataFrame, gate: Long, resultBytes: Long, heapBytes: Long,
      extra: Option[Long] = None, extraProbe: Seq[Fold] = Nil)(
      admit: Row => Boolean = _ => true): Option[Csr] =
    collect(e, gate, resultBytes, heapBytes, extra = extraProbe)(
        p => p.getLong(0) > 0L && admit(p))
      .map { case (cs, p) => buildCsr(cs, e.schema.length, p.getLong(0).toInt, extra) }

  /** The broadcast tiers' edge image: the edges never reach the driver.
    * `e` — (src, dst[, weight]) as long columns — is persisted DISK_ONLY,
    * not checkpointed: it is scanned three times (header, node
    * dictionary, dense build) and must be STABLE across scans for any
    * source, but at 120M edges the checkpoint's in-memory blocks (~5 GB)
    * starved the execution pool on an 8g session
    * (UNABLE_TO_ACQUIRE_MEMORY in the dictionary distinct — the first
    * r15graph attempt). Disk-backed blocks give the same stability with no
    * storage-pool pressure, the posture that scales: at 100 TB you re-read
    * cheap columnar bytes.
    *
    * The edges must have rows, no null and pass `admit` on the header row
    * ([[header]]: rows, nulls, `extraProbe`...). Their distinct endpoints
    * come to the driver by the guarded collect under `gate` and the
    * session (~24 B/node of task results; driver arrays + a per-round
    * broadcast ~64 B/node of heap), and become the dictionary with
    * `extra`. The edges are then dense-indexed ONCE on the executors
    * against the broadcast dictionary into packed (srcIdx, dstIdx[,
    * weight]) chunks of [[SubChunk]] records, cached memory-and-disk
    * (cache pressure spills instead of failing). None on any refusal. */
  def executorImage(edges: DataFrame, gate: Long, extra: Option[Long] = None,
      extraProbe: Seq[Fold] = Nil)(admit: Row => Boolean = _ => true):
      Option[(Array[Long], Broadcast[Array[Long]], RDD[Array[Long]])] = {
    val e = edges.persist(StorageLevel.DISK_ONLY)
    try {
      val p = header(e, extra = extraProbe)
      val got =
        if (p.getLong(0) == 0L || p.getLong(1) != 0L || !admit(p)) None
        else collect(e.select(col(e.columns(0)).as("node"))
          .union(e.select(col(e.columns(1)).as("node"))).distinct(), gate, 24L, 64L)()
      got.map { case (cs, _) =>
        val nodes = dictionary(cs, 1, extra)
        val bc = e.sparkSession.sparkContext.broadcast(nodes)
        val packed = denseChunks(e, bc).persist(StorageLevel.MEMORY_AND_DISK)
        packed.count() // materialized, so e's blocks can go now
        (nodes, bc, packed)
      }
    } finally e.unpersist(blocking = false)
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

  /** Rows of `n` driver-held records, emitted on the executors: `slice`
    * copies each of at most `defaultParallelism` disjoint ranges
    * [from, until) of them into one primitive payload, and `rows`
    * expands a payload there. The driver holds the slices and no row
    * objects: no boxed builder and no local relation. */
  def sliced[P: ClassTag, R: ClassTag](spark: SparkSession, n: Int)(slice: (Int, Int) => P)(
      rows: P => Iterator[R]): RDD[R] = {
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n))
    val parts = Seq.tabulate(slices)(s =>
      slice((n.toLong * s / slices).toInt, (n.toLong * (s + 1) / slices).toInt))
    spark.sparkContext.parallelize(parts, slices).flatMap(rows)
  }

  /** (node, `valueCol`) rows of every dense id whose value `keep`s, the
    * node cast back to `nodeType`, in node order, emitted from slices of
    * the two arrays ([[sliced]]: the driver holds 16 B per node). */
  def frame(spark: SparkSession, nodes: Array[Long], values: Array[Long],
      valueCol: String, nodeType: DataType = LongType,
      keep: Long => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    val rows = sliced(spark, nodes.length)((from, until) =>
        (java.util.Arrays.copyOfRange(nodes, from, until),
          java.util.Arrays.copyOfRange(values, from, until))) { case (ns, vs) =>
      Iterator.range(0, ns.length).filter(i => keep(vs(i))).map(i => (ns(i), vs(i)))
    }
    spark.createDataset(rows).toDF("node", valueCol)
      .select(col("node").cast(nodeType).as("node"), col(valueCol))
  }
}
