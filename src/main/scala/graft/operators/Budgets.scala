package graft.operators

import org.apache.spark.SparkConf
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Every regime gate of the engine in one place: the sizes at which an
  * operator leaves its fused (driver-collected or broadcast) plan for the
  * distributed one, and the driver-resource guard that refuses a fused
  * collect the session cannot hold.
  *
  * Operators read the gates once at entry, on the calling driver thread
  * (`Budgets.get`), and pass the values down; no public operator takes a
  * budget parameter. The values are fixed: specs narrow a gate through
  * the `private[graft]` [[Budgets.scoped]] override to reach a fallback
  * on tiny inputs.
  *
  * | gate | value | bounds | measured crossover (SCALE.md bullet) |
  * |---|---|---|---|
  * | `pageRankEdges` | 100M | edges `PageRank.runFused`/`personalizedFused` collect into the driver CSR, and the seeds `personalizedFused` collects | "Round-14 graph decade" (`r14graph`) |
  * | `pageRankNodes` | 16M | distinct nodes `PageRank.runBroadcast` holds on the driver | none for PageRank; the same sweep for SSSP: "Round-15 SSSP decade" |
  * | `ssspEdges` | 16M | edges `ShortestPaths.runFused` collects | "Round-13 graph kernels: parallel CSR builds move the fused crossover a decade" (`r13graph`) |
  * | `ssspNodes` | 16M | distinct nodes `ShortestPaths.runBroadcast` holds | "Round-15 SSSP decade" (`r15graph`): 2× its measured 8M nodes |
  * | `walkEdges` | 16M | ranked adjacency `RandomWalks.walksFused` broadcasts | "Round-12 second half" (`r12graph`), `walksAuto` |
  * | `componentEdges` | 16M | pair-graph edges `ConnectedComponents.runFused` collects | "Round-12 second half" (`r12cc`), `runAuto` |
  * | `triangleEdges` | 8M | canonical edges `Triangles.perNodeFused` collects; the closing-join broadcast of `perNodeComposed` | "Round-16 Triangles gate-scale measurement" (`r16tri`) |
  * | `catalogFloats` | 64M | catalog floats the dense kernel publishes (`Retrieval.topKDot`/`publishCatalog`/`CatalogCache`, `Knn.bruteForceTopK`, `TwoTower.recommend`), and user-vector floats a streaming dense/ANN serve flattens on the driver (`RecsTable`); both collects are refused on the header of their one packing pass, before any row is collected | "Round-11 fused serving kernel" (the hand-off to IVF) |
  * | `cellCatalogFloats` | 64M | index floats the fused IVF kernel publishes (`Retrieval.topKAnn`/`publishCellCatalog`/`CellCatalogCache`, `RecsTable.streamAnnRefresh`), refused on its collect's header | "Round-12 broadcast-catalog kernel + the serving ladder" (`r12ladder`) |
  * | `knnMinQueries` | 1024 | query rows below which `Knn.bruteForceTopK` keeps the broadcast join | same bullet, "Query-count regime gate on the exact-KNN dispatch" |
  * | `seenBroadcastRows` | 32M | seen pairs `TwoTower.recommend`'s unfused plan broadcasts before it shuffles the anti-join | none measured: ~30 B/row ≈ 1 GB of executor broadcast |
  * | `cooccurModelRows` | 4M | neighbor-model rows `Cooccur.recommendFused` collects into its driver CSR and broadcasts | "Round-12 second half" (`r12serve`), fused co-occurrence serve |
  * | `cooccurMinUsers` | 4096 | user-subset size below which `Cooccur.recommendFused` refuses (q183 passes 1) | "Round-14 close", users-count regime gate |
  * | `negativeBucketRows` | 8M | bucket-table rows `NegativeSampling.sampleNegatives` broadcasts before it shuffles | none measured: ~4 slim longs/row ≈ 256 MB relation |
  * | `dictionaryDistinct` | 2M (`2 << 20`) | approximate distinct values above which `Categorify.fitDictionary` zips per partition | none measured: ~60 MB single-partition window sort |
  * | `driverEmbedFloats` | 300M | floats per embedding table `TwoTower` keeps on the driver; past it training is cluster-held | "Round-10 cluster-held embedding tables" (`r10embed`) |
  * | `servedStateRows` | unbounded (`Long.MaxValue`) | users + seen pairs (+ the next batch's rows) a streaming dense/ANN serve keeps on the driver (`RecsTable.streamDenseRefresh`/`streamAnnRefresh`); past it the query serves from its persisted served-users frame | none: a test-only seam. At the default the session guard (at a user row's bytes, which grow with the vector length) binds first; specs narrow it to force the distributed route and a mid-query switch |
  *
  * The driver-resource guard ([[Budgets.driverRows]]) bounds every
  * driver collect of the graph kernels, of `ConnectedComponents.runFused`,
  * of the co-occurrence neighbor model (`Cooccur.recommendFused`), of
  * both vector catalogs (`Retrieval.publishCatalog`/`publishCellCatalog`,
  * at a vector row's bytes for its length) and of a streaming serve's
  * driver-held state (`RecsTable`) by
  * the session itself, whatever the gate says: 90 % of
  * `spark.driver.maxResultSize` and 40 % of the JVM's max heap, each
  * divided by the caller's bytes per row. Their packed format — the
  * guarded collect that applies gate and guard before anything reaches
  * the driver, the node dictionary and the dst-grouped CSR — lives in
  * `graft.graph.PackedGraph`. Ahead of
  * any size gate, a fused kernel keys ids by long, so non-integral ids
  * take the distributed plan ([[Budgets.integral]]).
  */
final case class Budgets private[graft] (
    pageRankEdges: Long = 100000000L,
    pageRankNodes: Long = 16000000L,
    ssspEdges: Long = 16000000L,
    ssspNodes: Long = 16000000L,
    walkEdges: Long = 16000000L,
    componentEdges: Long = 16000000L,
    triangleEdges: Long = 8000000L,
    catalogFloats: Long = 64000000L,
    cellCatalogFloats: Long = 64000000L,
    knnMinQueries: Int = 1024,
    seenBroadcastRows: Long = 32000000L,
    cooccurModelRows: Long = 4000000L,
    cooccurMinUsers: Long = 4096L,
    negativeBucketRows: Long = 8000000L,
    dictionaryDistinct: Long = 2L << 20,
    driverEmbedFloats: Long = 300000000L,
    servedStateRows: Long = Long.MaxValue)

object Budgets {

  private val current = new scala.util.DynamicVariable[Budgets](Budgets())

  /** The gates in force on this thread. */
  def get: Budgets = current.value

  /** Runs `body` with the gates `narrow` returns, on this thread and the
    * threads it starts: specs force a fallback on tiny inputs, and
    * caches and thread pools carry the gates their creator read. */
  private[graft] def scoped[T](narrow: Budgets => Budgets)(body: => T): T =
    current.withValue(narrow(current.value))(body)

  /** Types a fused kernel carries as LONG without loss (ids, counts). */
  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Rows of a driver collect the session can hold: 90 % of
    * `spark.driver.maxResultSize` at `resultBytesPerRow` of serialized
    * task results (1g when unset or unparsable, unlimited at 0), and 40 %
    * of the JVM's max heap at `heapBytesPerRow` of driver arrays. */
  def driverRows(conf: SparkConf, resultBytesPerRow: Long, heapBytesPerRow: Long): Long =
    driverRows(conf, Runtime.getRuntime.maxMemory(), resultBytesPerRow, heapBytesPerRow)

  private[graft] def driverRows(conf: SparkConf, maxHeap: Long,
      resultBytesPerRow: Long, heapBytesPerRow: Long): Long = {
    val maxResult = try conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    catch { case _: Throwable => 1L << 30 }
    math.min(
      if (maxResult <= 0) Long.MaxValue else maxResult * 9L / 10L / resultBytesPerRow,
      maxHeap * 2L / 5L / heapBytesPerRow)
  }
}
