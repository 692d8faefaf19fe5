package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.ConnectedComponents
import graft.operators.Budgets
import graft.sim.Retrieval

/** Wall of a guarded collect refused just past its gate: the dense
  * catalog (`Retrieval.publishCatalog`) of `rows` vectors of `dim` floats
  * under a `Budgets.catalogFloats` one float short, and a pair graph of
  * `edges` edges (`ConnectedComponents.runFused`) under a
  * `Budgets.componentEdges` one edge short. Both sources are
  * checkpointed first, as a fitted model frame is, so the wall is the
  * guarded collect's own pass over them. Each case runs once to warm up,
  * then `reps` timed runs; prints the median and the range in ms.
  *
  * Run: `sbt "Test/runMain graft.serve.RefusalTime [dim] [rows] [edges]
  * [reps]"` (defaults 16, 500000, 2000000, 7); the heap is
  * `SPARK_DRIVER_MEM` (8g when unset). */
object RefusalTime {

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
    val (dim, rows, edges, reps) = (arg(0, 16), arg(1, 500000), arg(2, 2000000), arg(3, 7))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed(name: String)(refused: => Boolean): Unit = {
      require(refused, s"$name was not refused")
      val ms = Seq.fill(reps) {
        val t0 = System.nanoTime()
        require(refused, s"$name was not refused")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"$name: refused in median ${ms(ms.size / 2)}%.1f ms " +
        f"(${ms.head}%.1f-${ms.last}%.1f, $reps runs)")
    }
    val vecs = spark.range(rows).select(col("id"),
        array((0 until dim).map(j => rand(j).cast("float")): _*).as("vec"))
      .localCheckpoint()
    vecs.count()
    timed(s"d=$dim dense catalog ($rows rows, catalogFloats ${rows.toLong * dim - 1})") {
      Budgets.scoped(_.copy(catalogFloats = rows.toLong * dim - 1))(
        Retrieval.publishCatalog(vecs, "id", "vec")).isEmpty
    }
    // distinct non-loop pairs over ~edges / 2 nodes
    val pairs = spark.range(edges).select((col("id") % (edges / 2)).as("a"),
        (col("id").divide(2).cast("long") + 1 + col("id") % 2 * 7).as("b"))
      .filter(col("a") =!= col("b")).localCheckpoint()
    val m = pairs.count()
    timed(s"pair graph ($m edges, componentEdges ${m - 1})") {
      Budgets.scoped(_.copy(componentEdges = m - 1))(ConnectedComponents.runFused(pairs)).isEmpty
    }
    spark.stop()
  }
}
