package graft.models

import graft.SparkSpecBase
import graft.bronze.CsvEnvelopeLoader
import org.apache.spark.sql.functions._

class StarDagSpec extends SparkSpecBase {
  import spark.implicits._

  test("full DAG runs end-to-end at sf0.001 and respects the frequency gate") {
    val out = StarDag.run(spark, sfDir)
    assert(out.count() > 0)
    assert(out.columns.forall(c => c == c.toLowerCase), "P6 lowercase names")
    // every surviving customer has >= 5 training-window interactions
    val bad = out.filter($"t_dat_us" < 946684800000000L)
      .groupBy("customer_id").count().filter($"count" < 5).count()
    assert(bad == 0)
  }

  test("articlesMetadata keeps articles without images (null s3_url)") {
    val art = StarDag.articlesRaw(spark, sfDir)
    val img = StarDag.imagesRaw(spark, sfDir)
    val meta = StarDag.articlesMetadata(art, img)
    assert(meta.count() == art.count())
    assert(meta.filter($"s3_url".isNull).count() ==
      art.filter($"article_id" % 2 =!= 0).count())
  }

  test("bronze loadBatch partitions by etl_id and latest-batch reads the newest") {
    val tmp = java.nio.file.Files.createTempDirectory("bronze").toString
    val v1 = Seq((1L, "old")).toDF("id", "v")
    val v2 = Seq((1L, "new"), (2L, "new2")).toDF("id", "v")
    CsvEnvelopeLoader.loadBatch(v1, "t", 100L, "batch-1", tmp)
    CsvEnvelopeLoader.loadBatch(v2, "t", 200L, "batch-2", tmp)
    val bronze = CsvEnvelopeLoader.readBronze(spark, tmp, "t")
    assert(bronze.count() == 3, "append-only batches")
    assert(new java.io.File(s"$tmp/t/etl_id=batch-2").isDirectory, "partitioned by etl_id")
    val latest = StarDag.staging(bronze,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    assert(latest.select("v").as[String].collect().toSet == Set("new", "new2"))
  }

  test("readBronze submits no job before the first action; schema equals the inferred one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = java.nio.file.Files.createTempDirectory("bronze_schema").toString
    CsvEnvelopeLoader.loadBatch(Seq((1L, "a")).toDF("id", "v"), "t", 100L, "batch-1", tmp)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bronze-read", "readBronze")
      val bronze = try CsvEnvelopeLoader.readBronze(spark, tmp, "t")
        finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, any
      // job the read submitted has been seen too
      sc.setJobGroup("bronze-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("bronze-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("bronze-marker"), "marker job never reached the listener")
      assert(!groups.contains("bronze-read"), s"readBronze submitted jobs: $groups")
      assert(bronze.schema == spark.read.parquet(s"$tmp/t").schema)
    } finally sc.removeSparkListener(listener)
  }

  test("saveAsTable registers a catalog table (S5)") {
    val df = Seq((1, "a")).toDF("k", "v")
    CsvEnvelopeLoader.saveAsTable(df, "graft_s5_test")
    assert(spark.table("graft_s5_test").count() == 1)
    spark.sql("DROP TABLE graft_s5_test")
  }

  test("fixture DAG satisfies FK integrity (the freqSource=dedup precondition)") {
    assert(StarDag.run(spark, sfDir, verifyFk = true).count() > 0)
  }

  test("registry: materialized DAG equals the lazy composition (q25 parity)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dag_wh").toString
    val lazyOut = StarDag.dag(sfDir, wh).resolve(spark, "final_pull")
    val matOut = StarDag.dag(sfDir, wh,
        tables = Set("dedup_transactions", "joined_dataframe", "final_pull"))
      .resolve(spark, "final_pull")
    assert(lazyOut.exceptAll(matOut).isEmpty && matOut.exceptAll(lazyOut).isEmpty)
    // and the registry's lazy form matches the hand-composed run()
    val direct = StarDag.run(spark, sfDir)
    assert(lazyOut.exceptAll(direct).isEmpty && direct.exceptAll(lazyOut).isEmpty)
  }

  test("registry: a later run reuses the materialized artifact; refresh rebuilds") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dag_wh2").toString
    var builds = 0
    def mkDag = new Dag(Seq(
      DagModel("base", Nil, table = true) { (s, _) =>
        builds += 1
        import s.implicits._
        Seq((1, "a"), (2, "b")).toDF("id", "v")
      },
      DagModel("down", Seq("base")) { (_, d) => d("base").filter(col("id") > 1) }),
      wh)
    assert(mkDag.resolve(spark, "down").count() == 1)
    assert(builds == 1)
    // second run: the parquet artifact is reused, base is NOT rebuilt
    assert(mkDag.resolve(spark, "down").count() == 1)
    assert(builds == 1)
    // refresh forces the rebuild
    assert(mkDag.resolve(spark, "down", refresh = Set("base")).count() == 1)
    assert(builds == 2)
  }

  test("registry: refreshing an upstream table cascades to downstream table artifacts") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dag_wh3").toString
    var upBuilds, downBuilds = 0
    def mkDag = new Dag(Seq(
      DagModel("up", Nil, table = true) { (s, _) =>
        upBuilds += 1
        import s.implicits._
        Seq((1, s"v$upBuilds")).toDF("id", "v")
      },
      DagModel("mid", Seq("up")) { (_, d) => d("up") }, // view in between
      DagModel("down", Seq("mid"), table = true) { (_, d) =>
        downBuilds += 1
        d("mid")
      }),
      wh)
    assert(mkDag.resolve(spark, "down").count() == 1)
    assert(upBuilds == 1 && downBuilds == 1)
    // refresh up: down's artifact is stale (built from old up) — it must
    // rebuild through the intervening view, not silently reuse
    val out = mkDag.resolve(spark, "down", refresh = Set("up"))
    assert(upBuilds == 2 && downBuilds == 2)
    assert(out.select("v").as[String].head() == "v2",
      "downstream artifact must reflect the refreshed upstream data")
    // no refresh: both artifacts reused
    mkDag.resolve(spark, "down")
    assert(upBuilds == 2 && downBuilds == 2)
  }
}
