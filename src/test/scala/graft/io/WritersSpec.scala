package graft.io

import graft.SparkSpec
import java.nio.file.Files

class WritersSpec extends SparkSpec {
  import spark.implicits._

  test("upsertByKey counts inserted vs updated and incoming wins") {
    val existing = Seq((1, "old-a"), (2, "old-b"), (3, "old-c")).toDF("id", "v")
    val incoming = Seq((2, "new-b"), (4, "new-d")).toDF("id", "v")
    val (merged, stats) = Writers.upsertByKey(existing, incoming, Seq("id"))
    assert(stats == Writers.UpsertStats(inserted = 1, updated = 1, total = 2))
    val byId = merged.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId == Map(1 -> "old-a", 2 -> "new-b", 3 -> "old-c", 4 -> "new-d"))
  }

  test("upsertPath bootstraps then merges on disk") {
    val dir = Files.createTempDirectory("upsert").toString + "/t"
    val first = Writers.upsertPath(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, Seq("id"))
    assert(first == Writers.UpsertStats(2, 0, 2))
    val second = Writers.upsertPath(spark, Seq((2, "b2"), (3, "c")).toDF("id", "v"), dir, Seq("id"))
    assert(second == Writers.UpsertStats(1, 1, 2))
    val back = spark.read.parquet(dir).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(back == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
  }

  test("upsertPath rejects a duplicate-key FIRST batch without creating the table") {
    val dir = Files.createTempDirectory("upsertdup").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalArgumentException] {
      Writers.upsertPath(spark, Seq((1, "a"), (1, "a2")).toDF("id", "v"), dir, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // the bad batch must not have landed as the live table, and no
    // staging debris may survive the rejection
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._graft_staging")))
    // a clean batch afterwards bootstraps normally
    val stats = Writers.upsertPath(spark, Seq((1, "a")).toDF("id", "v"), dir, Seq("id"))
    assert(stats == Writers.UpsertStats(1, 0, 1))
  }

  test("overwriteStaged defers visibility until commit") {
    val dir = Files.createTempDirectory("staged").toString + "/t"
    Writers.overwrite(Seq((1, "old")).toDF("id", "v"), dir)
    val staged = Writers.overwriteStaged(Seq((1, "new"), (2, "new2")).toDF("id", "v"), dir)
    assert(staged.rows == 2)
    // staged but not committed: readers still see the old table
    assert(spark.read.parquet(dir).collect().map(_.getString(1)).toSeq == Seq("old"))
    staged.promote()
    val back = spark.read.parquet(dir).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(back == Map(1 -> "new", 2 -> "new2"))
  }

  test("overwriteStaged commit creates the table when none existed") {
    val dir = Files.createTempDirectory("stagedfresh").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = Writers.overwriteStaged(Seq((1, "a")).toDF("id", "v"), dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir))) // not yet visible
    staged.promote()
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("esBulkLines fails loudly on a null id instead of omitting _id") {
    import org.apache.spark.sql.functions._
    val df = Seq((Some(1L), "x"), (None: Option[Long], "y")).toDF("id", "payload")
    val lines = Writers.esBulkLines(df, "idx", "id", to_json(struct(col("payload"))))
    val e = intercept[Exception] { lines.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null value in id column")))
  }

  test("upsertPath cleans stale staging/backup dirs and leaves none behind") {
    val dir = Files.createTempDirectory("upsertswap").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Writers.upsertPath(spark, Seq((1, "a")).toDF("id", "v"), dir, Seq("id"))
    // debris from a hypothetical earlier crash mid-swap
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "._graft_staging"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "._graft_bak"))
    Writers.upsertPath(spark, Seq((2, "b")).toDF("id", "v"), dir, Seq("id"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._graft_staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._graft_bak")))
    val back = spark.read.parquet(dir).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(back == Map(1 -> "a", 2 -> "b"))
  }

  test("upsertPath recovers the dataset from a crash between the two swap renames") {
    val dir = Files.createTempDirectory("upsertcrash").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Writers.upsertPath(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, Seq("id"))
    // simulate a crash after `live -> .bak` but before `staging -> live`:
    // the ONLY copy of the data is the backup
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._graft_bak")))
    val stats = Writers.upsertPath(spark, Seq((2, "b2"), (3, "c")).toDF("id", "v"), dir, Seq("id"))
    // pre-crash rows MUST survive: this is an upsert against restored
    // data, not a bootstrap of an empty path
    assert(stats == Writers.UpsertStats(1, 1, 2))
    val back = spark.read.parquet(dir).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(back == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
  }

  test("partitionReplace only overwrites incoming partitions") {
    val dir = Files.createTempDirectory("partrep").toString + "/t"
    Writers.partitionReplace(
      Seq((2021, "x", 1), (2022, "y", 2)).toDF("year", "k", "v"), dir, Seq("year"))
    // replace only 2022
    Writers.partitionReplace(
      Seq((2022, "y2", 20)).toDF("year", "k", "v"), dir, Seq("year"))
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("year"), r.getAs[String]("k"), r.getAs[Int]("v"))).toSet
    assert(back == Set((2021, "x", 1), (2022, "y2", 20)))
  }

  test("scd2: history preserved, changed keys versioned, unchanged untouched") {
    import org.apache.spark.sql.functions.col
    val t0 = Writers.scd2Init(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), batchId = 100L)
    // batch 200: id 2 changes, id 3 unchanged, id 4 new
    val t1 = Writers.scd2Apply(t0,
      Seq((2, "b2"), (3, "c"), (4, "d")).toDF("id", "v"),
      key = Seq("id"), tracked = Seq("v"), batchId = 200L)

    val current = t1.filter(col("is_current")).collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("v")).toMap
    assert(current == Map(1 -> "a", 2 -> "b2", 3 -> "c", 4 -> "d"))
    val closed = t1.filter(!col("is_current")).collect()
    assert(closed.length == 1)
    assert(closed.head.getAs[Int]("id") == 2)
    assert(closed.head.getAs[String]("v") == "b")
    assert(closed.head.getAs[Long]("valid_to") == 200L)
    // unchanged key 3 kept its original valid_from (not re-versioned)
    val k3 = t1.filter(col("is_current") && col("id") === 3).head()
    assert(k3.getAs[Long]("valid_from") == 100L)
    // total rows: 4 current + 1 history
    assert(t1.count() == 5)
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions.col
    Writers.writeBucketed(
      spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v1"),
      "bkt_left", Seq("k"), buckets = 4)
    Writers.writeBucketed(
      spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v2"),
      "bkt_right", Seq("k"), buckets = 4)
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = planText(joined.queryExecution.executedPlan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected bucket co-location to avoid the shuffle:\n$plan")
      assert(joined.count() == 1000)
      // sanity: the same join on plain (unbucketed) frames does shuffle
      val plain = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v1")
        .join(spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v2"), "k")
      val planPlain = planText(plain.queryExecution.executedPlan)
      assert(planPlain.contains("Exchange") || planPlain.contains("Broadcast"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("a failed first write leaves no live path (overwrite and upsertPath)") {
    import org.apache.spark.sql.functions._
    // fails at execution, on one row, after the write job has started
    val failing = spark.range(0, 10).select(
      when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    for ((name, write) <- Seq[(String, String => Unit)](
        "overwrite" -> (dir => Writers.overwrite(failing, dir)),
        "upsertPath" -> (dir => { Writers.upsertPath(spark, failing, dir, Seq("id")); () }))) {
      val dir = Files.createTempDirectory("failedfirst").toString + "/t"
      intercept[Exception](write(dir))
      assert(!new java.io.File(dir).exists(),
        s"$name: a failed first write left a live path behind")
    }
  }

  test("overwrite and overwriteStaged return the rows they wrote") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("rowsout").toString
    assert(Writers.overwrite(spark.range(0, 1000, 1, 4).toDF("id"), s"$base/a") == 1000)
    assert(spark.read.parquet(s"$base/a").count() == 1000)
    // a persisted frame: the write fills the cache and still counts
    val pinned = spark.range(0, 50, 1, 3).toDF("id").filter(col("id") % 2 === 0).persist()
    try assert(Writers.overwrite(pinned, s"$base/b") == 25)
    finally pinned.unpersist()
    // empty frames, with and without partitions
    assert(Writers.overwrite(spark.range(0, 10).filter(col("id") < 0).toDF("id"), s"$base/c") == 0)
    assert(Writers.overwrite(Seq.empty[(Int, String)].toDF("id", "v"), s"$base/d") == 0)
    val staged = Writers.overwriteStaged(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"),
      s"$base/e")
    assert(staged.rows == 3)
    staged.promote()
    assert(spark.read.parquet(s"$base/e").count() == 3)
  }

  test("overwriteAll lands every table with its row count") {
    val base = Files.createTempDirectory("overwriteall").toString
    Writers.overwrite(Seq((0, "old")).toDF("id", "v"), s"$base/t1")
    val tables = (1 to 4).map(i => spark.range(0, i * 10L).toDF("id") -> s"$base/t$i")
    assert(Writers.overwriteAll(tables) == Seq(10L, 20L, 30L, 40L))
    (1 to 4).foreach { i =>
      assert(spark.read.parquet(s"$base/t$i").count() == i * 10L)
      assert(!new java.io.File(s"$base/t$i._graft_staging").exists())
      assert(!new java.io.File(s"$base/t$i._graft_bak").exists())
    }
    assert(Writers.overwriteAll(Nil) == Nil)
  }

  test("overwriteAll promotes nothing when one table fails, after every write drained") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("overwriteallfail").toString
    val paths = (0 to 2).map(i => s"$base/t$i")
    paths.foreach(p => Writers.overwrite(Seq((-1L, "old")).toDF("id", "v"), p))
    val failing = spark.range(0, 10).select(
      when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id")).as("id"),
      lit("new").as("v"))
    // still writing when the failing table has already failed
    val slowId = udf { (x: Long) => Thread.sleep(300); x }
    val slow = spark.range(0, 4, 1, 4).select(slowId(col("id")).as("id"), lit("new").as("v"))
    val fine = spark.range(0, 3).select(col("id"), lit("new").as("v"))
    val e = intercept[Exception](
      Writers.overwriteAll(Seq(failing -> paths(0), slow -> paths(1), fine -> paths(2))))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("boom")))
    // the slow write had finished before the failure surfaced
    assert(new java.io.File(s"${paths(1)}._graft_staging/_SUCCESS").exists())
    paths.foreach { p =>
      assert(spark.read.parquet(p).collect().map(_.getString(1)).toSeq == Seq("old"), p)
      assert(!new java.io.File(s"$p._graft_bak").exists(), p)
    }
  }

  test("overwriteAll's jobs all carry the caller's QueryProfile tag") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("overwritealltag").toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { started.add(j.jobId); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (_, tag) = try graft.QueryProfile.tagged(spark, "overwriteAll") {
      Writers.overwriteAll((1 to 3).map(i =>
        spark.range(0, 100, 1, 2).groupBy(col("id") % i).count().toDF("k", "n") -> s"$base/t$i"))
    } finally {
      org.apache.spark.graft.SparkStatus.drain(sc, 10000L)
      sc.removeSparkListener(listener)
    }
    val profile = graft.QueryProfile.read(spark, tag)
    assert(started.size >= 3)
    assert(profile.jobs.size == started.size, profile.jobs)
  }
}
