package graft.run

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** Resumability fixture (FIXTURES.md §7): run, fail one sink mid-job,
  * re-run with the same lineage dir → completed sinks skip, final state
  * equals an uninterrupted run, no duplicate rows. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def sinkData = Map(
    "alpha" -> Seq((1, "a"), (2, "b")).toDF("id", "v"),
    "beta" -> Seq((3, "c")).toDF("id", "v"),
    "gamma" -> Seq((4, "d"), (5, "e"), (6, "f")).toDF("id", "v"))

  test("kill-resume: committed sinks skip, failed sink re-executes, no dupes") {
    val out = Files.createTempDirectory("graft_lineage").toString
    val fp = Lineage.fingerprintOf("test-pipeline", "v1")

    // run 1: beta poisoned (fails at write time)
    val poisoned = sinkData + ("beta" -> sinkData("beta")
      .withColumn("boom", expr("raise_error('injected failure')")))
    val r1 = Lineage.runResumable(spark, poisoned, out, fp)
    assert(r1.executed.toSet == Set("alpha", "gamma"))
    assert(r1.failed.keySet == Set("beta"))

    // run 2 (the "resume"): same dir, healthy sinks
    val r2 = Lineage.runResumable(spark, sinkData, out, fp)
    assert(r2.skipped.toSet == Set("alpha", "gamma"), s"got $r2")
    assert(r2.executed == Seq("beta"))
    assert(r2.failed.isEmpty)

    // final state identical to an uninterrupted run; no duplicates
    for ((sink, df) <- sinkData) {
      val got = spark.read.parquet(s"$out/$sink").orderBy("id").collect().toSeq
      val want = df.orderBy("id").collect().toSeq
      assert(got == want, s"sink $sink state mismatch")
    }
  }

  test("a changed-fingerprint overwrite invalidates the old manifest BEFORE writing (no stale commit over destroyed data)") {
    val out = Files.createTempDirectory("graft_lineage_stale").toString
    val fp1 = Lineage.fingerprintOf("pipeline", "v1")
    val fp2 = Lineage.fingerprintOf("pipeline", "v2")
    val data = Map("alpha" -> Seq((1, "a")).toDF("id", "v"))
    assert(Lineage.runResumable(spark, data, out, fp1).executed == Seq("alpha"))
    assert(Lineage.isCommitted(out, "alpha", fp1, spark.sparkContext.hadoopConfiguration))
    // the v2 run's write fails mid-overwrite (the kill window): the v1
    // manifest must already be gone, or a rollback to v1 would skip the
    // sink and ship the destroyed/partial data as committed under v1
    val poisoned = Map("alpha" -> data("alpha")
      .withColumn("boom", expr("raise_error('killed mid-overwrite')")))
    val r2 = Lineage.runResumable(spark, poisoned, out, fp2)
    assert(r2.failed.keySet == Set("alpha"))
    assert(!Lineage.isCommitted(out, "alpha", fp1, spark.sparkContext.hadoopConfiguration),
      "stale v1 manifest survived a failed v2 overwrite")
    // the v1 rerun re-executes (not skips) and restores a committed state
    val r3 = Lineage.runResumable(spark, data, out, fp1)
    assert(r3.executed == Seq("alpha") && r3.skipped.isEmpty)
    assert(spark.read.parquet(s"$out/alpha").count() == 1)
  }

  test("manifest carries per-file row lineage matching the committed data") {
    val out = Files.createTempDirectory("graft_lineage2").toString
    val fp = Lineage.fingerprintOf("p2")
    val df = spark.range(100).repartition(4).toDF("id")
    val r = Lineage.runResumable(spark, Map("s" -> df), out, fp)
    val m = r.manifests("s")
    assert(m.totalRows == 100)
    assert(m.files.nonEmpty && m.files.map(_.rows).sum == 100)
  }

  test("lineage sees nested partitioned sinks (route=*/...) recursively") {
    val out = Files.createTempDirectory("graft_lineage4").toString
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "route")
    df.write.partitionBy("route").mode("overwrite").parquet(s"$out/s")
    val lineage = Lineage.fileLineage(spark, s"$out/s")
    assert(lineage.map(_.rows).sum == 3, s"got $lineage")
    assert(lineage.forall(_.file.startsWith("route=")),
      s"expected sink-relative nested paths, got ${lineage.map(_.file)}")
  }

  test("changed fingerprint invalidates old checkpoints") {
    val out = Files.createTempDirectory("graft_lineage3").toString
    val df = Seq((1, "a")).toDF("id", "v")
    assert(Lineage.runResumable(spark, Map("s" -> df), out,
      Lineage.fingerprintOf("v1")).executed == Seq("s"))
    assert(Lineage.runResumable(spark, Map("s" -> df), out,
      Lineage.fingerprintOf("v1")).skipped == Seq("s"))
    assert(Lineage.runResumable(spark, Map("s" -> df), out,
      Lineage.fingerprintOf("v2")).executed == Seq("s"))
  }

  test("pending sinks commit concurrently: two sinks that each wait for the other both commit") {
    val out = Files.createTempDirectory("graft_lineage_overlap").toString
    LineageSpec.rendezvous = new CountDownLatch(2)
    // each sink's single task arrives, then waits for the other sink's;
    // committed one after another, the first sink times out and fails
    val meet = udf { (id: Long) =>
      val latch = LineageSpec.rendezvous
      latch.countDown()
      if (!latch.await(10, TimeUnit.SECONDS))
        throw new IllegalStateException("the other sink never started")
      id
    }.asNondeterministic()
    val sinks = Seq("left", "right").map(_ ->
      spark.range(0, 1, 1, 1).toDF("id").withColumn("met", meet(col("id")))).toMap
    val r = Lineage.runResumable(spark, sinks, out, Lineage.fingerprintOf("overlap"))
    assert(r.failed.isEmpty, s"got $r")
    assert(r.executed == Seq("left", "right"))
  }

  test("concurrent sinks keep the caller's job group and local properties, report in name order and leave no pool thread") {
    val out = Files.createTempDirectory("graft_lineage_ctx").toString + "/fresh"
    val tagKey = "graft.test.sinkTag"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        // a streaming query left by another suite submits jobs of its own
        Option(e.properties).filter(_.getProperty("sql.streaming.queryId") == null)
          .foreach(seen.add)
    }
    // "a" finishes last: a report built in completion order would list it last
    val slow = udf { (id: Long) => Thread.sleep(300); id }.asNondeterministic()
    val healthy = Seq("a", "b", "c", "d", "e", "f").map { n =>
      n -> spark.range(0, 2, 1, 1).toDF("id")
    }.toMap
    val sinks = healthy ++ Map(
      "a" -> healthy("a").withColumn("id", slow(col("id"))),
      "c" -> healthy("c").withColumn("boom", expr("raise_error('poisoned sink')")))
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-sink-group", "sinks under test")
    sc.setLocalProperty(tagKey, "tagged")
    val r = try Lineage.runResumable(spark, sinks, out, Lineage.fingerprintOf("ctx"))
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty(tagKey, null)
      Bridge.waitListenerBusEmpty(sc, 30000L)
      sc.removeSparkListener(listener)
    }
    assert(r.executed == Seq("a", "b", "d", "e", "f"), s"got $r")
    assert(r.skipped.isEmpty)
    assert(r.failed.keySet == Set("c") && r.failed("c").contains("poisoned sink"))
    val props = seen.asScala.toSeq
    assert(props.size >= 6, s"expected a job per sink, saw ${props.size}")
    assert(props.forall(_.getProperty("spark.jobGroup.id") == "graft-sink-group"))
    assert(props.forall(_.getProperty(tagKey) == "tagged"))
    assertNoPoolThread()

    // the resume keeps name order too
    val r2 = Lineage.runResumable(spark, healthy, out, Lineage.fingerprintOf("ctx"))
    assert(r2.skipped == Seq("a", "b", "d", "e", "f") && r2.executed == Seq("c"))
    assert(r2.failed.isEmpty)
    assertNoPoolThread()
  }

  // shutdownNow + awaitTermination retire every worker; a worker may
  // still be unwinding its last frames for a moment after that
  private def assertNoPoolThread(): Unit = {
    def alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-sink-commit") && t.isAlive)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(2)
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(alive.isEmpty, s"pool threads alive: ${alive.map(_.getName)}")
  }

  /** fileLineage as it was before it listed with `listStatus` and built
    * its read options from the run's conf: the parity oracle. */
  private def listFilesLineage(sinkDir: String): Seq[Lineage.FileLineage] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new HPath(sinkDir)
    val fs = dir.getFileSystem(conf)
    val files = fs.listFiles(dir, true)
    val qualified = fs.makeQualified(dir).toString
    val out = Seq.newBuilder[Lineage.FileLineage]
    while (files.hasNext) {
      val f = files.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val footer = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        val rel = f.getPath.toString.stripPrefix(qualified).stripPrefix("/")
        try out += Lineage.FileLineage(rel, footer.getRecordCount)
        finally footer.close()
      }
    }
    out.result().sortBy(_.file)
  }

  test("fileLineage matches the listFiles + default-options footer read, and a corrupt footer fails its sink") {
    val out = Files.createTempDirectory("graft_lineage_parity").toString
    val dir = s"$out/s"
    spark.range(0, 90, 1, 3).withColumn("route", expr("concat('r', id % 3)"))
      .write.partitionBy("route").parquet(dir)
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, text: String): Unit = {
      // through the checksummed local FS: each file also gets a .crc
      val o = fs.create(new HPath(dir, rel), true)
      try o.write(text.getBytes(StandardCharsets.UTF_8)) finally o.close()
    }
    put("route=r0/notes.txt", "not parquet")
    fs.mkdirs(new HPath(dir, "route=r1/empty/nested"))
    assert(fs.exists(new HPath(dir, "_SUCCESS")))

    val got = Lineage.fileLineage(spark, dir)
    assert(got == listFilesLineage(dir))
    assert(got.size > 3 && got.map(_.rows).sum == 90, s"got $got")
    assert(got.map(_.file) == got.map(_.file).sorted)

    val fp = Lineage.fingerprintOf("parity")
    val e = intercept[RuntimeException] {
      Lineage.commitSink(spark, out, "s", dir, fp)(_ => put("route=r2/bad.parquet", "corrupt footer bytes"))
    }
    val oracle = intercept[RuntimeException](listFilesLineage(dir))
    assert(e.getMessage == oracle.getMessage && e.getMessage.contains("bad.parquet"))
    assert(!Lineage.isCommitted(out, "s", fp, spark.sparkContext.hadoopConfiguration))
  }
}

object LineageSpec {
  /** The rendezvous of the overlap test's two sinks, JVM-wide: the
    * local executor threads run the UDF in this JVM. */
  @volatile var rendezvous = new CountDownLatch(0)
}
