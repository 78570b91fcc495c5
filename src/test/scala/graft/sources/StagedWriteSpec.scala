package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The staged write shared by [[HiveDataset]] and [[DeltaDataset]]:
  * one Spark job per write, partition values validated from the
  * staging listing, and nothing left behind by a rejected write. */
class StagedWriteSpec extends SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark

  /** Spark jobs started by `body`. The listener bus delivers events in
    * order, so once a marker job run after `body` is seen, every job of
    * `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"jobs-${java.util.UUID.randomUUID}", s"marker-${java.util.UUID.randomUUID}")
    val counted = new AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Every path under `root`, relative to it. */
  private def tree(root: String): Set[String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.map(p => base.relativize(p).toString).toSet
    finally walk.close()
  }

  private def stagingDirs(root: String): Set[String] =
    tree(root).filter(_.split("/").exists(_.matches("_?staging-.*")))

  test("a partitioned append of a local frame is one Spark job (Hive and Delta)") {
    withTempDir { dir =>
      val hive = HiveDataset(s"$dir/hive", Seq("p"))
      hive.write(Seq(("a", 1L), ("b", 2L)).toDF("p", "v"))
      assert(jobsOf(hive.append(Seq(("a", 3L), ("c", 4L)).toDF("p", "v"))) == 1)
      assert(jobsOf(hive.write(Seq(("b", 5L), ("d", 6L)).toDF("p", "v"))) == 1)
      assertSameData(hive.scan().get,
        Seq(("a", 1L), ("a", 3L), ("b", 5L), ("c", 4L), ("d", 6L)).toDF("p", "v"))

      val delta = new DeltaDataset(s"$dir/delta", Seq("p"))
      delta.write(Seq((1L, "a"), (2L, "b")).toDF("v", "p"))
      assert(jobsOf(delta.append(Seq((3L, "a"), (4L, "c"), (5L, "c")).toDF("v", "p"))) == 1)
      assertSameData(delta.scan().get,
        Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"), (5L, "c")).toDF("v", "p"))
      // the append's adds still carry full footer statistics
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val adds = Files.readAllLines(Paths.get(s"$dir/delta/_delta_log", f"${1L}%020d.json"))
        .asScala.map(om.readTree).filter(_.has("add")).map(_.get("add")).toSeq
      assert(adds.map(_.get("partitionValues").get("p").asText).toSet == Set("a", "c"))
      val stats = adds.map(a => a.get("partitionValues").get("p").asText -> om.readTree(a.get("stats").asText))
      stats.foreach { case (_, st) =>
        Seq("minValues", "maxValues", "nullCount").foreach(k =>
          assert(st.get(k).has("v"), s"$k missing from $st"))
      }
      def of(p: String, k: String) = stats.collect { case (`p`, st) => st.get(k).get("v").asLong }
      assert(stats.map(_._2.get("numRecords").asLong).sum == 3L)
      assert(of("c", "minValues").min == 4L && of("c", "maxValues").max == 5L)
      assert(of("a", "minValues") == Seq(3L) && of("a", "maxValues") == Seq(3L))
      assert((of("a", "nullCount") ++ of("c", "nullCount")).forall(_ == 0L))
    }
  }

  test("rejected Hive partition values leave no staging, no partition and no file behind") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = HiveDataset(url, Seq("p1"))
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      val before = tree(url)
      val cases: Seq[(Option[String], String)] =
        Seq(None -> "null values", Some("") -> "empty-string") ++
          Seq("a=b", "a%b", "a\nb", "a/b").map(v => Some(v) -> "path-escapes")
      cases.foreach { case (bad, msg) =>
        // one good row beside the bad one: the good partition must not land either
        val df = Seq((Some("2"), 2L), (bad, 3L)).map { case (p, v) => (p.orNull, v) }.toDF("p1", "v")
        Seq[(String, () => Unit)]("write" -> (() => ds.write(df)), "append" -> (() => ds.append(df)))
          .foreach { case (verb, run) =>
            val ex = intercept[IllegalArgumentException](run())
            assert(ex.getMessage.contains(msg), s"$verb of $bad: ${ex.getMessage}")
            assert(tree(url) == before, s"$verb of $bad changed the dataset")
          }
      }
      assertSameData(ds.scan().get, Seq((1L, "1")).toDF("v", "p1"))
    }
  }

  test("rejected Delta partition values leave no staging, no partition and no log version behind") {
    withTempDir { dir =>
      val url = s"$dir/t"
      val ds = new DeltaDataset(url, Seq("p"))
      ds.write(Seq((1L, "A")).toDF("v", "p"))
      val before = tree(url)
      val cases: Seq[(Option[String], String)] =
        Seq(None -> "null values", Some("") -> "empty-string") ++
          Seq("a=b", "a%b", "a/b").map(v => Some(v) -> "path-escapes")
      cases.foreach { case (bad, msg) =>
        val df = Seq((2L, Some("B")), (3L, bad)).map { case (v, p) => (v, p.orNull) }.toDF("v", "p")
        val ex = intercept[IllegalArgumentException](ds.append(df))
        assert(ex.getMessage.startsWith("DeltaWriter: "), ex.getMessage)
        assert(ex.getMessage.contains(msg), s"append of $bad: ${ex.getMessage}")
        assert(stagingDirs(url).isEmpty)
        assert(tree(url) == before, s"append of $bad changed the table")
      }
      assert(DeltaReader.snapshot(url).get.version == 0L)
    }
  }

  test("an orphaned _staging directory is invisible to Hive reads") {
    withTempDir { dir =>
      // a parquet file as a crashed write would leave it in staging
      def orphan(at: Path): Unit = {
        val src = s"$dir/src"
        Seq(("9", 99L)).toDF("p1", "v").coalesce(1).write.mode("overwrite").parquet(src)
        val file = Files.list(Paths.get(src)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(at.getParent)
        Files.copy(file, at)
      }
      val flat = HiveDataset(s"$dir/flat")
      orphan(Paths.get(dir, "flat", "_staging-dead", "part-0.parquet"))
      assert(flat.scan().isEmpty)
      flat.write(Seq(1L, 2L).toDF("v"))
      assertSameData(flat.scan().get, Seq(1L, 2L).toDF("v"))
      flat.append(Seq(3L).toDF("v"))
      assert(flat.scan().get.count() == 3)
      assert(flat.compact() == 1)
      assertSameData(flat.scan().get, Seq(1L, 2L, 3L).toDF("v"))
      assert(stagingDirs(s"$dir/flat") == Set("_staging-dead", "_staging-dead/part-0.parquet"))

      val parted = HiveDataset(s"$dir/parted", Seq("p1"))
      orphan(Paths.get(dir, "parted", "_staging-dead", "p1=9", "part-0.parquet"))
      assert(parted.scan().isEmpty)
      assert(parted.partitions().isEmpty)
      assert(parted.readPartition(Map("p1" -> "9")).isEmpty)
      parted.write(Seq(("1", 1L)).toDF("p1", "v"))
      assertSameData(parted.scan().get, Seq(("1", 1L)).toDF("p1", "v"))
      assert(parted.readPartition(Map("p1" -> "9")).isEmpty)
    }
  }

  test("upsert on an unpartitioned Hive dataset keeps the rows it does not replace") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds")
      ds.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
      ds.upsert(Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), Seq("k"))
      assertSameData(ds.scan().get, Seq((1L, 10L), (2L, 21L), (3L, 30L)).toDF("k", "v"))
    }
  }
}
