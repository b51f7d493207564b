package graft.streaming

import graft.SparkSpec
import graft.operators.Upsert
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  test("streaming merges equal one batch merge of all updates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesink").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Long)]
    val updates = mem.toDF().toDF("k", "v", "ver")
      .withColumn("part", lit("p")).withColumn("op", lit("upsert"))
    val q = MergeSink.startCdc(updates, target, Seq("part", "k"), "part",
      "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def got(): Seq[(Long, String, Long)] =
      Upsert.readManifested(spark, target).select("k", "v", "ver")
        .orderBy("k").as[(Long, String, Long)].collect().toSeq
    try {
      // batch 1 creates the table; in-batch dup on k=1: latest ver wins
      mem.addData((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L))
      q.processAllAvailable()
      assert(got() == Seq((1L, "a1", 2L), (2L, "b0", 1L)))
      // batch 2 updates k=2, inserts k=3
      mem.addData((2L, "b1", 5L), (3L, "c0", 1L))
      q.processAllAvailable()
      val fin = got()
      assert(fin == Seq((1L, "a1", 2L), (2L, "b1", 5L), (3L, "c0", 1L)))
      // equivalence: the same updates as ONE batch merge into empty
      val all = Seq((1L, "a0", 1L), (1L, "a1", 2L), (2L, "b0", 1L),
        (2L, "b1", 5L), (3L, "c0", 1L)).toDF("k", "v", "ver")
      val empty = all.filter(lit(false))
      val oneShot = Upsert.mergeVersioned(empty, all, Seq("k"), "ver")
        .orderBy("k").as[(Long, String, Long)].collect().toSeq
      assert(oneShot == fin)
    } finally q.stop()
  }

  test("cdc sink: net effect per key within a batch, deletes remove " +
      "keys, a later upsert re-inserts, replay is a content no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinkcdc").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val events = mem.toDF().toDF("k", "part", "v", "ver", "op")
    val q = MergeSink.startCdc(events, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def got(): Set[(Long, String, Double, Long)] =
      Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet
    try {
      mem.addData((1L, "a", 1.0, 1L, "upsert"), (2L, "a", 2.0, 1L, "upsert"),
        (3L, "b", 3.0, 1L, "upsert"))
      q.processAllAvailable()
      assert(got() == Set((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L),
        (3L, "b", 3.0, 1L)))
      // the op column must not leak into the table schema
      assert(!Upsert.readManifested(spark, target).columns.contains("op"))
      // delete k=2, update k=1, insert k=4 — one batch
      val b2 = Seq((2L, "a", 0.0, 2L, "delete"),
        (1L, "a", 10.0, 2L, "upsert"), (4L, "c", 4.0, 1L, "upsert"))
      mem.addData(b2: _*)
      q.processAllAvailable()
      val afterB2 = Set((1L, "a", 10.0, 2L), (3L, "b", 3.0, 1L),
        (4L, "c", 4.0, 1L))
      assert(got() == afterB2)
      // within-batch net effect: k=5 upserted then deleted never
      // lands; k=3 deleted then re-upserted at a higher version stays
      mem.addData((5L, "b", 5.0, 1L, "upsert"), (5L, "b", 0.0, 2L, "delete"),
        (3L, "b", 0.0, 2L, "delete"), (3L, "b", 30.0, 3L, "upsert"))
      q.processAllAvailable()
      val afterB3 = Set((1L, "a", 10.0, 2L), (3L, "b", 30.0, 3L),
        (4L, "c", 4.0, 1L))
      assert(got() == afterB3)
      // redelivered batch-2 content: merge no-ops, deletes match
      // nothing — effectively-once
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(got() == afterB3)
    } finally q.stop()
  }

  test("cdc sink: a batch whose rows all carry a null op publishes " +
      "no epoch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinknull").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val events = mem.toDF().toDF("k", "part", "v", "ver", "op")
    val q = MergeSink.startCdc(events, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "a", 1.0, 1L, "upsert"), (2L, "b", 2.0, 1L, "upsert"))
      q.processAllAvailable()
      val epoch = Upsert.manifestedEpoch(spark, target)
      assert(epoch.isDefined)
      // a null op is neither an upsert nor a delete: the filter drops
      // these rows, so the batch must not merge an empty frame
      mem.addData((3L, "a", 3.0, 2L, null), (1L, "a", 9.0, 2L, null))
      q.processAllAvailable()
      assert(Upsert.manifestedEpoch(spark, target) == epoch)
      assert(Upsert.readManifested(spark, target)
        .select($"k", $"v").as[(Long, Double)].collect().toSet ==
        Set((1L, 1.0), (2L, 2.0)))
    } finally q.stop()
  }

  test("manifested sink: partition-pruned reader-atomic merges equal " +
      "the order-free max-version model; replay is a content no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mergesinkm").toString
    val target = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, Long)]
    val updates = mem.toDF().toDF("k", "part", "v", "ver")
      .withColumn("op", lit("upsert"))
    val q = MergeSink.startCdc(updates, target, Seq("part", "k"),
      "part", "ver", "op", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L), (3L, "b", 3.0, 1L))
      q.processAllAvailable()
      // batch 2 touches only partition a; b's snapshot dir is reused
      mem.addData((1L, "a", 10.0, 2L), (4L, "c", 4.0, 1L))
      q.processAllAvailable()
      val got = Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet
      assert(got == Set((1L, "a", 10.0, 2L), (2L, "a", 2.0, 1L),
        (3L, "b", 3.0, 1L), (4L, "c", 4.0, 1L)))
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$target/_e0/part=b")))
      // replay (at-least-once delivery): content unchanged
      mem.addData((1L, "a", 10.0, 2L), (4L, "c", 4.0, 1L))
      q.processAllAvailable()
      assert(Upsert.readManifested(spark, target)
        .select($"k", $"part", $"v", $"ver")
        .as[(Long, String, Double, Long)].collect().toSet == got)
    } finally q.stop()
  }
}
