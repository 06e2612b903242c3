package graft.streaming

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** E1 ≡ E2 lifecycle parity (SURVEY §7.5.3): streaming the events through
  * the stateful pipeline in multiple micro-batches produces exactly the
  * session state a single batch replay over the same events produces.
  */
class StreamingParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `perBucket` user ids in each of `buckets` distinct sink buckets,
    * probed with the sink's own hash: user id -> bucket.
    */
  private def usersSharingBuckets(buckets: Int, perBucket: Int): Map[Long, Int] =
    spark.range(1, 2000).select(
      col("id"), CheckpointStream.bucketOf(col("id"), CheckpointStream.SinkBuckets).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      .groupBy(_._2).toSeq.sortBy(_._1).map(_._2)
      .filter(_.size >= perBucket).take(buckets)
      .flatMap(_.take(perBucket)).toMap

  /** Data files per `bucket=*` dir of a sink (none while it is absent). */
  private def dataFiles(sink: String): Map[Int, Int] =
    Option(new java.io.File(sink).listFiles).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName.stripPrefix("bucket=").toInt ->
          d.listFiles.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      }.toMap

  test("streaming (3 micro-batches) == batch backfill over sf0.001 events") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_").toString
    val srcDir = s"$base/source"
    val ckpt = s"$base/ckpt"
    val sink = s"$base/sink"

    // time-slice the events into 3 parquet files so arrival order respects
    // event time (the CDC feed's property) and the stream runs 3 batches
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val n = events.count()
    val ranked = events.withColumn(
      "rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    for ((lo, hi, i) <- Seq((1L, n / 3, 0), (n / 3 + 1, 2 * n / 3, 1), (2 * n / 3 + 1, n, 2))) {
      ranked.filter(col("rnk").between(lo, hi)).drop("rnk")
        .coalesce(1).write.parquet(s"$srcDir/chunk=$i")
    }
    // file source reads the partition dirs' files; point it at the glob
    val q = CheckpointStream.run(spark, s"$srcDir/chunk=*", ckpt, sink)
    q.awaitTermination(120000L)
    assert(!q.isActive, "stream did not drain with AvailableNow")

    val streamed = spark.read.parquet(sink)
      .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    val batch = CheckpointStream.backfill(spark, events).toDF()
      .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")

    val onlyStream = streamed.exceptAll(batch)
    val onlyBatch = batch.exceptAll(streamed)
    assert(onlyStream.isEmpty && onlyBatch.isEmpty, {
      s"parity mismatch:\nstream-only:\n${onlyStream.limit(10).collect().mkString("\n")}" +
        s"\nbatch-only:\n${onlyBatch.limit(10).collect().mkString("\n")}"
    })
    assert(streamed.count() > 0)

    // D13 parity: the persisted diff stream equals the batch replay's diffs
    val streamedDiffs = spark.read.parquet(sink + "_diffs")
      .select("user_id", "seq", "event_id", "ts_us", "diff_json")
    val batchDiffs = CheckpointStream.backfillAll(spark, events)
      .filter(col("kind") === "diff")
      .select(col("user_id"), col("seq"), col("event_id"), col("ts_us"),
        col("payload").as("diff_json"))
    assert(streamedDiffs.count() > 0, "stream persisted no diff documents")
    assert(streamedDiffs.exceptAll(batchDiffs).isEmpty &&
      batchDiffs.exceptAll(streamedDiffs).isEmpty,
      "diff-stream parity mismatch between streaming and batch replay")
  }

  test("JSON-lines feed == parquet feed (another CDC wire format, same engine)") {
    val base = Files.createTempDirectory("graft_jsonfeed_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    // micro-precision fractions: the JSON writer's default timestamp
    // format drops sub-millisecond digits, which would silently shear
    // ts_us parity
    events.coalesce(1).write
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(s"$base/feed")
    val q = CheckpointStream.run(
      spark, s"$base/feed", s"$base/ckpt", s"$base/sink",
      maxFilesPerTrigger = 64,
      schemaHint = Some(CheckpointStream.eventsSchema()),
      sourceFormat = "json")
    q.awaitTermination(120000L)
    assert(!q.isActive, "stream did not drain with AvailableNow")
    val cols = Seq("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    val streamed = spark.read.parquet(s"$base/sink").select(cols.map(col): _*)
    val batch = CheckpointStream.backfill(spark, events).toDF().select(cols.map(col): _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "JSON-fed stream diverged from the parquet-fed batch backfill")
    // a JSON feed without a schema hint must refuse loudly, not misparse
    val ex = intercept[IllegalArgumentException] {
      CheckpointStream.run(spark, s"$base/feed", s"$base/ckpt2", s"$base/sink2",
        sourceFormat = "json")
    }
    assert(ex.getMessage.contains("schemaHint"))
  }

  test("stateful stream is state-store-provider-agnostic: RocksDB == batch backfill") {
    // the Pipeline CLI runs RocksDB (off-heap keyed state — the 100 TB
    // requirement); this proves the session-state encoders survive the
    // provider swap, not just the default in-memory store the other
    // streaming tests run under
    val base = Files.createTempDirectory("graft_rocks_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.coalesce(1).write.parquet(s"$base/feed")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = CheckpointStream.run(
        spark, s"$base/feed", s"$base/ckpt", s"$base/sink", maxFilesPerTrigger = 64)
      q.awaitTermination(120000L)
      assert(!q.isActive)
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
    val streamed = spark.read.parquet(s"$base/sink")
      .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    val batch = CheckpointStream.backfill(spark, events).toDF()
      .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "RocksDB-backed stream diverged from the batch backfill")
  }

  test("upsert rewrites only the buckets a batch touches") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_buckets_").toString + "/sink"
    // two users in distinct sink buckets (probe with the sink's own hash)
    val probe = spark.range(1, 200).select(
      col("id"), CheckpointStream.bucketOf(col("id"), CheckpointStream.SinkBuckets).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val (ua, ba) = probe.head
    val (ub, _) = probe.find(_._2 != ba).get
    CheckpointStream.upsert(
      Seq(CheckpointStream.SessionFlat(ua, "t", 1L, 100L, "a", 1)).toDF(), sink)
    val bucketDirA = new java.io.File(sink, s"bucket=$ba")
    val filesBefore = bucketDirA.listFiles.map(_.getName).toSet
    CheckpointStream.upsert(
      Seq(CheckpointStream.SessionFlat(ub, "t", 2L, 200L, "b", 1)).toDF(), sink)
    // untouched bucket keeps its exact files (a rewrite would mint new names)
    assert(bucketDirA.listFiles.map(_.getName).toSet == filesBefore)
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("upsert writes one data file per touched bucket, however the batch is partitioned") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_onefile_").toString + "/sink"
    val bucketOf = usersSharingBuckets(buckets = 3, perBucket = 4)
    def batch(users: Iterable[Long], v: Int) = users.toSeq.flatMap { u =>
      (0 to 1).map(i => CheckpointStream.SessionFlat(u, s"t$i", v * 100L + i, v * 1000L,
        s"v$v-u$u-$i", v))
    }.toDF().repartition(4) // each bucket's rows spread over the input partitions
    CheckpointStream.upsert(batch(bucketOf.keys, 1), sink)
    assert(dataFiles(sink) == bucketOf.values.map(_ -> 1).toMap)
    // half the sessions change: each bucket merges kept rows with new ones
    val changed = bucketOf.keys.toSeq.sorted.grouped(2).map(_.head).toSeq
    CheckpointStream.upsert(batch(changed, 2), sink)
    assert(dataFiles(sink) == bucketOf.values.map(_ -> 1).toMap)
    assert(spark.read.parquet(sink).count() == bucketOf.size * 2)
  }

  test("upsert recovers an interrupted promote from the .bak backup") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_recover_").toString + "/sink"
    val batch = Seq(
      CheckpointStream.SessionFlat(1L, "t", 1L, 100L, "a", 1),
      CheckpointStream.SessionFlat(2L, "t", 2L, 200L, "b", 1)).toDF()
    CheckpointStream.upsert(batch, sink)
    // simulate a crash mid-promote: one bucket moved to .bak, never replaced
    val buckets = new java.io.File(sink).listFiles.filter(_.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    val bak = new java.io.File(sink + ".bak")
    assert(bak.mkdirs())
    val victim = buckets.head
    assert(victim.renameTo(new java.io.File(bak, victim.getName)))
    // next upsert must first restore the lost bucket, then apply its batch
    CheckpointStream.upsert(
      Seq(CheckpointStream.SessionFlat(3L, "t", 3L, 300L, "c", 1)).toDF(), sink)
    val rows = spark.read.parquet(sink).select("user_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!bak.exists, "backup dir should be cleared after recovery")
  }

  test("upsert property: random batch sequences resolve to last-write-per-session") {
    import spark.implicits._
    // sessions share buckets, so a batch rewrites buckets that also hold
    // sessions it does not carry
    val bucketOf = usersSharingBuckets(buckets = 3, perBucket = 3)
    val pool = bucketOf.keys.toVector.sorted
    val sconf = new CheckpointStream.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    def reload(sink: String, u: Long) =
      CheckpointStream.reloadSessionFromSink(sink, CheckpointStream.SinkBuckets, sconf)(u)
        .map(st => (st.sessionId, st.sequenceNumber, st.content.map { case (t, cds) =>
          t -> cds.map(cd => (new String(cd.checkpoint, StandardCharsets.UTF_8),
            cd.checkpointNs, cd.threadId, cd.checkpointId, cd.taskId))
        }))
    val initial = pool.flatMap(u => (0 to 1).map(i =>
      CheckpointStream.SessionFlat(u, s"t$i", i.toLong, 10L, s"seed-u$u-$i", 0)))
    // two starting sinks: empty, and one in the layout older engines wrote,
    // with every bucket split over several files
    for (multiFile <- Seq(false, true)) {
      val rnd = new scala.util.Random(7)
      val sink = Files.createTempDirectory("graft_upsert_prop_").toString + "/sink"
      // model: the sink must always equal the latest batch's rows per user
      var model = Map.empty[Long, Seq[CheckpointStream.SessionFlat]]
      var carriedThroughFold = 0
      if (multiFile) {
        initial.toDF()
          .withColumn("bucket", CheckpointStream.bucketOf(col("user_id"), CheckpointStream.SinkBuckets))
          .repartition(3).write.partitionBy("bucket").parquet(sink)
        val sinkPath = new org.apache.hadoop.fs.Path(sink)
        CheckpointStream.stampManifest(
          sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration), sinkPath)
        assert(dataFiles(sink).values.forall(_ > 1), s"fixture: ${dataFiles(sink)}")
        model = initial.groupBy(_.user_id)
      }
      for (batchNo <- 1 to 5) {
        val users = rnd.shuffle(pool).take(1 + rnd.nextInt(4))
        val batch = users.flatMap { u =>
          (0 to rnd.nextInt(2)).map(i =>
            CheckpointStream.SessionFlat(u, s"t$i", batchNo * 100L + i, batchNo * 1000L,
              s"b$batchNo-u$u-$i", batchNo))
        }
        val filesBefore = dataFiles(sink)
        val revivedBefore = pool.map(u => u -> reload(sink, u)).toMap
        model = model ++ batch.groupBy(_.user_id).view.mapValues(_.toSeq).toMap
        CheckpointStream.upsert(batch.toDF().repartition(2), sink)
        val got = spark.read.parquet(sink).as[CheckpointStream.SessionFlat]
          .collect().toSet
        assert(got == model.values.flatten.toSet,
          s"batch $batchNo: sink diverged from last-write model\n got=$got\n exp=${model.values.flatten.toSet}")
        val touched = users.map(bucketOf).toSet
        val files = dataFiles(sink)
        assert(touched.forall(files(_) == 1), s"batch $batchNo: files per bucket $files")
        // a session the batch does not carry revives unchanged, also from a
        // bucket the batch folded into one file
        for (u <- pool if !users.contains(u)) {
          assert(reload(sink, u) == revivedBefore(u), s"batch $batchNo: session $u revived differently")
          if (revivedBefore(u).isDefined && filesBefore.getOrElse(bucketOf(u), 0) > 1 &&
              touched(bucketOf(u)))
            carriedThroughFold += 1
        }
      }
      if (multiFile)
        assert(carriedThroughFold > 0, "no batch folded a multi-file bucket around a kept session")
    }
  }

  test("upsert refuses a sink written under a different bucket layout") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_manifest_").toString + "/sink"
    val batch = Seq(CheckpointStream.SessionFlat(1L, "t", 1L, 100L, "a", 1)).toDF()
    CheckpointStream.upsert(batch, sink)
    // the sink self-describes its layout so a layout change fails loudly
    // instead of silently stranding rows in buckets no writer rewrites
    val mf = new java.io.File(sink, "_bucketing.json")
    assert(mf.exists, "upsert did not write the bucketing manifest")
    val ex = intercept[IllegalStateException] {
      CheckpointStream.upsert(batch, sink, buckets = 32)
    }
    assert(ex.getMessage.contains("bucketing manifest mismatch"))
    // the manifest file must stay invisible to parquet directory readers
    assert(spark.read.parquet(sink).count() == 1)
  }

  test("upsert refuses a bucketed sink that carries no manifest (unknown layout)") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_nomanifest_").toString + "/sink"
    val batch = Seq(CheckpointStream.SessionFlat(1L, "t", 1L, 100L, "a", 1)).toDF()
    CheckpointStream.upsert(batch, sink)
    // a pre-manifest sink: bucket dirs present, manifest gone. Stamping a
    // fresh manifest would silently re-home its sessions; it must throw.
    assert(new java.io.File(sink, "_bucketing.json").delete())
    val ex = intercept[IllegalStateException] {
      CheckpointStream.upsert(batch, sink)
    }
    assert(ex.getMessage.contains("no _bucketing.json manifest"))
  }

  test("diff-sink compaction folds batch dirs below the watermark; appends continue") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_").toString + "/diffs"
    def diffBatch(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, i.toInt, i * 10, i * 100, s"""{"d":$i}"""))
        .toDF("user_id", "seq", "event_id", "ts_us", "diff_json")
    CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), dir, 0)
    CheckpointStream.appendDiffs(diffBatch(Seq(3L)), dir, 1)
    CheckpointStream.appendDiffs(diffBatch(Seq(4L)), dir, 2)
    val cols = Seq("user_id", "seq", "event_id", "ts_us", "diff_json")
    val before = spark.read.parquet(dir).select(cols.map(col): _*).collect().toSet
    CheckpointStream.compactDiffs(spark, dir, watermark = 1)
    // dirs 0 and 1 fold into batch_id=-2 (negative: an id appendDiffs can
    // never overwrite on replay); dir 2 (beyond watermark) untouched
    val dirs = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=-2", "batch_id=2"), dirs)
    assert(spark.read.parquet(dir).select(cols.map(col): _*).collect().toSet == before,
      "compaction changed the diff rows")
    // the sink remains appendable and readable as one table afterwards
    CheckpointStream.appendDiffs(diffBatch(Seq(5L)), dir, 3)
    assert(spark.read.parquet(dir).count() == 5)
    // a second compaction over a single in-range dir is a no-op
    CheckpointStream.compactDiffs(spark, dir, watermark = 1)
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("compaction retention GC prunes aged diff rows and removes folded dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gc_").toString + "/diffs"
    def diffBatch(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, i.toInt, i * 10, i * 100, s"""{"d":$i}"""))
        .toDF("user_id", "seq", "event_id", "ts_us", "diff_json")
    // ts_us per row: id 1 -> 100, 2 -> 200, 3 -> 300, 4 -> 400
    CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), dir, 0)
    CheckpointStream.appendDiffs(diffBatch(Seq(3L)), dir, 1)
    CheckpointStream.appendDiffs(diffBatch(Seq(4L)), dir, 2)
    // fold dirs 0/1 with a cutoff that expires ids 1 and 2; dir 2 is
    // beyond the watermark and must keep its rows regardless of age
    CheckpointStream.compactDiffs(spark, dir, watermark = 1,
      retainRowsNewerThanUs = Some(250L))
    assert(spark.read.parquet(dir).select("user_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    val dirs1 = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs1 == Seq("batch_id=-2", "batch_id=2"), dirs1)
    // a later GC that expires EVERYTHING in range: the lone consolidated
    // generation is rewritten (single-dir + retention still processes) and,
    // having no survivors, is removed outright — absence, not an empty dir
    CheckpointStream.compactDiffs(spark, dir, watermark = 1,
      retainRowsNewerThanUs = Some(10000L))
    val dirs2 = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs2 == Seq("batch_id=2"), dirs2)
    assert(spark.read.parquet(dir).select("user_id")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // the sink remains appendable afterwards
    CheckpointStream.appendDiffs(diffBatch(Seq(5L)), dir, 3)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("retention GC crash-replay folds from correct truth (window A with pruning)") {
    import spark.implicits._
    def diffBatch(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, i.toInt, i * 10, i * 100, s"""{"d":$i}"""))
        .toDF("user_id", "seq", "event_id", "ts_us", "diff_json")
    def mv(from: String, to: String): Unit = {
      val dest = new java.io.File(to)
      dest.getParentFile.mkdirs()
      assert(new java.io.File(from).renameTo(dest), s"fixture move failed: $from -> $to")
    }
    // a GC attempt crashed after writing pruned tmp output and moving the
    // originals to bak, before the promote — recovery must RESTORE the
    // originals, then the re-run prunes from the restored (correct) truth
    val dir = Files.createTempDirectory("graft_gc_crash_").toString + "/diffs"
    CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), dir, 0)
    CheckpointStream.appendDiffs(diffBatch(Seq(3L)), dir, 1)
    CheckpointStream.appendDiffs(diffBatch(Seq(4L)), dir, 2)
    spark.read.parquet(s"$dir/batch_id=0", s"$dir/batch_id=1")
      .filter(col("ts_us") >= 250L)
      .write.parquet(s"$dir.compact_tmp/batch_id=-2")
    mv(s"$dir/batch_id=0", s"$dir.compact_bak/batch_id=0")
    mv(s"$dir/batch_id=1", s"$dir.compact_bak/batch_id=1")
    CheckpointStream.compactDiffs(spark, dir, watermark = 1,
      retainRowsNewerThanUs = Some(250L))
    assert(spark.read.parquet(dir).select("user_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L),
      "post-crash GC lost or resurrected rows")
    val dirs = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=-2", "batch_id=2"), dirs)
    assert(!new java.io.File(s"$dir.compact_bak").exists)
    assert(!new java.io.File(s"$dir.compact_tmp").exists)
  }

  test("compaction recovery handles both crash windows (swap-incomplete, bak-residue)") {
    import spark.implicits._
    def diffBatch(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, i.toInt, i * 10, i * 100, s"""{"d":$i}"""))
        .toDF("user_id", "seq", "event_id", "ts_us", "diff_json")
    val cols = Seq("user_id", "seq", "event_id", "ts_us", "diff_json")
    def rowsOf(dir: String) =
      spark.read.parquet(dir).select(cols.map(col): _*).collect().toSet
    def mv(from: String, to: String): Unit = {
      val dest = new java.io.File(to)
      dest.getParentFile.mkdirs()
      assert(new java.io.File(from).renameTo(dest), s"fixture move failed: $from -> $to")
    }

    // crash window A: consolidated output written to .compact_tmp and the
    // originals already moved to .compact_bak, but the promote rename
    // never ran — recovery must RESTORE the originals, then compaction
    // completes from scratch
    val dirA = Files.createTempDirectory("graft_crashA_").toString + "/diffs"
    CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), dirA, 0)
    CheckpointStream.appendDiffs(diffBatch(Seq(3L)), dirA, 1)
    CheckpointStream.appendDiffs(diffBatch(Seq(4L)), dirA, 2)
    val before = rowsOf(dirA)
    spark.read.parquet(s"$dirA/batch_id=0", s"$dirA/batch_id=1")
      .write.parquet(s"$dirA.compact_tmp/batch_id=-2")
    mv(s"$dirA/batch_id=0", s"$dirA.compact_bak/batch_id=0")
    mv(s"$dirA/batch_id=1", s"$dirA.compact_bak/batch_id=1")
    CheckpointStream.compactDiffs(spark, dirA, watermark = 1)
    assert(rowsOf(dirA) == before, "crash window A lost or duplicated rows")
    val dirsA = new java.io.File(dirA).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirsA == Seq("batch_id=-2", "batch_id=2"), dirsA)

    // crash window B: the promote rename LANDED (root holds the
    // consolidated dir) but bak/tmp were never cleaned — recovery must
    // finalize (drop the residue) without resurrecting old dirs
    val dirB = Files.createTempDirectory("graft_crashB_").toString + "/diffs"
    CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), dirB, 0)
    CheckpointStream.appendDiffs(diffBatch(Seq(3L)), dirB, 1)
    CheckpointStream.appendDiffs(diffBatch(Seq(4L)), dirB, 2)
    val beforeB = rowsOf(dirB)
    mv(s"$dirB/batch_id=0", s"$dirB.compact_bak/batch_id=0")
    mv(s"$dirB/batch_id=1", s"$dirB.compact_bak/batch_id=1")
    spark.read.parquet(s"$dirB.compact_bak/batch_id=0", s"$dirB.compact_bak/batch_id=1")
      .write.parquet(s"$dirB/batch_id=-2")
    assert(new java.io.File(s"$dirB.compact_tmp").mkdirs()) // tmp drained by the rename
    CheckpointStream.compactDiffs(spark, dirB, watermark = 1)
    assert(rowsOf(dirB) == beforeB, "crash window B lost or duplicated rows")
    assert(!new java.io.File(s"$dirB.compact_bak").exists, "bak residue not finalized")
    val dirsB = new java.io.File(dirB).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirsB == Seq("batch_id=-2", "batch_id=2"), dirsB)
  }

  test("upsert sink is idempotent: re-upserting the same batch is a no-op") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_upsert_").toString + "/sink"
    val batch = Seq(
      CheckpointStream.SessionFlat(1L, "t", 1L, 100L, "a", 1),
      CheckpointStream.SessionFlat(2L, "t", 2L, 200L, "b", 1)).toDF()
    CheckpointStream.upsert(batch, sink)
    CheckpointStream.upsert(batch, sink)
    assert(spark.read.parquet(sink).count() == 2)
    // upsert replaces a session's rows wholesale
    val batch2 = Seq(CheckpointStream.SessionFlat(1L, "t", 3L, 300L, "c", 2)).toDF()
    CheckpointStream.upsert(batch2, sink)
    val rows = spark.read.parquet(sink).as[CheckpointStream.SessionFlat]
      .collect().sortBy(_.user_id)
    assert(rows.map(_.payload).toSeq == Seq("c", "b"))
  }
}
