package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed event counts aggregate a memory stream by tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedEventCounts(df, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("win_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("win_out").select("w_start", "n", "total_value")
      .as[(java.sql.Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    q.stop()
    assert(rows.map(r => (r._2, r._3)).toSeq == Seq((2L, 3.0), (1L, 4.0)))
  }

  test("death file stream ingests incrementally: new files only, parsed and deduped") {
    val dir = Files.createTempDirectory("graft-stream")
    val ckpt = Files.createTempDirectory("graft-ckpt")
    val sink = Files.createTempDirectory("graft-sink")
    def line(name: String, insee: String) =
      name.padTo(80, ' ') + "1" + "19250404" + " ".padTo(65, ' ') + "20220804" + insee + "1"
    Files.writeString(dir.resolve("death_a.txt"), Seq(line("A/", "01007"), line("A/", "01007")).mkString("\n"))
    def runOnce(): Unit = {
      val q = Streaming.deathFileStream(spark, dir.toString).writeStream
        .option("checkpointLocation", ckpt.toString)
        .option("path", sink.toString)
        .outputMode("append").format("parquet")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    runOnce()
    assert(spark.read.parquet(sink.toString).count() == 1) // in-file duplicate deduped

    Files.writeString(dir.resolve("death_b.txt"), line("B/", "01053"))
    runOnce()
    // checkpoint = the reference's Redis file ledger: only death_b is new
    val out = spark.read.parquet(sink.toString)
    assert(out.count() == 2)
    assert(out.select("insee").as[String].collect().toSet == Set("01007", "01053"))
  }

  test("restart against the same checkpoint re-ingests no file (Redis-ledger contract)") {
    val dir = Files.createTempDirectory("graft-stream-rs")
    val ckpt = Files.createTempDirectory("graft-ckpt-rs")
    val sink = Files.createTempDirectory("graft-sink-rs")
    def line(name: String, insee: String) =
      name.padTo(80, ' ') + "1" + "19250404" + " ".padTo(65, ' ') + "20220804" + insee + "1"
    Files.writeString(dir.resolve("death_a.txt"), Seq(line("A/", "01007"), line("C/", "01009")).mkString("\n"))
    def runOnce(): Long = {
      val q = Streaming.deathFileStream(spark, dir.toString).writeStream
        .option("checkpointLocation", ckpt.toString)
        .option("path", sink.toString)
        .outputMode("append").format("parquet")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val ingested = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      ingested
    }
    assert(runOnce() == 2)
    assert(spark.read.parquet(sink.toString).count() == 2)
    // second run, same checkpoint, NO new files: the checkpointed seen-files
    // log must prevent re-READING death_a entirely — zero input rows is the
    // proof (a mere dedup of re-read rows would also yield count 2 below,
    // but would show nonzero input)
    assert(runOnce() == 0, "restart re-ingested an already-imported file")
    assert(spark.read.parquet(sink.toString).count() == 2)
  }

  test("watermarked dedup bounds state while deduping within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = Streaming.dedupByIdWithWatermark(input.toDF().toDF("ts", "id"), "ts", "1 hour", "id")
    val q = out.writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "x"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:45:00"), "y"))
    q.processAllAvailable()
    val n = spark.table("dedup_out").count()
    q.stop()
    assert(n == 2)
  }

  test("stream-stream join pairs events within the join window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("click_ts", "user_id"),
      buys.toDF().toDF("buy_ts", "user_id"),
      "user_id", "click_ts", "buy_ts", watermark = "1 hour", joinWindow = "10 minutes")
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ss_out").start()
    clicks.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2L))
    buys.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 1L), // within 10m of 1's click
      (java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 2L)) // outside the window
    q.processAllAvailable()
    val rows = spark.table("ss_out").select("user_id").as[Long].collect().toSeq
    q.stop()
    assert(rows == Seq(1L))
  }

  test("stream -> idempotent store: re-delivered keys beyond the watermark land exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-idem-sink")
    val ckpt = Files.createTempDirectory("graft-idem-ckpt")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.idempotentStoreSink(
        input.toDF().toDF("id", "v"), dir.toString + "/tbl", keys = Seq("id"))
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((2L, "b"), (3L, "c")) // id 2 re-delivered in a LATER batch
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dir.toString + "/tbl")
    assert(out.count() == 3) // one row per key, despite the re-delivery
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("exactly-once append sink: kill/restart replays the batch; the manifest token rejects it through the conditional-PUT log") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-eo-sink")
    val ckpt = Files.createTempDirectory("graft-eo-ckpt")
    val client = new graft.ops.InMemoryObjectStore
    val table = graft.ops.ManifestTable.onObjectStore(
      spark, dir.toString + "/tbl", client)
    val input = MemoryStream[(Long, Double)]
    def startQuery() = Streaming.exactlyOnceAppendSink(
        input.toDF().toDF("k", "v"), table, sinkId = "sink-a")
      .option("checkpointLocation", ckpt.toString).start()
    val q = startQuery()
    input.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
    input.addData((3L, 3.0)); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    assert(table.versions() == Seq(0L, 1L), "one atomic commit per non-empty batch")
    assert(table.txnVersion("sink-a").contains(1L))
    // KILL mid-stream: erase the checkpoint's last commit marker — the
    // exact crash window where the sink committed but the checkpoint did
    // not, so the restarted query MUST replay batch 1 with the same data
    // deletion goes through Hadoop's LocalFileSystem so the .crc checksum
    // shadow dies with the marker — a bare File.delete leaves .1.crc
    // behind and the restarted query's atomic re-write of commits/1 fails
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val lastCommit = new org.apache.hadoop.fs.Path(ckpt.toString, "commits/1")
    assert(hfs.exists(lastCommit) && hfs.delete(lastCommit, false),
      "test setup: commit marker must exist")
    val putsBefore = client.putAttempts
    val q2 = startQuery()
    q2.processAllAvailable() // replays batch 1
    // the replayed batch appended NOTHING: same versions, same rows, and
    // the fast-path token check never even attempted a conditional PUT
    assert(table.versions() == Seq(0L, 1L), "replayed batch must not spend a version")
    assert(client.putAttempts == putsBefore,
      "a recognized replay must not reach the conditional-PUT log")
    // the stream keeps flowing after the recovery: batch 2 commits once
    input.addData((4L, 4.0)); q2.processAllAvailable()
    q2.stop()
    assert(table.versions() == Seq(0L, 1L, 2L))
    assert(table.txnVersion("sink-a").contains(2L))
    // final snapshot equals the batch result over everything delivered
    assert(table.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    // tokens survive OTHER writers' commits: a batch append in between
    // must not let an old batch sneak back in
    table.append(Seq((100L, 100.0)).toDF("k", "v"))
    val vAfter = table.latestVersion().get
    assert(table.appendOnce(Seq((3L, 3.0)).toDF("k", "v"), "sink-a", batchId = 1L) == vAfter,
      "a stale batch replay after an interleaved writer must still be rejected")
    assert(table.snapshot().count() == 5)
    // duplicate-batch RACE through the CAS itself: two attempts of the
    // same (sinkId, batchId) — exactly one commits, the loser observes the
    // token after losing the conditional PUT and cleans up its orphan dir
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val racers = (1 to 2).map { _ =>
      new Thread(() => {
        try table.appendOnce(Seq((5L, 5.0)).toDF("k", "v"), "sink-a", batchId = 9L)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(errs.isEmpty, s"racing duplicate batch failed: ${errs.peek()}")
    assert(table.snapshot().where(col("k") === 5L).count() == 1,
      "the duplicate batch must land exactly once")
    assert(table.txnVersion("sink-a").contains(9L))
    // no orphan dirs: whoever lost deleted its unreferenced rewrite dir
    assert(table.vacuum(retainLast = table.versions().length, graceMs = 0).isEmpty,
      "the losing duplicate attempt left an orphan data dir")
  }

  test("exactly-once merge: a replayed batch cannot revert an interleaved writer's update") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-eo-merge")
    val client = new graft.ops.InMemoryObjectStore
    val table = graft.ops.ManifestTable.onObjectStore(
      spark, dir.toString + "/tbl", client)
    // batch 1 (first run, crashed after commit): k=5 -> 1.0
    table.overwrite(Seq((1L, 0.0)).toDF("k", "v"))
    assert(table.mergeOnce(Seq((5L, 1.0)).toDF("k", "v"), Seq("k"), "sink-m", batchId = 1L) == 1L)
    // another writer lands on the same key in between
    table.merge(Seq((5L, 9.0)).toDF("k", "v"), Seq("k"))
    // the REPLAY of batch 1: plain merge would revert k=5 to the stale 1.0
    // (last-write-wins cannot tell a replay from fresh data); the token
    // recognizes it and spends neither a version nor a PUT
    val vBefore = table.latestVersion().get
    val putsBefore = client.putAttempts
    assert(table.mergeOnce(Seq((5L, 1.0)).toDF("k", "v"), Seq("k"), "sink-m", batchId = 1L) == vBefore)
    assert(client.putAttempts == putsBefore, "a recognized replay must not reach the log")
    assert(table.snapshot().where(col("k") === 5L).as[(Long, Double)].collect().toList ==
      List(5L -> 9.0), "the interleaved writer's value must survive the replay")
    // and through the sink end-to-end: kill/restart with the commit marker
    // erased — the replayed micro-batch must not revert the side write
    val ckpt = Files.createTempDirectory("graft-eo-merge-ckpt")
    val input = MemoryStream[(Long, Double)]
    def startQuery() = Streaming.acidMergeSink(
        input.toDF().toDF("k", "v"), table, keys = Seq("k"), sinkId = Some("sink-m2"))
      .option("checkpointLocation", ckpt.toString).start()
    val q = startQuery()
    input.addData((7L, 1.0)); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new org.apache.hadoop.fs.Path(ckpt.toString, "commits/0"), false))
    table.merge(Seq((7L, 42.0)).toDF("k", "v"), Seq("k")) // interleaved update
    val q2 = startQuery()
    q2.processAllAvailable() // replays batch 0
    q2.stop()
    assert(table.snapshot().where(col("k") === 7L).as[(Long, Double)].collect().toList ==
      List(7L -> 42.0), "the replayed micro-batch reverted an interleaved update")
  }

  test("stream -> ACID merge sink: late rows UPDATE their key; versions commit per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-acid-sink")
    val ckpt = Files.createTempDirectory("graft-acid-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/tbl")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.acidMergeSink(
        input.toDF().toDF("id", "v"), table, keys = Seq("id"),
        // intra-batch duplicates resolve by the ordering column, not
        // partition-fetch order: latest (max v) wins deterministically
        intraBatchOrder = Seq(org.apache.spark.sql.functions.col("v").desc))
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    // id 2 re-delivered with a NEW value; id 3 arrives TWICE in one trigger
    input.addData((2L, "B2"), (3L, "c1"), (3L, "c2"))
    q.processAllAvailable()
    q.stop()
    val out = table.snapshot().as[(Long, String)].collect().toMap
    // versus the insert-only sink, the late row REPLACED its key's value,
    // and the within-batch pair kept its ordered winner
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c2"))
    assert(table.versions() == Seq(0L, 1L)) // one atomic commit per micro-batch
    // a reader pinned before the second batch would have seen the first only
    assert(table.snapshotAt(0).count() == 2)
  }

  test("streaming near-dedup against history: dups of earlier batches drop; state survives replay semantics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-sink")
    val ckpt = Files.createTempDirectory("graft-neardup-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet },
        onAcceptedBatch = (_, id) => batchIds.synchronized { batchIds += id })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different words about spark query engines and parquet columnar formats"
    input.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    // batch 2: an exact dup of doc 1 (est jaccard 1.0), a near-dup of doc 1
    // (one token changed), and a genuinely new doc
    input.addData((10L, textA),
      (11L, textA.replace("today", "tonight")),
      (12L, "statistical language modeling corpora require careful deduplication pipelines"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(1L, 2L), Set(12L)),
      s"history dedup must drop 10 (exact) and 11 (near), got $accepted")
    // onAcceptedBatch carries the STREAM's micro-batch ids (the replay
    // identity an exactly-once corpus sink keys its tokens on)
    assert(batchIds.toList == List(0L, 1L), s"expected stream batch ids 0,1 got $batchIds")
    // the signature table holds exactly the accepted docs' band rows
    val stateIds = table.snapshot().select("doc_id").as[Long].collect().toSet
    assert(stateIds == Set(1L, 2L, 12L))
    // replay semantics: re-merging an accepted doc's own rows is a no-op
    // and the =!= guard keeps it from flagging itself — simulate by
    // re-running batch 1's docs through a fresh stream on the SAME table
    val input2 = MemoryStream[(Long, String)]
    val accepted2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val ckpt2 = Files.createTempDirectory("graft-neardup-ckpt2")
    val q2 = Streaming.nearDupFilterSink(
        input2.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted2.synchronized {
          accepted2 += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt2.toString).start()
    // crashed-replay shape: batch 1's docs 1 AND 2 replay TOGETHER after
    // their state rows committed — neither may be flagged against its own
    // or its batch-mate's half-committed rows, and the idempotent append
    // writes nothing (no new version)
    val vBefore = table.versions().length
    input2.addData((1L, textA), (2L, textB))
    q2.processAllAvailable()
    q2.stop()
    assert(accepted2.toList == List(Set(1L, 2L)),
      "a replayed batch must re-accept exactly what the first run accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 12L))
    assert(table.versions().length == vBefore, "replay must not spend a version")
  }

  test("streaming near-dedup: batch-mates shield each other — one representative per in-batch cluster") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-mates")
    val ckpt = Files.createTempDirectory("graft-neardup-mates-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    // ONE trigger: exact dup pair (5,6), a transitive chain near-dup (7),
    // and an unrelated doc (8) — only the min-id representative 5 and the
    // unrelated 8 may be admitted, transitively (7 ~ 6 ~ 5 must not
    // resurrect 7)
    input.addData((6L, textA), (5L, textA),
      (7L, textA.replace("today", "tonight")),
      (8L, "completely different words about spark query engines and parquet columnar formats"))
    q.processAllAvailable()
    // second trigger: a dup of the DROPPED batch-mate 6 still drops (its
    // content lives in history under representative 5)
    input.addData((20L, textA), (21L, "genuinely novel sentence with unique vocabulary tokens"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(5L, 8L), Set(21L)),
      s"in-batch cluster must admit only min-id rep, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 8L, 21L),
      "state must hold only admitted docs' signatures")
  }

  test("streaming near-dedup: a redelivered accepted id cannot smuggle in a new near-dup batch-mate") {
    // The at-least-once interleave the pair-level shield exists for: an
    // upstream REDELIVERS already-accepted id 5 in the same trigger as a
    // NEW doc 2 whose text near-dups it. Id 2 < 5, so 2 is the in-batch
    // cluster representative (5 drops in-batch) — under the old
    // batch-level shield, 5's presence in the batch hid 5's history rows
    // from 2's probe and 2 was admitted; pair-level shielding keeps them
    // visible (2 ≠ 5) and 2 drops. Nothing of the cluster is re-emitted
    // or re-appended.
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-redeliver")
    val ckpt = Files.createTempDirectory("graft-neardup-redeliver-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    input.addData((5L, textA),
      (6L, "completely different words about spark query engines and parquet columnar formats"))
    q.processAllAvailable()
    // trigger 2: redelivered 5 + smaller-id near-dup 2 + an unrelated doc
    input.addData((5L, textA), (2L, textA.replace("today", "tonight")),
      (9L, "genuinely novel sentence with unique vocabulary tokens"))
    q.processAllAvailable()
    // trigger 3: the redelivered id ALONE re-emits (update/no-op contract)
    input.addData((5L, textA))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(5L, 6L), Set(9L), Set(5L)),
      s"new near-dup 2 must drop against redelivered 5's history rows, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 6L, 9L),
      "state must never gain the smuggled near-dup's signatures")
  }

  test("streaming near-dedup: kill between triggers, restart from checkpoint — no dup, no drop (VERDICT r16 item 5)") {
    // the at-rest HISTORY table's restart contract: a second query
    // instance on the SAME checkpoint + state table must resume exactly
    // where the killed one stopped — accepted docs stay accepted once,
    // near-dups of pre-kill history still drop, and the state table
    // never gains a duplicate signature row
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-restart")
    val ckpt = Files.createTempDirectory("graft-neardup-restart-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    def startQuery() = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val q1 = startQuery()
    input.addData((5L, textA),
      (6L, "completely different words about spark query engines and parquet columnar formats"))
    q1.processAllAvailable()
    q1.stop() // kill BETWEEN triggers
    // data arriving while the query is down: a near-dup of pre-kill
    // history (2 ~ 5), a redelivered accepted id, and a novel doc
    input.addData((2L, textA.replace("today", "tonight")), (5L, textA),
      (9L, "genuinely novel sentence with unique vocabulary tokens"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    // the restarted trigger's decisions equal the SINGLE-query run's on
    // the identical trigger (see the redelivery test above: 2 and the
    // redelivered 5 both resolve against history, 9 alone is admitted)
    assert(accepted.toList == List(Set(5L, 6L), Set(9L)),
      s"restart must decide exactly like an uninterrupted query, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 6L, 9L),
      "state after restart must hold exactly the accepted ids — no dup, no drop")
    // signature rows are unique per (doc, band): a replayed/restarted
    // append must never double a row
    val dupRows = table.snapshot().groupBy("doc_id", "band").count()
      .where($"count" > 1).count()
    assert(dupRows == 0L, "restart duplicated state signature rows")
  }

  test("streaming near-dedup: compactEvery keeps the state table's dir count flat; dedup unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val dirRoot = Files.createTempDirectory("graft-neardup-compact")
    val ckpt = Files.createTempDirectory("graft-neardup-compact-ckpt")
    val tblPath = dirRoot.toString + "/sigs"
    val table = graft.ops.ManifestTable(spark, tblPath)
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet },
        compactEvery = 2)
      .option("checkpointLocation", ckpt.toString).start()
    // fully disjoint vocabularies — zero shared shingles between docs, so
    // only the planted exact dup can match
    val mk = (i: Long) => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")
    (1L to 4L).foreach { i => input.addData(mk(i)); q.processAllAvailable() }
    // a dup of trigger-1 content must still drop AFTER compactions
    input.addData((99L, mk(1L)._2))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList.map(_.toList).flatten.toSet == Set(1L, 2L, 3L, 4L),
      s"compaction must not change dedup decisions, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // the LIVE dir set stays flat: the latest manifest references the one
    // compacted dir (physical pre-compaction dirs linger until vacuum's
    // grace window passes — deliberately not forced here)
    assert(table.dirCount() == 1,
      s"latest manifest should reference 1 compacted dir, got ${table.dirCount()}")
    // and compaction spent versions: more versions than triggers
    assert(table.versions().length > 5)
  }

  test("streaming near-dedup: short docs sign whole-text shingles instead of bypassing the filter") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-short")
    val ckpt = Files.createTempDirectory("graft-neardup-short-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "click here")) // 2 tokens < shingleN=3: whole-text shingle
    q.processAllAvailable()
    input.addData((2L, "click here"), (3L, "subscribe now maybe")) // re-delivered boilerplate
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(1L), Set(3L)),
      s"short boilerplate must dedup against history, got $accepted")
  }

  test("nearDupFilterSink: skipEmptyTriggers fast-exits empty triggers; dedup and handlers unchanged otherwise") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-sparse")
    val ckpt = Files.createTempDirectory("graft-neardup-sparse-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        threshold = 0.5,
        onAccepted = b => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet },
        skipEmptyTriggers = true)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "the quick brown fox jumps over a lazy dog"))
    q.processAllAvailable()
    val versionsAfterFirst = table.versions().length
    input.addData() // an all-EMPTY trigger: the sparse-source fast exit
    q.processAllAvailable()
    assert(table.versions().length == versionsAfterFirst,
      "an empty trigger must spend no table version")
    // a redelivered near-dup (new id, same text) + a genuinely new doc:
    // the gated sink must still dedup and fire handlers exactly as before
    input.addData((2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "completely different text about ships and harbors tonight"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(1L), Set(3L)),
      s"handlers must skip the empty trigger only, got $accepted")
  }

  test("nearDupFilterSink: a stale fingerprint store (sig array<string>) fails the first trigger before any commit") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neardup-stale")
    val ckpt = Files.createTempDirectory("graft-neardup-stale-ckpt")
    val root = dir.toString + "/sigs"
    val table = graft.ops.ManifestTable(spark, root)
    // the store layout of builds whose signatures were hex strings
    table.overwrite(Seq((1L, 0, "b0", Seq("0a1b", "2c3d"))).toDF("doc_id", "band", "bucket", "sig"))
    val accepted = new java.util.concurrent.atomic.AtomicInteger()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = _ => accepted.incrementAndGet())
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((2L, "the quick brown fox jumps over a lazy dog"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains(root) && msg.contains("rebuild the store"), msg)
    assert(msg.contains("array<string>") && msg.contains("array<int>"), msg)
    assert(table.versions() == Seq(0L), "a rejected trigger must commit nothing")
    assert(accepted.get() == 0, "onAccepted must never run on a rejected trigger")
  }

  test("streaming ANN serve: stream-served top-k equals the batch probe; redelivered queries append nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-serve")
    val ckpt = Files.createTempDirectory("graft-ann-serve-ckpt")
    val indexPath = dir.toString + "/index"
    val outPath = dir.toString + "/served"
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    // persist a frozen-centroid cluster-partitioned index (the
    // ann_index_persist layout the ingest sink also writes)
    (0L to 19L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
      .write.mode("overwrite").partitionBy("cluster").parquet(indexPath)
    val input = MemoryStream[Long]
    val q = Streaming.annServeSink(
        input.toDF().toDF("vec_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"vec_id")),
        "vec_id", "embedding", cents, indexPath, outPath, k = 3, nprobe = 2)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData(100L, 101L)
    q.processAllAvailable()
    // trigger 2: a new query + REDELIVERED 100 (at-least-once upstream)
    input.addData(102L, 100L)
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(outPath)
    val stored = spark.read.parquet(indexPath)
    val want = graft.ops.Similarity.ivfTopKFitted(
        Seq(100L, 101L, 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        stored, "vec_id", "embedding", "cluster", k = 3, nprobe = 2, cents)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val got = served.select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want, "stream-served top-k must equal the batch probe of the same store")
    assert(served.count() === want.size.toLong,
      "a redelivered query batch must not duplicate served rows")
  }

  test("streaming ANN serve: a caller whose idCol is literally query_id joins unambiguously") {
    // the served-side anti-join used to reference a bare col("query_id"),
    // which is ambiguous at runtime when the caller's id column carries
    // that exact name — the served frame is aliased now
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-serve-qid")
    val ckpt = Files.createTempDirectory("graft-ann-serve-qid-ckpt")
    val indexPath = dir.toString + "/index"
    val outPath = dir.toString + "/served"
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    // idCol names the id column on BOTH sides (query batch and index), so
    // the clashing name must appear on the corpus too
    (0L to 9L).map(i => (i, vec(i))).toDF("query_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
      .write.mode("overwrite").partitionBy("cluster").parquet(indexPath)
    val input = MemoryStream[Long]
    val q = Streaming.annServeSink(
        input.toDF().toDF("query_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"query_id")),
        "query_id", "embedding", cents, indexPath, outPath, k = 2, nprobe = 2)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData(100L)
    q.processAllAvailable()
    input.addData(101L, 100L) // redelivery exercises the anti-join path
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(outPath)
    assert(served.select($"query_id").distinct().count() === 2L)
    assert(served.count() === 4L, "redelivered query must append nothing")
  }

  test("streaming ANN serve: NULL-id queries are dropped, not re-served on every redelivery") {
    // the served-ids anti-join is plain equality — NULL never matches its
    // own served row, so before the isNotNull filter a NULL-id query was
    // re-scored and re-appended on EVERY redelivery, growing forever
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-serve-nullid")
    val ckpt = Files.createTempDirectory("graft-ann-serve-nullid-ckpt")
    val indexPath = dir.toString + "/index"
    val outPath = dir.toString + "/served"
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    (0L to 9L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
      .write.mode("overwrite").partitionBy("cluster").parquet(indexPath)
    val input = MemoryStream[(Long, Boolean)]
    val q = Streaming.annServeSink(
        input.toDF().toDF("raw_id", "valid")
          .select(org.apache.spark.sql.functions.when($"valid", $"raw_id").as("vec_id"),
            org.apache.spark.sql.functions.udf(vec _).apply($"raw_id").as("embedding")),
        "vec_id", "embedding", cents, indexPath, outPath, k = 2, nprobe = 2)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((100L, true), (7L, false))
    q.processAllAvailable()
    input.addData((7L, false)) // redelivered NULL-id query
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(outPath)
    assert(served.where($"query_id".isNull).isEmpty, "NULL-id queries must never serve")
    assert(served.select($"query_id").distinct().as[Long].collect().toSeq == Seq(100L))
    assert(served.count() === 2L, "k=2 rows for the one valid query, nothing else")
  }

  test("streaming ANN ingest: frozen-centroid assignment, redelivery appends nothing, batch/stream query parity") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-ingest")
    val ckpt = Files.createTempDirectory("graft-ann-ingest-ckpt")
    val path = dir.toString + "/index"
    // tiny deterministic "lattice": vec(id) = [id%5+1, (id*3)%7-3]
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    val input = MemoryStream[Long]
    val q = Streaming.annIngestSink(
        input.toDF().toDF("vec_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"vec_id")),
        "vec_id", "embedding", cents, path)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData(0L, 1L, 2L, 3L)
    q.processAllAvailable()
    // trigger 2: new ids + REDELIVERED 1 and 3 (at-least-once upstream)
    input.addData(4L, 5L, 1L, 3L)
    q.processAllAvailable()
    q.stop()
    val stored = spark.read.parquet(path)
    assert(stored.count() === 6L, "redelivered ids must append nothing")
    // assignment parity with the batch path (same frozen centroids)
    val ids = (0L to 5L)
    val batchCorpus = ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
    val want = batchCorpus.select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val got = stored.select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(got === want, "stream assignment must equal the batch frozen-centroid assignment")
    // serving parity: probing the store == probing the batch corpus
    def topk(c: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.ivfTopKFitted(c.where($"vec_id" < 2), c,
          "vec_id", "embedding", "cluster", k = 2, nprobe = 2, cents)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
    assert(topk(stored) === topk(batchCorpus))
  }

  test("streaming ANN serve (ManifestTable): an uncommitted in-flight append is invisible to serve") {
    // the deterministic form of the torn-read race: a plain-parquet reader
    // lists whatever files exist, so an in-progress ingest append (data
    // written, commit not yet published) could leak a torn subset into a
    // serve trigger. The manifest tier pins a committed version — the
    // planted uncommitted vector is EXACTLY the query, so a torn reader
    // would rank it #1 and this assertion would catch it.
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-acid-torn")
    val ckpt = Files.createTempDirectory("graft-ann-acid-torn-ckpt")
    val outPath = dir.toString + "/served"
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    val table = graft.ops.ManifestTable(spark, dir.toString + "/index")
    val committed = (0L to 9L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
    table.append(committed)
    // in-flight append: data lands under data/<dir> with NO manifest commit
    Seq((999L, vec(100L))).toDF("vec_id", "embedding")
      .withColumn("cluster", graft.ops.Similarity.nearestCentroid($"embedding", cents))
      .write.parquet(dir.toString + "/index/data/uncommitted-in-flight")
    val input = MemoryStream[Long]
    val q = Streaming.annServeSink(
        input.toDF().toDF("vec_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"vec_id")),
        "vec_id", "embedding", cents, table, outPath, k = 3, nprobe = 2)
      .option("checkpointLocation", ckpt.toString).start()
    input.addData(100L)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outPath)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    val want = graft.ops.Similarity.ivfTopKFitted(
        Seq((100L, vec(100L))).toDF("vec_id", "embedding"), table.snapshot(),
        "vec_id", "embedding", "cluster", k = 3, nprobe = 2, cents)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(!got.exists(_._3 == 999L),
      "an uncommitted in-flight append must be invisible to a serve trigger")
    assert(got === want, "serve must equal the batch probe of the COMMITTED snapshot")
  }

  test("streaming ANN (ManifestTable): concurrent ingest + serve — every served list is some committed version's top-k") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ann-acid-race")
    val ckptI = Files.createTempDirectory("graft-ann-acid-race-cki")
    val ckptS = Files.createTempDirectory("graft-ann-acid-race-cks")
    val outPath = dir.toString + "/served"
    def vec(id: Long): Array[Float] =
      Array((id % 5 + 1).toFloat, ((id * 3) % 7 - 3).toFloat)
    val cents = Array(Array(1.0, 2.0), Array(4.0, -2.0), Array(2.0, -1.0))
    val table = graft.ops.ManifestTable(spark, dir.toString + "/index")
    val ingestIn = MemoryStream[Long]
    val qIngest = Streaming.annIngestSink(
        ingestIn.toDF().toDF("vec_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"vec_id")),
        "vec_id", "embedding", cents, table, sinkId = "race-ingest")
      .option("checkpointLocation", ckptI.toString).start()
    ingestIn.addData(0L, 1L, 2L, 3L)
    qIngest.processAllAvailable() // first committed version exists before serve starts
    val serveIn = MemoryStream[Long]
    val qServe = Streaming.annServeSink(
        serveIn.toDF().toDF("vec_id")
          .withColumn("embedding", org.apache.spark.sql.functions.udf(vec _)
            .apply($"vec_id")),
        "vec_id", "embedding", cents, table, outPath, k = 3, nprobe = 2)
      .option("checkpointLocation", ckptS.toString).start()
    // CONCURRENT phase: both streams live, data offered to both with no
    // barrier between the sinks — ingest commits race serve snapshots
    serveIn.addData(100L)
    ingestIn.addData(4L, 5L, 1L) // 1 redelivered in a later batch
    serveIn.addData(101L, 100L) // 100 redelivered
    ingestIn.addData(6L, 7L)
    serveIn.addData(102L)
    ingestIn.addData(6L, 7L) // all-duplicate trigger: must spend no version
    qIngest.processAllAvailable()
    qServe.processAllAvailable()
    qIngest.stop(); qServe.stop()
    // ingest idempotence on the ACID tier: one row per distinct id
    val storedIds = table.snapshot().select($"vec_id").as[Long].collect().toSeq
    assert(storedIds.sorted == (0L to 7L).toSeq,
      s"redelivered ids must append nothing, got $storedIds")
    // NO TORN TOP-K: each served query's complete list equals the batch
    // ivfTopKFitted answer over SOME committed version — a torn read
    // (partial file set of an in-progress append) matches no version
    val served = spark.read.parquet(outPath)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (qid, rows) => qid -> rows.sortBy(_._2).map(_._3).toSeq }
    assert(served.keySet == Set(100L, 101L, 102L))
    assert(spark.read.parquet(outPath).count() ===
      served.values.map(_.size.toLong).sum, "redelivered queries must append nothing")
    val versionAnswers = table.versions().map { v =>
      v -> graft.ops.Similarity.ivfTopKFitted(
          Seq(100L, 101L, 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
          table.snapshotAt(v), "vec_id", "embedding", "cluster", k = 3, nprobe = 2, cents)
        .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).map { case (qid, rows) => qid -> rows.sortBy(_._2).map(_._3).toSeq }
    }.toMap
    served.foreach { case (qid, list) =>
      assert(versionAnswers.values.exists(_.get(qid).contains(list)),
        s"query $qid's served list $list is the top-k of NO committed version — torn read")
    }
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val out = graft.streaming.Streaming.runningUserStats(input.toDS())
    val q = out.writeStream.outputMode("update").format("memory").queryName("stats_out").start()
    input.addData((1L, 10.0), (1L, 20.0), (2L, 5.0))
    q.processAllAvailable()
    input.addData((1L, 30.0))
    q.processAllAvailable()
    val rows = spark.table("stats_out")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"),
        org.apache.spark.sql.functions.last("last_value"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    assert(rows == Map(1L -> 3L, 2L -> 1L)) // state carried across batches
  }

  test("flatMapGroupsWithState emits each closed session exactly once, in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, ts_us)
    val out = graft.streaming.Streaming.closedSessionsStream(input.toDS(), gapUs = 10L)
    val q = out.writeStream.outputMode("append").format("memory").queryName("closed_out").start()
    input.addData((1L, 0L), (1L, 5L), (2L, 100L))
    q.processAllAvailable()
    assert(spark.table("closed_out").isEmpty, "no gap exceeded yet — nothing may close")
    // 4 is out-of-order but within the gap of last=5 → merges (no spurious
    // close); 50 then closes the merged session [0, 5] with 3 events
    input.addData((1L, 50L), (1L, 4L), (1L, 52L))
    q.processAllAvailable()
    val afterB2 = spark.table("closed_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterB2 == Set((1L, 0L, 5L, 3L)))
    input.addData((1L, 200L), (2L, 300L)) // closes [50,52] and user 2's [100,100]
    q.processAllAvailable()
    val afterB3 = spark.table("closed_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(afterB3 == Set((1L, 0L, 5L, 3L), (1L, 50L, 52L, 2L), (2L, 100L, 100L, 1L)))
    // exactly-once: the first session did not re-emit in batch 3
    assert(spark.table("closed_out").count() == 3)
  }

  test("closedSessionsStream: an event gap-separated BEFORE the open session never glues onto it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = graft.streaming.Streaming.closedSessionsStream(input.toDS(), gapUs = 10L)
    val ck = java.nio.file.Files.createTempDirectory("graft-sess-late").toString
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_late_out").option("checkpointLocation", ck).start()
    input.addData((1L, 1000L))
    q.processAllAvailable()
    // ts=0 is 990us before the open session's start (gap 10): it must be
    // its own immediately-closed late session, NOT merged into [1000,1000]
    input.addData((1L, 0L))
    q.processAllAvailable()
    val afterLate = spark.table("sess_late_out").as[(Long, Long, Long, Long)].collect().toSet
    assert(afterLate == Set((1L, 0L, 0L, 1L)),
      s"a gap-separated earlier event must close alone, got $afterLate")
    // BRIDGING: late events 980 and 990 connect to the open 1000 within
    // the gap chain — all three merge; a later event then closes [980,1000]
    input.addData((1L, 980L), (1L, 990L))
    q.processAllAvailable()
    input.addData((1L, 2000L))
    q.processAllAvailable()
    val fin = spark.table("sess_late_out").as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(fin == Set((1L, 0L, 0L, 1L), (1L, 980L, 1000L, 3L)), s"got $fin")
  }

  test("closedSessionsStream matches the batch sessionizer on the closed prefix") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq((1L, 0L), (1L, 8L), (1L, 30L), (1L, 35L), (1L, 90L),
      (2L, 10L), (2L, 50L), (2L, 200L))
    val input = MemoryStream[(Long, Long)]
    val out = graft.streaming.Streaming.closedSessionsStream(input.toDS(), gapUs = 10L)
    val ck = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_eq_out").option("checkpointLocation", ck).start()
    events.grouped(3).foreach { g => input.addData(g: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("sess_eq_out").as[(Long, Long, Long, Long)].collect().toSet
    // batch reference: sessionizeNumeric over the same events; drop each
    // user's LAST session (still open in the stream)
    val batch = graft.ops.Analytics.sessionizeNumeric(
        events.toDF("user_id", "ts"), col("user_id"), col("ts"), 10L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(org.apache.spark.sql.functions.min("ts").as("start_us"),
        org.apache.spark.sql.functions.max("ts").as("end_us"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val lastSess = batch.groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.max("session_id").as("session_id"))
    val closedBatch = batch.join(lastSess, Seq("user_id", "session_id"), "left_anti")
      .select("user_id", "start_us", "end_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == closedBatch, s"stream=$streamed batch=$closedBatch")
  }

  test("streaming session windows close after the gap and count per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val out = graft.streaming.Streaming.sessionWindowCounts(df, "10 minutes", "1 minute")
    val q = out.writeStream.outputMode("complete").format("memory").queryName("sess_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 1L),  // same session (gap < 10m)
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L))  // new session
    q.processAllAvailable()
    val rows = spark.table("sess_out").select("user_id", "n_events")
      .as[(Long, Long)].collect().sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, 1L), (1L, 2L)))
  }

  test("streaming session windows over the events table: append-mode closed sessions == batch session_window") {
    // the real events table through the session_window state machine in
    // APPEND mode (sessions emit only once the watermark passes
    // lastEvent + gap — the at-scale output mode; the synthetic test above
    // uses complete mode, which keeps all state forever), asserted
    // row-identical to the BATCH session_window aggregation of the same
    // rows. A far-future sentinel per user pushes the final watermark past
    // every real session so the closed prefix is the WHOLE table.
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events")
      .select($"ts", $"user_id").where($"user_id" < 50)
    val rows = events.as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val maxTs = rows.map(_._1.getTime).max
    val sentinels = rows.map(_._2).distinct
      .map(u => (new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000), u))
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val out = Streaming.sessionWindowCounts(df, "30 minutes", "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_events_out").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    input.addData(sentinels: _*) // advances the watermark; own sessions stay open
    q.processAllAvailable()
    val streamed = spark.table("sess_events_out")
      .select("user_id", "s_start", "s_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    q.stop()
    val batch = events
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("s_start"),
        $"session_window.end".as("s_end"), $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(batch.nonEmpty && batch.exists(_._4 > 1), "harness: need real multi-event sessions")
    assert(streamed == batch,
      s"append-mode closed sessions must equal the batch session_window result " +
        s"(stream ${streamed.size} vs batch ${batch.size})")
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val facts = input.toDF().toDF("k", "v")
    val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "label")
    val q = Streaming.enrichStream(facts, dim, "k")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    input.addData((1L, 10.0), (3L, 30.0))
    q.processAllAvailable()
    input.addData((2L, 20.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_out")
      .as[(Long, Double, Option[String])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 10.0, Some("one")), (2L, 20.0, Some("two")), (3L, 30.0, None)))
  }

  test("streaming text curation: fingerprint dedup within watermark on a doc stream") {
    // the text ops are pure projections, so they stream as-is; the stateful
    // piece is exactly-once-per-fingerprint within the lateness bound -
    // near-dup re-deliveries (same normalized text, different ids) collapse
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col("text")))
    val deduped = Streaming.dedupByIdWithWatermark(docs, "ts", "1 hour", "fp")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("cur_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "Hello  World"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "hello world"), // same fingerprint
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3L, "different doc"))
    q.processAllAvailable()
    input.addData((java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 4L, "HELLO   world"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("cur_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"near-dup re-deliveries must collapse, got $kept")
  }

  test("streaming web curation: blocklist + quality gate + canonical-URL dedup on a doc stream") {
    // the web-curation front end streams as pure projections: the batch
    // anti-join blocklist becomes a per-row exists() over the extracted
    // hosts (a stream cannot re-aggregate its own hit set), the quality
    // gate is a scalar predicate, and the stateful tail is canonical-URL
    // exactly-once within the watermark — spelling variants of one URL
    // collapse across micro-batches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val blocklist = Seq("evil.org")
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val unblocked = docs.where(!exists(graft.ops.Web.urlHosts(col("text")),
      h => graft.ops.Web.registeredDomain(h).isInCollection(blocklist)))
    val gated = unblocked
      .where(size(graft.ops.TextAnalysis.tokens(col("text"))) >= 2)
      .withColumn("url", explode(regexp_extract_all(col("text"),
        lit("(?i)https?://[^\\s]+"), lit(0))))
      .withColumn("cu", graft.ops.Web.canonicalizeUrl(col("url")))
    val deduped = Streaming.dedupByIdWithWatermark(gated, "ts", "1 hour", "cu")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("webcur_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "see https://A.org/x/?utm_source=f"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "see https://bad.evil.org/mal"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3L, "see https://a.org/x"))  // variant of doc 1's URL
    q.processAllAvailable()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 4L, "see HTTPS://a.ORG:443/x#z"), // same again
      (java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), 5L, "see http://other.net/y"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("webcur_out").select("doc_id").as[Long].collect().toSet
    // doc 2 blocked; docs 3 and 4 are canonical dups of doc 1's URL
    assert(kept == Set(1L, 5L), s"expected blocklist drop + canonical dedup, got $kept")
  }

  test("streaming rollup maintenance: a CDC stream maintains the aggregate == full recompute") {
    // foreachBatch + maintainSumCount: each micro-batch of change rows
    // refreshes the rollup in O(changes) — the streaming materialized-view
    // pattern; after any prefix of batches the maintained state must equal
    // recomputing from the accumulated row multiset
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(20,2)")
    val input = MemoryStream[(String, Double, String)]
    var state = Seq.empty[(String, Long, java.math.BigDecimal)]
      .toDF("g", "cnt", "sum_val").withColumn("sum_val", dec($"sum_val"))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    val q = input.toDF().toDF("g", "v", "_change").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
        rows ++= b
        state = graft.ops.Aggregates.maintainSumCount(state, batch, Seq("g"), dec($"v"))
          .localCheckpoint(true) // pin each refresh (real deployments write a table)
        ()
      }.start()
    input.addData(("a", 1.0, "insert"), ("a", 2.0, "insert"), ("b", 5.0, "insert"))
    q.processAllAvailable()
    input.addData(("a", 1.0, "delete"), ("b", 5.0, "delete"), ("c", 7.0, "insert"))
    q.processAllAvailable()
    q.stop()
    val got = state.select($"g", $"cnt", $"sum_val".cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val live = rows.foldLeft(Map.empty[(String, Double), Int]) { case (m, (g, v, ch)) =>
      m.updated((g, v), m.getOrElse((g, v), 0) + (if (ch == "insert") 1 else -1))
    }.filter(_._2 > 0)
    val want = live.groupBy(_._1._1).map { case (g, xs) =>
      (g, xs.values.sum.toLong, xs.map { case ((_, v), n) => v * n }.sum) }.toSet
    assert(got == want, s"maintained $got != recompute $want")
    assert(got.map(_._1) == Set("a", "c"), "b must vanish at cnt 0")
  }
  test("streaming funnel depth == batch windowFunnel3 on the same ordered feed; state is constant-size") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val T = 100L
    // (user, ts, id, type) — the batch-spec scenarios, split across THREE
    // micro-batches at a batch boundary mid-chain, with intra-batch
    // disorder (the fold sorts per batch)
    val all = Seq(
      (1L, 10L, 1L, "view"), (1L, 50L, 2L, "click"), (1L, 90L, 3L, "purchase"),
      (2L, 10L, 1L, "view"), (2L, 50L, 2L, "click"), (2L, 150L, 3L, "purchase"),
      (3L, 10L, 1L, "view"), (3L, 200L, 2L, "click"),
      (4L, 10L, 1L, "click"), (4L, 20L, 2L, "purchase"),
      (5L, 10L, 1L, "view"), (5L, 500L, 2L, "view"),
      (5L, 520L, 3L, "click"), (5L, 590L, 4L, "purchase"))
    val batches = Seq(
      all.filter(_._2 <= 20).reverse,               // disordered within batch
      all.filter(e => e._2 > 20 && e._2 <= 200),
      all.filter(_._2 > 200))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streaming.funnelDepthStream(in.toDS(), windowUs = T)
      .writeStream.outputMode("update").format("memory").queryName("funnel_out").start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    // depth is monotone nondecreasing, so the final depth is the MAX
    // emitted (last() over an unordered sink table would be fragile)
    val got = spark.table("funnel_out")
      .groupBy(col("user")).agg(org.apache.spark.sql.functions.max(col("depth")).as("d"))
      .as[(Long, Int)].collect().toMap
    val want = graft.ops.Analytics.windowFunnel3(
        all.toDF("u", "ts", "rk", "et"), col("u"), col("ts"), col("rk"),
        col("et"), "view", "click", "purchase", windowUs = T)
      .as[(Long, Long)].collect().toMap.map { case (k, v) => k -> v.toInt }
    assert(got === want, s"stream $got != batch $want")
  }

  // Processing-time timeouts make the engine construct batches continuously
  // (timeouts must fire with no data), so processAllAvailable can block
  // forever on these queries — the scaladoc'd contract. Await the SINK.
  private def awaitSink(label: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + 30000L
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
    assert(cond, s"$label not observed within 30s")
  }

  test("closedSessionsStream: opt-in idle timeout flushes quiet tails and frees state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = graft.streaming.Streaming.closedSessionsStream(
      input.toDS(), gapUs = 10L, idleTimeoutMs = 2000L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("closed_timeout_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def rows() = spark.table("closed_timeout_out")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val t0 = System.currentTimeMillis
    input.addData((1L, 0L), (1L, 5L), (2L, 100L))
    Thread.sleep(800) // well under the 2 s timeout: data processed, no flush
    // the negative check is gated on wall time: on a stalled host (GC,
    // CI contention) more than 2 s can elapse before the probe, at which
    // point a flush is CORRECT behavior — skip rather than false-fail
    if (System.currentTimeMillis - t0 < 1500)
      assert(rows().isEmpty, "nothing may close before the idle timeout expires")
    // with NO further data, the quiet keys must flush by timeout alone
    awaitSink("timeout flush of both open tails") {
      rows().toSet == Set((1L, 0L, 5L, 2L), (2L, 100L, 100L, 1L))
    }
    // freed state: a later event for key 1 starts a FRESH session — had the
    // row survived, the 1000-µs event would gap-close the old [0,5] span a
    // SECOND time (duplicate emission) instead of opening anew
    input.addData((1L, 1000L))
    awaitSink("timeout flush of the fresh session") {
      rows().contains((1L, 1000L, 1000L, 1L))
    }
    val all = rows()
    assert(all.count(_ == ((1L, 0L, 5L, 2L))) == 1,
      "a timeout-flushed session must never re-emit")
    assert(all.count(_ == ((1L, 1000L, 1000L, 1L))) == 1,
      "a post-flush event must open (and here timeout-close) a fresh session")
    // state size DROPS: three sessions were ever open, all rows now freed
    awaitSink("state rows freed") {
      Option(q.lastProgress).exists(_.stateOperators.head.numRowsTotal == 0L)
    }
    q.stop()
  }

  test("runningUserStats: opt-in idle timeout frees a quiet key's row (count restarts)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val out = graft.streaming.Streaming.runningUserStats(input.toDS(), idleTimeoutMs = 1000L)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("stats_timeout_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def user1() = spark.table("stats_timeout_out")
      .as[graft.streaming.UserStats].collect().filter(_.user_id == 1L).toSeq
    input.addData((1L, 10.0), (1L, 20.0))
    // the flush re-emits the final snapshot once more: two identical rows
    awaitSink("snapshot + timeout flush")(user1().count(_.n_events == 2L) == 2)
    input.addData((1L, 99.0)) // key 1 returns AFTER its flush
    awaitSink("restarted count")(user1().exists(s => s.n_events == 1L && s.last_value == 99.0))
    assert(!user1().exists(_.n_events == 3L),
      s"the freed row must not keep accumulating, got ${user1()}")
    q.stop()
  }

  // The event-time variants flush on the WATERMARK, which only moves with
  // data — so batches are not constructed continuously and
  // processAllAvailable is safe again (unlike the processing-time trio).

  test("closedSessionsStreamEventTime: flushes follow the watermark, not the wall clock") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.Streaming.closedSessionsStreamEventTime(
        input.toDS(), gapUs = 10000L, idleUs = 100000L)
      .writeStream.outputMode("append").format("memory").queryName("sess_et_wm").start()
    def rows() = spark.table("sess_et_wm").as[(Long, Long, Long, Long)].collect().toSeq
    input.addData((1L, 1000L), (1L, 2000L))
    q.processAllAvailable()
    Thread.sleep(1500) // wall time passes; the watermark does not
    q.processAllAvailable()
    // a DETERMINISTIC negative (the processing-time variant had to gate
    // its equivalent on host wall time): no data, no watermark, no flush
    assert(rows().isEmpty, s"no flush may happen without the watermark moving, got ${rows()}")
    // one event advances the watermark past 2000 + idle -> the tail flushes
    input.addData((9L, 10000000L))
    q.processAllAvailable()
    assert(rows().contains((1L, 1000L, 2000L, 2L)),
      s"the quiet tail must flush once the watermark passes it, got ${rows()}")
    q.stop()
  }

  test("closedSessionsStreamEventTime: flush contents identical across a kill+restart (replay determinism)") {
    // VERDICT r18 item 4's Done criterion: processing-time flushes can land
    // at different batch boundaries on a checkpoint-recovery replay; the
    // watermark is persisted per batch in the offset log, so the
    // event-time variant's flush decisions are a pure function of the data
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, 1000L), (1L, 2000L), (2L, 1000000L))
    val b2 = Seq((2L, 50000000L))
    val b3 = Seq((3L, 200000000L))
    val b4 = Seq((3L, 400000000L))
    def run(kill: Boolean): Seq[(Long, Long, Long, Long)] = {
      val out = Files.createTempDirectory("graft-et-sess-out").toString
      val ckpt = Files.createTempDirectory("graft-et-sess-ckpt").toString
      val input = MemoryStream[(Long, Long)]
      def start() = graft.streaming.Streaming.closedSessionsStreamEventTime(
          input.toDS(), gapUs = 10000L, idleUs = 100000L)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      var q = start()
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      if (kill) { q.stop(); q = start() } // kill between triggers, resume from ckpt
      input.addData(b3: _*); q.processAllAvailable()
      input.addData(b4: _*); q.processAllAvailable()
      q.stop()
      spark.read.parquet(out).as[(Long, Long, Long, Long)].collect().toSeq.sorted
    }
    val ref = run(kill = false)
    val killed = run(kill = true)
    // both timeout flushes and both gap closes, nothing else
    assert(ref == Seq(
      (1L, 1000L, 2000L, 2L), (2L, 1000000L, 1000000L, 1L),
      (2L, 50000000L, 50000000L, 1L), (3L, 200000000L, 200000000L, 1L)).sorted,
      s"reference run emitted $ref")
    assert(killed == ref,
      s"a restarted query must flush the SAME sessions at the same boundaries:\n$killed\nvs\n$ref")
  }

  test("runningUserStatsEventTime: watermark-driven flush frees the row; count restarts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val q = graft.streaming.Streaming.runningUserStatsEventTime(input.toDS(), idleUs = 100000L)
      .writeStream.outputMode("update").format("memory").queryName("stats_et_out").start()
    def user1() = spark.table("stats_et_out")
      .as[graft.streaming.UserStats].collect().filter(_.user_id == 1L).toSeq
    input.addData((1L, 1000L, 10.0), (1L, 2000L, 20.0))
    q.processAllAvailable()
    assert(user1().count(_.n_events == 2L) == 1, "snapshot before any flush")
    input.addData((2L, 10000000L, 1.0)) // advances the watermark past 2000 + idle
    q.processAllAvailable()
    assert(user1().count(_.n_events == 2L) == 2,
      s"the flush must re-emit the final snapshot once more, got ${user1()}")
    input.addData((1L, 20000000L, 99.0)) // key 1 returns AFTER its flush
    q.processAllAvailable()
    assert(user1().exists(s => s.n_events == 1L && s.last_value == 99.0),
      s"a flushed key must restart from zero, got ${user1()}")
    assert(!user1().exists(_.n_events == 3L),
      s"the freed row must not keep accumulating, got ${user1()}")
    q.stop()
  }

  test("funnelDepthStreamEventTime: watermark-driven flush frees a chain that could still advance by window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String)]
    // window huge on purpose: the later click is INSIDE the view's window,
    // so only the idle flush can explain depth staying at 0
    val q = graft.streaming.Streaming.funnelDepthStreamEventTime(
        input.toDS(), windowUs = 1000000000L, idleUs = 100000L)
      .writeStream.outputMode("update").format("memory").queryName("funnel_et_out").start()
    def depths() = spark.table("funnel_et_out")
      .where(col("user") === 1L).select("depth").as[Int].collect().toSeq
    input.addData((1L, 1000L, 1L, "view"))
    q.processAllAvailable()
    input.addData((2L, 10000000L, 1L, "view")) // watermark past 1000 + idle
    q.processAllAvailable()
    assert(depths().count(_ == 1) == 2,
      s"view progress + its flush re-emission expected, got ${depths()}")
    input.addData((1L, 20000000L, 2L, "click")) // in-window, but the anchor was flushed
    q.processAllAvailable()
    assert(depths().contains(0) && !depths().contains(2),
      s"a flushed view must not anchor a later click, got ${depths()}")
    q.stop()
  }

  test("funnelDepthStream: opt-in idle timeout frees a quiet key's chain state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String)]
    val out = graft.streaming.Streaming.funnelDepthStream(
      input.toDS(), windowUs = 1000000L, idleTimeoutMs = 1000L)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("funnel_timeout_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def depths() = spark.table("funnel_timeout_out")
      .where(col("user") === 1L).select("depth").as[Int].collect().toSeq
    input.addData((1L, 10L, 1L, "view"))
    // depth-1 progress, then the same row once more as the timeout flush
    awaitSink("view + timeout flush")(depths().count(_ == 1) == 2)
    // key 1's view state was flushed: this click has no anchor, so even
    // though 50 − 10 is well inside the window the chain must NOT advance
    input.addData((1L, 50L, 2L, "click"))
    awaitSink("restarted chain reports depth 0")(depths().contains(0))
    assert(!depths().contains(2),
      s"a flushed view must not anchor a later click, got depths ${depths()}")
    q.stop()
  }
}
