package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import java.sql.Timestamp

import graft.streaming.{AckEvent, AckFrame, AckMatch, Frame, Reassembly, SentFrame, SessionState, TimedFrame}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** A9/A10/A11/A13 streaming semantics per FIXTURES.md §B2/B4: ordered
  * completion, duplicate/out-of-order rejection, final-chunk clamping,
  * TTL state eviction, and checkpoint recovery.
  *
  * Bounded runs use NoTimeout + Trigger.AvailableNow (ProcessingTimeTimeout
  * schedules no-data batches forever — see Reassembly.stream); the timeout
  * path is driven directly with TestGroupState.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def frames(uuid: String, text: String, c: Int = 8): Seq[Frame] =
    text.grouped(c).zipWithIndex.map { case (ch, i) => Frame(uuid, i + 1, ch, text.length.toLong) }.toSeq

  /** Feeds each batch of frames through a fresh bounded query run sharing
    * one checkpoint (phase N+1 recovers phase N's state), returns all acks.
    */
  private def run(batches: Seq[Frame]*): Seq[AckEvent] = {
    val enc = {
      import spark.implicits._
      implicitly[Encoder[Frame]]
    }
    val input = MemoryStream[Frame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-ckpt").toString
    val acc = new ConcurrentLinkedQueue[AckEvent]()
    batches.foreach { b =>
      input.addData(b)
      val q = Reassembly.stream(spark, input.toDS(), GroupStateTimeout.NoTimeout)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[AckEvent], _: Long) => ds.collect().foreach(acc.add) }
        .start()
      q.awaitTermination()
    }
    acc.asScala.toSeq
  }

  /** Reassembles the accepted byte flow from the acks — the same
    * concatenation the sink performs ([[graft.streaming.FileSink.assembled]]).
    */
  private def chunksOf(acks: Seq[AckEvent], uuid: String): String =
    acks.filter(a => a.uuid == uuid && (a.kind == "RECEIVED" || a.kind == "DONE"))
      .sortBy(_.next_seq).map(_.chunk).mkString

  test("in-order frames reassemble byte-identically and DONE closes the session") {
    val text = "the quick brown fox jumps over the lazy dog"
    val acks = run(frames("a", text)).sortBy(_.next_seq)
    assert(acks.last.kind == "DONE")
    assert(chunksOf(acks, "a") == text)
    assert(acks.count(_.kind == "RECEIVED") == frames("a", text).size - 1)
  }

  test("duplicate and premature frames are rejected; completes across restart") {
    val text = "abcdefghijklmnopqrstuvwxyz0123456789"
    val fs = frames("b", text)
    val acks = run(
      Seq(fs.head, fs.head, fs.last), // dup + premature final
      fs.tail) // completes in recovered run
    assert(acks.count(_.kind == "REJECT") == 2)
    assert(acks.exists(_.kind == "DONE"))
    assert(chunksOf(acks, "b") == text)
  }

  test("overlong final chunk is clamped to filesize (A10 clamp)") {
    // declared size 5, payloads total 8 -> trailing 3 bytes ignored
    val acks = run(Seq(Frame("c", 1, "hell", 5), Frame("c", 2, "oXXX", 5)))
    val done = acks.filter(_.kind == "DONE")
    assert(done.length == 1 && done.head.written == 5)
    assert(chunksOf(acks, "c") == "hello", "accepted chunk flow must carry the CLAMPED bytes")
  }

  test("session state is O(1) in filesize: bytes ride the acks, not the state") {
    def stateSizeFor(totalBytes: Int): Int = {
      val state = TestGroupState.create[SessionState](
        Optional.empty[SessionState], GroupStateTimeout.NoTimeout,
        1000L, Optional.empty[Long], hasTimedOut = false)
      // all frames but the last: the session stays open with state present
      val fs = (1 to totalBytes / 8).map(i => Frame("z", i, "01234567", totalBytes.toLong))
      val acks = Reassembly.update(ttl = false)("z", fs.dropRight(1).iterator, state).toSeq
      assert(acks.map(_.chunk.length).sum == totalBytes - 8, "bytes must leave on the acks")
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(state.get); oos.close()
      bos.size
    }
    val small = stateSizeFor(80)
    val large = stateSizeFor(80000)
    assert(small == large,
      s"state must not grow with transferred bytes: $small B at 80 B vs $large B at 80 KB")
  }

  test("TTL timeout evicts idle session and discards partial state (A13)") {
    val st = SessionState(expected = 3, written = 16, filesize = 100, rejected = 0)
    val state = TestGroupState.create[SessionState](
      Optional.of(st), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    val out = Reassembly.update(ttl = true)("d", Iterator.empty, state).toSeq
    assert(out == Seq(AckEvent("d", "EXPIRED", 3, 16, "")))
    assert(state.isRemoved)
  }

  test("trailing frame after in-batch completion draws REJECT, not a second DONE") {
    // filesize 4 reached at seq 2; seq 3 arrives in the SAME batch — the
    // session is closed at DONE (transf_server.cpp:295-326), so the extra
    // frame must be rejected rather than re-emitting DONE with content
    val acks = run(Seq(Frame("g", 1, "he", 4), Frame("g", 2, "llo", 4), Frame("g", 3, "xx", 4)))
    assert(acks.map(_.kind).sorted == Seq("DONE", "RECEIVED", "REJECT"))
    assert(acks.count(_.kind == "DONE") == 1)
  }

  // ---- event-time variant (withWatermark + EventTimeTimeout) -------------

  /** Like [[run]] but through the event-time wiring; watermark state is
    * recovered from the shared checkpoint between phases.
    */
  private def runET(batches: Seq[TimedFrame]*): Seq[AckEvent] = {
    val enc = {
      import spark.implicits._
      implicitly[Encoder[TimedFrame]]
    }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-et-ckpt").toString
    val acc = new ConcurrentLinkedQueue[AckEvent]()
    batches.foreach { b =>
      input.addData(b)
      val q = Reassembly.streamEventTime(spark, input.toDS())
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[AckEvent], _: Long) => ds.collect().foreach(acc.add) }
        .start()
      q.awaitTermination()
    }
    acc.asScala.toSeq
  }

  private def tf(uuid: String, seq: Int, payload: String, size: Long, tsSec: Long): TimedFrame =
    TimedFrame(uuid, seq, payload, size, new Timestamp(tsSec * 1000L))

  test("event-time timeout evicts a session once the watermark passes its TTL (A13)") {
    val acks = runET(
      // w1 receives 2 of 3 chunks at t=10s,20s -> TTL deadline 40s
      Seq(tf("w1", 1, "aaaa", 12, 10), tf("w1", 2, "bbbb", 12, 20)),
      // unrelated traffic advances the watermark to 120-20 = 100s > 40s
      Seq(tf("w2", 1, "x", 1, 120)),
      // next batch evaluates timeouts against watermark 100s -> w1 expires
      Seq(tf("w3", 1, "y", 1, 130)))
    val expired = acks.filter(_.kind == "EXPIRED")
    assert(expired.map(_.uuid) == Seq("w1"), s"acks: $acks")
    assert(expired.head.written == 8) // partial progress discarded at eviction
    assert(!acks.exists(a => a.uuid == "w1" && a.kind == "DONE"))
  }

  test("out-of-order frame cannot shrink the event-time TTL deadline") {
    val acks = runET(
      // newest frame at t=100 -> deadline 120
      Seq(tf("m", 1, "aaaa", 100, 100)),
      // out-of-order (rejected) frame at t=90: deadline must STAY 120,
      // not reset to 90+20=110
      Seq(tf("m", 3, "cccc", 100, 90)),
      // watermark advances to 135-20 = 115: past the WRONG deadline (110)
      // but short of the correct one (120) -> session must stay alive
      Seq(tf("adv3", 1, "x", 1, 135)),
      // continuation lands normally
      Seq(tf("m", 2, "bbbb", 100, 116)))
    assert(!acks.exists(a => a.uuid == "m" && a.kind == "EXPIRED"),
      s"session expired although newest-frame+TTL had not passed: $acks")
    val m = acks.filter(a => a.uuid == "m")
    assert(m.map(_.kind).sorted == Seq("RECEIVED", "RECEIVED", "REJECT"), s"acks: $m")
    assert(m.exists(a => a.kind == "RECEIVED" && a.written == 8), "continuation frame accepted")
  }

  test("late frame below the watermark is dropped before reaching state") {
    val acks = runET(
      // seq 1 at t=200s -> watermark after batch = 180s; expected next = 2
      Seq(tf("x", 1, "aaaa", 100, 200)),
      // seq 2 arrives with ts=50s < watermark 180s: dropped by the
      // watermark filter — were it delivered, it IS the expected seq and
      // would ack RECEIVED, so the missing ack proves the drop
      Seq(tf("x", 2, "bbbb", 100, 50)),
      // an in-time seq 2 then lands normally: state was not corrupted
      Seq(tf("x", 2, "bbbb", 100, 210)))
    val forX = acks.filter(_.uuid == "x").sortBy(_.next_seq)
    assert(forX.map(_.kind) == Seq("RECEIVED", "RECEIVED"), s"acks: $forX")
    assert(forX.last.written == 8)
  }

  test("windowed aggregation emits a window exactly once, when the watermark closes it") {
    import graft.streaming.WindowedCounts
    import org.apache.spark.sql.Row
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-win-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(java.sql.Timestamp, String, Long, Long)]()
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = WindowedCounts.stream(spark, input.toDS(), windowLength = "1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          df.collect().foreach(r => acc.add((r.getTimestamp(0), r.getString(2), r.getLong(3), r.getLong(4))))
        }
        .start()
      q.awaitTermination()
    }
    def tfAt(uuid: String, seq: Int, sec: Long) =
      TimedFrame(uuid, seq, "abcd", 100L, new java.sql.Timestamp(sec * 1000L))
    // window [60,120) gets 3 frames for u1; nothing emits yet (watermark 0)
    phase(Seq(tfAt("u1", 1, 61), tfAt("u1", 2, 70), tfAt("u1", 3, 119)))
    assert(acc.isEmpty, "window must not emit while it can still receive data")
    // advance the watermark past 120 -> [60,120) closes and emits once
    phase(Seq(tfAt("u2", 1, 300)))
    phase(Seq(tfAt("u2", 2, 400)))
    val rows = acc.asScala.toSeq
    val u1 = rows.filter(_._2 == "u1")
    assert(u1 == Seq((new java.sql.Timestamp(60 * 1000L), "u1", 3L, 12L)), s"rows: $rows")
  }

  test("frequent-items sketch merges across micro-batches, emits once on close, and keeps the MG bounds") {
    import graft.streaming.{FrequentItems, TimedItem}
    import org.apache.spark.sql.Row
    val enc = { import spark.implicits._; implicitly[Encoder[TimedItem]] }
    val input = MemoryStream[TimedItem](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-freq-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(java.sql.Timestamp, Long, Map[String, Long])]()
    val k = 4
    def phase(is: Seq[TimedItem]): Unit = {
      input.addData(is)
      val q = FrequentItems.stream(spark, input.toDS(), k = k, windowLength = "1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          df.collect().foreach { r =>
            val cands = r.getSeq[Row](3).map(e => e.getString(0) -> e.getLong(1)).toMap
            acc.add((r.getTimestamp(0), r.getLong(2), cands))
          }
        }
        .start()
      q.awaitTermination()
    }
    def at(item: String, sec: Long) = TimedItem(new java.sql.Timestamp(sec * 1000L), item)
    // window [60,120): "hot" dominates, split ACROSS two micro-batches so
    // the sketch state must merge through the state store; 12 distinct
    // tail items (> k slots) force genuine eviction
    val batch1 = (0 until 14).map(i => at("hot", 61 + (i % 50))) ++
      (0 until 6).map(i => at(s"tail$i", 65 + i))
    val batch2 = (0 until 16).map(i => at("hot", 70 + (i % 40))) ++
      (6 until 12).map(i => at(s"tail$i", 80 + (i - 6))) ++
      // a null item carries no frequency information: skipped by the
      // sketch AND excluded from n (the second-pass threshold base)
      Seq(at(null, 90))
    phase(batch1)
    assert(acc.isEmpty, "window must not emit while it can still receive data")
    phase(batch2)
    assert(acc.isEmpty, "window must not emit while it can still receive data")
    // advance the watermark past 120 -> [60,120) closes and emits once
    phase(Seq(at("w2a", 300), at("w2a", 301), at("w2b", 302)))
    val rows = acc.asScala.toSeq
    assert(rows.size == 1, s"expected exactly the closed window, got: $rows")
    val (ws, n, cands) = rows.head
    assert(ws == new java.sql.Timestamp(60 * 1000L))
    assert(n == 42L, s"window total: $n") // 30 hot + 12 tails
    assert(cands.size <= k, s"sketch must hold <= k entries: $cands")
    // true("hot") = 30 > n/(k+1) = 8 -> guaranteed present, est in bounds
    val bound = n / (k + 1)
    assert(cands.contains("hot"), s"heavy item missing after cross-batch merge: $cands")
    assert(cands("hot") <= 30L && cands("hot") >= 30L - bound,
      s"est out of [${30L - bound}, 30]: ${cands("hot")}")
    // every estimate is an undercount of its true in-window count
    val truth = (batch1 ++ batch2).groupBy(_.item).map { case (s, xs) => s -> xs.size.toLong }
    cands.foreach { case (item, est) =>
      assert(est <= truth(item), s"overcount for $item: est=$est true=${truth(item)}")
      assert(est >= truth(item) - bound, s"$item est=$est below bound")
    }
  }

  test("file sink streams chunks per batch and reassembles byte-identically (A14)") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[Frame]] }
    val input = MemoryStream[Frame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-sink-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-sink-out").toString
    val textA = "sink test content alpha"
    val textB = "sink test content beta, longer than the first one"
    def phase(fs: Seq[Frame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.stream(spark, input.toDS(), GroupStateTimeout.NoTimeout), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    // sb's transfer SPANS batches: its early chunks land in batch 0, the
    // remainder in batch 1 — assembly must stitch across batch dirs
    val fb = frames("sb", textB)
    phase(frames("sa", textA) ++ fb.take(2))
    phase(fb.drop(2))
    val assembledRows = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(assembledRows == Map(
      "sa" -> (textA.length.toLong, textA),
      "sb" -> (textB.length.toLong, textB)))
    // per-batch dirs hold only that batch's bytes (incremental flush, the
    // reference's append-as-you-go), never a whole buffered file
    val batch0 = spark.read.parquet(s"$outDir/batch=0")
    assert(batch0.filter("uuid = 'sb'").count() == 2)
  }

  test("content-store purge removes every byte of the purged uuid, spares the rest, and replays free") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[Frame]] }
    val input = MemoryStream[Frame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-purge-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-purge-out").toString
    val textA = "purge me: sensitive payload alpha"
    val textB = "keep me: innocent payload beta, spanning batches"
    def phase(fs: Seq[Frame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.stream(spark, input.toDS(), GroupStateTimeout.NoTimeout), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    // pa spans batches 0 and 1 — the purge must rewrite BOTH dirs
    val fa = frames("pa", textA)
    phase(fa.take(2) ++ frames("pb", textB))
    phase(fa.drop(2))
    assert(FileSink.assembled(spark, outDir).collect().map(_.getString(0)).toSet ==
      Set("pa", "pb"))
    val dropped = FileSink.purgeUuids(spark, outDir, Seq("pa"))
    assert(dropped >= fa.size.toLong, s"all of pa's chunk rows must drop: $dropped")
    // the surviving transfer still assembles byte-identically
    val after = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(after == Map("pb" -> textB))
    // NO raw row with the purged uuid remains anywhere on disk — the
    // right-to-be-forgotten bar is bytes at rest, not reader filtering
    val raw = spark.read.option("basePath", outDir).option("mergeSchema", "true")
      .parquet(outDir)
    assert(raw.filter(org.apache.spark.sql.functions.col("uuid") === "pa").count() == 0,
      "purged payload bytes survive at rest")
    assert(raw.filter(org.apache.spark.sql.functions.col("uuid") === "pb").count() > 0)
    // a replayed deletion request is a free no-op
    assert(FileSink.purgeUuids(spark, outDir, Seq("pa")) == 0L)
    // and the sink keeps working after the rewrite: a new transfer lands
    phase(frames("pc", "post-purge transfer"))
    assert(FileSink.assembled(spark, outDir).collect().map(_.getString(0)).toSet ==
      Set("pb", "pc"))
  }

  test("expired-session compaction drops the expired generation's chunk rows, keeps completed sessions (A13 sweep)") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-compact-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-compact-out").toString
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.streamEventTime(spark, input.toDS()), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    val okText = "complete content" // 2 chunks of 8
    val advText = "adv text adv tex"
    // batch 0: "ok" completes; "gone" lands chunk 1 of 2 and stalls
    phase(Seq(
      tf("ok", 1, okText.substring(0, 8), 16, 100), tf("ok", 2, okText.substring(8), 16, 101),
      tf("gone", 1, "partial!", 16, 100)))
    // batch 1 advances the watermark past gone's deadline (100+20 s);
    // batch 2's timeout sweep then expires it (EXPIRED marker row)
    phase(Seq(tf("adv", 1, advText.substring(0, 8), 16, 200)))
    phase(Seq(tf("adv", 2, advText.substring(8), 16, 210)))
    def raw() = spark.read.option("basePath", outDir)
      .option("mergeSchema", "true").parquet(outDir)
    assert(raw().filter("uuid = 'gone'").count() == 2,
      "precondition: the stalled chunk row AND the expired marker are on disk")
    val dropped = FileSink.compactExpiredChunks(spark, outDir)
    assert(dropped == 2, s"chunk row + marker of the expired generation, got $dropped")
    assert(raw().filter("uuid = 'gone'").count() == 0, "expired generation erased")
    assert(raw().filter("uuid = 'ok'").count() == 2, "completed session untouched")
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("ok" -> okText, "adv" -> advText), s"assembly unchanged: $out")
    assert(FileSink.compactExpiredChunks(spark, outDir) == 0L, "compaction is idempotent")
  }

  test("compaction spares a COMPLETED instance that shares (uuid, gen 0) with a later expired retry") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-genreuse-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-genreuse-out").toString
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.streamEventTime(spark, input.toDS()), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    val okText = "complete content" // 2 chunks of 8
    val advText = "adv text adv tex"
    // batch 0: 'u' COMPLETES (gen 0, done). batch 1: 'u' reopens — state
    // was removed at completion, so the retry is ALSO gen 0 (gen is a
    // within-lifetime counter) — lands chunk 1 of 2 and stalls.
    phase(Seq(
      tf("u", 1, okText.substring(0, 8), 16, 100), tf("u", 2, okText.substring(8), 16, 101)))
    phase(Seq(tf("u", 1, "partial!", 16, 150)))
    // two more batches advance the watermark past the retry's deadline
    // and run the timeout sweep -> EXPIRED marker for (u, gen 0)
    phase(Seq(tf("adv", 1, advText.substring(0, 8), 16, 300)))
    phase(Seq(tf("adv", 2, advText.substring(8), 16, 310)))
    // pre-compaction: the retry's chunk MASKS seq 1 (newer batch wins) —
    // the documented overwrite-on-collision corruption
    val masked = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(masked("u") == "partial!" + okText.substring(8),
      s"precondition: retry chunk masks the completed seq 1: $masked")
    // compaction must doom ONLY the retry instance's rows (chunk + marker
    // in batches AFTER the completion), not the completed gen-0 rows
    val dropped = FileSink.compactExpiredChunks(spark, outDir)
    assert(dropped == 2, s"retry chunk + marker, got $dropped")
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("u" -> okText, "adv" -> advText),
      s"the completed instance must become readable again: $out")
    assert(FileSink.compactExpiredChunks(spark, outDir) == 0L, "compaction is idempotent")
  }

  test("compaction with a DONE and its retry sharing ONE batch dooms only the retry (gen disambiguates)") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-sbgen-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-sbgen-out").toString
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.streamEventTime(spark, input.toDS()), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    val okText = "complete content" // 2 chunks of 8
    val advText = "adv text adv tex"
    // batch 0: 'u' COMPLETES (gen 0) and then REOPENS in the SAME batch —
    // the in-batch reopen gets gen 1 (processFrames increments; gen only
    // restarts to 0 when the completion was in an earlier batch), which is
    // exactly what keeps the doom interval's open lower end safe: the
    // expired retry's rows share the DONE's batch but never its gen
    // 'u' exercises the LATER-batch reopen (gen restarts to 0, interval
    // lower end = the done batch); a trailing non-seq-1 frame on the
    // closed generation draws REJECT and lands no chunk row
    phase(Seq(
      tf("u", 1, okText.substring(0, 8), 16, 100), tf("u", 2, okText.substring(8), 16, 101),
      tf("u", 3, "noise!!!", 16, 102)))
    phase(Seq(tf("u", 1, "partial!", 16, 103)))
    // 'v' exercises the SAME-batch reopen: a single-frame transfer
    // completes gen 0, then a second seq-1 frame in the SAME batch
    // reopens as gen 1 and stalls — DONE and retry share the batch
    // (multi-frame completions can't reopen in-batch: the retry's seq-1
    // sorts before the closing frame and draws REJECT, the documented
    // interleaving degradation)
    val vText = "complete"
    phase(Seq(
      tf("v", 1, vText, 8, 100),
      tf("v", 1, "partial!", 16, 102)))
    // advance watermark past both stalled retries' deadlines; the sweep
    // emits EXPIRED markers for (u, gen 0 retry) and (v, gen 1)
    phase(Seq(tf("adv", 1, advText.substring(0, 8), 16, 300)))
    phase(Seq(tf("adv", 2, advText.substring(8), 16, 310)))
    def raw() = spark.read.option("basePath", outDir)
      .option("mergeSchema", "true").parquet(outDir)
    // precondition: v's DONE rows and its retry's chunk share batch 2 but
    // carry distinct gens — the structural invariant the doom scope rests on
    val vGens = raw().filter("uuid = 'v' AND NOT expired")
      .select("gen").distinct().collect().map(_.getInt(0)).sorted
    assert(vGens.sameElements(Array(0, 1)), s"in-batch reopen must get gen 1: ${vGens.toSeq}")
    val dropped = FileSink.compactExpiredChunks(spark, outDir)
    // doomed: u's later-batch retry chunk + marker, v's in-batch retry
    // chunk + marker = 4 rows; both completed gen-0 instances survive
    assert(dropped == 4, s"both retries' chunk+marker rows, got $dropped")
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("u" -> okText, "v" -> vText, "adv" -> advText),
      s"both completed instances readable, retries erased: $out")
  }

  test("compaction crash windows: pre-commit crash rolls back, post-commit crash rolls forward") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-crash-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-crash-out").toString
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.streamEventTime(spark, input.toDS()), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    val okText = "complete content"
    val advText = "adv text adv tex"
    phase(Seq(
      tf("ok", 1, okText.substring(0, 8), 16, 100), tf("ok", 2, okText.substring(8), 16, 101),
      tf("gone", 1, "partial!", 16, 100)))
    phase(Seq(tf("adv", 1, advText.substring(0, 8), 16, 200)))
    phase(Seq(tf("adv", 2, advText.substring(8), 16, 210)))
    def raw() = spark.read.option("basePath", outDir)
      .option("mergeSchema", "true").parquet(outDir)
    // crash AFTER phase 1: replacement dirs exist, manifest does not —
    // the compaction never committed, so readers see the original rows
    intercept[RuntimeException] {
      FileSink.compactExpiredChunks(spark, outDir, failAfterPhase = 1)
    }
    assert(raw().filter("uuid = 'gone'").count() == 2,
      "pre-commit crash: originals untouched")
    // the next compaction entry rolls the orphans back and re-runs from
    // scratch — then crash AFTER phase 2: the manifest is committed but
    // no directory has been swapped yet, so originals are STILL complete
    intercept[RuntimeException] {
      FileSink.compactExpiredChunks(spark, outDir, failAfterPhase = 2)
    }
    assert(raw().filter("uuid = 'gone'").count() == 2,
      "post-commit crash: no swap has run, originals still complete")
    // a PLAIN READ self-heals: assembled() runs recoverCompaction first,
    // so the committed compaction rolls forward without any caller running
    // compactExpiredChunks — readers never see a half-compacted sink
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("ok" -> okText, "adv" -> advText), s"assembly unchanged: $out")
    assert(raw().filter("uuid = 'gone'").count() == 0,
      "the read's recovery pass finished the committed swaps")
    assert(raw().filter("uuid = 'ok'").count() == 2, "completed session untouched")
    // recovery consumed the markers with the doomed rows — nothing left
    assert(FileSink.compactExpiredChunks(spark, outDir) == 0L,
      "a fresh compaction after recovery is a no-op")
  }

  test("claim lifecycle: young claims block compaction and defer readers; aged claims adopt") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-claim-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-claim-out").toString
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.streamEventTime(spark, input.toDS()), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    val okText = "complete content"
    val advText = "adv text adv tex"
    phase(Seq(
      tf("ok", 1, okText.substring(0, 8), 16, 100), tf("ok", 2, okText.substring(8), 16, 101),
      tf("gone", 1, "partial!", 16, 100)))
    phase(Seq(tf("adv", 1, advText.substring(0, 8), 16, 200)))
    phase(Seq(tf("adv", 2, advText.substring(8), 16, 210)))
    // commit the manifest but crash before any swap, then simulate a
    // recoverer that claimed it and died mid-swap
    intercept[RuntimeException] {
      FileSink.compactExpiredChunks(spark, outDir, failAfterPhase = 2)
    }
    val manifest = new java.io.File(outDir, "_compaction_manifest")
    val claim = new java.io.File(outDir, "._compaction_manifest.claimed-dead0000")
    assert(manifest.renameTo(claim), "simulated claim")
    assert(claim.setLastModified(System.currentTimeMillis()))
    def goneRows() = spark.read.option("basePath", outDir)
      .option("mergeSchema", "true").parquet(outDir).filter("uuid = 'gone'").count()
    // YOUNG claim: a presumed-live swapper — compaction fails loudly,
    // readers leave it alone and keep serving the pre-swap state
    intercept[IllegalStateException] { FileSink.compactExpiredChunks(spark, outDir) }
    val outYoung = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(outYoung == Map("ok" -> okText, "adv" -> advText))
    assert(goneRows() == 2, "young claim: no swap may run")
    assert(claim.exists(), "young claim left in place")
    // AGED claim: the next reader adopts (atomic re-claim) and finishes
    assert(claim.setLastModified(
      System.currentTimeMillis() - FileSink.ClaimGraceMs - 60000L))
    val outAged = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(outAged == Map("ok" -> okText, "adv" -> advText))
    assert(goneRows() == 0, "aged claim adopted: swaps finished by the reader")
    assert(!claim.exists(), "adopted claim retired")
    assert(FileSink.compactExpiredChunks(spark, outDir) == 0L, "nothing left to compact")
  }

  test("claim grace is configurable: spark.graft.filesink.claimGraceMs shortens the healing window") {
    import graft.streaming.FileSink
    val outDir = Files.createTempDirectory("graft-spec-grace").toString
    def remainingClaims(): Array[java.io.File] =
      new java.io.File(outDir).listFiles().filter(_.getName.startsWith("._compaction_manifest.claimed-"))
    val claim = new java.io.File(outDir, "._compaction_manifest.claimed-test0000")
    java.nio.file.Files.write(claim.toPath, Array.empty[Byte])
    assert(claim.setLastModified(System.currentTimeMillis() - 5000L))
    // default grace (10 min): a 5-second-old claim is presumed live
    FileSink.recoverForRead(spark, outDir)
    assert(claim.exists(), "default grace must leave a young claim in place")
    // shortened grace: the SAME claim is past 1 s and must be adopted
    // (re-claimed, its empty swap list replayed, then retired)
    spark.conf.set("spark.graft.filesink.claimGraceMs", "1000")
    try {
      FileSink.recoverForRead(spark, outDir)
      assert(remainingClaims().isEmpty,
        s"a 5 s old claim must be adopted and retired under a 1 s grace: ${remainingClaims().toSeq}")
    } finally spark.conf.unset("spark.graft.filesink.claimGraceMs")
  }

  test("a reading recovery never deletes another compaction's in-flight phase-1 dirs") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-inflight-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-inflight-out").toString
    val okText = "complete content"
    input.addData(Seq(
      tf("ok", 1, okText.substring(0, 8), 16, 100), tf("ok", 2, okText.substring(8), 16, 101)))
    val q = FileSink.chunksToParquet(
      Reassembly.streamEventTime(spark, input.toDS()), outDir)
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    // simulate a LIVE compaction mid-phase-1: a hidden replacement dir
    // exists, the manifest is not yet committed. A reader's recovery
    // must leave it alone — deleting it would make the compactor's
    // imminent commit silently skip this batch (the pre-claim reader
    // recovery did exactly that)
    val inflight = java.nio.file.Paths.get(outDir, ".compact-batch=0")
    java.nio.file.Files.createDirectory(inflight)
    java.nio.file.Files.write(inflight.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("ok" -> okText), "read unaffected by in-flight phase-1 debris")
    assert(java.nio.file.Files.exists(inflight),
      "reader recovery deleted a live compaction's phase-1 directory")
    // the single-actor compaction entry DOES clean it (no manifest = rollback)
    FileSink.recoverCompaction(spark, outDir)
    assert(!java.nio.file.Files.exists(inflight), "compaction-entry rollback reaps the orphan")
  }

  test("streaming LSH index maintenance: a replayed batch appends nothing (idempotent)") {
    import graft.operators.VectorOps
    val sfDir = "/root/testdata/sf0.001"
    val table = "graft_lsh_replay_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_meta")
    val nBits = VectorOps.writeLshIndex(spark, sfDir, table)
    val before = spark.table(table).count()
    val v1 = Array.tabulate(64)(i => math.sin(i + 1).toFloat).toSeq
    val v2 = Array.tabulate(64)(i => math.cos(i + 1).toFloat).toSeq
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, Seq[Float])]] }
    val input = MemoryStream[(Long, Seq[Float])](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-idx-ckpt").toString
    input.addData(Seq((999001L, v1), (999002L, v2)))
    val q = VectorOps.lshIndexMaintenance(
      spark, input.toDS().toDF("vec_id", "embedding"), table, nBits)
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    assert(spark.table(table).count() == before + 2, "first delivery appends both rows")
    // at-least-once REPLAY: re-deliver the exact batch the sink already
    // committed (what foreachBatch does after a failure between the
    // append and the checkpoint commit)
    val replay = { import spark.implicits._; Seq((999001L, v1), (999002L, v2)).toDF("vec_id", "embedding") }
    VectorOps.appendToLshIndexIdempotent(spark, replay, table, nBits)
    assert(spark.table(table).count() == before + 2, "replayed batch must append nothing")
    // probe results unchanged: exactly one index row per appended id, so
    // a probe can never see a duplicated candidate
    assert(spark.table(table).filter("vec_id >= 999001").count() == 2)
    val probed = VectorOps.probeLshIndex(spark, table, v1.toArray, nBits, 3)
      .collect().map(_.getLong(0))
    assert(probed.headOption.contains(999001L), s"self is the 1-NN: ${probed.toSeq}")
    assert(probed.distinct.length == probed.length, "no duplicate candidates after replay")
    // WITHIN-batch duplicate: the same new vec_id delivered twice in one
    // batch passes the at-rest anti-join twice — within-batch dedup must
    // keep exactly one row
    val v3 = Array.tabulate(64)(i => math.tan(i + 1).toFloat).toSeq
    val dup = { import spark.implicits._; Seq((999003L, v3), (999003L, v3)).toDF("vec_id", "embedding") }
    VectorOps.appendToLshIndexIdempotent(spark, dup, table, nBits)
    assert(spark.table(table).filter("vec_id = 999003").count() == 1,
      "a within-batch duplicate vec_id must land exactly once")
  }

  test("streaming IVF index maintenance: a replayed batch appends nothing (idempotent)") {
    import graft.operators.VectorOps
    val sfDir = "/root/testdata/sf0.001"
    val table = "graft_ivf_replay_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_codebook")
    VectorOps.writeIvfIndex(spark, sfDir, table)
    val before = spark.table(table).count()
    val v1 = Array.tabulate(64)(i => math.sin(i + 2).toFloat).toSeq
    val v2 = Array.tabulate(64)(i => math.cos(i + 2).toFloat).toSeq
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, Seq[Float])]] }
    val input = MemoryStream[(Long, Seq[Float])](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-ivf-ckpt").toString
    input.addData(Seq((888001L, v1), (888002L, v2)))
    val q = VectorOps.ivfIndexMaintenance(
      spark, input.toDS().toDF("vec_id", "embedding"), table)
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    // multiAssign=2: each appended vector carries two cell rows
    assert(spark.table(table).count() == before + 4,
      "first delivery appends both vectors under the build-time multiAssign")
    val replay = { import spark.implicits._; Seq((888001L, v1), (888002L, v2)).toDF("vec_id", "embedding") }
    VectorOps.appendToIvfIndexIdempotent(spark, replay, table)
    assert(spark.table(table).count() == before + 4, "replayed batch must append nothing")
    // a replay can never land a PARTIAL second assignment either: exactly
    // one primary + one secondary row per appended id
    val perId = spark.table(table).filter("vec_id >= 888001")
      .groupBy("vec_id").count().collect().map(_.getLong(1)).toSeq
    assert(perId == Seq(2L, 2L), s"each appended id keeps exactly its multiAssign rows: $perId")
  }

  test("file sink: a retried uuid overwrites the old generation (overwrite-on-collision)") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[Frame]] }
    val input = MemoryStream[Frame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-gen-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-gen-out").toString
    // generation 1 is LONGER than generation 2: the stale tail beyond the
    // new DONE's written must not leak into the reassembled content
    val gen1 = "the first, longer transfer content for this uuid"
    val gen2 = "the shorter retry"
    def phase(fs: Seq[Frame]): Unit = {
      input.addData(fs)
      val q = FileSink.chunksToParquet(
        Reassembly.stream(spark, input.toDS(), GroupStateTimeout.NoTimeout), outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    phase(frames("r", gen1)) // completes; state erased on DONE
    phase(frames("r", gen2)) // same uuid reopens -> second generation
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == Map("r" -> (gen2.length.toLong, gen2)),
      s"latest generation must fully mask the older one: $out")
  }

  test("file sink: complete + reopen of one uuid in a SINGLE micro-batch resolves to the newer generation") {
    import graft.streaming.FileSink
    val enc = { import spark.implicits._; implicitly[Encoder[Frame]] }
    val input = MemoryStream[Frame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-igen-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-igen-out").toString
    // generation 0 completes with a single frame, then the SAME batch
    // carries a fresh seq-1..2 run for the uuid (DONE erased the state, so
    // it reopens as generation 1). Both generations' chunks share (uuid,
    // seq, batch); without the gen disambiguator the seq-1 winner would be
    // picked by CHUNK CONTENT ("old!" > "newer " lexicographically) and
    // the assembled bytes would interleave generations.
    input.addData(Seq(Frame("ib", 1, "old!", 4)) ++ frames("ib", "newer stuff!", 6))
    val q = FileSink.chunksToParquet(
      Reassembly.stream(spark, input.toDS(), GroupStateTimeout.NoTimeout), outDir)
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == Map("ib" -> (12L, "newer stuff!")),
      s"newer in-batch generation must win deterministically: $out")
    // both generations' rows really landed in ONE batch directory
    val rows = spark.read.option("basePath", outDir).parquet(outDir)
    assert(rows.select("batch").distinct().count() == 1)
    assert(rows.filter("seq = 1").count() == 2, "two generations of seq 1 in the batch")
  }

  test("file sink: a directory MIXING pre-generation and generation batch dirs keeps (batch, gen) ordering") {
    import graft.streaming.FileSink
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-spec-mixgen-out").toString
    // batch=0 written by a pre-generation sink: no gen column in its footer
    Seq(("m", 0L, "zzzz-legacy", false, 6L))
      .toDF("uuid", "seq", "chunk", "done", "written")
      .write.parquet(s"$outDir/batch=0")
    // batch=1 carries TWO generations of (m, seq 0); gen 1 must win even
    // though gen 0's chunk is lexicographically LARGER. If the mixed read
    // inferred its schema from the legacy footer and dropped gen, the
    // content tie-break would resurrect "zzzz-0" here.
    Seq(("m", 0L, "zzzz-0", false, 6L, 0L),
        ("m", 0L, "new-b1", false, 6L, 1L),
        ("m", 1L, "", true, 6L, 1L))
      .toDF("uuid", "seq", "chunk", "done", "written", "gen")
      .write.parquet(s"$outDir/batch=1")
    val out = FileSink.assembled(spark, outDir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("m" -> "new-b1"),
      s"gen ordering must survive a mixed pre/post-generation directory: $out")
  }

  test("stream-stream ack join: matched frames emit true, timed-out frames false (A12 streaming)") {
    import org.apache.spark.sql.Row
    val sentEnc = { import spark.implicits._; implicitly[Encoder[SentFrame]] }
    val ackEnc = { import spark.implicits._; implicitly[Encoder[AckFrame]] }
    val sentIn = MemoryStream[SentFrame](sentEnc, spark.sqlContext)
    val ackIn = MemoryStream[AckFrame](ackEnc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-ss-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(String, Int, Boolean)]()
    def phase(): Unit = {
      val q = AckMatch.stream(spark, sentIn.toDS(), ackIn.toDS())
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          df.collect().foreach(r => acc.add((r.getString(0), r.getInt(1), r.getBoolean(3))))
        }
        .start()
      q.awaitTermination()
    }
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // s1 acked in-window; s2 never acked; s3 acked too late (outside 20 s)
    sentIn.addData(Seq(SentFrame("s1", 1, at(10)), SentFrame("s2", 1, at(11)), SentFrame("s3", 1, at(12))))
    ackIn.addData(Seq(AckFrame("s1", 2, at(15)), AckFrame("s3", 2, at(50))))
    phase()
    // advance BOTH watermarks past every window (watermark = min of inputs)
    sentIn.addData(Seq(SentFrame("adv", 1, at(200))))
    ackIn.addData(Seq(AckFrame("adv", 2, at(201))))
    phase()
    sentIn.addData(Seq(SentFrame("adv2", 1, at(210))))
    ackIn.addData(Seq(AckFrame("adv2", 2, at(211))))
    phase()
    val results = acc.asScala.toSeq.filter(_._1.startsWith("s")).sortBy(_._1)
    assert(results.contains(("s1", 1, true)), s"results: $results")
    assert(results.contains(("s2", 1, false)), s"s2 must surface unmatched after watermark: $results")
    assert(results.contains(("s3", 1, false)), s"late ack must not match: $results")
  }

  test("ingest dedup collapses duplicate deliveries within the watermark, keeps distinct keys") {
    import graft.streaming.FrameDedup
    val enc = { import spark.implicits._; implicitly[Encoder[TimedFrame]] }
    val input = MemoryStream[TimedFrame](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-dedup-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(String, Int)]()
    def phase(fs: Seq[TimedFrame]): Unit = {
      input.addData(fs)
      val q = FrameDedup.stream(input.toDS())
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[TimedFrame], _: Long) =>
          ds.collect().foreach(f => acc.add((f.uuid, f.seq)))
        }
        .start()
      q.awaitTermination()
    }
    // key (d1, 1) delivered twice in-batch and once in the next batch
    // (all within the 20 s watermark delay): one survivor
    phase(Seq(tf("d1", 1, "aaaa", 12, 10), tf("d1", 1, "aaaa", 12, 11), tf("d1", 2, "bbbb", 12, 12)))
    phase(Seq(tf("d1", 1, "aaaa", 12, 13), tf("d1", 3, "cccc", 12, 14)))
    val d1 = acc.asScala.toSeq.filter(_._1 == "d1").sorted
    assert(d1 == Seq(("d1", 1), ("d1", 2), ("d1", 3)),
      s"duplicate deliveries must collapse to one row per (uuid, seq): $d1")
  }

  test("batch text-quality scoring runs unchanged on a stream (unified Column algebra)") {
    import graft.operators.TextOps
    import org.apache.spark.sql.Row
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a a a a a a"),
      (3L, "completely distinct tokens everywhere here now"))
    // batch scoring of the same rows is the parity reference
    val batch = {
      import spark.implicits._
      TextOps.withQualityScore(docs.toDF("doc_id", "text"))
        .select("doc_id", "quality").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String)]] }
    val input = MemoryStream[(Long, String)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-q-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, Double)]()
    input.addData(docs)
    // the SAME function over the streaming frame — no adaptation
    val q = TextOps.withQualityScore(input.toDS().toDF("doc_id", "text"))
      .select("doc_id", "quality")
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r => acc.add((r.getLong(0), r.getDouble(1))))
      }
      .start()
    q.awaitTermination()
    assert(acc.asScala.toMap == batch, "stream scoring must equal batch scoring bit-for-bit")
  }

  test("scrubbed ingest pipeline: inserts carry redacted text + PII counts, drops carry nulls") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, md5, min}
    val piiText = (1 to 18).map(i => s"w$i").mkString(" ") +
      " mail bob@corp.io from 10.1.2.3" // long + high quality -> insert, 1 email, 1 ip
    val knownText = (1 to 20).map(i => s"k$i").mkString(" ")
    val staticBase = {
      import spark.implicits._
      Seq((10L, knownText)).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-scrub-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Any, Any, Any)]()
    input.addData(Seq(
      (401L, piiText, new java.sql.Timestamp(10000L)),
      (402L, "tiny doc", new java.sql.Timestamp(11000L)), // short -> nulls
      (403L, knownText, new java.sql.Timestamp(12000L)))) // skip_dup -> nulls
    val q = StreamMerge.ingestPipelineScrubbed(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r => acc.add((r.getLong(0), r.getString(4),
          if (r.isNullAt(7)) null else r.getString(7),
          if (r.isNullAt(8)) null else r.getLong(8),
          if (r.isNullAt(10)) null else r.getLong(10))))
      }
      .start()
    q.awaitTermination()
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId(401L)._2 == "insert")
    assert(byId(401L)._3 == piiText.replace("bob@corp.io", "<EMAIL>").replace("10.1.2.3", "<IP>"),
      s"insert must carry the redacted text: ${byId(401L)}")
    assert(byId(401L)._4 == 1L && byId(401L)._5 == 1L, s"PII counts: ${byId(401L)}")
    assert(byId(402L)._2 == "short" && byId(402L)._3 == null && byId(402L)._4 == null)
    assert(byId(403L)._2 == "skip_dup" && byId(403L)._3 == null)
  }

  test("gated scrubbed pipeline: final inserts are redacted, near-dups carry nulls, audit sink reads back") {
    import graft.streaming.{DedupGate, StreamMerge}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    val corpusText = wt("gs")
    val piiText = (1 to 18).map(i => s"p$i").mkString(" ") +
      " mail bob@corp.io from 10.1.2.3" // long + high quality -> insert, 1 email, 1 ip
    val staticBase = Seq((10L, wt("kn"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    DedupGate.writeSigIndex(spark,
      Seq(1L -> corpusText).toDF("doc_id", "text"), "gate_scrub_idx", nBuckets = 8)
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-gatescrub-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-gatescrub-out").toString
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    input.addData(Seq(
      (801L, piiText, at(10)), // insert -> redacted + counts
      (802L, corpusText, at(11)), // near-dup of the indexed doc -> nulls
      (803L, "tiny doc", at(12)))) // short -> nulls
    val q = StreamMerge.gatedIngestPipelineScrubbed(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase, "gate_scrub_idx",
      StreamMerge.auditBatchSink(outDir))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val log = StreamMerge.auditLog(spark, outDir)
      .select("doc_id", "decision", "dup_of", "redacted", "n_email", "n_ip").collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getLong(5)))).toMap
    assert(log.keySet == Set(801L, 802L, 803L), s"audit log rows: ${log.keySet}")
    assert(log(801L)._1 == "insert")
    assert(log(801L)._3 ==
      piiText.replace("bob@corp.io", "<EMAIL>").replace("10.1.2.3", "<IP>"),
      s"final insert must carry the redacted text: ${log(801L)}")
    assert(log(801L)._4 == 1L && log(801L)._5 == 1L, s"PII counts: ${log(801L)}")
    assert(log(802L) == (("near_dup", 1L, null, null, null)),
      s"near-dup must carry nulls, not scrubbed text: ${log(802L)}")
    assert(log(803L) == (("short", null, null, null, null)), s"${log(803L)}")
    // the near-dup must NOT have entered the index
    spark.catalog.refreshTable("gate_scrub_idx")
    val atRest = spark.table("gate_scrub_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 801L), s"index after gated scrubbed batch: $atRest")
  }

  test("PII scrub batch/stream parity: the same stateless pass over a live feed") {
    import graft.operators.HygieneOps
    import org.apache.spark.sql.Row
    val docs = Seq(
      (1L, "reach me at alice.smith@example.com or 415-555-0042"),
      (2L, "server at 10.0.12.7 responded"),
      (3L, "nothing sensitive here at all"))
    val batch = {
      import spark.implicits._
      HygieneOps.withPiiScrub(docs.toDF("doc_id", "txt"))
        .select("doc_id", "n_email", "n_phone", "n_ip", "redacted").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    }
    assert(batch(1L) == (1L, 1L, 0L, "reach me at <EMAIL> or <PHONE>"))
    assert(batch(2L) == (0L, 0L, 1L, "server at <IP> responded"))
    assert(batch(3L)._4 == "nothing sensitive here at all")
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String)]] }
    val input = MemoryStream[(Long, String)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-pii-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, (Long, Long, Long, String))]()
    input.addData(docs)
    // the SAME function over the streaming frame — no adaptation
    val q = HygieneOps.withPiiScrub(input.toDS().toDF("doc_id", "txt"))
      .select("doc_id", "n_email", "n_phone", "n_ip", "redacted")
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r =>
          acc.add((r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))))
      }
      .start()
    q.awaitTermination()
    assert(acc.asScala.toMap == batch, "stream scrub must equal batch scrub bit-for-bit")
  }

  test("stream-static corpus merge classifies a live feed against the frozen index") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, md5, min}
    val staticBase = {
      import spark.implicits._
      Seq((10L, "existing content one"), (11L, "existing content two"))
        .toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String)]] }
    val input = MemoryStream[(Long, String)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-merge-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Any)]()
    input.addData(Seq(
      (100L, "existing content one"), // re-crawl of known content
      (101L, "genuinely new content")))
    val q = StreamMerge.stream(input.toDS().toDF("doc_id", "text"), staticBase)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r => acc.add((r.getLong(0), r.getString(2),
          if (r.isNullAt(3)) null else r.getLong(3))))
      }
      .start()
    q.awaitTermination()
    val out = acc.asScala.toSet
    assert(out == Set((100L, "skip_dup", 10L), (101L, "insert", null)),
      s"stream-static classification wrong: $out")
  }

  test("streaming ingestion pipeline: in-stream content dedup then stream-static merge") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, md5, min}
    val staticBase = {
      import spark.implicits._
      Seq((10L, "known content")).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-pipe-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String)]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // two in-stream copies of fresh content (within the watermark) + a
    // re-crawl of known content: copies collapse to the first arrival,
    // the re-crawl classifies skip_dup
    input.addData(Seq(
      (200L, "fresh content", at(10)),
      (201L, "fresh content", at(11)),
      (202L, "known content", at(12))))
    val q = StreamMerge.dedupedStream(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r => acc.add((r.getLong(0), r.getString(2))))
      }
      .start()
    q.awaitTermination()
    val out = acc.asScala.toSet
    assert(out == Set((200L, "insert"), (202L, "skip_dup")),
      s"pipeline must collapse in-stream dups then classify: $out")
  }

  test("full streaming ingestion pipeline: dedup -> quality gate -> merge in ONE query, batch parity") {
    import graft.streaming.StreamMerge
    import graft.operators.TextOps
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, md5, min}
    val goodText = (1 to 20).map(i => s"g$i").mkString(" ")
    val knownText = (1 to 20).map(i => s"k$i").mkString(" ")
    val junkText = Seq.fill(20)("a").mkString(" ") // stopword spam: quality 0.3 < 0.4
    val staticBase = {
      import spark.implicits._
      Seq((10L, knownText)).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-ingest-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, Long, Double, String, Any)]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    input.addData(Seq(
      (301L, goodText, at(10)), // fresh, long, high quality -> insert
      (302L, goodText, at(11)), // in-stream duplicate -> collapsed, no row
      (303L, "tiny doc", at(12)), // 2 tokens -> short
      (304L, junkText, at(13)), // 20 tokens but degenerate -> quality
      (305L, knownText, at(14)))) // corpus already holds it -> skip_dup
    val q = StreamMerge.ingestPipeline(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: Dataset[Row], _: Long) =>
        ds.collect().foreach(r => acc.add((r.getLong(0), r.getLong(2), r.getDouble(3),
          r.getString(4), if (r.isNullAt(5)) null else r.getLong(5))))
      }
      .start()
    q.awaitTermination()
    val out = acc.asScala.toSeq
    val byId = out.map(t => t._1 -> (t._4, t._5)).toMap
    assert(byId == Map(
      301L -> ("insert", null), 303L -> ("short", null),
      304L -> ("quality", null), 305L -> ("skip_dup", 10L)),
      s"pipeline decisions wrong (302 must be collapsed): $out")
    // batch parity: the streamed quality scores are bit-identical to the
    // batch corpus_filter formula over the same rows (shared definition)
    val batchQ = {
      import spark.implicits._
      TextOps.withQualityScore(
        Seq((301L, goodText), (304L, junkText)).toDF("doc_id", "text"))
        .select("doc_id", "quality").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    out.filter(t => Set(301L, 304L)(t._1)).foreach { t =>
      assert(t._3 == batchQ(t._1), s"stream quality for doc ${t._1} diverged from batch: $t")
    }
    assert(out.find(_._1 == 301L).get._2 == 20L, "n_tokens must ride the decision row")
  }

  test("normalization composes upstream: NFD/NFC spellings of one doc exact-dedup to one row") {
    import graft.streaming.{DedupGate, StreamMerge}
    import graft.operators.HygieneOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    val base = wt("norm") + " expos"
    val nfd = base + "é fin" // e + combining acute
    val nfc = base + "é  fin" // composed é, doubled space
    assert(nfd != nfc, "raw spellings must differ before normalization")
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("seeded")).toDF("doc_id", "text"), "norm_pipe_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-normpipe-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String)]()
    // the composition contract: withTextNormalize is NARROW, so it slots
    // into the streaming frame BEFORE the pipeline — every downstream
    // hash (exact-dedup md5, minhash shingles) then sees canonical text
    val raw = input.toDS().toDF("doc_id", "text", "ts")
    val normalized = HygieneOps.withTextNormalize(raw)
      .select(col("doc_id"), col("norm_text").as("text"), col("ts"))
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    input.addData(Seq((801L, nfd, at(10)), (802L, nfc, at(11))))
    val q = StreamMerge.gatedIngestPipeline(
      normalized, staticBase, "norm_pipe_idx",
      (df, _) => df.collect().foreach { r =>
        acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision")))
      },
      minTokens = 10, minQuality = 0.05)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = acc.asScala.toSeq
    val pair = rows.filter(t => Set(801L, 802L)(t._1))
    assert(pair.size == 1 && pair.head._2 == "insert",
      s"NFD/NFC spellings must exact-dedup to ONE surviving insert, got $rows")
  }

  test("decontam-gated pipeline: leaked eval runs rewrite inserts to 'contaminated' with coordinates") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.SpanOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    def filler(tag: Char, len: Int) =
      (0 until len).map(i => ('a' + ((i * 7 + tag.toInt * 13) % 26)).toChar)
        .zipWithIndex.map { case (c, i) => if (i % 5 == 0) tag else c }.mkString
    val floor = SpanOps.GramK + SpanOps.WinnowW - 1
    val runA = (('A' to 'Z') ++ ('a' to 'r')).mkString
    assert(runA.length == floor)
    // the winnow selection runs on raw chars, so the leaked run can sit
    // inside ordinary word text; quality/token gates see words
    val evalText = wt("evq") + " " + runA + " " + wt("evr")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9100L -> evalText).toDF("doc_id", "text"), "decontam_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("corp")).toDF("doc_id", "text"), "decontam_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-decontam-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Long, Long, Option[Long], Option[Long])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineDecontam(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase,
        "decontam_sig_idx", "decontam_eval_idx",
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            r.getAs[Long]("n_leak_spans"), r.getAs[Long]("leak_chars"),
            Option(r.getAs[java.lang.Long]("first_eval")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("first_eval_pos")).map(_.longValue())))
        },
        minTokens = 10, minQuality = 0.05)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val contamText = wt("cona") + " " + runA + " " + wt("conb")
    // batch 1: clean insert, contaminated insert, short, exact-known
    phase(Seq((701L, wt("nova"), at(10)), (702L, contamText, at(11)),
      (703L, "tiny doc", at(12)), (704L, wt("known"), at(13))))
    // batch 2: near-dup of the batch-1 clean survivor must flag as
    // near_dup (gate order: near-dup beats span check); a second
    // contaminated doc proves CROSS-BATCH detection against the static
    // eval index
    val nearNova = wt("nova").split(" ").init.mkString(" ") + " zz"
    val contam2 = wt("conc") + " " + runA + " " + wt("cond")
    phase(Seq((705L, nearNova, at(40)), (706L, contam2, at(41))))
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId(701L)._2 == "insert" && byId(701L)._3 == 0L)
    assert(byId(703L)._2 == "short" && byId(704L)._2 == "skip_dup")
    assert(byId(705L)._2 == "near_dup", s"near-dup must be decided before the span check: ${byId(705L)}")
    Seq(702L, 706L).foreach { id =>
      val t = byId(id)
      assert(t._2 == "contaminated", s"doc $id must be contaminated: $t")
      assert(t._3 >= 1L && t._4 >= SpanOps.GramK, s"doc $id leak mass: $t")
      assert(t._5.contains(9100L), s"doc $id must implicate eval 9100: $t")
      // the eval coordinate lands in the shared-run region of the eval
      // doc (the run itself plus the word-boundary overlap around it)
      val runStartInEval = evalText.indexOf(runA) + 1
      assert(t._6.exists(p => p >= runStartInEval - SpanOps.GramK &&
        p <= runStartInEval + floor), s"doc $id eval pos: $t")
    }
    // only clean inserts entered the near-dup signature index... plus the
    // contaminated docs (documented: the sig append precedes the span
    // verdict, conservative and correct); the EVAL index is untouched
    spark.catalog.refreshTable("decontam_eval_idx")
    val evalDocsAtRest = spark.table("decontam_eval_idx")
      .select("eval_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(evalDocsAtRest == Set(9100L), "the batch path must never append to the eval index")
  }

  test("scrub-gated pipeline: leak spans are cut online, bit-identical to the batch winnowed strip; mostly-leak docs become scrub_gutted") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.SpanOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    val floor = SpanOps.GramK + SpanOps.WinnowW - 1
    val runA = (('A' to 'Z') ++ ('a' to 'r')).mkString
    assert(runA.length == floor)
    val evalText = wt("evq") + " " + runA + " " + wt("evr")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9200L -> evalText).toDF("doc_id", "text"), "scrub_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("corp")).toDF("doc_id", "text"), "scrub_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-scrub-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, String, Long, Long, Option[Long])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineDecontamScrub(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase,
        "scrub_sig_idx", "scrub_eval_idx",
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            r.getAs[String]("text"),
            r.getAs[Long]("n_leak_spans"), r.getAs[Long]("leak_chars"),
            Option(r.getAs[java.lang.Long]("first_eval")).map(_.longValue())))
        },
        minTokens = 10, minQuality = 0.05)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val contamText = wt("cona") + " " + runA + " " + wt("conb")
    // batch 1: clean insert, contaminated insert (one leaked run amid
    // clean words — surgery keeps the doc), short, exact-known
    phase(Seq((711L, wt("nova"), at(10)), (712L, contamText, at(11)),
      (713L, "tiny doc", at(12)), (714L, wt("known"), at(13))))
    // batch 2: a doc that IS the eval text — the whole doc is one leak
    // span; surgery leaves a sub-minTokens stub → scrub_gutted. Proves
    // cross-batch detection against the static index too.
    phase(Seq((715L, evalText, at(40))))
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId(711L)._2 == "insert" && byId(711L)._3 == wt("nova") && byId(711L)._4 == 0L,
      s"clean insert must pass through text-unchanged: ${byId(711L)}")
    assert(byId(713L)._2 == "short" && byId(714L)._2 == "skip_dup")
    // ground truth: the BATCH winnowed strip on the same (train, eval)
    val train = Seq(711L -> wt("nova"), 712L -> contamText, 715L -> evalText)
      .toDF("doc_id", "text")
    val evalDf = Seq(9200L -> evalText).toDF("doc_id", "text")
    val batchClean = SpanOps.decontaminateStripWinnowOf(train, evalDf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    Seq(711L, 712L, 715L).foreach { id =>
      val t = byId(id)
      assert(t._3 == batchClean(id)._1,
        s"stream scrub of doc $id must be bit-identical to the batch winnowed strip:\n" +
          s"  stream: '${t._3}'\n  batch:  '${batchClean(id)._1}'")
      assert(t._5 == batchClean(id)._2, s"doc $id leak_chars vs batch n_removed: $t")
    }
    val t712 = byId(712L)
    assert(t712._2 == "scrubbed" && t712._4 >= 1L && t712._5 >= SpanOps.GramK
      && t712._6.contains(9200L), s"contaminated insert must be kept scrubbed: $t712")
    // mass conservation: output length = original minus the cut mass
    assert(t712._3.length.toLong == contamText.length - t712._5, s"mass: $t712")
    val t715 = byId(715L)
    assert(t715._2 == "scrub_gutted" && t715._6.contains(9200L),
      s"a mostly-leak doc must be dropped as a stub: $t715")
    assert(t715._3.length < SpanOps.GramK + SpanOps.WinnowW,
      s"gutted residue must be boundary slivers only: '${t715._3}'")
    // the eval index is never appended from the batch path
    spark.catalog.refreshTable("scrub_eval_idx")
    val evalDocsAtRest = spark.table("scrub_eval_idx")
      .select("eval_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(evalDocsAtRest == Set(9200L), "the batch path must never append to the eval index")
  }

  test("production pipeline: every gate composed, each doc attributed to its first gate, keep rows carry the redacted post-surgery payload") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.SpanOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    val floor = SpanOps.GramK + SpanOps.WinnowW - 1
    val runA = (('A' to 'Z') ++ ('a' to 'r')).mkString
    assert(runA.length == floor)
    // persisted artifacts: LM model, eval-gram index, sig index
    val lmTrain = (1L to 12L).map(i => i -> wt(s"pw$i")).toDF("doc_id", "text")
    graft.operators.HygieneOps.writeCharLmTableFrom(spark, lmTrain, "prod_lm_model")
    val junk = (1 to 30).map(i => s"zqxj${i}vkwq").mkString(" ")
    val piiText = wt("pnova") + " mail bob@corp.io from 10.1.2.3"
    val contamText = wt("pcona") + " " + runA + " " + wt("pconb")
    val blockedText = wt("pblk") + " see https://x.badsite.com/p"
    // threshold between the WORST-scoring doc that must survive the LM
    // gate and the junk doc (runA's uppercase and the PII/URL chars are
    // out-of-model, so score the actual stream texts, not a proxy)
    val (mc, mx, mv) = graft.operators.HygieneOps.charlmModelOf(lmTrain)
    val (mBg, mA, mvv) = graft.operators.HygieneOps.collectCharLmModel(mc, mx, mv)
    val bitsOf = graft.operators.HygieneOps.withCharLmScore(
      Seq(1L -> piiText, 2L -> contamText, 3L -> blockedText, 4L -> junk)
        .toDF("doc_id", "text"), mBg, mA, mvv)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bits")).toMap
    val worstKeep = Seq(1L, 2L, 3L).map(bitsOf).max
    assert(bitsOf(4L) > worstKeep, s"fixture vacuous: junk must out-score keeps ($bitsOf)")
    val maxBits = (worstKeep + bitsOf(4L)) / 2
    val evalText = wt("pevq") + " " + runA + " " + wt("pevr")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9300L -> evalText).toDF("doc_id", "text"), "prod_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("corp")).toDF("doc_id", "text"), "prod_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-prod-ckpt").toString
    val acc = new ConcurrentLinkedQueue[
      (Long, String, Option[String], Option[Long], Option[Long], Long, Option[Long])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    var lastStates: Seq[Int] = Nil
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase,
        "prod_sig_idx", "prod_eval_idx", "prod_lm_model", maxBits,
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            Option(r.getAs[String]("redacted")),
            Option(r.getAs[java.lang.Long]("n_email")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("n_ip")).map(_.longValue()),
            r.getAs[Long]("leak_chars"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
        },
        minTokens = 10, minQuality = 0.05)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastStates = q.recentProgress.toIndexedSeq.map(_.stateOperators.length)
    }
    phase(Seq(
      (801L, piiText, at(10)),              // insert, PII redacted
      (802L, contamText, at(11)),           // scrubbed (leak cut, then redaction no-op)
      (803L, "tiny doc", at(12)),           // short
      (804L, wt("known"), at(13)),          // skip_dup
      (805L, junk, at(14)),                 // lm_tail
      (806L, blockedText, at(15))))         // blocked_domain
    // batch 2: near-dup of 801's ORIGINAL text (the sig index stores
    // pre-redaction signatures) must flag before the span probe runs
    phase(Seq((807L, piiText.split(" ").init.mkString(" ") + " zz", at(40))))
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId.view.mapValues(_._2).toMap == Map(
      801L -> "insert", 802L -> "scrubbed", 803L -> "short", 804L -> "skip_dup",
      805L -> "lm_tail", 806L -> "blocked_domain", 807L -> "near_dup"),
      s"first-gate attribution: $byId")
    // keep rows: redacted post-surgery payload + PII counts
    val t801 = byId(801L)
    assert(t801._3.exists(s => s.contains("<EMAIL>") && s.contains("<IP>")
      && !s.contains("bob@corp.io")) && t801._4.contains(1L) && t801._5.contains(1L)
      && t801._6 == 0L, s"801: $t801")
    val t802 = byId(802L)
    val batchClean = SpanOps.decontaminateStripWinnowOf(
      Seq(802L -> contamText).toDF("doc_id", "text"),
      Seq(9300L -> evalText).toDF("doc_id", "text"))
      .collect().head.getAs[String]("clean_text")
    assert(t802._3.contains(batchClean) && t802._6 >= SpanOps.GramK,
      s"802 must carry the batch-identical post-surgery text: $t802")
    // drop rows persist nothing: redacted and counts are null
    Seq(803L, 804L, 805L, 806L, 807L).foreach { id =>
      assert(byId(id)._3.isEmpty && byId(id)._4.isEmpty, s"drop row $id must carry no payload")
    }
    assert(byId(807L)._7.contains(801L), s"807 must name its sibling: ${byId(807L)}")
    // the composed chain still has exactly the one watermarked-dedup state op
    assert(lastStates.nonEmpty && lastStates.forall(_ == 1),
      s"production chain added stream state: $lastStates")
    // lm_tail never entered the sig index; batch path never wrote the eval index
    spark.catalog.refreshTable("prod_sig_idx")
    val sigDocs = spark.table("prod_sig_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!sigDocs.contains(805L), "lm_tail doc leaked into the signature index")
    spark.catalog.refreshTable("prod_eval_idx")
    assert(spark.table("prod_eval_idx").select("eval_doc").distinct()
      .collect().map(_.getLong(0)).toSet == Set(9300L),
      "the batch path must never append to the eval index")
  }

  test("corpusCurateDecisionsOf: the complete batch mirror equals the production stream decision for decision, payload for payload (r15 task 3)") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.{SpanOps, HygieneOps}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String, n: Int = 30) = (1 to n).map(i => s"${seed}_$i").mkString(" ")
    def mutate(text: String) = (text.split(" ").init :+ "zzqx").mkString(" ")
    val floor = SpanOps.GramK + SpanOps.WinnowW - 1
    val runA = (('A' to 'Z') ++ ('a' to 'r')).mkString
    assert(runA.length == floor)
    val junk = (1 to 30).map(i => s"zqxj${i}vkwq").mkString(" ")
    val lowQ = (1 to 15).map(_ => "z").mkString(" ") // 15 tokens, 1 distinct
    val mcorp = wt("mcorp", 60) // 60 words: the +1-token near-dups stay over 12/16 slots
    val piiText = wt("mnova") + " mail bob@corp.io from 10.1.2.3"
    val contamText = wt("mcona") + " " + runA + " " + wt("mconb")
    val blockedText = wt("mblk") + " see https://x.badsite.com/p"
    val evalText = wt("mevq") + " " + runA + " " + wt("mevr")
    // shared artifacts
    val lmTrain = (1L to 12L).map(i => i -> wt(s"mlm$i")).toDF("doc_id", "text")
    HygieneOps.writeCharLmTableFrom(spark, lmTrain, "mirror_lm_model")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9500L -> evalText).toDF("doc_id", "text"), "mirror_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> mcorp).toDF("doc_id", "text"), "mirror_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("mknown"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    // the fixture: one doc per decision path PLUS multi-gate docs that
    // pin the attribution ORDER (each must land on its FIRST gate)
    val rows: Seq[(Long, String)] = Seq(
      951L -> piiText,                                   // insert (PII redacted)
      952L -> contamText,                                // scrubbed
      953L -> "tiny doc",                                // short
      954L -> wt("mknown"),                              // skip_dup (static index)
      955L -> junk,                                      // lm_tail
      956L -> blockedText,                               // blocked_domain
      957L -> mcorp,                                     // near_dup (sig index, 16/16)
      958L -> (lowQ + " via https://s1.badsite.com/z"),  // quality BEFORE blocked_domain
      959L -> (junk + " see https://x.badsite.com/p"),   // blocked_domain BEFORE lm_tail
      960L -> (junk + " " + runA),                       // lm_tail BEFORE contaminated
      961L -> (mcorp + " " + runA),                      // near_dup BEFORE scrubbed
      962L -> piiText)                                   // exact in-corpus dup: NO row
    // threshold separating every LM-scored keep from the tails
    val (mc, mx, mv) = HygieneOps.charlmModelOf(lmTrain)
    val (mBg, mA, mvv) = HygieneOps.collectCharLmModel(mc, mx, mv)
    val bitsOf = HygieneOps.withCharLmScore(
      rows.toDF("doc_id", "text"), mBg, mA, mvv)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bits")).toMap
    val scoredKeeps = Seq(951L, 952L, 957L, 961L).map(bitsOf).max
    val tails = Seq(955L, 960L).map(bitsOf).min
    assert(tails > scoredKeeps, s"fixture vacuous: tails must out-score keeps ($bitsOf)")
    val maxBits = (scoredKeeps + tails) / 2
    // stream side
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-mirror-ckpt").toString
    type Rec = (String, Option[String], Option[Long], Long, Option[Long], Option[Long])
    val acc = new ConcurrentLinkedQueue[(Long, Rec)]()
    input.addData(rows.zipWithIndex.map { case ((id, t), i) =>
      (id, t, new java.sql.Timestamp(10000L + i * 1000L))
    })
    val q = StreamMerge.gatedIngestPipelineProduction(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase,
      "mirror_sig_idx", "mirror_eval_idx", "mirror_lm_model", maxBits,
      (df, _) => df.collect().foreach { r =>
        acc.add((r.getAs[Long]("doc_id"), (r.getAs[String]("decision"),
          Option(r.getAs[String]("redacted")),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
          r.getAs[Long]("leak_chars"),
          Option(r.getAs[java.lang.Long]("n_email")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("n_ip")).map(_.longValue()))))
      },
      minTokens = 10, minQuality = 0.3)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stream = acc.asScala.toMap
    // batch side: the SAME artifacts, the SAME thresholds
    spark.catalog.refreshTable("mirror_sig_idx")
    val batch = SpanOps.corpusCurateDecisionsOf(
      rows.toDF("doc_id", "text"),
      Seq(9500L -> evalText).toDF("doc_id", "text"),
      staticBase, spark.table("mirror_sig_idx"),
      "mirror_lm_model", maxBits, minTokens = 10, minQuality = 0.3)
      .collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[String]("decision"),
          Option(r.getAs[String]("redacted")),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
          r.getAs[Long]("leak_chars"),
          Option(r.getAs[java.lang.Long]("n_email")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("n_ip")).map(_.longValue())))
      }.toMap
    // attribution order, pinned doc by doc (first gate wins, both forms)
    val wantDecisions = Map(
      951L -> "insert", 952L -> "scrubbed", 953L -> "short", 954L -> "skip_dup",
      955L -> "lm_tail", 956L -> "blocked_domain", 957L -> "near_dup",
      958L -> "quality", 959L -> "blocked_domain", 960L -> "lm_tail",
      961L -> "near_dup")
    assert(stream.view.mapValues(_._1).toMap == wantDecisions,
      s"stream attribution: ${stream.view.mapValues(_._1).toMap}")
    // the in-corpus exact duplicate emits NO row in either form
    assert(!stream.contains(962L) && !batch.contains(962L),
      "an exact in-corpus duplicate must collapse silently in both forms")
    // full record identity: decision, payload, dup_of, leak mass, PII
    assert(batch == stream,
      s"batch mirror diverges from the stream:\n batch=$batch\n stream=$stream")
  }

  test("production chain dual-signs scrubbed docs: a near-dup of the PERSISTED post-surgery text flags; replay appends nothing (r15 task 2)") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String, n: Int = 30) = (1 to n).map(i => s"${seed}_$i").mkString(" ")
    // the leak dominates the original doc (90 of 120 words), so the
    // PRE-scrub signature describes mostly-leak content while the
    // PERSISTED doc is the 30-word body — the at-rest blind spot the
    // dual-sign closes
    val body = wt("rbody")
    val evalText = wt("rev", 90)
    val textA = body + " " + evalText
    graft.operators.HygieneOps.writeCharLmTableFrom(spark,
      (1L to 8L).map(i => i -> wt(s"rlm$i")).toDF("doc_id", "text"), "resign_lm_model")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9400L -> evalText).toDF("doc_id", "text"), "resign_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("rcorp")).toDF("doc_id", "text"), "resign_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("rknown"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-resign-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Option[String], Option[Long])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase,
        "resign_sig_idx", "resign_eval_idx", "resign_lm_model", Double.MaxValue,
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            Option(r.getAs[String]("redacted")),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
        },
        minTokens = 10, minQuality = 0.05)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sigRowsOf(id: Long): Seq[(Int, Long, Seq[Long])] = {
      spark.catalog.refreshTable("resign_sig_idx")
      spark.table("resign_sig_idx").filter(col("doc_id") === id)
        .collect().map(r => (r.getAs[Int]("band_id"), r.getAs[Long]("bh"),
          r.getAs[Seq[Long]]("sig"))).toSeq
    }
    // batch 1: A arrives, gets scrubbed, and must be DUAL-signed
    phase(Seq((901L, textA, at(10))))
    val a = acc.asScala.find(_._1 == 901L).get
    assert(a._2 == "scrubbed", s"fixture: A must be scrubbed, got $a")
    val persisted = a._3.get
    assert(persisted.startsWith("rbody_1") && !persisted.contains("rev_40"),
      s"persisted payload must be the cut body: '${persisted.take(60)}...'")
    val rows1 = sigRowsOf(901L)
    assert(rows1.size > DedupOps.MinhashBands && rows1.size <= 2 * DedupOps.MinhashBands,
      s"scrubbed doc must carry BOTH signature variants, got ${rows1.size} band rows")
    assert(rows1.distinct.size == rows1.size, "dual-sign must not duplicate band rows")
    // negative control: the PERSISTED text does NOT match A's PRE-scrub
    // signature — without the re-sign, batch 2's probe would miss
    val preScrub = DedupOps.bandedSigs(Seq(901L -> textA).toDF("doc_id", "text"))
    val probeB = DedupOps.bandedSigs(Seq(902L -> persisted).toDF("doc_id", "text"))
    assert(DedupGate.checkAgainst(preScrub, probeB).collect().isEmpty,
      "fixture vacuous: persisted text must NOT near-dup the pre-scrub signature")
    // batch 2: a copy of the PERSISTED post-surgery text must flag
    phase(Seq((902L, persisted, at(60))))
    val b = acc.asScala.find(_._1 == 902L).get
    assert(b._2 == "near_dup" && b._4.contains(901L),
      s"near-dup of the persisted text must flag against the scrubbed doc: $b")
    assert(sigRowsOf(902L).isEmpty, "a flagged near-dup must not enter the index")
    // batch 3: A re-delivered (watermark state long expired) — the gate
    // re-scrubs it identically but the idempotent append writes NOTHING
    phase(Seq((901L, textA, at(120))))
    val a2 = acc.asScala.toSeq.filter(_._1 == 901L).last
    assert(a2._2 == "scrubbed" && a2._3.contains(persisted),
      s"replayed A must reproduce its decisions exactly: $a2")
    assert(sigRowsOf(901L) == rows1,
      "replay must append no signature rows (idempotent by doc id)")
  }

  test("production chain + PerceptGate: a cross-batch image dup becomes percept_dup; non-image kinds pass the same bytes (r19 task 1)") {
    import graft.streaming.{DedupGate, PerceptGate, SpanGate, StreamMerge}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    graft.operators.HygieneOps.writeCharLmTableFrom(spark,
      (1L to 8L).map(i => i -> wt(s"plm$i")).toDF("doc_id", "text"), "pcpt_lm_model")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9500L -> wt("pevseed")).toDF("doc_id", "text"), "pcpt_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("pcorp")).toDF("doc_id", "text"), "pcpt_sig_idx", nBuckets = 8)
    // EMPTY percept seed: the stream itself populates the code index
    PerceptGate.writeCodeIndex(spark,
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"), "pcpt_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("pknown"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    // textA/textB: byte-NEAR (one character substituted per token — the
    // stub 32-byte-frame profile barely moves) but token-FAR (every token
    // differs, so no shared shingles — the MINHASH gate must not flag,
    // or the percept stage would never see the doc). Both asserted below.
    val textA = wt("imga")
    val textB = wt("imgb")
    val preFlags = DedupGate.checkAgainst(
      graft.operators.DedupOps.bandedSigs(Seq(900L -> textA).toDF("doc_id", "text")),
      graft.operators.DedupOps.bandedSigs(Seq(903L -> textB).toDF("doc_id", "text")))
    assert(preFlags.collect().isEmpty, "fixture vacuous: texts must NOT minhash-near-dup")
    val codes = graft.operators.MultimodalOps.perceptualCodes(spark,
      Seq(900L -> textA.getBytes("UTF-8"), 903L -> textB.getBytes("UTF-8"))
        .toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(codes(900L) ^ codes(903L)) <= 3,
      s"fixture vacuous: payloads must be perceptually near (got hamming " +
        s"${java.lang.Long.bitCount(codes(900L) ^ codes(903L))})")
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-pcpt-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Option[Long], Option[Int], Option[String])]()
    val timings = new ConcurrentLinkedQueue[graft.streaming.GateStageTimings]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    var lastStates: Seq[Int] = Nil
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase,
        "pcpt_sig_idx", "pcpt_eval_idx", "pcpt_lm_model", Double.MaxValue,
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            Option(r.getAs[java.lang.Long]("percept_of")).map(_.longValue()),
            Option(r.getAs[java.lang.Integer]("percept_hamming")).map(_.intValue()),
            Option(r.getAs[String]("redacted"))))
        },
        minTokens = 10, minQuality = 0.05,
        perceptTable = Some("pcpt_idx"),
        onPerceptTimings = t => timings.add(t))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastStates = q.recentProgress.toIndexedSeq.map(_.stateOperators.length)
    }
    // batch 1: image-kind doc 900 (doc_id % 3 = 0) is novel — inserts and
    // indexes its code
    phase(Seq((900L, textA, at(10))))
    // batch 2: image-kind 903 carries byte-near payload (percept dup of
    // 900, only findable via batch 1's append); audio-kind 904 carries
    // equally byte-near text and must pass untouched (kind filter)
    phase(Seq((903L, textB, at(40)), (904L, wt("imgc"), at(41))))
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId(900L)._2 == "insert", s"900: ${byId(900L)}")
    assert(byId(903L)._2 == "percept_dup" && byId(903L)._3.contains(900L) &&
      byId(903L)._4.exists(_ <= 3), s"903 must flag against 900: ${byId(903L)}")
    assert(byId(904L)._2 == "insert" && byId(904L)._3.isEmpty,
      s"non-image kind must not be percept-gated: ${byId(904L)}")
    // percept_dup is a drop path: no redacted payload persists
    assert(byId(903L)._5.isEmpty, s"percept_dup must carry no payload: ${byId(903L)}")
    assert(byId(900L)._5.contains(textA) && byId(904L)._5.isDefined,
      "keep rows still carry their payload")
    // index discipline: exactly the surviving image doc is at rest
    spark.catalog.refreshTable("pcpt_idx")
    assert(spark.table("pcpt_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(900L),
      "only the unflagged image insert may index its code")
    // the documented conservatism: the percept_dup's TEXT signature had
    // already appended to the sig index at the minhash stage
    spark.catalog.refreshTable("pcpt_sig_idx")
    assert(spark.table("pcpt_sig_idx").filter(col("doc_id") === 903L).count() > 0,
      "the text-signature conservatism must hold as documented")
    // timings fired per batch; the composed chain added no stream state
    assert(timings.asScala.nonEmpty && timings.asScala.forall(_.appended >= 0))
    assert(lastStates.nonEmpty && lastStates.forall(_ == 1),
      s"percept gate added stream state: $lastStates")
  }

  test("production percept hook is caller-parameterized: a kind/blob corpus layout reproduces the default convention's decisions (r20 task 1)") {
    import graft.streaming.{DedupGate, PerceptGate, SpanGate, StreamMerge}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    graft.operators.HygieneOps.writeCharLmTableFrom(spark,
      (1L to 8L).map(i => i -> wt(s"hk$i")).toDF("doc_id", "text"), "hook_lm_model")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9500L -> wt("hkevseed")).toDF("doc_id", "text"), "hook_eval_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("hkknown"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    // same fixture geometry as the r19 percept test: textA/textB byte-NEAR
    // (percept dup) but token-FAR (no minhash flag); textC equally
    // byte-near so only the KIND predicate keeps it out of the gate
    val textA = wt("hima")
    val textB = wt("himb")
    val textC = wt("himc")
    val codes = graft.operators.MultimodalOps.perceptualCodes(spark,
      Seq(900L -> textA.getBytes("UTF-8"), 903L -> textB.getBytes("UTF-8"))
        .toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(codes(900L) ^ codes(903L)) <= 3,
      "fixture vacuous: payloads must be perceptually near")
    def freshTables(tag: String): (String, String) = {
      DedupGate.writeSigIndex(spark,
        Seq(1L -> wt("hkcorp")).toDF("doc_id", "text"), s"hook_sig_$tag", nBuckets = 8)
      PerceptGate.writeCodeIndex(spark,
        Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"),
        s"hook_pcpt_$tag", nBuckets = 8)
      (s"hook_sig_$tag", s"hook_pcpt_$tag")
    }
    def decisionsOf(acc: ConcurrentLinkedQueue[(Long, String, Option[Long])]) =
      acc.asScala.map(t => t._1 -> (t._2, t._3)).toMap
    def collectInto(acc: ConcurrentLinkedQueue[(Long, String, Option[Long])])(
        df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      df.collect().foreach { r =>
        acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
          Option(r.getAs[java.lang.Long]("percept_of")).map(_.longValue())))
      }
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // --- run 1: the DEFAULT convention (doc_id % 3 image-kind, text bytes)
    val (sigD, pcptD) = freshTables("dflt")
    val encD = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val inD = MemoryStream[(Long, String, java.sql.Timestamp)](encD, spark.sqlContext)
    val ckD = Files.createTempDirectory("graft-spec-hookd-ckpt").toString
    val accD = new ConcurrentLinkedQueue[(Long, String, Option[Long])]()
    def phaseD(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      inD.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        inD.toDS().toDF("doc_id", "text", "ts"), staticBase,
        sigD, "hook_eval_idx", "hook_lm_model", Double.MaxValue,
        collectInto(accD), minTokens = 10, minQuality = 0.05,
        perceptTable = Some(pcptD))
        .option("checkpointLocation", ckD).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    phaseD(Seq((900L, textA, at(10))))
    phaseD(Seq((903L, textB, at(40)), (904L, textC, at(41))))
    // --- run 2: a CUSTOM corpus layout — image-kind lives in a `kind`
    // column, payload bytes in a `blob` column; same logical rows
    val (sigC, pcptC) = freshTables("cust")
    val encC = implicitly[Encoder[(Long, String, java.sql.Timestamp, String, Array[Byte])]]
    val inC = MemoryStream[(Long, String, java.sql.Timestamp, String, Array[Byte])](
      encC, spark.sqlContext)
    val ckC = Files.createTempDirectory("graft-spec-hookc-ckpt").toString
    val accC = new ConcurrentLinkedQueue[(Long, String, Option[Long])]()
    @volatile var sinkCols: Seq[String] = Nil
    def phaseC(rows: Seq[(Long, String, java.sql.Timestamp, String, Array[Byte])]): Unit = {
      inC.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        inC.toDS().toDF("doc_id", "text", "ts", "kind", "blob"), staticBase,
        sigC, "hook_eval_idx", "hook_lm_model", Double.MaxValue,
        (df, id) => { sinkCols = df.columns.toSeq; collectInto(accC)(df, id) },
        minTokens = 10, minQuality = 0.05,
        perceptTable = Some(pcptC),
        perceptKind = col("kind") === "img",
        perceptPayload = col("blob"))
        .option("checkpointLocation", ckC).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    phaseC(Seq((900L, textA, at(10), "img", textA.getBytes("UTF-8"))))
    phaseC(Seq((903L, textB, at(40), "img", textB.getBytes("UTF-8")),
      (904L, textC, at(41), "txt", textC.getBytes("UTF-8"))))
    val dD = decisionsOf(accD)
    val dC = decisionsOf(accC)
    assert(dD(903L) == (("percept_dup", Some(900L))), s"default run: $dD")
    assert(dC == dD, s"custom layout must reproduce the default decisions: $dC vs $dD")
    // the caller's extra columns ride to the sink as attribution
    assert(sinkCols.contains("kind") && sinkCols.contains("blob"),
      s"extra input columns must reach the sink: $sinkCols")
    // and the custom-kind predicate governed indexing: only 900 at rest
    spark.catalog.refreshTable(pcptC)
    assert(spark.table(pcptC).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(900L))
  }

  test("production chain + EmbedGate: docs carrying an embedding get the cosine gate; embedding-less docs pass untouched (r19 task 4)") {
    import graft.streaming.{DedupGate, SpanGate, StreamMerge}
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    def axis(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(64)(d => if (d == i) scale else 0f)
    graft.operators.HygieneOps.writeCharLmTableFrom(spark,
      (1L to 8L).map(i => i -> wt(s"em$i")).toDF("doc_id", "text"), "emb_lm_model")
    SpanGate.writeEvalGramIndex(spark,
      Seq(9500L -> wt("emevseed")).toDF("doc_id", "text"), "emb_eval_idx", nBuckets = 8)
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("emcorp")).toDF("doc_id", "text"), "emb_sig_idx", nBuckets = 8)
    // DOC-KEYED embedding index seeded with doc 10's vector
    VectorOps.writeLshIndexFrom(spark,
      Seq(10L -> axis(0)).toDF("vec_id", "embedding"), "emb_prod_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("emknown"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp, Option[Array[Float]])]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Option[Array[Float]])](
      enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-embp-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Option[Long], Option[Double], Option[String])]()
    val timings = new ConcurrentLinkedQueue[graft.streaming.GateStageTimings]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp, Option[Array[Float]])]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipelineProduction(
        input.toDS().toDF("doc_id", "text", "ts", "embedding"), staticBase,
        "emb_sig_idx", "emb_eval_idx", "emb_lm_model", Double.MaxValue,
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            Option(r.getAs[java.lang.Long]("embed_of")).map(_.longValue()),
            Option(r.getAs[java.lang.Double]("embed_sim")).map(_.doubleValue()),
            Option(r.getAs[String]("redacted"))))
        },
        minTokens = 10, minQuality = 0.05,
        embedTable = Some("emb_prod_idx"),
        onEmbedTimings = t => timings.add(t))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: 900 duplicates the SEEDED doc-10 direction (cosine 1);
    // 901 is a novel direction (must index); 902 carries NO embedding
    phase(Seq((900L, wt("eda"), at(10), Some(axis(0, 2f))),
      (901L, wt("edb"), at(11), Some(axis(4))),
      (902L, wt("edc"), at(12), None)))
    // batch 2: 905 duplicates 901's direction — only findable via the
    // batch-1 append
    phase(Seq((905L, wt("edd"), at(40), Some(axis(4, 3f)))))
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId(900L)._2 == "embed_dup" && byId(900L)._3.contains(10L) &&
      byId(900L)._4.exists(s => math.abs(s - 1.0) < 1e-6),
      s"900 must flag against the seeded doc: ${byId(900L)}")
    assert(byId(901L)._2 == "insert", s"901: ${byId(901L)}")
    assert(byId(902L)._2 == "insert" && byId(902L)._3.isEmpty,
      s"embedding-less doc must pass untouched: ${byId(902L)}")
    assert(byId(905L)._2 == "embed_dup" && byId(905L)._3.contains(901L),
      s"905 must flag cross-batch against 901: ${byId(905L)}")
    // embed_dup is a drop path: no payload persists; keep rows carry theirs
    assert(byId(900L)._5.isEmpty && byId(905L)._5.isEmpty)
    assert(byId(901L)._5.isDefined && byId(902L)._5.isDefined)
    // index discipline: exactly the seed + the novel embedded doc at rest
    spark.catalog.refreshTable("emb_prod_idx")
    assert(spark.table("emb_prod_idx").select("vec_id").collect().map(_.getLong(0)).toSet
      == Set(10L, 901L), "only unflagged embedded inserts may index")
    assert(timings.asScala.nonEmpty && timings.asScala.map(_.appended).sum == 1L,
      s"timings must attribute the one append: ${timings.asScala.toList}")
  }

  test("CharLmGate: a batch catching a cross-process rebuild mid-overwrite scores with the cached model instead of failing (r18 ADVICE)") {
    import graft.streaming.CharLmGate
    import graft.operators.IndexTable
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    val train = (1L to 8L).map(i => i -> wt(s"fb$i")).toDF("doc_id", "text")
    graft.operators.HygieneOps.writeCharLmTableFrom(spark, train, "fallback_lm")
    val batch = Seq((700L, wt("fbq"), "insert"), (701L, wt("fb3"), "insert"))
      .toDF("doc_id", "text", "decision")
    def score() = CharLmGate.withLmDecisions(batch, "fallback_lm", 1e9)
      .select("doc_id", "decision", "bits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    val d1 = score() // resolves and caches the model under the live generation
    // simulate the mid-overwrite window of a CROSS-PROCESS rebuild: the
    // non-atomic drop+recreate has dropped the data tables, and the (new)
    // generation stamp is visible — the per-batch validation sees a moved
    // epoch but the re-collect finds no _ctx
    spark.sql("DROP TABLE fallback_lm")
    spark.sql("DROP TABLE fallback_lm_ctx")
    IndexTable.bumpUnconditional(spark, "fallback_lm")
    val d2 = score() // must not throw: falls back to the cached model
    assert(d2 == d1, s"fallback batch must score with the cached model: $d2 vs $d1")
    // the failure was not cached: once the rebuild completes, the next
    // batch revalidates and scores against the NEW artifact generation
    graft.operators.HygieneOps.writeCharLmTableFrom(spark, train, "fallback_lm")
    assert(score() == d1, "post-rebuild batch must revalidate cleanly (same data, same scores)")
    // first use has nothing to fall back to: the failure stays loud
    CharLmGate.invalidate(spark, "fallback_lm")
    spark.sql("DROP TABLE fallback_lm")
    spark.sql("DROP TABLE fallback_lm_ctx")
    IndexTable.bumpUnconditional(spark, "fallback_lm")
    intercept[Exception] { score() }
  }

  test("LM-gated pipeline: stream scores vs the persisted model are bit-identical to batch charlm_quality; tail docs become lm_tail (r14 task 6)") {
    import graft.streaming.{DedupGate, StreamMerge}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    graft.operators.HygieneOps.writeCharLmTable(spark, sfDir, "lmgate_model")
    // the batch ground truth: the charlm_quality key on the SAME corpus
    // the model was trained on (every lookup hits; the join form reduces
    // to the inline key — BucketingSpec's persisted-model pin)
    val batchBits = SparkEntry.queries("charlm_quality")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val streamed = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // a threshold that splits the streamed docs into both verdicts
    val maxBits = {
      val bs = streamed.map(d => batchBits(d._1)._2).sorted
      bs(bs.length / 2)
    }
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("corp")).toDF("doc_id", "text"), "lmgate_sig_idx", nBuckets = 8)
    val staticBase = Seq((10L, wt("known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-lmgate-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Long, Option[Double])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    input.addData(streamed.zipWithIndex.map { case ((id, t), i) => (id, t, at(10L + i)) }.toSeq)
    val q = StreamMerge.gatedIngestPipelineLm(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase,
      "lmgate_sig_idx", "lmgate_model", maxBits,
      (df, _) => df.collect().foreach { r =>
        acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
          r.getAs[Long]("n_bigrams"),
          Option(r.getAs[java.lang.Double]("bits")).map(_.doubleValue())))
      },
      minTokens = 0, minQuality = 0.0)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the gate's no-new-stream-state claim, asserted structurally: the
    // only stateful operator is pipelineCore's watermarked dedup — the
    // per-batch LM join+groupBy lives inside foreachBatch, off-plan
    val progresses = q.recentProgress
    assert(progresses.nonEmpty && progresses.forall(_.stateOperators.length == 1),
      s"LM gate added stream state: ${progresses.map(_.stateOperators.length).toSeq}")
    val byId = acc.asScala.map(t => t._1 -> t).toMap
    assert(byId.keySet == streamed.map(_._1).toSet, "every streamed doc must get a verdict")
    var tails = 0
    streamed.foreach { case (id, _) =>
      val (_, decision, nBg, bits) = byId(id)
      val (wantBg, wantBits) = batchBits(id)
      // BIT-identical: the broadcast-join scoring inside the gate is the
      // same decimal-sum expression tree as the batch key
      assert(bits.contains(wantBits) && nBg == wantBg,
        s"doc $id: stream score ($nBg, $bits) != batch charlm_quality ($wantBg, $wantBits)")
      val want = if (wantBits > maxBits) "lm_tail" else "insert"
      assert(decision == want, s"doc $id bits=$bits maxBits=$maxBits: got $decision, want $want")
      if (decision == "lm_tail") tails += 1
    }
    assert(tails > 0 && tails < streamed.length,
      "threshold must split the stream into both verdicts or the test is vacuous")
    // lm_tail rows must not have entered the near-dup signature index
    spark.catalog.refreshTable("lmgate_sig_idx")
    val indexed = spark.table("lmgate_sig_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    streamed.foreach { case (id, _) =>
      if (byId(id)._2 == "lm_tail")
        assert(!indexed.contains(id), s"lm_tail doc $id leaked into the signature index")
    }
  }

  test("CharLmGate picks its plan by artifact size: over-cap joins the tables, within-cap scores natively, rebuild re-arms (r17)") {
    import graft.operators.HygieneOps
    import graft.streaming.CharLmGate
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 105 distinct CJK chars → >10k distinct bigrams: over CharLmLiteralMax
    val chars = (0 until 105).map(i => (0x4E00 + i).toChar)
    val big = chars.zipWithIndex.map { case (c, i) =>
      (i.toLong, chars.map(cj => s"$c$cj").mkString)
    }.toDF("doc_id", "text")
    HygieneOps.writeCharLmTableFrom(spark, big, "lmgate_sized_model")
    assert(spark.table("lmgate_sized_model").count() > HygieneOps.CharLmLiteralMax,
      "fixture model must exceed the literal cap")
    // localCheckpoint: over a raw LocalRelation the optimizer pre-folds
    // the literal-regime projection into rows (ConvertToLocalRelation)
    // and the plan-shape asserts below would be vacuous
    val batch = Seq(
      (1L, chars.take(40).mkString, "insert"),
      (2L, "zz", "insert"),                    // 1 bigram, all-miss smoothing path
      (3L, "short stuff", "short")             // non-insert: unscored, n_bigrams 0
    ).toDF("doc_id", "text", "decision").localCheckpoint()
    val out = CharLmGate.withLmDecisions(batch, "lmgate_sized_model", maxBits = 1e9)
    assert(out.queryExecution.optimizedPlan.toString.contains("lmgate_sized_model"),
      "an over-cap artifact must keep the broadcast-join plan (tables in the plan)")
    // scores through the gate ≡ charlmScoreAgainst directly
    val ctxV = spark.table("lmgate_sized_model_ctx")
    val want = HygieneOps.charlmScoreAgainst(
      batch.filter(col("decision") === "insert").select("doc_id", "text"),
      spark.table("lmgate_sized_model"), ctxV.select("ch", "c_a"),
      ctxV.select("v").limit(1))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val got = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("decision"), r.getAs[Long]("n_bigrams"),
        Option(r.getAs[java.lang.Double]("bits")).map(_.doubleValue())))).toMap
    assert(got(1L) == (("insert", want(1L)._1, Some(want(1L)._2))), s"${got(1L)}")
    assert(got(2L) == (("insert", want(2L)._1, Some(want(2L)._2))), s"${got(2L)}")
    assert(got(3L) == (("short", 0L, None)), s"non-insert row drifted: ${got(3L)}")
    // REBUILD at the same name with a charset-bounded model: the writer's
    // invalidate re-arms the cache, the gate re-collects and switches to
    // the narrow native plan — no model tables in the plan at all
    HygieneOps.writeCharLmTableFrom(spark,
      Seq((1L, "abcabcabc")).toDF("doc_id", "text"), "lmgate_sized_model")
    val out2 = CharLmGate.withLmDecisions(batch, "lmgate_sized_model", maxBits = 1e9)
    val plan2 = out2.queryExecution.optimizedPlan.toString
    assert(!plan2.contains("lmgate_sized_model"),
      s"within-cap rebuild must score natively, not join the tables:\n${plan2.take(600)}")
    assert(plan2.contains("charlm_bitsum"),
      s"native scorer missing from the literal-regime plan:\n${plan2.take(600)}")
    assert(out2.filter(col("decision") === "insert").count() == 2)
  }

  test("CharLmGate re-validates the artifact generation per batch: a rebuild by ANOTHER process (no invalidate) is picked up (r18 task 1)") {
    import graft.operators.{HygieneOps, IndexTable, VectorOps}
    import graft.streaming.CharLmGate
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = "lmgate_gen_model"
    // model A: 'ab' is a seen bigram
    HygieneOps.writeCharLmTableFrom(spark,
      Seq((1L, "ababab")).toDF("doc_id", "text"), table)
    val batch = Seq((7L, "ab", "insert")).toDF("doc_id", "text", "decision")
      .localCheckpoint()
    def gateBits(): Double = CharLmGate.withLmDecisions(batch, table, maxBits = 1e9)
      .select("bits").collect()(0).getDouble(0)
    val bitsA = gateBits() // primes the cache with model A
    // simulate a rebuild by ANOTHER process: the writer's table writes +
    // generation bump, but THIS JVM's CharLmGate.invalidate is never
    // called — exactly what a second maintainer process looks like from
    // this gate JVM. Model B has 'ab' unseen (different smoothing path),
    // so a stale cache produces bitsA, a re-collected one produces bitsB.
    val (counts, ctx, vocab) = HygieneOps.charlmModelOf(
      Seq((1L, "azazaz")).toDF("doc_id", "text"))
    IndexTable.clearStaleLocation(spark, table)
    IndexTable.clearStaleLocation(spark, table + "_ctx")
    counts.write.mode("overwrite").format("parquet").saveAsTable(table)
    ctx.crossJoin(vocab).write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_ctx")
    IndexTable.bumpUnconditional(spark, table)
    // next batch must score against model B without any same-JVM signal
    val bitsB = gateBits()
    val ctxV = spark.table(table + "_ctx")
    val want = HygieneOps.charlmScoreAgainst(
      batch.filter(col("decision") === "insert").select("doc_id", "text"),
      spark.table(table), ctxV.select("ch", "c_a"), ctxV.select("v").limit(1))
      .select("bits").collect()(0).getDouble(0)
    assert(bitsB == want,
      s"gate must re-collect on generation drift: got $bitsB, model B gives $want")
    assert(bitsB != bitsA,
      "fixture is vacuous: models A and B must score the probe doc differently")
    // and the generation re-validation must also flip the PLAN REGIME
    // when the rebuilt artifact crosses the literal cap — another
    // process can grow the model past CharLmLiteralMax, and this JVM's
    // next batch must switch to the broadcast-join plan, not score the
    // big model through a stale literal projection
    val chars = (0 until 105).map(i => (0x4E00 + i).toChar)
    val big = chars.zipWithIndex.map { case (c, i) =>
      (i.toLong, chars.map(cj => s"$c$cj").mkString)
    }.toDF("doc_id", "text")
    val (c2, x2, v2) = HygieneOps.charlmModelOf(big)
    IndexTable.clearStaleLocation(spark, table)
    IndexTable.clearStaleLocation(spark, table + "_ctx")
    c2.write.mode("overwrite").format("parquet").saveAsTable(table)
    x2.crossJoin(v2).write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_ctx")
    IndexTable.bumpUnconditional(spark, table)
    val out3 = CharLmGate.withLmDecisions(batch, table, maxBits = 1e9)
    assert(out3.queryExecution.optimizedPlan.toString.contains(table),
      "an over-cap cross-process rebuild must flip the gate to the join plan (tables in plan)")
  }

  test("gated ingestion pipeline: exact dedup -> quality -> merge -> near-dup gate in ONE query across batches") {
    import graft.streaming.{DedupGate, StreamMerge}
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    def near(t: String, tail: String) = t.split(" ").init.mkString(" ") + " " + tail
    val corpusText = wt("corp"); val knownText = wt("known"); val sibText = wt("sib")
    val staticBase = Seq((10L, knownText)).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    DedupGate.writeSigIndex(spark,
      Seq(1L -> corpusText).toDF("doc_id", "text"), "gate_pipe_idx", nBuckets = 8)
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-gatedpipe-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Option[Long], Option[Long], Option[Int])]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.gatedIngestPipeline(
        input.toDS().toDF("doc_id", "text", "ts"), staticBase, "gate_pipe_idx",
        (df, _) => df.collect().foreach { r =>
          acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
            Option(r.getAs[java.lang.Long]("existing_id")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
            Option(r.getAs[java.lang.Integer]("sig_match")).map(_.intValue())))
        })
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1 carries TWO near-dup siblings (602, 603): exactly one may
    // index (the min-id one), the other must flag within-batch — the
    // composition closing the gate's documented blind spot
    phase(Seq((601L, corpusText, at(10)), (602L, sibText, at(11)),
      (603L, near(sibText, "zz"), at(12)), (604L, "tiny doc", at(13)),
      (605L, knownText, at(14))))
    // batch 2: a near-dup of the batch-1 survivor must flag against the
    // GROWN index; a novel doc must pass and index
    phase(Seq((606L, near(sibText, "yy"), at(40)), (607L, wt("nov"), at(41))))
    val byId = acc.asScala.map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(byId == Map(
      601L -> (("near_dup", None, Some(1L))),
      602L -> (("insert", None, None)),
      603L -> (("near_dup", None, Some(602L))),
      604L -> (("short", None, None)),
      605L -> (("skip_dup", Some(10L), None)),
      606L -> (("near_dup", None, Some(602L))),
      607L -> (("insert", None, None))), s"gated decisions wrong: ${acc.asScala.toSeq}")
    acc.asScala.filter(_._2 == "near_dup").foreach { t =>
      assert(t._5.exists(_ >= graft.operators.DedupOps.MinhashVerifySlots),
        s"near_dup decision without a verified sig_match: $t")
    }
    // appends ran through the micro-batch CLONE session; this session's
    // relation cache must drop the pre-append file list before reading
    spark.catalog.refreshTable("gate_pipe_idx")
    val atRest = spark.table("gate_pipe_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 602L, 607L), s"only unflagged inserts may index: $atRest")
  }

  test("gated pipeline: a watermark no-data trigger runs no gate job and the next trigger keeps the stream state") {
    import graft.streaming.{DedupGate, GateStageTimings, SpanGate, StreamMerge}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    def near(t: String, tail: String) = t.split(" ").init.mkString(" ") + " " + tail
    val corpusText = wt("nd_corp"); val sibText = wt("nd_sib"); val lateText = wt("nd_late")
    val novText = wt("nd_nov")
    val staticBase = Seq((10L, wt("nd_known"))).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    // the span pipelines' eval index shares novText's first eight words
    // (past the K+w−1 detection floor), so their span stage does real
    // work on the second data trigger
    val leak = novText.split(" ").take(8).mkString(" ")
    assert(leak.length >= graft.operators.SpanOps.GramK + graft.operators.SpanOps.WinnowW - 1)
    SpanGate.writeEvalGramIndex(spark, Seq(9400L -> (wt("nd_evq") + " " + leak + " " + wt("nd_evr")))
      .toDF("doc_id", "text"), "nodata_eval_idx", nBuckets = 8)
    graft.operators.HygieneOps.writeCharLmTableFrom(spark,
      Seq(1L -> corpusText, 2L -> sibText).toDF("doc_id", "text"), "nodata_lm")
    // jobs and SQL plans per (query, micro-batch), from the job properties
    // the stream sets
    val jobsOf = new scala.collection.concurrent.TrieMap[(String, String), Int]()
    val execsOf = new scala.collection.concurrent.TrieMap[String, (String, String)]()
    val planOf = new scala.collection.concurrent.TrieMap[Long, String]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        Option(e.properties).foreach { p =>
          val key = (p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"))
          if (key._1 != null && key._2 != null) jobsOf.synchronized {
            jobsOf.put(key, jobsOf.getOrElse(key, 0) + 1)
            Option(p.getProperty("spark.sql.execution.id")).foreach(execsOf.put(_, key))
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(): Unit }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => planOf.put(x.executionId, x.physicalPlanDescription)
        case _ =>
      }
    }
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    final case class Run(id: String, decided: Map[Long, (String, Option[Long])],
        rowsPerBatch: Map[Long, Int], gateT: Seq[GateStageTimings], spanT: Seq[GateStageTimings])
    // one pipeline over a fresh signature index: a data trigger, the
    // no-data trigger its watermark advance (25 s) schedules to evict the
    // expired dedup state, and the next data trigger
    def run(pipeline: String): Run = {
      DedupGate.writeSigIndex(spark,
        Seq(1L -> corpusText).toDF("doc_id", "text"), "nodata_gate_idx", nBuckets = 8)
      val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
      val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
      val docs = input.toDS().toDF("doc_id", "text", "ts")
      val checkpoint = Files.createTempDirectory("graft-spec-nodata-ckpt").toString
      val decided = new ConcurrentLinkedQueue[(Long, String, Option[Long])]()
      val rowsPerBatch = new scala.collection.concurrent.TrieMap[Long, Int]()
      val gateT = new ConcurrentLinkedQueue[GateStageTimings]()
      val spanT = new ConcurrentLinkedQueue[GateStageTimings]()
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
        val rows = df.collect()
        rowsPerBatch.put(id, rows.length)
        rows.foreach(r => decided.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()))))
      }
      val onGate = (t: GateStageTimings) => { gateT.add(t): Unit }
      val onSpan = (t: GateStageTimings) => { spanT.add(t): Unit }
      // no auto-broadcast: a broadcast static base adds its own build job
      // to every evaluation of the stream plan; joined by shuffle, one
      // evaluation is one job, so the counts below are the gates'
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = try (pipeline match {
        case "plain" => StreamMerge.gatedIngestPipeline(docs, staticBase, "nodata_gate_idx",
          sink, delayThreshold = "5 seconds", onGateTimings = onGate)
        case "decontam" => StreamMerge.gatedIngestPipelineDecontam(docs, staticBase,
          "nodata_gate_idx", "nodata_eval_idx", sink, delayThreshold = "5 seconds",
          onGateTimings = onGate, onSpanTimings = onSpan)
        case "scrub" => StreamMerge.gatedIngestPipelineDecontamScrub(docs, staticBase,
          "nodata_gate_idx", "nodata_eval_idx", sink, delayThreshold = "5 seconds",
          onGateTimings = onGate, onSpanTimings = onSpan)
        case "production" => StreamMerge.gatedIngestPipelineProduction(docs, staticBase,
          "nodata_gate_idx", "nodata_eval_idx", "nodata_lm", Double.MaxValue, sink,
          delayThreshold = "5 seconds", onGateTimings = onGate, onSpanTimings = onSpan)
      }).option("checkpointLocation", checkpoint).start()
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      try {
        input.addData(Seq((701L, corpusText, at(10)), (702L, sibText, at(11)),
          (703L, near(sibText, "zz"), at(12)), (704L, lateText, at(30)), (705L, "tiny doc", at(30))))
        q.processAllAvailable()
        // the next data trigger: 706 repeats 704's text within the
        // watermark, so only the dedup state 704 left (expiring at 35 s)
        // can drop it
        input.addData(Seq((706L, lateText, at(31)), (707L, near(sibText, "yy"), at(32)),
          (708L, novText, at(33))))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.exception.isEmpty, s"$pipeline stream failed: ${q.exception}")
      Run(q.id.toString, decided.asScala.map(t => t._1 -> (t._2, t._3)).toMap,
        rowsPerBatch.toMap, gateT.asScala.toSeq, spanT.asScala.toSeq)
    }
    spark.sparkContext.addSparkListener(listener)
    val runs = try Seq("plain", "decontam", "scrub", "production").map(p => p -> run(p))
    finally {
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      while (System.nanoTime() < deadline && !(started.get == ended.get && started.get == last)) {
        last = started.get
        Thread.sleep(150)
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    // the no-data trigger's jobs: the plain pipeline's stream-plan
    // evaluation (the pin) and the sink's collect; the span pipelines'
    // second pin (the span gate's own). The LM gate's per-trigger
    // model-generation read is a listing of the epoch markers, no job
    val maxNoDataJobs = Map("plain" -> 2, "decontam" -> 3, "scrub" -> 3, "production" -> 2)
    // 708 leaks the eval run: flagged, or cut with more than minTokens
    // words left
    val spanDecision = Map("plain" -> "insert", "decontam" -> "contaminated",
      "scrub" -> "scrubbed", "production" -> "scrubbed")
    for ((pipeline, r) <- runs) {
      assert(r.decided == Map(
        701L -> (("near_dup", Some(1L))),
        702L -> (("insert", None)),
        703L -> (("near_dup", Some(702L))),
        704L -> (("insert", None)),
        705L -> (("short", None)),
        707L -> (("near_dup", Some(702L))),
        708L -> ((spanDecision(pipeline), None))),
        s"$pipeline decisions wrong (706 must die in the watermarked dedup): ${r.decided}")
      assert(r.rowsPerBatch.get(0L).contains(5) && r.rowsPerBatch.get(1L).contains(0) &&
        r.rowsPerBatch.get(2L).contains(2),
        s"$pipeline: expected data, no-data, data triggers: ${r.rowsPerBatch}")
      val noData = jobsOf.getOrElse((r.id, "1"), 0)
      assert(noData >= 1 && noData <= maxNoDataJobs(pipeline),
        s"$pipeline: the no-data trigger may run only its pins and the sink's collect, ran " +
          s"$noData jobs: $jobsOf")
      val noDataPlans = execsOf.collect { case (e, k) if k == ((r.id, "1")) =>
        planOf.getOrElse(e.toLong, "") }.toSeq
      Seq("nodata_gate_idx", "nodata_eval_idx", "winnow_select", "minhash_shingle_sig",
          "nodata_lm_epoch").foreach { read =>
        assert(!noDataPlans.exists(_.contains(read)),
          s"$pipeline: the no-data trigger must not run $read:\n${noDataPlans.mkString("\n")}")
      }
      def zeroStage(ts: Seq[GateStageTimings]): Boolean = {
        val t1 = ts.filter(_.batchId == 1L)
        t1.size == 1 && t1.head.sigSec == 0.0 && t1.head.probeSec == 0.0 &&
          t1.head.appendSec == 0.0 && t1.head.appended == 0L
      }
      assert(zeroStage(r.gateT),
        s"$pipeline: the no-data trigger must report one zero-stage gate timing: ${r.gateT}")
      if (pipeline != "plain") {
        assert(zeroStage(r.spanT),
          s"$pipeline: the no-data trigger must report one zero-stage span timing: ${r.spanT}")
        assert(r.spanT.exists(t => t.batchId == 2L && t.probeSec > 0.0),
          s"$pipeline: the second data trigger must probe the eval index: ${r.spanT}")
      }
    }
  }

  test("hygiene-gated pipeline: blocklist and LM gates slot into the chain, narrow and stateless") {
    import graft.streaming.{DedupGate, StreamMerge}
    import graft.operators.HygieneOps
    import org.apache.spark.sql.functions.{col, md5, min}
    import spark.implicits._
    def wt(seed: String) = (1 to 30).map(i => s"${seed}_$i").mkString(" ")
    // the known doc must be IN-distribution (same seed family as the
    // training corpus) or the LM gate legitimately fires before the dup
    // classification — precedence attributes to the FIRST exclusion
    val knownText = wt("w5")
    // model trained on in-distribution text; junk is rare-transition soup
    // long enough to pass the length gate
    val trainCorpus = (1L to 20L).map(i => i -> wt(s"w$i")).toDF("doc_id", "text")
    val (c, x, v) = HygieneOps.charlmModelOf(trainCorpus)
    val (mBg, mA, vv) = HygieneOps.collectCharLmModel(c, x, v)
    val normalText = wt("w3")
    val junkText = (1 to 30).map(i => s"zqxj${i}vkwq").mkString(" ")
    val bitsOf = HygieneOps.withCharLmScore(
      Seq(1L -> normalText, 2L -> junkText).toDF("doc_id", "text"), mBg, mA, vv)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bits")).toMap
    assert(bitsOf(1L) < bitsOf(2L), s"model must separate normal/junk: $bitsOf")
    val maxBits = (bitsOf(1L) + bitsOf(2L)) / 2
    val staticBase = Seq((10L, knownText)).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    DedupGate.writeSigIndex(spark,
      Seq(1L -> wt("corp")).toDF("doc_id", "text"), "gate_hyg_idx", nBuckets = 8)
    val enc = implicitly[Encoder[(Long, String, java.sql.Timestamp)]]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-hygpipe-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String)]()
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    input.addData(Seq(
      (701L, normalText, at(10)),                                   // insert + index
      (702L, normalText + " see https://x.badsite.com/p", at(11)),  // blocked_domain
      (703L, junkText, at(12)),                                     // lm_tail
      (704L, "tiny doc", at(13)),                                   // short
      (705L, knownText, at(14))))                                   // skip_dup
    val q = StreamMerge.gatedIngestPipelineHygiene(
      input.toDS().toDF("doc_id", "text", "ts"), staticBase, "gate_hyg_idx",
      (df, _) => df.collect().foreach { r =>
        acc.add((r.getAs[Long]("doc_id"), r.getAs[String]("decision")))
      },
      mBg, mA, vv, maxBits, minQuality = 0.0)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byId = acc.asScala.toMap
    assert(byId == Map(701L -> "insert", 702L -> "blocked_domain",
      703L -> "lm_tail", 704L -> "short", 705L -> "skip_dup"),
      s"hygiene decisions wrong: ${acc.asScala.toSeq}")
    // only the clean insert may append signatures
    spark.catalog.refreshTable("gate_hyg_idx")
    val atRest = spark.table("gate_hyg_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 701L), s"only unflagged inserts may index: $atRest")
  }

  test("windowed ingest stats: counts emit exactly once on watermark close; late docs cannot reopen a window") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, md5, min}
    val longText = (1 to 20).map(i => s"w$i").mkString(" ")
    val longText2 = (1 to 20).map(i => s"x$i").mkString(" ")
    val staticBase = {
      import spark.implicits._
      Seq((99L, (1 to 20).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-wstats-ckpt").toString
    val acc = new ConcurrentLinkedQueue[(Long, String, Long)]()
    def phase(): Unit = {
      val q = StreamMerge.ingestStatsWindowed(
        StreamMerge.ingestPipeline(input.toDS().toDF("doc_id", "text", "ts"), staticBase,
          delayThreshold = "10 seconds"), "1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[Row], _: Long) =>
          ds.collect().foreach(r =>
            acc.add((r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2))))
        }
        .start()
      q.awaitTermination()
    }
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // window [0,60): one insert + one short
    input.addData(Seq((401L, longText, at(10)), (402L, "tiny", at(20))))
    phase()
    // advance the watermark past [0,60): max ts 130 - 10s delay = 120
    input.addData(Seq((403L, longText2, at(130))))
    phase()
    // a LATE doc for the closed window is dropped by the watermark — it
    // must neither reopen [0,60) nor surface anywhere downstream
    input.addData(Seq((404L, "late tiny", at(30))))
    phase()
    // two more advances close [120,180) as well
    input.addData(Seq((405L, "t", at(400))))
    phase()
    input.addData(Seq((406L, "t2", at(600))))
    phase()
    val out = acc.asScala.toSeq
    assert(out.filter(_._1 == 0L).toSet == Set((0L, "insert", 1L), (0L, "short", 1L)),
      s"window [0,60) decisions wrong: $out")
    assert(out.count(_._1 == 0L) == 2,
      s"window [0,60) must emit exactly once per decision (late doc reopened it?): $out")
    assert(out.filter(_._1 == 120L).toSet == Set((120L, "insert", 1L)),
      s"window [120,180) decisions wrong: $out")
  }

  test("ingest decisions land in an idempotent batch-partitioned audit log") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.functions.{col, md5, min}
    val goodText = (1 to 20).map(i => s"a$i").mkString(" ")
    val knownText = (1 to 20).map(i => s"b$i").mkString(" ")
    val staticBase = {
      import spark.implicits._
      Seq((10L, knownText)).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-audit-ckpt").toString
    val outDir = Files.createTempDirectory("graft-spec-audit-out").toString
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.decisionsToParquet(
        StreamMerge.ingestPipeline(input.toDS().toDF("doc_id", "text", "ts"), staticBase),
        outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    phase(Seq((401L, goodText, at(10)), (402L, "too short", at(11))))
    phase(Seq((403L, knownText, at(20))))
    val log = StreamMerge.auditLog(spark, outDir)
      .selectExpr("CAST(batch AS LONG) AS batch", "doc_id", "decision").collect()
      .map(r => (r.getLong(1), (r.getLong(0), r.getString(2)))).toMap
    assert(log == Map(
      401L -> (0L, "insert"), 402L -> (0L, "short"), 403L -> (1L, "skip_dup")),
      s"audit log wrong: $log")
    // the batch column is a partition column: a per-batch audit question
    // prunes to that batch's directory
    val b1 = StreamMerge.auditLog(spark, outDir).filter(col("batch") === 1)
    assert(b1.count() == 1)
    assert(b1.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(batch"),
      "batch predicate must prune partitions")
  }

  test("gate metrics listener retains batch progress bounded, with state rows for stateful queries") {
    import graft.streaming.{FrequentItems, GateMetrics, TimedItem}
    val gm = GateMetrics.attach(spark, capacity = 64)
    val gmTiny = GateMetrics.attach(spark, capacity = 2)
    try {
      val enc = { import spark.implicits._; implicitly[Encoder[TimedItem]] }
      val input = MemoryStream[TimedItem](enc, spark.sqlContext)
      val checkpoint = Files.createTempDirectory("graft-spec-gm-ckpt").toString
      def phase(is: Seq[TimedItem]): Unit = {
        input.addData(is)
        val q = FrequentItems.stream(spark, input.toDS(), k = 4, windowLength = "1 minute")
          .writeStream.outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          // Spark 4.1 validates the state-store commit: foreachBatch must
          // process all partitions, so even a drop-the-output body counts
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.count(): Unit
          }
          .start()
        q.awaitTermination()
      }
      def at(item: String, sec: Long) = TimedItem(new java.sql.Timestamp(sec * 1000L), item)
      phase(Seq(at("x", 61), at("x", 62), at("y", 63)))
      phase(Seq(at("z", 300)))
      phase(Seq(at("z", 400)))
      // progress events are delivered async on the listener bus — wait
      val deadline = System.nanoTime() + 30e9.toLong
      while (gm.snapshot.count(_.input_rows > 0) < 3 && System.nanoTime() < deadline)
        Thread.sleep(100)
      // scope to THIS query (the bus is session-global; a prior test's
      // terminal event could still be in flight)
      val qid = gm.snapshot.filter(_.input_rows > 0).groupBy(_.query_id)
        .maxBy(_._2.size)._1
      val withRows = gm.snapshot.filter(m => m.query_id == qid && m.input_rows > 0)
      assert(withRows.size >= 3, s"row-bearing progress missing: ${gm.snapshot}")
      assert(withRows.map(_.input_rows).sum == 5L, s"input rows drifted: $withRows")
      // the windowed aggregate carries state — the curve ops watch
      assert(gm.snapshot.exists(_.state_rows > 0),
        s"stateful query reported no state rows: ${gm.snapshot}")
      assert(gm.snapshot.forall(_.trigger_ms >= 0))
      // bounded retention: the tiny ring holds only the most recent two,
      // and they are the TAIL of the full listener's view
      assert(gmTiny.snapshot.size <= 2, s"ring exceeded capacity: ${gmTiny.snapshot.size}")
      assert(gm.snapshot.size >= gmTiny.snapshot.size)
      assert(gmTiny.snapshot == gm.snapshot.takeRight(gmTiny.snapshot.size),
        "the bounded ring must keep the most recent events")
      val df = gm.toDf(spark)
      assert(df.columns.toSeq == Seq("query_id", "run_id", "batch_id", "ts",
        "input_rows", "rows_per_sec", "trigger_ms", "state_rows"))
      assert(df.count() == gm.snapshot.size.toLong)
    } finally {
      spark.streams.removeListener(gm)
      spark.streams.removeListener(gmTiny)
    }
  }

  test("gate metrics flush rotates the ring into an idempotent parquet sink (r16 task 7)") {
    import graft.streaming.{FrequentItems, GateMetrics, TimedItem}
    val gm = GateMetrics.attach(spark, capacity = 64)
    try {
      val enc = { import spark.implicits._; implicitly[Encoder[TimedItem]] }
      val input = MemoryStream[TimedItem](enc, spark.sqlContext)
      val checkpoint = Files.createTempDirectory("graft-spec-gmf-ckpt").toString
      def phase(is: Seq[TimedItem]): Unit = {
        input.addData(is)
        val q = FrequentItems.stream(spark, input.toDS(), k = 4, windowLength = "1 minute")
          .writeStream.outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.count(): Unit
          }
          .start()
        q.awaitTermination()
      }
      def at(item: String, sec: Long) = TimedItem(new java.sql.Timestamp(sec * 1000L), item)
      phase(Seq(at("a", 61), at("b", 62)))
      phase(Seq(at("c", 300)))
      val deadline = System.nanoTime() + 30e9.toLong
      while (gm.snapshot.count(_.input_rows > 0) < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      val sink = Files.createTempDirectory("graft-spec-gm-sink").toString + "/metrics"
      def key(m: GateMetrics.BatchMetric) = (m.run_id, m.batch_id)
      // listener events trail awaitTermination on the async bus — settle
      // before snapshotting so the flush sees exactly what we counted
      def settled(): Seq[GateMetrics.BatchMetric] = {
        var prev = gm.snapshot
        var same = 0
        while (same < 2) {
          Thread.sleep(200)
          val now = gm.snapshot
          if (now == prev) same += 1 else { same = 0; prev = now }
        }
        prev
      }
      val snap1 = settled()
      assert(snap1.nonEmpty)
      // first flush: everything retained lands, ring rotates it out
      val n1 = gm.flushTo(spark, sink)
      assert(n1 == snap1.size.toLong, s"first flush appended $n1 of ${snap1.size}")
      assert(spark.read.parquet(sink).count() == n1)
      assert(gm.snapshot.intersect(snap1).isEmpty,
        "flushed rows must leave the ring (rotation)")
      // replay: a crash between append and rotation re-offers the same
      // rows — the anti-join lands nothing and the ring drains again
      snap1.foreach(gm.offer)
      assert(gm.flushTo(spark, sink) == 0L, "replayed flush must append nothing")
      assert(spark.read.parquet(sink).count() == n1)
      assert(gm.snapshot.intersect(snap1).isEmpty)
      // incremental: new batches flush as NEW rows only
      phase(Seq(at("d", 500)))
      val d2 = System.nanoTime() + 30e9.toLong
      while (gm.snapshot.count(_.input_rows > 0) < 1 && System.nanoTime() < d2)
        Thread.sleep(100)
      val snap2 = settled()
      assert(snap2.map(key).toSet.intersect(snap1.map(key).toSet).isEmpty,
        "post-rotation ring must hold only unflushed events")
      val n2 = gm.flushTo(spark, sink)
      assert(n2 == snap2.size.toLong)
      val persisted = spark.read.parquet(sink)
      assert(persisted.count() == n1 + n2)
      assert(persisted.select("run_id", "batch_id").distinct().count() == n1 + n2,
        "sink keys must stay unique across flush generations")
      assert(persisted.columns.toSeq == Seq("query_id", "run_id", "batch_id", "ts",
        "input_rows", "rows_per_sec", "trigger_ms", "state_rows"),
        "every flush generation must land schema-identical")
    } finally spark.streams.removeListener(gm)
  }

  test("incremental data card: per-batch cells fold to the corpus_stats shape, replay-idempotent") {
    import graft.streaming.StreamMerge
    import org.apache.spark.sql.functions.{col, md5, min}
    val goodText = (1 to 20).map(i => s"a$i").mkString(" ")
    val goodText2 = (1 to 25).map(i => s"c$i").mkString(" ")
    val knownText = (1 to 20).map(i => s"b$i").mkString(" ")
    val staticBase = {
      import spark.implicits._
      Seq((10L, knownText)).toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    }
    val enc = { import spark.implicits._; implicitly[Encoder[(Long, String, java.sql.Timestamp)]] }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](enc, spark.sqlContext)
    val checkpoint = Files.createTempDirectory("graft-spec-card-ckpt").toString
    val cells = Files.createTempDirectory("graft-spec-card-cells").toString
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def phase(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      input.addData(rows)
      val q = StreamMerge.statsToParquet(
        StreamMerge.ingestPipeline(input.toDS().toDF("doc_id", "text", "ts"), staticBase),
        cells)
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    phase(Seq((501L, goodText, at(10)), (502L, "too short", at(11)), (503L, goodText2, at(12))))
    phase(Seq((504L, knownText, at(20))))
    def card(): Map[String, (Long, Long, Double, Double)] =
      StreamMerge.dataCard(spark, cells).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    // 4 docs / 67 tokens total: insert 2/45, short 1/2, skip_dup 1/20 —
    // the corpus_stats shape, assembled from cells without any re-scan
    val c1 = card()
    assert(c1 == Map(
      "insert" -> ((2L, 45L, 2.0 / 4, 45.0 / 67)),
      "short" -> ((1L, 2L, 1.0 / 4, 2.0 / 67)),
      "skip_dup" -> ((1L, 20L, 1.0 / 4, 20.0 / 67))), s"card: $c1")
    // the per-batch dirs hold CELLS, not decision rows (metadata scale)
    val b0 = spark.read.parquet(s"$cells/batch=0")
    assert(b0.count() == 2 && b0.columns.toSeq ==
      Seq("decision", "n_docs", "n_tokens"), s"batch-0 cells: ${b0.collect().toSeq}")
    // replay idempotence: a redelivered batch overwrites its own dir
    // byte-identically — the card cannot double-count
    locally {
      import spark.implicits._
      StreamMerge.statsCell(Seq(("skip_dup", 20L)).toDF("decision", "n_tokens"))
        .write.mode("overwrite").parquet(s"$cells/batch=1")
    }
    assert(card() == c1, "a replayed batch must not change the card")
    // lang-carrying cells: null langs bucket as "und" (a null group key
    // would silently drop out of the per-language denominator join), and
    // a pre-lang batch dir mixed in (mergeSchema null) does the same
    locally {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-spec-card-lang").toString
      StreamMerge.statsCell(Seq(
        ("insert", 10L, "en"), ("insert", 12L, null.asInstanceOf[String]),
        ("short", 2L, "en")).toDF("decision", "n_tokens", "lang"))
        .write.parquet(s"$dir/batch=0")
      // an old dir written before decisions carried lang at all
      StreamMerge.statsCell(Seq(("insert", 7L)).toDF("decision", "n_tokens"))
        .write.parquet(s"$dir/batch=1")
      val byLang = StreamMerge.dataCard(spark, dir).collect()
        .map(r => (r.getString(1), r.getString(0)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(byLang == Map(
        ("en", "insert") -> ((1L, 10L)), ("en", "short") -> ((1L, 2L)),
        ("und", "insert") -> ((2L, 19L))), // null-lang row + pre-lang dir, nothing lost
        s"lang card: $byLang")
    }
  }

  test("audit log read merges pre-ts and post-ts batch directories without dropping ts") {
    import graft.streaming.StreamMerge
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-spec-auditmix").toString
    // batch=0 written before decision rows carried an event time
    Seq((1L, "h1", 10L, 0.9, "insert", Option.empty[Long]))
      .toDF("doc_id", "h", "n_tokens", "quality", "decision", "existing_id")
      .write.parquet(s"$dir/batch=0")
    Seq((2L, "h2", 12L, 0.8, "insert", Option.empty[Long],
        Option(new java.sql.Timestamp(42000L))))
      .toDF("doc_id", "h", "n_tokens", "quality", "decision", "existing_id", "ts")
      .write.parquet(s"$dir/batch=1")
    val log = StreamMerge.auditLog(spark, dir)
    assert(log.columns.contains("ts"),
      s"ts dropped by mixed-schema inference: ${log.columns.toSeq}")
    val ts = log.select("doc_id", "ts").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(ts(2L) != null && ts(1L) == null, s"merged ts wrong: $ts")
  }

  test("uuid reuse after DONE starts a clean new session") {
    val text = "0123456789abcdef"
    val fs = frames("e", text)
    val acks = run(fs, Seq(fs.head)) // replay frame 1 after completion
    // exactly one DONE with the full text; the replayed frame opens a new
    // session (state was erased on DONE) and simply RECEIVEs
    assert(acks.count(_.kind == "DONE") == 1)
    val firstSession = acks.takeWhile(_.kind != "DONE") :+ acks.find(_.kind == "DONE").get
    assert(chunksOf(firstSession, "e") == text)
    assert(acks.last.kind == "RECEIVED")
  }
}
