package graft

import scala.util.Random

import graft.functions.TopK
import graft.streaming.{Frame, Reassembly, SessionState}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the pure cores, over seeded random cases: the TopK
  * bounded buffer against a sort-based reference, and the reassembly
  * state transition against its protocol invariants under arbitrary
  * frame orderings (dups, out-of-order, overruns arise by construction).
  */
class PropertySpec extends AnyFunSuite {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // --- independent sequential reference BPE over an explicit word-freq
  // map (the QueriesSpec reference, corpus-parametric and
  // exhaustion-tolerant) — the ground truth the BATCHED trainer must
  // reproduce bit for bit ---
  private def refMergeWord(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refBpe(wordFreq: Map[String, Long], rounds: Int): Seq[(Long, String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.groupMapReduce { case (w, _) => w.split("").toVector } (_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= rounds && !done) {
      val pairs = words.iterator
        .flatMap { case (syms, f) => syms.zip(syms.tail).map(p => p -> f) }
        .foldLeft(Map.empty[(String, String), Long])((m, kv) =>
          m.updated(kv._1, m.getOrElse(kv._1, 0L) + kv._2))
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), pf) = pairs.minBy { case ((pl, pr), ppf) => (-ppf, pl, pr) }
        out += ((rank.toLong, l, r, pf))
        words = words.groupMapReduce { case (syms, _) => refMergeWord(syms, l, r) } (_._2)(_ + _)
        rank += 1
      }
    }
    out.toSeq
  }

  test("batched BPE trainer ≡ sequential reference at 64 merges on randomized corpora (r14 task 2)") {
    import spark.implicits._
    import graft.operators.TextOps
    // two regimes: a small alphabet makes early merges CONFLICT-heavy
    // (exercises the prefix-stop + strict-bound truncation and, at deep
    // merge counts, the output-string collision guard — "ab"+"c" and
    // "a"+"bc" paths exist by construction); a wider alphabet makes
    // batches fat (exercises genuine multi-merge rounds)
    for ((seed, alpha) <- Seq((101, "abc"), (202, "abcdefgh"), (303, "abcd"))) {
      val rnd = new Random(seed)
      val distinct = (1 to 80).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val tokens = (1 to 2500).map(_ => distinct(rnd.nextInt(distinct.length)))
      val wordFreq = tokens.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
      val docs = tokens.grouped(50).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val want = refBpe(wordFreq, 64)
      val (gotB, roundsB) = TextOps.bpeMergesTrained(spark, docs, 64, batch = 16)
      assert(gotB == want,
        s"seed $seed: batched(16) trainer diverged from the sequential reference\n" +
          s" got  ${gotB.take(12)}…\n want ${want.take(12)}…")
      // batch = 1 IS the sequential trainer (same core, degenerate batch)
      val (got1, rounds1) = TextOps.bpeMergesTrained(spark, docs, 64, batch = 1)
      assert(got1 == want, s"seed $seed: batch=1 trainer diverged from the reference")
      assert(rounds1 == want.size, "batch=1 must use one driver round per merge")
      assert(roundsB < rounds1,
        s"seed $seed: batching saved no driver rounds ($roundsB vs $rounds1)")
      // r22: driverVocabMax = 0 forces the OVER-CAP arm (distributed
      // rounds) — both arms must match the reference bit for bit
      val (gotDist, roundsDist) =
        TextOps.bpeMergesTrained(spark, docs, 64, batch = 16, driverVocabMax = 0)
      assert(gotDist == want,
        s"seed $seed: over-cap distributed trainer diverged from the reference")
      assert(roundsDist == roundsB,
        s"seed $seed: the two arms took different driver-round counts " +
          s"($roundsDist distributed vs $roundsB driver-side)")
    }
    // the real corpus: natural text chains its top pairs through shared
    // letters, so batches are thin and conflicts frequent — every width
    // must still reproduce the batch=1 merge list exactly
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val (seqMerges, seqRounds) = TextOps.bpeMergesTrained(spark, real, 128, batch = 1)
    assert(seqMerges.nonEmpty, "sf0.001 documents: no merges trained")
    for (w <- Seq(8, 32, 128)) {
      val (ms, rounds) = TextOps.bpeMergesTrained(spark, real, 128, batch = w)
      assert(ms == seqMerges,
        s"sf0.001 documents: batch=$w merge list diverged from batch=1")
      assert(rounds < seqRounds,
        s"sf0.001 documents: batch=$w saved no driver rounds ($rounds vs $seqRounds)")
    }
  }

  test("MisraGries.Buf: bound, undercount-only error <= n/(k+1), heavy superset — under random partitioning and merge order") {
    import graft.functions.MisraGries
    val rnd = new Random(4242)
    for (trial <- 0 until 30) {
      val k = 2 + rnd.nextInt(12)
      // Zipf-ish head + uniform tail: a few genuinely heavy items exist,
      // most don't — both regimes of the guarantee get exercised
      val head = (0 until 3).flatMap(h => Seq.fill(50 + rnd.nextInt(200))(s"h$h"))
      val tail = (0 until 200).map(_ => s"t${rnd.nextInt(60)}")
      val stream = rnd.shuffle(head ++ tail)
      val n = stream.size
      val truth = stream.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      // split into random slices, sketch each, merge in a random tree order
      val nParts = 1 + rnd.nextInt(7)
      val parts = stream.zipWithIndex.groupBy(_._2 % nParts).values.toVector
      var bufs = rnd.shuffle(parts.map { sl =>
        val b = new MisraGries.Buf(k); sl.foreach { case (s, _) => b.add(s) }; b
      })
      while (bufs.size > 1) {
        val i = rnd.nextInt(bufs.size - 1)
        bufs(i).mergeIn(bufs(i + 1))
        bufs = bufs.patch(i + 1, Nil, 1)
      }
      val est = bufs.head.entries.toMap
      assert(est.size <= k, s"trial $trial: ${est.size} entries > k=$k")
      val bound = n.toLong / (k + 1)
      truth.foreach { case (x, t) =>
        val e = est.getOrElse(x, 0L)
        assert(e <= t, s"trial $trial: overcount $x est=$e true=$t")
        assert(e >= t - bound, s"trial $trial: $x est=$e below true=$t - n/(k+1)=$bound")
        if (t > bound) assert(est.contains(x), s"trial $trial: heavy $x (true=$t > $bound) missing")
      }
    }
  }

  test("misra_gries two-pass heavy hitters ≡ exact full-domain groupBy, invariant across partitionings") {
    import graft.functions.MisraGries.misra_gries
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(7)
    // skewed synthetic column: item i drawn with weight ~ 1/(i+1)
    val rows = (0 until 5000).map { _ =>
      val u = rnd.nextDouble()
      val i = math.min(39, (math.pow(40.0, u) - 1).toInt) // log-uniform => Zipf-ish
      s"item$i"
    }
    val k = 9
    def result(parts: Int): Seq[(String, Long)] = {
      val df = rows.toDF("item").repartition(parts)
      val cand = df.agg(misra_gries(col("item"), k).as("c"), count(lit(1)).as("n"))
        .select(col("n"), explode(col("c")).as("e"))
        .select(col("n"), col("e.item").as("item"))
      df.join(broadcast(cand), "item")
        .groupBy("item", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (k + 1) > col("n"))
        .select("item", "cnt").sort("item")
        .as[(String, Long)].collect().toSeq
    }
    val exact = {
      val n = rows.size
      rows.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
        .filter { case (_, c) => c * (k + 1) > n }.toSeq.sortBy(_._1)
    }
    assert(exact.nonEmpty, "constructed stream must actually have heavy hitters")
    assert(result(1) == exact)
    assert(result(13) == exact)
    assert(result(32) == exact)
  }

  test("IndexProbe.bucketIds ≡ the bucket file a bucketBy write puts each key in") {
    import spark.implicits._
    import graft.streaming.IndexProbe
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    import org.apache.spark.sql.functions.input_file_name
    val rnd = new Random(1207)
    val keys = (Seq(0L, 1L, -1L, 42L, -42L, Long.MinValue, Long.MinValue + 1, Long.MaxValue,
      Long.MaxValue - 1) ++ Seq.fill(300)(rnd.nextLong())).distinct
    for (n <- Seq(1, 2, 3, 8, 16, 61)) {
      val table = s"bucket_ids_$n"
      val dir = java.nio.file.Files.createTempDirectory("graft-bucket-ids").resolve("t")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      keys.toDF("k").write.bucketBy(n, "k").option("path", dir.toString)
        .format("parquet").saveAsTable(table)
      val landed = spark.table(table).select($"k", input_file_name()).as[(Long, String)]
        .collect().map { case (k, f) =>
          k -> BucketingUtils.getBucketId(f.substring(f.lastIndexOf('/') + 1)).get
        }.toMap
      spark.sql(s"DROP TABLE $table")
      assert(landed.size == keys.size, s"$n buckets: ${landed.size} of ${keys.size} keys read back")
      val want = keys.zip(IndexProbe.bucketIds(n, keys)).toMap
      val wrong = keys.filter(k => landed(k) != want(k))
      assert(wrong.isEmpty, s"$n buckets: driver-side bucket ids differ for " +
        wrong.take(5).map(k => s"$k (file ${landed(k)}, driver ${want(k)})").mkString(", "))
    }
  }

  test("TopK.Buf equals take-k of the fully sorted input, for random inputs and k") {
    val rnd = new Random(42)
    (1 to 300).foreach { _ =>
      val k = 1 + rnd.nextInt(8)
      val xs = List.fill(rnd.nextInt(40))((rnd.nextInt(2000) / 100.0 - 10.0, rnd.nextInt(50).toLong))
      val buf = new TopK.Buf(k)
      xs.foreach { case (s, i) => buf.insert(s, i, i) }
      val got = (0 until buf.size).map(i => (buf.scores(i), buf.ids(i))).toList
      val want = xs.sortBy { case (s, i) => (-s, i) }.take(k)
      assert(got == want, s"k=$k xs=$xs")
    }
  }

  test("processFrames: ack per frame, per-generation clamped progress, at most one DONE each") {
    val rnd = new Random(7)
    (1 to 300).foreach { _ =>
      // filesize 16 = 4 in-order 4-char frames; seqs 1..6 generate dups,
      // gaps, premature, post-completion and REOPENING (seq 1) frames
      val frames = List.fill(rnd.nextInt(12)) {
        Frame("u", 1 + rnd.nextInt(6), List.fill(4)(('a' + rnd.nextInt(26)).toChar).mkString, 16L)
      }
      val (st, acks, done) = Reassembly.processFrames("u", SessionState(1, 0L, -1L, 0), frames)
      assert(acks.length == frames.length, "exactly one ack per frame")
      // generation ordinals never decrease, and advance only on reopen
      val gens = acks.map(_.gen)
      assert(gens == gens.sorted, s"generation must be monotone: $acks")
      assert(gens.forall(_ <= st.gen))
      acks.groupBy(_.gen).foreach { case (g, as) =>
        assert(as.count(_.kind == "DONE") <= 1, s"gen $g: DONE at most once")
        val accepted = as.filter(a => a.kind == "RECEIVED" || a.kind == "DONE")
        assert(accepted.map(_.chunk.length).sum <= 16L, s"gen $g: clamp violated")
        as.filter(_.kind == "DONE").foreach(d => assert(d.written == 16L))
        // within one generation everything after its DONE is a REJECT (a
        // seq-1 reopen moves subsequent acks into the NEXT generation)
        assert(as.dropWhile(_.kind != "DONE").drop(1).forall(_.kind == "REJECT"),
          s"gen $g: non-REJECT after its own DONE: $as")
      }
      // final state accounts exactly for the LAST generation's acks
      val lastGen = acks.filter(_.gen == st.gen)
      assert(st.written <= 16L)
      assert(lastGen.map(_.chunk.length).sum.toLong == st.written,
        "ack chunk flow tracks written within the live generation")
      assert(st.rejected == lastGen.count(_.kind == "REJECT"))
      assert(st.expected - 1 == lastGen.count(a => a.kind == "RECEIVED" || a.kind == "DONE"))
      if (done) assert(lastGen.exists(_.kind == "DONE"), "done implies the last generation closed")
    }
  }

  test("processFrames: a completed uuid reopening in the same batch starts gen+1") {
    val fs = Seq(
      Frame("u", 1, "old!", 4), // single-frame generation 0, completes
      Frame("u", 1, "newer ", 12), // same uuid reopens -> generation 1
      Frame("u", 2, "stuff!", 12))
    val (st, acks, done) = Reassembly.processFrames("u", SessionState(1, 0L, -1L, 0), fs)
    assert(acks.map(a => (a.kind, a.gen, a.chunk)) == Seq(
      ("DONE", 0, "old!"), ("RECEIVED", 1, "newer "), ("DONE", 1, "stuff!")), s"acks: $acks")
    assert(done && st.gen == 1 && st.written == 12L)
    // a non-opener trailing frame still rejects (no generation bump)
    val (st2, acks2, _) = Reassembly.processFrames("v",
      SessionState(1, 0L, -1L, 0), Seq(Frame("v", 1, "hell", 4), Frame("v", 3, "oXXX", 4)))
    assert(acks2.map(a => (a.kind, a.gen)) == Seq(("DONE", 0), ("REJECT", 0)))
    assert(st2.gen == 0)
  }

  test("processFrames: a complete in-order stream always reassembles exactly") {
    val rnd = new Random(11)
    (1 to 100).foreach { _ =>
      val text = List.fill(16)(('a' + rnd.nextInt(26)).toChar).mkString
      val frames = text.grouped(4).zipWithIndex.map { case (c, i) => Frame("u", i + 1, c, 16L) }.toSeq
      val (_, acks, done) = Reassembly.processFrames("u", SessionState(1, 0L, -1L, 0), frames)
      assert(done)
      assert(acks.last.kind == "DONE")
      assert(acks.sortBy(_.next_seq).map(_.chunk).mkString == text)
    }
  }

  test("EmbedGate.checkAgainst ≡ plain-Scala reference on randomized sig frames") {
    import spark.implicits._
    val rnd = new Random(20260816L)
    val threshold = 0.6
    def randVec(): Array[Float] = Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      // the FloatDot evaluation order: sequential double accumulation of
      // float products — keeps the reference bit-comparable
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    for (_ <- 0 until 5) {
      // synthetic sig frames: random vectors in 4 buckets; ~15% zero
      // vectors (the NaN guard's class); some batch rows are scaled
      // copies of index rows (guaranteed same-direction candidates when
      // their buckets collide)
      val idx = (0 until 5 + rnd.nextInt(12)).map { i =>
        val v = if (rnd.nextDouble() < 0.15) Array.fill(8)(0f) else randVec()
        (i.toLong, v, nrm(v), rnd.nextInt(4).toLong)
      }
      val batch = (0 until 3 + rnd.nextInt(8)).map { j =>
        val v =
          if (idx.nonEmpty && rnd.nextDouble() < 0.4) {
            val base = idx(rnd.nextInt(idx.length))._2
            base.map(_ * (1f + rnd.nextInt(3)))
          } else if (rnd.nextDouble() < 0.15) Array.fill(8)(0f)
          else randVec()
        (100L + j, v, nrm(v), rnd.nextInt(4).toLong)
      }
      val ref = batch.filter(_._3 > 0).flatMap { case (bid, bv, bn, bb) =>
        val cands = idx.filter(r => r._4 == bb && r._1 != bid && r._3 > 0)
          .map(r => (dot(r._2, bv) / (r._3 * bn), r._1))
          .filter(_._1 >= threshold)
        if (cands.isEmpty) None
        else {
          val (sim, dupOf) = cands.minBy { case (s, id) => (-s, id) }
          Some((bid, dupOf, sim))
        }
      }.toSet
      val got = graft.streaming.EmbedGate.checkAgainst(
        idx.toDF("vec_id", "embedding", "nrm", "bucket"),
        batch.toDF("vec_id", "embedding", "nrm", "bucket"), threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.map(t => (t._1, t._2)) == ref.map(t => (t._1, t._2)),
        s"flag pairs diverged\n got=$got\n ref=$ref")
      // sims bit-comparable under the shared evaluation order
      val refSim = ref.map(t => (t._1, t._2) -> t._3).toMap
      got.foreach { case (b, d, s) =>
        assert(math.abs(s - refSim((b, d))) < 1e-12, s"sim diverged for ($b,$d)")
      }
    }
  }

  test("DedupGate.combinedFlags ≡ plain-Scala reference on randomized banded frames") {
    import spark.implicits._
    import graft.streaming.DedupGate
    val rnd = new Random(20261019L)
    val width = DedupGate.SigWidth
    val verify = graft.operators.DedupOps.MinhashVerifySlots
    var ties, multiBand, replays, flagged = 0
    for (_ <- 0 until 12) {
      // each doc's signature is one of three bases with up to 6 slots
      // redrawn, so slot agreement straddles the verify threshold and
      // exact copies (equal agreement with several docs) are common
      val bases = Array.fill(3)(Array.fill(width)(rnd.nextLong()))
      def sig(): Array[Long] = {
        val b = bases(rnd.nextInt(bases.length)).clone()
        (0 until rnd.nextInt(7)).foreach(_ => b(rnd.nextInt(width)) = rnd.nextInt(50).toLong)
        b
      }
      // band hashes from a 3-value domain: most same-band pairs collide,
      // often in several bands at once
      def rowsOf(id: Long, s: Array[Long]) =
        (0 until DedupGate.NBands).map(b => (id, b, rnd.nextInt(3).toLong, s))
      val indexIds = (1L to (4 + rnd.nextInt(9)).toLong)
      val index = indexIds.flatMap(id => rowsOf(id, sig()))
      // batch: fresh ids plus re-delivered index ids (same or new text)
      val replayed = indexIds.filter(_ => rnd.nextDouble() < 0.3)
      val batchIds = replayed ++ (100L until 100L + 3 + rnd.nextInt(8))
      val batch = batchIds.flatMap { id =>
        val s = if (indexIds.contains(id) && rnd.nextBoolean()) index.find(_._1 == id).get._4 else sig()
        rowsOf(id, s)
      }
      val ref = batchIds.flatMap { in =>
        val pairs = batch.filter(_._1 == in).flatMap { case (_, band, bh, s) =>
          (index.filter(r => r._1 != in) ++ batch.filter(r => r._1 < in))
            .filter(r => r._2 == band && r._3 == bh)
            .map(r => (r._1, (0 until width).count(i => r._4(i) == s(i))))
        }
        if (pairs.groupBy(identity).exists(_._2.size > 1)) multiBand += 1
        val verified = pairs.filter(_._2 >= verify).distinct
        if (verified.isEmpty) None
        else {
          val (dupOf, m) = verified.minBy { case (d, m) => (-m, d) }
          if (verified.count(_._2 == m) > 1) ties += 1
          if (indexIds.contains(in)) replays += 1
          Some((in, dupOf, m))
        }
      }.toSet
      flagged += ref.size
      val cols = Seq("doc_id", "band_id", "bh", "sig")
      val got = DedupGate.combinedFlags(index.toDF(cols: _*), batch.toDF(cols: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == ref, s"flags diverged\n got=$got\n ref=$ref")
    }
    assert(flagged > 0 && ties > 0 && multiBand > 0 && replays > 0,
      s"cases not covered: flagged=$flagged ties=$ties multiBand=$multiBand replays=$replays")
  }

  test("PerceptGate.combinedFlags ≡ plain-Scala reference on randomized banded frames") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    val rnd = new Random(20261020L)
    var ties, multiBand, replays, flagged = 0
    for (_ <- 0 until 12) {
      // each doc's code is one of three bases with up to 5 bits flipped,
      // so hamming straddles MaxHamming and exact copies are common
      val bases = Array.fill(3)(rnd.nextLong())
      def code(): Long = (0 until rnd.nextInt(6))
        .foldLeft(bases(rnd.nextInt(bases.length)))((c, _) => c ^ (1L << rnd.nextInt(64)))
      // band keys from a 3-value domain: most same-band pairs collide,
      // often in several bands at once
      def rowsOf(id: Long, c: Long) =
        (0 until PerceptGate.NBands).map(b => (id, b, rnd.nextInt(3).toLong, c))
      val indexIds = (1L to (4 + rnd.nextInt(9)).toLong)
      val index = indexIds.flatMap(id => rowsOf(id, code()))
      // batch: fresh ids plus re-delivered index ids (same or new code)
      val replayed = indexIds.filter(_ => rnd.nextDouble() < 0.3)
      val batchIds = replayed ++ (100L until 100L + 3 + rnd.nextInt(8))
      val batch = batchIds.flatMap { id =>
        val c = if (indexIds.contains(id) && rnd.nextBoolean()) index.find(_._1 == id).get._4 else code()
        rowsOf(id, c)
      }
      val ref = batchIds.flatMap { in =>
        val pairs = batch.filter(_._1 == in).flatMap { case (_, band, bk, c) =>
          (index.filter(r => r._1 != in) ++ batch.filter(r => r._1 < in))
            .filter(r => r._2 == band && r._3 == bk)
            .map(r => (r._1, java.lang.Long.bitCount(r._4 ^ c)))
        }
        if (pairs.groupBy(identity).exists(_._2.size > 1)) multiBand += 1
        val verified = pairs.filter(_._2 <= PerceptGate.MaxHamming).distinct
        if (verified.isEmpty) None
        else {
          val (dupOf, h) = verified.minBy { case (d, h) => (h, d) }
          if (verified.count(_._2 == h) > 1) ties += 1
          if (indexIds.contains(in)) replays += 1
          Some((in, dupOf, h))
        }
      }.toSet
      flagged += ref.size
      val cols = Seq("doc_id", "band_id", "bk", "code")
      val got = PerceptGate.combinedFlags(index.toDF(cols: _*), batch.toDF(cols: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == ref, s"flags diverged\n got=$got\n ref=$ref")
    }
    assert(flagged > 0 && ties > 0 && multiBand > 0 && replays > 0,
      s"cases not covered: flagged=$flagged ties=$ties multiBand=$multiBand replays=$replays")
  }

  test("EmbedGate.combinedFlags ≡ plain-Scala reference on randomized sig frames") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    val rnd = new Random(20261021L)
    val threshold = 0.6
    def dot(a: Array[Float], b: Array[Float]): Double = {
      // FloatDot's evaluation order (see the checkAgainst property above)
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    var ties, multiHit, replays, flagged = 0
    for (_ <- 0 until 12) {
      // vectors: exact copies of three bases (equal cosine with every
      // copy — ties), scaled copies, perturbed copies straddling the
      // threshold, and ~10% zero vectors (the NaN guard's class)
      val bases = Array.fill(3)(Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))
      def vec(): Array[Float] = {
        val b = bases(rnd.nextInt(bases.length))
        rnd.nextInt(10) match {
          case 0 => Array.fill(8)(0f)
          case 1 | 2 | 3 => b.clone()
          case 4 | 5 => b.map(_ * (2 + rnd.nextInt(2)))
          case _ => b.map(x => x + (rnd.nextDouble() - 0.5).toFloat)
        }
      }
      // buckets from a 3-value domain: most pairs are candidates
      def rowOf(id: Long, v: Array[Float]) = (id, v, nrm(v), rnd.nextInt(3).toLong)
      val indexIds = (1L to (4 + rnd.nextInt(9)).toLong)
      val index = indexIds.map(id => rowOf(id, vec()))
      // batch: fresh ids plus re-delivered index ids (same or new vector)
      val replayed = indexIds.filter(_ => rnd.nextDouble() < 0.3)
      val batchIds = replayed ++ (100L until 100L + 3 + rnd.nextInt(8))
      val batch = batchIds.map { id =>
        if (indexIds.contains(id) && rnd.nextBoolean()) index.find(_._1 == id).get
        else rowOf(id, vec())
      }
      val ref = batch.filter(_._3 > 0).flatMap { case (in, v, n, bucket) =>
        // a re-delivered id is a candidate twice: at rest and in the batch
        val cands = (index.filter(r => r._1 != in) ++ batch.filter(r => r._1 < in))
          .filter(r => r._4 == bucket && r._3 > 0)
          .map(r => (r._1, dot(r._2, v) / (r._3 * n)))
        if (cands.map(_._1).distinct.size < cands.size) multiHit += 1
        val verified = cands.filter(_._2 >= threshold).distinct
        if (verified.isEmpty) None
        else {
          val (dupOf, sim) = verified.minBy { case (d, s) => (-s, d) }
          if (verified.count(_._2 == sim) > 1) ties += 1
          if (indexIds.contains(in)) replays += 1
          Some((in, dupOf, sim))
        }
      }.toSet
      flagged += ref.size
      val cols = Seq("vec_id", "embedding", "nrm", "bucket")
      val got = EmbedGate.combinedFlags(index.toDF(cols: _*), batch.toDF(cols: _*), threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.map(t => (t._1, t._2)) == ref.map(t => (t._1, t._2)),
        s"flag pairs diverged\n got=$got\n ref=$ref")
      val refSim = ref.map(t => (t._1, t._2) -> t._3).toMap
      got.foreach { case (b, d, s) =>
        assert(math.abs(s - refSim((b, d))) < 1e-12, s"sim diverged for ($b,$d)")
      }
    }
    assert(flagged > 0 && ties > 0 && multiHit > 0 && replays > 0,
      s"cases not covered: flagged=$flagged ties=$ties multiHit=$multiHit replays=$replays")
  }
}
