package graft

import graft.functions.TopK
import graft.operators.VectorOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search semantics and scale-shape checks: the TopK bounded
  * aggregation buffer, the skew-free knn/ann physical plans (partial
  * aggregation, no small-partition window sort), bucket-bit sizing, and
  * the measured ANN recall vs brute force (VERDICT r1 item 6).
  */
class VectorSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- plain-Scala references for the native vector kernels -------------

  /** FloatDot's arithmetic: the left fold of double-widened products over
    * `n` elements of `a` from `aOff` against `b` from 0. */
  private def foldDot(a: Array[Float], aOff: Int, b: Array[Float], n: Int): Double = {
    var acc = 0.0
    for (i <- 0 until n) acc += a(aOff + i).toDouble * b(i).toDouble
    acc
  }

  /** Spark's SQL double ordering: equal values tie (-0.0 == 0.0), NaN is
    * greater than every other value. */
  private def sqlCompare(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** PQ encode: normalize as `(x / nrm)` rounded to float (a zero-norm
    * vector stays raw), then per subspace the centroid with the least
    * `|c|² − 2·v_s·c`, ties to the lower id. */
  private def pqEncodeRef(v: Array[Float], books: Array[Array[Array[Float]]]): List[Int] = {
    val nrm = math.sqrt(foldDot(v, 0, v, v.length))
    val nv = if (nrm > 0.0) v.map(x => (x / nrm).toFloat) else v
    val d = books(0)(0).length
    books.indices.map { s =>
      val scored = books(s).indices.map { c =>
        val cent = books(s)(c)
        (foldDot(cent, 0, cent, d) - 2.0 * foldDot(nv, s * d, cent, d), c)
      }
      scored.reduceLeft((best, next) => if (sqlCompare(next._1, best._1) < 0) next else best)._2
    }.toList
  }

  /** ADC lookup table: `lut(s)(c) = v_s · book(s)(c)` over the RAW vector. */
  private def pqLutRef(v: Array[Float], books: Array[Array[Array[Float]]]): List[List[Double]] = {
    val d = books(0)(0).length
    books.indices.map(s => books(s).map(cent => foldDot(v, s * d, cent, d)).toList).toList
  }

  /** IVF top cells: cosine `v·c / (nrm·cn)` per centroid, ranked by sim
    * descending under Spark's ordering, ties to the lower cell id; the
    * first `m`. */
  private def topCellsRef(v: Array[Float], nrm: Double,
      cents: Seq[(Int, Array[Float], Double)], m: Int): Seq[Int] =
    cents.map { case (c, cent, cn) => (foldDot(v, 0, cent, cent.length) / (nrm * cn), c) }
      .sortWith { case ((s1, c1), (s2, c2)) =>
        val o = sqlCompare(s1, s2)
        if (o != 0) o > 0 else c1 < c2
      }
      .take(m).map(_._2)

  // ---- TopK buffer unit tests ---------------------------------------------

  test("TopK.Buf keeps the k best by (score DESC, id ASC)") {
    val b = new TopK.Buf(3)
    Seq((0.5, 10L), (0.9, 20L), (0.1, 30L), (0.9, 5L), (0.7, 40L)).foreach {
      case (s, i) => b.insert(s, i, i * 100)
    }
    assert(b.size == 3)
    assert((0 until b.size).map(i => (b.scores(i), b.ids(i))) ==
      Seq((0.9, 5L), (0.9, 20L), (0.7, 40L))) // tie at 0.9 → lower id first
    assert(b.payloads(0) == 500L) // payload rides along
  }

  test("TopK.Buf drops NaN scores (deterministic under any arrival order)") {
    val a = new TopK.Buf(2)
    Seq(Double.NaN, 0.9, 0.7, Double.NaN, 0.8).zipWithIndex.foreach {
      case (s, i) => a.insert(s, i.toLong, 0L)
    }
    assert((0 until a.size).map(i => (a.scores(i), a.ids(i))) == Seq((0.9, 1L), (0.8, 4L)))
  }

  test("LshBucket is bit-identical to the interpreted HOF it replaced") {
    import graft.functions.LshBucket.lsh_bucket
    // the EXACT r7 SQL definition (VectorOps.bucketExpr) — the semantic pin
    def hof(nBits: Int): String =
      s"""aggregate(sequence(0, ${nBits - 1}), 0L, (acc, k) -> acc +
         |  if(aggregate(sequence(0, 63), 0.0D,
         |       (s, d) -> s + double(element_at(embedding, d + 1)) * (double(xxhash64(k, d)) / 9.223372036854775807E18)) >= 0.0D,
         |     shiftleft(1L, k), 0L))""".stripMargin
    val e = sources.Tables(spark, sfDir, "embeddings").limit(200)
    for (nBits <- Seq(4, 7, 13)) {
      val mismatches = e
        .select(expr(hof(nBits)).as("old"), lsh_bucket(col("embedding"), nBits).as("nu"))
        .filter(col("old") =!= col("nu")).count()
      assert(mismatches == 0L, s"nBits=$nBits: $mismatches rows diverge from the HOF")
    }
    // null-semantics pin: null array and null element both bucket to 0, not NULL
    val withNulls = spark.sql(
      """SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding
        |UNION ALL
        |SELECT transform(sequence(0, 63), i -> IF(i = 7, CAST(NULL AS FLOAT), CAST(0.5 AS FLOAT)))""".stripMargin)
    val got = withNulls.select(lsh_bucket(col("embedding"), 8)).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 0L))
    // short-array pin: fails loudly instead of silently hashing garbage
    val short = spark.sql("SELECT array(CAST(1.0 AS FLOAT)) AS embedding")
    val ex = intercept[Exception](short.select(lsh_bucket(col("embedding"), 4)).collect())
    assert(ex.getMessage.contains("hyperplanes") ||
      String.valueOf(ex.getCause).contains("hyperplanes"), ex.toString)
  }

  test("float_dot rejects non-ARRAY<FLOAT> arguments at analysis time") {
    import graft.functions.FloatDot.float_dot
    val ex = intercept[Exception] {
      spark.sql("SELECT array(1.0D, 2.0D) AS a")
        .select(float_dot(col("a"), col("a"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("float"), ex.getMessage)
  }

  test("TopK.Buf merge == insert-all (order-insensitive)") {
    val all = (1 to 50).map(i => (math.sin(i.toDouble), i.toLong))
    val (l, r) = all.splitAt(25)
    val whole = new TopK.Buf(5)
    all.foreach { case (s, i) => whole.insert(s, i, 0L) }
    val a = new TopK.Buf(5); l.foreach { case (s, i) => a.insert(s, i, 0L) }
    val bb = new TopK.Buf(5); r.foreach { case (s, i) => bb.insert(s, i, 0L) }
    (0 until bb.size).foreach(i => a.insert(bb.scores(i), bb.ids(i), bb.payloads(i)))
    assert((0 until 5).map(i => (a.scores(i), a.ids(i))) ==
      (0 until 5).map(i => (whole.scores(i), whole.ids(i))))
  }

  // ---- FloatDot null semantics (== the zip_with/aggregate HOF form) ------

  test("float_dot nulls on length mismatch and null elements, like the HOF form") {
    import graft.functions.FloatDot.float_dot
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (CAST(NULL AS ARRAY<FLOAT>), array(CAST(3.0 AS FLOAT)))
        |  AS t(a, b)""".stripMargin)
    val hof = expr("aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0D, (p, q) -> p + q)")
    val rows = df.select(float_dot(col("a"), col("b")).as("native"), hof.as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), s"value disagreement: $r")
    }
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows.drop(1).forall(_.isNullAt(0)))
  }

  // ---- physical-plan shape ------------------------------------------------

  test("knn_cosine plan partial-aggregates (no window exec, no sort on q_id)") {
    val plan = SparkEntry.queries("knn_cosine")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window exec leaked into knn plan:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"no aggregation in knn plan:\n$plan")
  }

  test("ann_lsh plan uses bounded top_k aggregation, not a window") {
    val plan = VectorOps.annLshAt(spark, sfDir, Some(4), 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window exec leaked into ann plan:\n$plan")
    assert(plan.toLowerCase.contains("top_k"), s"top_k aggregate missing:\n$plan")
  }

  test("bucket bits scale with corpus size and stay clamped") {
    assert(VectorOps.bitsFor(0) == 4)
    assert(VectorOps.bitsFor(500) == 4)
    assert(VectorOps.bitsFor(100000) == 12)
    assert(VectorOps.bitsFor(1000000000L) == 24) // 1e9 vectors → 16M buckets
    assert(VectorOps.bitsFor(Long.MaxValue) == 24)
  }

  // ---- recall vs brute force ---------------------------------------------

  test("ann_lsh recall@3 vs brute-force knn is measured (multi-probe ≥ exact-bucket)") {
    import graft.functions.FloatDot.float_dot
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val bf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // recall + wall latency per operating point: the latency column is
    // what the recall knob trades against. Warm each query once (plan
    // compilation + IVF codebook training are one-time costs), then take
    // the median of 3 timed runs so the table reflects steady-state scan
    // cost, not JIT noise.
    def measure(mk: => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val got = mk.select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.select("q_id", "cand_id").collect()
        (System.nanoTime() - t0) / 1e3 // µs
      }.sorted
      (got.intersect(bf).size.toDouble / bf.size, times(1) / 1e3) // (recall, ms)
    }
    // the probe-radius OPERATING KNOB: each radius step widens the probe
    // set (strict candidate superset), so recall is monotone in radius —
    // the measured curve is what a user tunes against latency
    val (r0, t0) = measure(VectorOps.annLshAt(spark, sfDir, Some(4), 3, probeRadius = 0))
    val (r1, t1) = measure(VectorOps.annLshAt(spark, sfDir, Some(4), 3, probeRadius = 1))
    val (r2, t2) = measure(VectorOps.annLshAt(spark, sfDir, Some(4), 3, probeRadius = 2))
    info(f"ann_lsh sf0.01 4 bits | radius 0: recall@3 $r0%.2f @ $t0%.0f ms | radius 1: $r1%.2f @ $t1%.0f ms | radius 2: $r2%.2f @ $t2%.0f ms")
    assert(r1 >= r0 && r2 >= r1, "recall must be monotone in probe radius")
    assert(r1 > 0.0, "multi-probe ANN found none of the true top-3 — LSH is broken")

    // trained codebook (10 deterministic Lloyd rounds) + multi-assignment
    // ma=2 — the defaults; untrained single-assign measured 0.30/0.33/0.47
    // in round 4, the trained default must clear 0.8 at nProbe 4
    val (i1, ti1) = measure(VectorOps.annIvf(spark, sfDir, nProbe = 1))
    val (i2, ti2) = measure(VectorOps.annIvf(spark, sfDir, nProbe = 2))
    val (i4, ti4) = measure(VectorOps.annIvf(spark, sfDir, nProbe = 4))
    info(f"ann_ivf sf0.01 k=√N ma=2 | nProbe 1: recall@3 $i1%.2f @ $ti1%.0f ms | nProbe 2: $i2%.2f @ $ti2%.0f ms | nProbe 4: $i4%.2f @ $ti4%.0f ms")
    assert(i2 >= i1 && i4 >= i2, "probing more cells must not lose candidates")
    assert(i4 >= 0.8, f"trained IVF must reach recall@3 >= 0.8 at nProbe 4, got $i4%.2f")
  }

  test("ann_pq: 32x codes, bit-stable books, ADC recall monotone in refine and re-rank floor") {
    import graft.functions.FloatDot.float_dot
    // codebooks are a pure function of the hash sample in vec_id order —
    // two trainings must be bit-identical (the determinism everything
    // downstream, including the declared key, inherits)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = base.count()
    val b1 = VectorOps.trainPqBooks(base, n)
    val b2 = VectorOps.trainPqBooks(base.repartition(7), n)
    assert(b1.length == VectorOps.PqSub)
    assert(b1.indices.forall(s => b1(s).indices.forall(c => b1(s)(c).sameElements(b2(s)(c)))),
      "PQ training must be bit-stable across runs and input partitionings")
    assert(b1.forall(_.length <= VectorOps.PqKs) && b1.forall(_.forall(_.length == 8)),
      "each subspace book holds <= ks centroids of dim/S floats")

    // the compression claim is structural: S small-int codes per vector
    val out = SparkEntry.queries("ann_pq")(spark, sfDir)
    val ground = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val q = ground.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val bf = ground.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(refine: Int): Double = {
      val got = VectorOps.annPq(spark, sfDir, topK = 3, refine = refine)
        .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val r10 = recallAt(10)
    val r50 = recallAt(50)
    info(f"ann_pq sf0.01 S=${VectorOps.PqSub} ks=${VectorOps.PqKs} | " +
      f"refine 10: recall@3 $r10%.2f | refine 50: $r50%.2f")
    // shortlists are nested, so recall is monotone in the refine knob;
    // the whole pipeline is deterministic so these are stable measures
    // (0.80 / 1.00 on the current fixtures), pinned with headroom for
    // fixture regeneration
    assert(r50 >= r10, "widening the re-rank shortlist must not lose candidates")
    assert(r50 >= 0.9, f"PQ+re-rank at refine=50 must reach recall@3 >= 0.9, got $r50%.2f")
    assert(r10 >= 0.7, f"PQ+re-rank at refine=10 must reach recall@3 >= 0.7, got $r10%.2f")
    // the declared key (refine=10) returns exactly topK rows per query,
    // exact-cosine-ordered
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 3), "ann_pq must return topK=3 rows per query")
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "re-ranked sims must be non-increasing in rank")
    }
  }

  test("ann_pq_indexed: persisted codes + frozen books answer row-identical to the inline key") {
    val inline = SparkEntry.queries("ann_pq")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val indexed = SparkEntry.queries("ann_pq_indexed")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(indexed == inline,
      "the persisted-index path must be row-identical to inline ann_pq on unchanged data")
    // the persisted books ARE the trained books, bit-for-bit (floats
    // roundtrip parquet exactly)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val trained = VectorOps.trainPqBooks(base, base.count())
    val table = "graft_pq_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val (loaded, baseN) = VectorOps.loadPqBooks(spark, table)
    assert(baseN == base.count())
    assert(trained.indices.forall(s =>
      trained(s).indices.forall(c => trained(s)(c).sameElements(loaded(s)(c)))),
      "persisted books must roundtrip bit-identical to the trained quantizer")
  }

  test("ann_ivfpq_indexed: the persisted IVFADC index answers row-identical to inline ann_ivfpq; codes at rest carry no vectors (r18)") {
    val inline = SparkEntry.queries("ann_ivfpq")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val indexed = SparkEntry.queries("ann_ivfpq_indexed")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(inline.nonEmpty, "fixture corpus must produce IVFADC results")
    assert(indexed == inline,
      "the persisted IVFADC path must be row-identical to inline ann_ivfpq on unchanged data")
    // the at-rest artifact IS the point: 8-byte codes + cell, no vectors
    val table = "graft_ivfpq_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val cols = spark.table(table).columns.toSet
    assert(cols == Set("vec_id", "cent", "cidx", "cell", "codes"),
      s"IVFADC index must persist codes, not embeddings: $cols")
    // both quantizer artifacts sit next to the index for any later JVM
    assert(spark.catalog.tableExists(table + "_codebook"), "coarse codebook missing")
    assert(spark.catalog.tableExists(table + "_books"), "PQ books missing")
  }

  test("native pq_encode is bit-identical to the Column-algebra encode") {
    // the independent-implementation pin (the bpe_encode stance): a
    // plain-Scala encode written from the Column-algebra rules — normalize
    // as (x / nrm) cast to float, then per subspace the argmin of
    // |c|² − 2·v_s·c, ties to the lower id — must agree code-for-code with
    // the native loop on every sf0.001 vector
    import graft.functions.PqEncode.{pq_encode, pq_lut}
    val dir = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = VectorOps.trainPqBooks(base, base.count())
    val nativeRows = base
      .select(col("vec_id"), pq_encode(col("embedding"), books).as("codes"),
        pq_lut(col("embedding"), books).as("lut"))
      .collect()
    val native = nativeRows.map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    val vecs = base.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val oracle = vecs.map { case (id, v) => id -> pqEncodeRef(v, books) }
    assert(native.keySet == oracle.keySet)
    val diffs = native.keySet.filter(k => native(k) != oracle(k))
    assert(diffs.isEmpty, s"native/reference encode differ on vec_ids $diffs")
    // and the native ADC LUT against the reference, value-identical
    // (both are the same FloatDot double fold per (sub, cent) over the
    // RAW vector)
    val nativeLut = nativeRows
      .map(r => (r.getLong(0), r.getSeq[scala.collection.Seq[Double]](2).map(_.toList).toList)).toMap
    val refLut = vecs.map { case (id, v) => id -> pqLutRef(v, books) }
    assert(nativeLut.keySet == refLut.keySet)
    val lutDiffs = nativeLut.keySet.filter(k => nativeLut(k) != refLut(k))
    assert(lutDiffs.isEmpty, s"native/reference ADC LUTs differ on vec_ids $lutDiffs")
    // schema-drift contract: a wrong-length vector encodes to NULL, loudly
    import spark.implicits._
    val bad = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val r = bad.withColumn("codes", pq_encode(col("embedding"), books))
      .select("codes").head()
    assert(r.isNullAt(0), "length-mismatched input must yield NULL codes")
  }

  /** Reads of `table` by the actions `body` runs: one per relation of
    * `table` in each reported action's analyzed plan, counted between two
    * marker actions (listener events arrive asynchronously, in order).
    */
  private def tableReadsOf(table: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import scala.jdk.CollectionConverters._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val marker = "table_reads_marker_\\d".r.findFirstIn(qe.analyzed.toString)
        val reads = qe.analyzed.collect {
          case r: LogicalRelation if r.catalogTable.exists(_.identifier.table == table) => r
        }.size
        events.add((marker.getOrElse(f), reads))
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def mark(m: String): Unit = {
      spark.range(1).toDF(m).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!events.asScala.exists(_._1 == m) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(events.asScala.exists(_._1 == m), s"marker $m never arrived")
    }
    spark.listenerManager.register(listener)
    try {
      mark("table_reads_marker_1")
      body
      mark("table_reads_marker_2")
    } finally spark.listenerManager.unregister(listener)
    events.asScala.toSeq.dropWhile(_._1 != "table_reads_marker_1").drop(1)
      .takeWhile(_._1 != "table_reads_marker_2").map(_._2).sum
  }

  test("PQ index append: frozen-book encode, idempotent replay, staleness signal") {
    import spark.implicits._
    val table = "pq_append_test_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${VectorOps.pqBooksTableFor(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${VectorOps.embTableFor(table)}")
    VectorOps.writePqIndex(spark, sfDir, table)
    val n0 = spark.table(table).count()
    assert(VectorOps.pqIndexStaleness(spark, table) == 0.0, "fresh index must read staleness 0")
    // two novel arrivals (ids beyond the corpus) + one replayed corpus id
    val dim = spark.table(table).sparkSession.read.parquet(s"$sfDir/embeddings.parquet")
      .select("embedding").head().getSeq[Float](0).length
    val arr1 = Array.tabulate(dim)(i => 0.01f * i)
    val arr2 = Array.tabulate(dim)(i => 1.0f - 0.01f * i)
    val arrivals = Seq((900001L, arr1.toSeq), (900002L, arr2.toSeq), (0L, arr1.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    // the novel rows are evaluated once: one read of the code table per
    // append, shared by the sidecar and the code writes
    val appendReads = tableReadsOf(table)(VectorOps.appendToPqIndexIdempotent(spark, arrivals, table))
    assert(appendReads == 1, s"an append must read the code table once, read it $appendReads times")
    assert(spark.table(table).count() == n0 + 2, "two novel rows append; the replayed id does not")
    val gotNew = spark.table(table).filter(col("vec_id") >= 900001L)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(gotNew.length == 2 && gotNew.forall(_._2.length == VectorOps.PqSub),
      "appended rows carry full-width codes")
    // replay: the whole batch again appends nothing
    val replayReads = tableReadsOf(table)(VectorOps.appendToPqIndexIdempotent(spark, arrivals, table))
    assert(replayReads == 1, s"a replay must read the code table once, read it $replayReads times")
    assert(spark.table(table).count() == n0 + 2, "replayed append must be a no-op")
    val staleness = VectorOps.pqIndexStaleness(spark, table)
    assert(staleness > 0.0 && staleness < 0.05, s"2/$n0 appended rows, got staleness $staleness")
    // INDEX-OWNED SIDECAR (r19): a twin of query 0's embedding appended
    // through the normal maintenance path must be reachable BY DEFAULT —
    // no caller-threaded embStore — because the append landed its
    // embedding in the index's _emb sidecar before its codes
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q0emb = base.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val twin = Seq((900099L, q0emb)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    VectorOps.appendToPqIndexIdempotent(spark, twin, table)
    // sidecar invariant: its id set covers the code table's exactly
    val codeIds = spark.table(table).select("vec_id").collect().map(_.getLong(0)).toSet
    val sideIds = spark.table(VectorOps.embTableFor(table))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sideIds == codeIds, "sidecar ids must mirror the code table after appends")
    val byDefault = VectorOps.annPqIndexed(spark, sfDir, tableOpt = Some(table)).collect()
    val q0top = byDefault.filter(r => r.getLong(0) == 0L && r.getLong(3) == 1L)
    assert(q0top.length == 1 && q0top.head.getLong(1) == 900099L &&
      q0top.head.getDouble(2) > 0.9999,
      s"twin must top q0's default-store ranking (sidecar reachable): ${q0top.toSeq}")
    // explicit override still works — and takes the coverage obligation
    // back: a store lacking the twin drops it (the pre-r19 behavior, now
    // opt-in instead of the default)
    val lacking = VectorOps.annPqIndexed(spark, sfDir,
      embStore = Some(base.select("vec_id", "embedding")), tableOpt = Some(table)).collect()
    assert(!lacking.exists(_.getLong(1) == 900099L),
      "an explicit store lacking the appended id must drop it (override respected)")
    // staleness covers the sidecar-backed flow: 3 appended ids over n0/PqSub docs
    val st2 = VectorOps.pqIndexStaleness(spark, table)
    assert(st2 > staleness && st2 < 0.05, s"staleness must grow with the twin append: $st2")
  }

  test("IVF, PQ and IVF-PQ builds count base_n from the rows they write, not a per-directory memo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_base_n").toString
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def stage(n: Long): Unit =
      corpus.filter(col("vec_id") < n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def build(tag: String): Seq[String] = {
      val tables = Seq("ivf", "pq", "ivfpq").map(f => s"base_n_${f}_$tag")
      tables.flatMap(t => Seq(t, t + "_codebook", t + "_books", t + "_emb", t + "_epoch"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      VectorOps.writeIvfIndex(spark, dir, tables(0), nBuckets = 4)
      VectorOps.writePqIndex(spark, dir, tables(1))
      VectorOps.writeIvfPqIndex(spark, dir, tables(2), nBuckets = 4)
      tables
    }
    try {
      // a first build counts (and memoizes) the 200-row corpus under `dir`
      stage(200)
      build("a")
      // the data under `dir` is rewritten with more rows: fresh builds
      // must record the rows they wrote as their baseline
      stage(500)
      val Seq(ivf, pq, ivfpq) = build("b")
      assert(spark.table(pq).count() == 500, "the rebuilt index must hold the rewritten corpus")
      assert(VectorOps.ivfIndexStaleness(spark, ivf) == 0.0, "fresh IVF index must read staleness 0")
      assert(VectorOps.pqIndexStaleness(spark, pq) == 0.0, "fresh PQ index must read staleness 0")
      assert(VectorOps.ivfPqIndexStaleness(spark, ivfpq) == 0.0,
        "fresh IVF-PQ index must read staleness 0")
    } finally {
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }

  test("IVFADC index append: frozen cells + frozen codes, idempotent replay, staleness (r18)") {
    import spark.implicits._
    val table = "ivfpq_append_test_idx"
    Seq(table, table + "_codebook", table + "_books", table + "_epoch", table + "_emb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    VectorOps.writeIvfPqIndex(spark, sfDir, table)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ids0 = spark.table(table).select("vec_id").distinct().count()
    assert(VectorOps.ivfPqIndexStaleness(spark, table) == 0.0)
    val dim = base.select("embedding").head().getSeq[Float](0).length
    val arr1 = Array.tabulate(dim)(i => 0.01f * i)
    val arrivals = Seq((900001L, arr1.toSeq), (0L, arr1.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    VectorOps.appendToIvfPqIndexIdempotent(spark, arrivals, table)
    val after = spark.table(table).filter(col("vec_id") === 900001L).collect()
    assert(after.length == 2, s"multiAssign=2 cell rows expected, got ${after.length}")
    assert(after.forall(_.getSeq[Int](4).length == VectorOps.PqSub),
      "appended rows must carry full-width codes in the codes slot")
    assert(spark.table(table).select("vec_id").distinct().count() == ids0 + 1,
      "one novel id appends; the replayed corpus id does not")
    // the frozen artifacts mean the appended row's cells/codes equal a
    // fresh assignment against the persisted quantizers
    val (books, _) = VectorOps.loadPqBooks(spark, table)
    val fresh = arrivals.filter(col("vec_id") === 900001L)
      .withColumn("codes", graft.functions.PqEncode.pq_encode(col("embedding"), books))
      .select("codes").head().getSeq[Int](0)
    assert(after.forall(_.getSeq[Int](4) == fresh),
      "appended codes must come from the persisted books")
    // replay is a no-op
    VectorOps.appendToIvfPqIndexIdempotent(spark, arrivals, table)
    assert(spark.table(table).select("vec_id").distinct().count() == ids0 + 1)
    val st = VectorOps.ivfPqIndexStaleness(spark, table)
    assert(st > 0.0 && st < 0.05, s"1/$ids0 appended ids, got staleness $st")
    // INDEX-OWNED SIDECAR, pinned end-to-end (r19): a twin of query 0's
    // embedding appended through the normal maintenance path must rank
    // #1 for q_id 0 at sim ~1.0 with NO caller-threaded embStore — the
    // epoch-guarded append landed its embedding in the _emb sidecar
    // before its codes
    val q0emb = base.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val twin = Seq((900099L, q0emb)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    VectorOps.appendToIvfPqIndexIdempotent(spark, twin, table)
    val codeIds = spark.table(table).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val sideIds = spark.table(VectorOps.embTableFor(table))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sideIds == codeIds, "sidecar ids must mirror the code table after appends")
    val byDefault = VectorOps.annIvfPqIndexed(spark, sfDir, tableOpt = Some(table)).collect()
    val q0top = byDefault.filter(r => r.getLong(0) == 0L && r.getLong(3) == 1L)
    assert(q0top.length == 1 && q0top.head.getLong(1) == 900099L &&
      q0top.head.getDouble(2) > 0.9999,
      s"twin must top q0's default-store ranking (sidecar reachable): ${q0top.toSeq}")
    // explicit override still works and takes the coverage obligation
    // back: a store lacking the twin drops it (pre-r19 behavior, opt-in)
    val lacking = VectorOps.annIvfPqIndexed(spark, sfDir,
      embStore = Some(base.select("vec_id", "embedding")), tableOpt = Some(table)).collect()
    assert(!lacking.exists(_.getLong(1) == 900099L),
      "an explicit store lacking the appended id must drop it (override respected)")
    // staleness covers the sidecar-backed flow
    val st2 = VectorOps.ivfPqIndexStaleness(spark, table)
    assert(st2 > st && st2 < 0.05, s"staleness must grow with the twin append: $st2")
  }

  test("ann_ivfpq: cell-bounded ADC recall is monotone in nProbe and clears the floor") {
    import graft.functions.FloatDot.float_dot
    val ground = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val q = ground.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val bf = ground.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val got = VectorOps.annIvfPq(spark, sfDir, nProbe = nProbe, refine = 10)
        .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val p2 = recallAt(2)
    val p4 = recallAt(4)
    info(f"ann_ivfpq sf0.01 ma=2 refine=10 | nProbe 2: recall@3 $p2%.2f | nProbe 4: $p4%.2f")
    // probe sets are nested, so the cell bound only ever ADDS candidates.
    // NOTE: unlike IVF-Flat this does NOT prove final-recall monotonicity
    // (a distorted ADC score of a newly probed candidate can push a true
    // neighbor out of the fixed-size shortlist) — but the pipeline is
    // deterministic, so this is a stable measured property of the
    // fixtures (0.50 -> 0.73), not a flaky one
    assert(p4 >= p2, "probing more cells lost final recall on this fixture")
    // the composition is bounded above by IVF probe recall and below by
    // PQ shortlist distortion — both components measured >= 0.8 at these
    // settings, the composition must stay usable
    assert(p4 >= 0.7, f"IVFADC at nProbe=4/refine=10 must reach recall@3 >= 0.7, got $p4%.2f")
  }

  test("ann_ivf at sf0.1: the corpus-scaled probe knob restores recall >= 0.8") {
    // fixed nProbe decays with corpus growth (0.83 at sf0.01 → 0.60 at
    // sf0.1 for nProbe 4: k=√N grows, scanned fraction shrinks) — the
    // isotropic-corpus explanation pinned by measurement. nProbeFor holds
    // the scanned fraction ≈ 1/3, which must hold recall at the bigger SF.
    import graft.functions.FloatDot.float_dot
    val dir = "/root/testdata/sf0.1"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val n = e.count()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val bf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k = VectorOps.ivfK(n)
    val auto = VectorOps.nProbeFor(k)
    assert(auto > 4, s"at sf0.1 (k=$k) the scaled knob must exceed the sf0.01 operating point")
    val got = VectorOps.annIvf(spark, dir, nProbe = auto)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(bf).size.toDouble / bf.size
    info(f"ann_ivf sf0.1 k=$k nProbeFor=$auto recall@3=$recall%.2f")
    assert(recall >= 0.8,
      f"corpus-scaled nProbe must restore recall@3 >= 0.8 at sf0.1, got $recall%.2f")
  }

  test("ivf sampled-Lloyd training holds recall within 0.05 of full-corpus training at sf0.1") {
    // the N^1.5 bound (r12 verdict #3): codebook training samples
    // min(N, factor·k) vectors by deterministic vec_id hash. The default
    // factor 64 binds only above 64 observations per cell (N > 64·k —
    // deliberately conservative; factor 16 at sf0.01 measured recall
    // 0.70 < the 0.8 floor), so this pins the SAMPLED path explicitly at
    // a factor that binds at sf0.1: 720 of 2000 rows trained. Sampling
    // is deterministic (hash-sample + tie-free integer sums), so these
    // recalls are bit-stable, not flaky.
    import graft.functions.FloatDot.float_dot
    val dir = "/root/testdata/sf0.1"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val n = e.count()
    val k = VectorOps.ivfK(n)
    val factor = 16
    assert(factor.toLong * k < n, "chosen factor must actually bind at this SF")
    val auto = VectorOps.nProbeFor(k)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val bf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(sf: Int): Double = {
      val got = VectorOps.annIvf(spark, dir, nProbe = auto, sampleFactor = sf)
        .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val full = recallAt(0)
    val sampled = recallAt(factor)
    info(f"ivf sf0.1 k=$k nProbe=$auto recall@3 full=$full%.3f sampled(f=$factor)=$sampled%.3f")
    assert(sampled >= full - 0.05,
      f"sampled codebook recall $sampled%.3f fell more than 0.05 below full training $full%.3f")
  }

  test("probeIvfIndex sized by the persisted codebook holds recall >= 0.8 at both SFs") {
    // the recall knob wired into the indexed path (r12 verdict #5): with
    // nProbeOpt = None the probe count comes from nProbeFor over the
    // PERSISTED codebook's k — no caller-side knowledge of k or the knob
    import graft.functions.FloatDot.float_dot
    for (dir <- Seq(sfDir, "/root/testdata/sf0.1")) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
      val bf = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("sim", float_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = VectorOps.probeIvfIndex(spark, dir)
        .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.intersect(bf).size.toDouble / bf.size
      info(f"probeIvfIndex $dir recall@3=$recall%.3f")
      assert(recall >= 0.8,
        f"codebook-sized persisted-index probe must hold recall@3 >= 0.8 at $dir, got $recall%.3f")
    }
  }

  test("ann_ivf plan has no window exec and assigns cells without a shuffle join") {
    val plan = VectorOps.annIvf(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window exec leaked into ivf plan:\n$plan")
    assert(plan.toLowerCase.contains("top_k"), s"top_k aggregate missing:\n$plan")
    // cell assignment is a projection over literal centroids — the ONLY
    // joins in the plan are the broadcast query probe join
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("ivf_top_cells kernel ≡ the Column-form ranking, incl. duplicate-centroid ties (r22)") {
    import graft.functions.FloatDot.float_dot
    import graft.functions.IvfTopCells.ivf_top_cells
    val base = graft.sources.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val sample = base.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    def fn(a: Array[Float]): Double = math.sqrt(a.map(x => x.toDouble * x).sum)
    val dim = sample.head.length
    // 8 real centroids + a DUPLICATE of centroid 0 (exact sim tie at two
    // ids — the tie rule must pick the lower). No zero-norm centroid:
    // trainCodebook never emits one (zero-norm cells keep their previous
    // centroid; seeds are real vectors).
    val dup = sample.head.clone()
    val cents: Seq[(Int, Array[Float], Double)] =
      sample.zipWithIndex.map { case (a, i) => (i, a, fn(a)) }.toSeq :+
        ((8, dup, fn(dup)))
    assert(dim > 0)
    val ms = Seq(1, 2, 4, 9, 17)
    val rows = base
      .select(col("vec_id") +: col("embedding") +: col("nrm") +:
        ms.map(m => ivf_top_cells(col("embedding"), col("nrm"), cents, m).as(s"kern$m")): _*)
      .collect()
    assert(rows.nonEmpty)
    for ((m, at) <- ms.zip(3 until 3 + ms.size)) {
      val bad = rows.filter { r =>
        r.getSeq[Int](at) != topCellsRef(r.getSeq[Float](1).toArray, r.getDouble(2), cents, m)
      }
      assert(bad.isEmpty, s"m=$m: ${bad.take(3).map(_.getLong(0)).mkString(", ")}")
    }
  }

  test("ann_lsh_indexed probes the persisted table and is row-identical to ann_lsh") {
    val indexed = SparkEntry.queries("ann_lsh_indexed")(spark, sfDir)
    // the probe reads the index TABLE, not a recomputed signature scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_index_"),
      s"indexed path did not read the persisted table:\n${plan.take(2000)}")
    val inline = SparkEntry.queries("ann_lsh")(spark, sfDir).collect().toSeq
    val fromIdx = indexed.collect().toSeq
    assert(fromIdx == inline,
      "persisted-index probe must reproduce the inline ann_lsh rows exactly")
    // second call hits the existing table (no rebuild): still identical
    assert(SparkEntry.queries("ann_lsh_indexed")(spark, sfDir).collect().toSeq == inline)
  }

  test("ann_ivf_indexed probes the persisted cell table and is row-identical to ann_ivf") {
    val indexed = SparkEntry.queries("ann_ivf_indexed")(spark, sfDir)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivf_index_"),
      s"indexed path did not read the persisted table:\n${plan.take(2000)}")
    val inline = SparkEntry.queries("ann_ivf")(spark, sfDir).collect().toSeq
    assert(indexed.collect().toSeq == inline,
      "persisted-index probe must reproduce the inline ann_ivf rows exactly")
  }
}
