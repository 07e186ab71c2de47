package graft.operators

import graft.QueryDef
import graft.functions.FloatDot.float_dot
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine kNN (the correctness baseline), random-hyperplane
  * LSH bucketing (the scale path), pairwise near-duplicate detection, and
  * the multimodal join.
  *
  * Cross-engine float parity: dot products fold left-to-right with a 0.0
  * double seed (`aggregate(zip_with(...))`); the DuckDB oracles use
  * `list_reduce` over the same products list, which performs the identical
  * sequential fold — results are bit-identical, so no rounding is needed.
  *
  * Scale notes: kNN broadcasts the (small) query set and streams the
  * target table — one pass, no shuffle on the big side; the per-query
  * argmax / top-k run as partial aggregations (map-side combine), so the
  * only exchange carries a few rows per (query, task) — no skewed window
  * sort on the query key. At 100 TB the LSH variant bounds candidates per
  * query by bucket collision instead of scanning all vectors; its
  * signatures are computed in one scan-side projection and could be
  * persisted/bucketed by `bucket` for repeated queries (the analog of an
  * IVF coarse quantizer).
  */
object VectorOps {

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "embeddings")

  /** Sequential-fold dot product via the native codegen expression
    * [[graft.functions.FloatDot]] (bit-identical to the
    * `aggregate(zip_with(...))` fold and to the DuckDB list_reduce oracle,
    * but whole-stage-codegen'd instead of interpreted).
    */
  private def dot(a: String, b: String): Column = float_dot(col(a), col(b))

  /** Corpus row counts memoized per table directory: the LSH/IVF sizing
    * pass is one scan job, and bench/verify construct each query many
    * times over the same immutable test data — paying it once per
    * directory per JVM is the CBO-statistics analog. (Data directories
    * are treated as immutable for the cache's lifetime.)
    */
  private val countCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def corpusCount(df: DataFrame, sfDir: String): Long =
    // keyed per table path, not per directory, so a future caller counting
    // a different table under the same sfDir cannot hit a stale entry
    countCache.getOrElseUpdate(s"$sfDir/embeddings", df.count())

  /** IVF codebooks memoized per (directory, k) — same immutability
    * contract as [[countCache]]; the codebook is driver-side quantizer
    * metadata collected once.
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int, Int), Seq[(Int, Array[Float], Double)]]

  /** IVF codebook size: k ≈ √N clamped to [4, 64]. The ONE definition
    * shared by the inline query path ([[ivfAssignments]]) and the
    * persisted-index probe path ([[annIvfIndexed]]) — if these computed k
    * independently and drifted, the probe would train a DIFFERENT
    * codebook than the one the persisted cell assignments were built
    * with, silently breaking the row-identical-to-ann_ivf contract.
    */
  private[graft] def ivfK(n: Long): Int =
    math.max(4, math.min(64, math.round(math.sqrt(n.toDouble)).toInt))

  /** Probe count sized to the codebook — the IVF analog of [[bitsFor]],
    * and the answer to "recall sagged when the corpus grew": at FIXED
    * nProbe the scanned fraction ≈ ma·nProbe/k shrinks as k = √N grows,
    * and on an isotropic corpus recall tracks scanned fraction almost
    * exactly (SURVEY §6 ANN sweep: ~0.83 recall@3 at ~1/3 scanned at
    * BOTH sf0.01 [k=25, nProbe 4] and sf0.1 [k=45, nProbe 8]; fixed
    * nProbe 4 decays 0.83 → 0.60 across the same growth). Holding the
    * fraction at ~1/3 holds recall ≥ 0.8 at every measured SF — asserted
    * at sf0.1 in VectorSpec; real clustered corpora buy strictly more
    * recall at the same fraction. The DECLARED `ann_ivf` key keeps the
    * fixed nProbe-2 workload (its indexed sibling pins row-parity on it,
    * and the per-SF CORRECTNESS record needs a knob that doesn't move
    * with N); recall-targeting callers size with this.
    */
  def nProbeFor(k: Int, multiAssign: Int = 2): Int =
    math.max(2, math.ceil(k / (3.0 * multiAssign)).toInt)

  private def normCol(e: String): Column = sqrt(dot(e, e))

  /** DuckDB equivalents (list_reduce = same left fold; x[1]/x[2] are the
    * unnamed zip-struct fields).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"
  private def normSql(e: String): String = s"sqrt(${dotSql(e, e)})"

  // ---- knn_cosine --------------------------------------------------------

  /** Brute-force cosine 1-NN for query vectors (vec_id < 10) against all
    * other embeddings — broadcast queries, stream targets.
    *
    * The argmax is `max(struct(sim, -vec_id, vec_id))` — lexicographic
    * struct ordering reproduces (sim DESC, vec_id ASC) exactly, matching
    * the reference 1-NN tie-break (`src/ansi.tpp:351-363`: strict `<`
    * keeps the first/lowest id on equal distance). Unlike a
    * `row_number().over(partitionBy(q_id))` window, max(struct) partial-
    * aggregates map-side: each scan task reduces its slice to |queries|
    * rows before the shuffle, so at 1e9 vectors the exchange carries
    * |queries| x |tasks| rows instead of funneling 1e10 scored rows into
    * <=|queries| window-sort partitions.
    */
  private def knnCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"))
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .filter(col("q_id") < 10)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("q_emb", "embedding") / (col("q_nrm") * col("nrm")))
    scored
      .groupBy("q_id")
      .agg(max(struct(col("sim"), (-col("vec_id")).as("neg_id"), col("vec_id").as("nn_id"))).as("best"))
      .select(col("q_id"), col("best.nn_id").as("nn_id"), col("best.sim").as("sim"))
      .orderBy("q_id")
  }

  // ---- knn_topk ----------------------------------------------------------

  /** Brute-force cosine top-3 per query — [[knnCosine]] generalized from
    * argmax to the bounded [[graft.functions.TopK]] aggregate, and the
    * oracle proof that TopK's (score DESC, id ASC) semantics match ANSI
    * `row_number()` exactly: DuckDB computes the same top-3 with a window
    * over the full cross join, Spark never materializes more than k rows
    * per (group, task) thanks to the bounded map-side partial aggregation.
    * Same broadcast-queries/stream-corpus shape as knn_cosine.
    */
  private def knnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TopK.top_k
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"))
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .filter(col("q_id") < 10)
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("q_emb", "embedding") / (col("q_nrm") * col("nrm")))
      .groupBy("q_id")
      .agg(top_k(col("sim"), col("vec_id"), col("vec_id"), 3).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("nn_id"), col("t.score").as("sim"))
      .orderBy("q_id", "rank")
  }

  // ---- embed_centroid ----------------------------------------------------

  /** Per-label embedding centroid — the class-prototype/clustering-init
    * primitive: elementwise mean over each label's vectors, computed as
    * posexplode → groupBy (label, dimension) → partial-agg'd sum. Floats
    * are quantized to integers BEFORE summing: double addition is not
    * associative, so a double sum would depend on partition order and
    * could never hash-match a single-threaded oracle. The quantization is
    * `floor(v * 1e9)` — the double product is IEEE-identical in every
    * engine and `floor` has no rounding ties (unlike a decimal(18,9)
    * cast, where a float whose dyadic expansion lands on an exact .5 at
    * the 9th decimal is rounded HALF_UP by Spark but half-to-even by
    * DuckDB — observed on real data). The bigint sum is exact and
    * order-independent; the mean divides once at the end by n·1e9.
    * Headroom: |v| ≤ 2 ⇒ |q| ≤ 2e9, so a bigint sum holds ~4.6e9 vectors
    * per (label, dim) group before overflow — beyond 100 TB of 64-dim
    * float rows per label. Scale shape: the explode is a narrow generator
    * (64 rows per vector), the single shuffle carries one partial sum per
    * (label, dim, task).
    */
  private def embedCentroid(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1e9)).as("qv"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("qv").as("q_sum"))
      .withColumn("mean_val", col("q_sum").cast("double") / (col("n") * lit(1e9)))
      .select("label", "pos", "n", "q_sum", "mean_val")
      .orderBy("label", "pos")

  // ---- embed_neardup -----------------------------------------------------

  /** Pairwise cosine near-duplicates within a bounded id range (the
    * corpus is near-random, so the 0.3 threshold marks the far tail).
    */
  private def embedNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("label"), col("embedding"), normCol("embedding").as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("label").as("label_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("label_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") > 0.3)
      .select("id_a", "id_b", "label_a", "label_b", "sim")
      .orderBy("id_a", "id_b")
  }

  // ---- embed_clusters ------------------------------------------------------

  /** Embedding near-duplicate CLUSTERS — the third member of the
    * duplicate-clustering family (content-hash `dedup_clusters`, MinHash
    * `dedup_clusters_minhash`, and this cosine variant): exact cosine
    * pairs on the bounded verification range feed the same iterative
    * min-label connected-components loop, labeling every vector with its
    * cluster's minimum vec_id. The DuckDB oracle computes identical edges
    * (same double dot product — bit-identical membership, proven by
    * `embed_neardup`'s hash-exact pass) and closes them with a recursive
    * CTE.
    */
  private def embedClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    val edges = a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") > 0.3)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = e.select(col("vec_id").as("doc_id"))
    // cosine-threshold graphs are chain-shaped (12 propagation rounds at
    // sf0.1 vs the minhash graph's 2) — path halving pays here, measured
    // ~20% faster end to end (SURVEY §6; see connectedComponentsTracked)
    DedupOps.clusterReportReleased(nodes, edges, s"embed_clusters_$sfDir", compress = true)
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** The PRODUCTION form at corpus scale: LSH-bucketed candidate pairs
    * over the FULL embedding table ([[embedNeardupLshFrame]] — bounded
    * per-bucket quadratic, hot-bucket star guard) feed connected
    * components. No bounded id range, no all-pairs stage, no driver
    * drain — the embedding sibling of `dedup_clusters_minhash`.
    * Deterministic (seeded hyperplanes); no SQL oracle (LSH is not
    * ANSI-expressible); cluster invariants property-tested in DedupSpec.
    */
  private[graft] def embedClustersEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val base = emb(spark, sfDir)
    // unsorted core (r21): CC discards edge order, so the declared pair
    // key's output orderBy would cost a range exchange + sort for nothing
    embedNeardupLshUnsorted(base, bitsFor(corpusCount(base, sfDir)), 0.3)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
  }

  private[graft] def embedClustersLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = emb(spark, sfDir).select(col("vec_id").as("doc_id"))
    DedupOps.clusterReportReleased(nodes, embedClustersEdges(spark, sfDir),
      s"embed_clusters_lsh_$sfDir", compress = true)
      .withColumnRenamed("doc_id", "vec_id")
  }

  // ---- ann_lsh -----------------------------------------------------------

  /** Random-hyperplane LSH bucket id over `nBits` deterministic
    * pseudo-random hyperplanes (seeded xxhash64 per (plane, dim), scaled to
    * [-1, 1]) → 2^nBits buckets. Native codegen expression
    * ([[graft.functions.LshBucket]] — plane matrix hashed once at plan
    * time, tight primitive loop per row) replacing the r7 interpreted
    * `aggregate(sequence(...))` HOF, which re-hashed nBits·64 xxhash64
    * calls PER ROW and kept the whole signature scan out of whole-stage
    * codegen; bit-identical by construction, pinned in VectorSpec.
    */
  private def bucketCol(nBits: Int): Column =
    graft.functions.LshBucket.lsh_bucket(col("embedding"), nBits)

  /** Bucket bits sized to the corpus: 2^bits buckets targeting ~32
    * candidates per bucket, clamped to [4, 24]. At 1e9 vectors this yields
    * ~2^25-capped buckets instead of a fixed 64 — bucket population stays
    * bounded as N grows. The row count is one counting scan, memoized per
    * directory ([[corpusCount]]) — the analog of collecting CBO stats
    * once and reusing them.
    */
  private[graft] def bitsFor(n: Long): Int =
    math.min(24, math.max(4, math.ceil(math.log(math.max(1L, n) / 32.0) / math.log(2)).toInt))

  /** Scale-path ANN: nBits-hyperplane LSH buckets + hamming-`probeRadius`
    * multi-probe + true-cosine top-k via the bounded
    * [[graft.functions.TopK]] aggregate. Queries are broadcast with their
    * probe set exploded — radius 0 probes only the exact bucket, radius 1
    * adds every single-bit flip (nBits+1 probes, the standard recall
    * recovery: a near neighbor most likely differs in exactly one
    * hyperplane sign), radius 2 adds the two-bit flips
    * (+nBits·(nBits−1)/2 probes) — the recall/latency OPERATING KNOB: a
    * user trades probe count (∝ candidates scanned) for recall, measured
    * per radius in VectorSpec. Candidates stream from the scan and
    * partial-aggregate map-side, so no all-candidate shuffle and no
    * skewed window sort. No SQL oracle (bucket join not portably
    * expressible); deterministic.
    *
    * This is the scored-candidate stage, split out so the sweep harness
    * can measure candidates scanned per operating point (the latency
    * driver at scale) without duplicating the pipeline; [[annLshAt]]
    * adds the bounded top-k.
    */
  private[graft] def annLshCandidates(spark: SparkSession, sfDir: String, nBitsOpt: Option[Int],
      probeRadius: Int): DataFrame = {
    val base = emb(spark, sfDir)
    val nBits = nBitsOpt.getOrElse(bitsFor(corpusCount(base, sfDir)))
    val e = withLshBucket(
      base.select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm")), nBits)
    lshCandidatesFrom(e, nBits, probeRadius)
  }

  /** The probe-join stage over any signature frame `(vec_id, embedding,
    * nrm, bucket)` — shared by the inline path (signatures computed in
    * the scan projection) and the persisted-index path ([[annLshIndexed]]
    * reads them from the bucketed table instead).
    */
  private def lshCandidatesFrom(e: DataFrame, nBits: Int, probeRadius: Int): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius must be 0, 1, or 2")
    require(nBits >= 2 || probeRadius < 2,
      s"radius-2 multi-probe needs at least 2 hyperplane bits, got $nBits")
    // probe sets are distinct buckets, so each candidate can match at
    // most one probe of a given query (no dedup needed).
    val r1 =
      s"concat(array(q_bucket), transform(sequence(0, ${nBits - 1}), i -> q_bucket ^ shiftleft(1L, i)))"
    val probes = probeRadius match {
      case 0 => "array(q_bucket)"
      case 1 => r1
      case 2 =>
        s"""concat($r1, flatten(transform(sequence(0, ${nBits - 2}), i ->
           |  transform(sequence(i + 1, ${nBits - 1}), j ->
           |    q_bucket ^ shiftleft(1L, i) ^ shiftleft(1L, j)))))""".stripMargin
    }
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      .withColumn("probe", explode(expr(probes)))
    e.join(broadcast(q),
      col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("q_emb", "embedding") / (col("q_nrm") * col("nrm")))
  }

  /** Bounded top-k over scored LSH candidates (shared tail of the inline
    * and indexed paths).
    */
  private def lshTopK(cands: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopK.top_k
    cands
      .groupBy("q_id")
      .agg(top_k(col("sim"), col("vec_id"), col("bucket"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("cand_id"), col("t.payload").as("bucket"),
        col("t.score").as("sim"), (col("pos") + 1).as("rn"))
      .orderBy("q_id", "rn")
  }

  /** Scale-path ANN: nBits-hyperplane LSH buckets + hamming-`probeRadius`
    * multi-probe + true-cosine top-k via the bounded
    * [[graft.functions.TopK]] aggregate (see [[annLshCandidates]] for the
    * candidate stage and the probe-set construction).
    */
  private[graft] def annLshAt(spark: SparkSession, sfDir: String, nBitsOpt: Option[Int], k: Int,
      probeRadius: Int = 1): DataFrame =
    lshTopK(annLshCandidates(spark, sfDir, nBitsOpt, probeRadius), k)

  private def annLsh(spark: SparkSession, sfDir: String): DataFrame =
    annLshAt(spark, sfDir, None, 3)

  /** Declared consumer of the PERSISTED LSH index: ensures the bucketed
    * index table for `sfDir` exists in the session catalog (built once —
    * the offline index build whose amortization §6 measures), then
    * answers the standard 10-query radius-1 top-3 workload by probing
    * the TABLE instead of recomputing signatures. Row-identical to
    * `ann_lsh` by construction — same nBits, same probe set, same
    * scoring and TopK over signatures that were COMPUTED ONCE at build —
    * asserted in VectorSpec. No SQL oracle (seeded-hash buckets, like
    * ann_lsh); deterministic.
    */
  private[graft] def annLshIndexed(spark: SparkSession, sfDir: String,
      probeRadius: Int = 1): DataFrame = {
    val base = emb(spark, sfDir)
    val table = "graft_lsh_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    IndexTable.ensure(spark, table)(writeLshIndex(spark, sfDir, table))
    // probe with the nBits the index was BUILT with (persisted metadata —
    // correct even after appends changed the corpus count); legacy
    // indexes without a meta table fall back to the deterministic
    // re-derivation, which is only sound while the index still mirrors
    // the corpus exactly — if the row counts diverge (an append slipped
    // in, or the corpus grew), bitsFor(current count) can differ from
    // the built signature width and every probe would silently miss, so
    // a diverged meta-less index is refused instead
    val nBits = loadLshMeta(spark, table).map(_._1).getOrElse {
      val idxN = spark.table(table).count()
      val corpusN = corpusCount(base, sfDir)
      require(idxN == corpusN,
        s"index $table has no meta table and holds $idxN rows vs a $corpusN-row corpus — " +
          "its signature width cannot be re-derived safely; rebuild with writeLshIndex")
      bitsFor(corpusN)
    }
    lshTopK(lshCandidatesFrom(spark.table(table), nBits, probeRadius), 3)
  }

  // ---- ann_ivf -----------------------------------------------------------

  /** The argmax-cosine centroid id: per-centroid scores as orderable
    * structs `(sim, -c, c)` so that `greatest` tie-breaks toward the lower
    * centroid id. The query-vector norm is omitted — legal for ARGMAX use
    * (it is a per-row positive constant across centroids). `greatest()`
    * needs >= 2 args; a 1-centroid corpus assigns trivially.
    */
  private def bestCentFor(cents: Seq[(Int, Array[Float], Double)],
      embCol: String): Column = {
    val sims = cents.map { case (i, arr, cn) =>
      struct((float_dot(col(embCol), typedLit(arr)) / lit(cn)).as("s"),
        lit(-i).as("negc"), lit(i).as("c"))
    }
    (if (sims.length == 1) sims.head else greatest(sims: _*)).getField("c")
  }

  private def fnorm(arr: Array[Float]): Double =
    math.sqrt(arr.map(x => x.toDouble * x).sum)

  /** Spherical-k-means codebook: a deterministic seed (every ⌊N/k⌋-th
    * vector by vec_id) refined by `lloydRounds` distributed Lloyd
    * iterations. Each round is one Spark job: ASSIGN is the same narrow
    * codegen map the operator uses at query time (`greatest(struct)` over
    * k literal centroids — no shuffle), UPDATE computes per-(cell, dim)
    * means with the tie-free integer quantization from `embed_centroid`
    * (`sum(floor(v·1e9))` as bigint) so the sums are exact and
    * partition-order-independent — the trained codebook is bit-identical
    * run to run, keeping ann_ivf deterministic. Only the k×dim mean table
    * (≤ 64×64 rows) is collected per round: driver-side quantizer
    * metadata, the offline-codebook analog of real IVF builds. Empty or
    * zero-norm cells keep their previous centroid (a zero-norm centroid
    * would make every cosine NaN, and NaN sorts greatest in Spark).
    *
    * Untrained seeds (round-4 state) measured recall@3 0.30/0.33/0.47 at
    * nProbe 1/2/4; the trained codebook is measured in VectorSpec with a
    * ≥ 0.8 floor at nProbe 4.
    *
    * SAMPLED training (the N^1.5 bound, round 13): full Lloyd costs
    * rounds × N × k dots — with k = √N that is N^1.5 total, the one
    * super-linear stage in the engine (BENCH_SCALING measured it 2.29×
    * at 4× rows). The codebook is trained on a deterministic HASH-SAMPLE
    * of min(N, sampleFactor·k) vectors instead: `pmod(xxhash64(vec_id),
    * N) < cap` keeps ~cap vectors, chosen by vec_id alone — partition-
    * order-independent, bit-stable run to run, so the codebook (and with
    * it ann_ivf and the persisted-index parity) stays deterministic. A
    * k-means codebook estimates k cell MEANS; 64·k samples put ~64
    * vectors behind each mean, and VectorSpec pins the sampled-codebook
    * recall within 0.05 of full training at sf0.1. Training is now
    * O(rounds · sampleFactor · k²) — CONSTANT in N once the clamp k=64
    * binds — while full-corpus cell ASSIGNMENT (unavoidable for the
    * index content) stays the one k·N pass. `sampleFactor ≤ 0` disables
    * sampling (the comparison baseline in VectorSpec).
    */
  private[graft] val TrainSampleFactor = 64

  private[graft] def trainCodebook(base: DataFrame, n: Long, k: Int,
      lloydRounds: Int, sampleFactor: Int = -1): Seq[(Int, Array[Float], Double)] = {
    val factor = if (sampleFactor == -1) TrainSampleFactor else sampleFactor
    val cap = factor.toLong * k
    val train =
      if (factor <= 0 || n <= cap) base
      else base.filter(pmod(xxhash64(col("vec_id")), lit(n)) < lit(cap))
    val step = math.max(1L, n / k)
    var cents: Seq[(Int, Array[Float], Double)] = base
      .filter(col("vec_id") % step === 0).orderBy("vec_id").limit(k)
      .select("embedding").collect().toSeq
      .map(_.getSeq[Float](0).toArray)
      .zipWithIndex
      .map { case (arr, i) => (i, arr, fnorm(arr)) }
    if (cents.isEmpty) return cents
    val dim = cents.head._2.length
    for (_ <- 1 to lloydRounds) {
      // ASSIGN below the explode: a select that mixes a generator with
      // other expressions plans those expressions in the Project ABOVE
      // the Generate, re-evaluating the k×dim assignment once PER
      // EXPLODED ELEMENT (dim× the work — measured 63 s/round on 2 000
      // rows at k=45). Materializing `cent` in its own projection first
      // keeps it below the Generate: once per vector.
      val assigned = train
        .select(col("embedding"), bestCentFor(cents, "embedding").as("cent"))
      val stats = assigned
        .select(col("cent"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cent"), col("pos"),
          floor(col("v").cast("double") * lit(1e9)).as("qv"))
        .groupBy("cent", "pos")
        .agg(count(lit(1)).as("cnt"), sum("qv").as("qs"))
        .collect()
      val byCent = stats.groupBy(_.getInt(0))
      cents = cents.map { case (i, old, oldNrm) =>
        byCent.get(i) match {
          case Some(rows) =>
            val arr = new Array[Float](dim)
            rows.foreach { r =>
              arr(r.getInt(1)) = (r.getLong(3).toDouble / (r.getLong(2) * 1e9)).toFloat
            }
            val nrm = fnorm(arr)
            if (nrm > 0.0) (i, arr, nrm) else (i, old, oldNrm)
          case None => (i, old, oldNrm)
        }
      }
    }
    cents
  }

  /** IVF (inverted-file) ANN — the second ANN family next to LSH, the
    * IVF-Flat shape: a coarse quantizer of k ≈ √N centroids partitions
    * the corpus into cells; queries probe their `nProbe` nearest cells
    * and rank only those candidates by true cosine.
    *
    * The codebook comes from [[trainCodebook]] (deterministic seed +
    * distributed Lloyd refinement) and is collected to the driver —
    * k ≤ 64 × 64 floats, i.e. quantizer *metadata*, the IVF analog of
    * CBO statistics (real IVF trains its codebook offline too). Cell
    * assignment is a narrow map: `greatest(struct(sim_c, -c, c))` over k
    * literal-centroid [[graft.functions.FloatDot]] calls — all codegen,
    * no shuffle, no per-row interpretation; the only exchange is the
    * final per-query [[graft.functions.TopK]] partial aggregation,
    * exactly like ann_lsh.
    *
    * `multiAssign` indexes each vector under its top-m cells (boundary
    * duplication): index size ×m, recall way up at fixed nProbe — the
    * right trade on weakly-clustered corpora, where single-assignment
    * recall is capped by the scanned fraction nProbe/k. Measured at
    * sf0.01, k=√N=22 (VectorSpec, SURVEY §6): single-assign untrained
    * 0.30/0.33/0.47 at nProbe 1/2/4 → trained+ma=2 (default)
    * 0.43/0.57/0.83; ma=3 reaches 0.90 at nProbe 4 for 3× index. Recall
    * is structurally monotone in nProbe: probe sets are nested, a
    * candidate found at radius r survives at r+1, and any new candidate
    * outscoring a true top-3 member is itself a true top-3 member.
    * Deterministic (training is tie-free integer arithmetic); no SQL
    * oracle; recall and latency per nProbe measured in VectorSpec /
    * SURVEY §6.
    *
    * This is the scored-candidate stage (same split as
    * [[annLshCandidates]]); [[annIvf]] adds the bounded top-k. A
    * degenerate empty corpus yields an empty frame with the candidate
    * columns the aggregate consumes.
    */
  /** The trained codebook + multi-assigned cell frame `(vec_id,
    * embedding, nrm, cent, cidx, cell)` — the IVF index CONTENT, shared
    * by the inline query path ([[annIvfCandidates]]) and the persisted
    * bucketed build ([[writeIvfIndex]]). `cents` is empty only for an
    * empty corpus.
    */
  private[graft] def ivfAssignments(spark: SparkSession, sfDir: String,
      kOpt: Option[Int], lloydRounds: Int, multiAssign: Int,
      sampleFactor: Int = -1)
      : (Seq[(Int, Array[Float], Double)], DataFrame) = {
    val (cents, pre) = ivfCellsFrame(spark, sfDir, kOpt, lloydRounds, multiAssign, sampleFactor)
    if (cents.isEmpty) return (cents, pre)
    (cents, explodeCells(pre, Seq("vec_id", "embedding", "nrm")))
  }

  /** The UNEXPLODED multi-assignment frame `(vec_id, embedding, nrm,
    * cells)` — cells the top-`multiAssign` cell ids, best first. Callers
    * that must compute a per-VECTOR column (e.g. the PQ encode) add it
    * here, below the explode, so it evaluates once per vector instead of
    * once per assignment copy (r22, guide §1.2 step 1 / the
    * expressions-above-Generate gotcha); [[explodeCells]] then fans out.
    */
  private[graft] def ivfCellsFrame(spark: SparkSession, sfDir: String,
      kOpt: Option[Int], lloydRounds: Int, multiAssign: Int,
      sampleFactor: Int = -1)
      : (Seq[(Int, Array[Float], Double)], DataFrame) = {
    val base = emb(spark, sfDir)
    val n = corpusCount(base, sfDir)
    val k = kOpt.getOrElse(ivfK(n))
    val cents: Seq[(Int, Array[Float], Double)] =
      centroidCache.getOrElseUpdate((sfDir, k, lloydRounds, sampleFactor),
        trainCodebook(base, n, k, lloydRounds, sampleFactor))
    if (cents.isEmpty) return (cents, base)
    // Multi-assignment: each corpus vector is indexed under its top
    // `multiAssign` cells (boundary duplication — index size ×m). The
    // secondary copy only matches when the PRIMARY cell is not probed, so
    // every (query, candidate) pair joins exactly once — no dedup pass,
    // the downstream aggregation stays a clean bounded TopK.
    val m = math.min(multiAssign, cents.length)
    // explode(array(..)) generate barrier (the near_dup_edit idiom):
    // without it, InferFiltersFromGenerate + predicate pushdown inline the
    // ranking expression into the inferred `size(cells) > 0 AND
    // isnotnull(cells)` filter — THREE evaluations per vector (seen in the
    // r22 plan dumps for both the kernel and the old literal form). Behind
    // the barrier the filter tests the materialized attribute. Semantics
    // unchanged: a null/empty cells row is dropped by the posexplode
    // downstream exactly as before.
    val pre = base
      .select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(array(topCellsFor(cents, "embedding", "nrm", m))).as("cells"))
    (cents, pre)
  }

  /** Fan the `cells` array out to one row per assignment, carrying
    * `carry` columns (already materialized below the Generate — cheap
    * attributes in the projection above it).
    */
  private def explodeCells(pre: DataFrame, carry: Seq[String]): DataFrame =
    pre.select(carry.map(col) ++ Seq(col("cells")(0).as("cent"),
      posexplode(col("cells")).as(Seq("cidx", "cell"))): _*)

  // r22: the native one-pass ranking kernel (see IvfTopCells — the Column
  // form built k structs + an interpreted struct sort per row, 0.44 s of
  // ann_ivf at sf0.1); VectorSpec pins it row-identical against an
  // independent plain-Scala ranking
  private def topCellsFor(cents: Seq[(Int, Array[Float], Double)],
      embCol: String, nrmCol: String, m: Int): Column =
    graft.functions.IvfTopCells.ivf_top_cells(col(embCol), col(nrmCol), cents, m)

  /** The probe-join stage over any assignment frame `(vec_id, embedding,
    * nrm, cent, cidx, cell)` — shared by the inline path and the
    * persisted-index path ([[annIvfIndexed]] reads assignments from the
    * bucketed table instead).
    */
  private def ivfCandidatesFrom(e: DataFrame, base: DataFrame,
      cents: Seq[(Int, Array[Float], Double)], nProbe: Int): DataFrame = {
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normCol("embedding").as("q_nrm"))
      .withColumn("q_probes",
        topCellsFor(cents, "q_emb", "q_nrm", math.min(nProbe, cents.length)))
      .withColumn("probe", explode(col("q_probes")))
    e.join(broadcast(q),
      col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .filter(col("cidx") === 0 || !array_contains(col("q_probes"), col("cent")))
      .withColumn("sim", dot("q_emb", "embedding") / (col("q_nrm") * col("nrm")))
  }

  private[graft] def annIvfCandidates(spark: SparkSession, sfDir: String,
      kOpt: Option[Int] = None, nProbe: Int = 2,
      lloydRounds: Int = 10, multiAssign: Int = 2,
      sampleFactor: Int = -1): DataFrame = {
    val base = emb(spark, sfDir)
    val (cents, e) = ivfAssignments(spark, sfDir, kOpt, lloydRounds, multiAssign, sampleFactor)
    if (cents.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)].toDF("q_id", "vec_id", "cent", "sim")
    }
    ivfCandidatesFrom(e, base, cents, nProbe)
  }

  /** Bounded top-k over scored IVF candidates (shared tail of the inline
    * and indexed paths).
    */
  private def ivfTopK(cands: DataFrame, topK: Int): DataFrame = {
    import graft.functions.TopK.top_k
    cands
      .groupBy("q_id")
      .agg(top_k(col("sim"), col("vec_id"), col("cent").cast("long"), topK).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("cand_id"), col("t.payload").as("cent"),
        col("t.score").as("sim"), (col("pos") + 1).as("rn"))
      .orderBy("q_id", "rn")
  }

  /** IVF-Flat top-k over [[annIvfCandidates]] — see that method for the
    * quantizer, multi-assignment, and recall/latency story.
    */
  private[graft] def annIvf(spark: SparkSession, sfDir: String,
      kOpt: Option[Int] = None, nProbe: Int = 2, topK: Int = 3,
      lloydRounds: Int = 10, multiAssign: Int = 2,
      sampleFactor: Int = -1): DataFrame =
    ivfTopK(annIvfCandidates(spark, sfDir, kOpt, nProbe, lloydRounds, multiAssign, sampleFactor), topK)

  private def annIvfQuery(spark: SparkSession, sfDir: String): DataFrame =
    annIvf(spark, sfDir)

  /** IVF sibling of [[annLshIndexed]]: the standard nProbe-2 top-3
    * workload answered from the PERSISTED cell-bucketed index. Cell
    * assignments come from the table (computed once at build); query
    * probes come from the PERSISTED codebook written next to it — the
    * exact quantizer the at-rest cells were assigned with, so probe and
    * index cannot disagree even in a fresh JVM or after appends (a
    * retrain on an appended corpus would silently diverge). Legacy
    * indexes built before codebooks were persisted fall back to the
    * deterministic retrain. Row-identical to `ann_ivf` (asserted in
    * VectorSpec — the persisted codebook is bit-identical to the one
    * `ann_ivf` trains on unchanged data).
    */
  private[graft] def annIvfIndexed(spark: SparkSession, sfDir: String): DataFrame =
    probeIvfIndex(spark, sfDir, nProbeOpt = Some(2))

  /** Probe of the persisted IVF index with an explicit or RECALL-SIZED
    * probe count. `nProbeOpt = None` (the production default) sizes
    * nProbe with [[nProbeFor]] from the PERSISTED codebook's k — the
    * recall-holding knob wired into the indexed path itself, so a caller
    * gets recall ≥ 0.8 at any corpus size without knowing the knob
    * exists (r12 verdict #5; asserted from the persisted index at both
    * SFs in VectorSpec). The declared `ann_ivf_indexed` key pins
    * nProbe=2 (fixed workload — its row-parity contract with `ann_ivf`
    * and the per-SF CORRECTNESS record need a knob that doesn't move
    * with N); recall-targeting callers use this entry.
    */
  def probeIvfIndex(spark: SparkSession, sfDir: String,
      nProbeOpt: Option[Int] = None, topK: Int = 3): DataFrame = {
    val base = emb(spark, sfDir)
    val table = "graft_ivf_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    IndexTable.ensure(spark, table)(writeIvfIndex(spark, sfDir, table))
    val cents =
      if (spark.catalog.tableExists(codebookTableFor(table))) loadIvfCodebook(spark, table)._1
      else {
        val n = corpusCount(base, sfDir)
        val k = ivfK(n)
        centroidCache.getOrElseUpdate((sfDir, k, 10, -1), trainCodebook(base, n, k, 10))
      }
    val nProbe = nProbeOpt.getOrElse(nProbeFor(cents.size))
    ivfTopK(ivfCandidatesFrom(spark.table(table), base, cents, nProbe), topK)
  }

  // ---- persisted ANN index (bucketed build + pruned probe) ---------------

  /** Appends the nBits LSH `bucket` column to any frame with an
    * `embedding` column — the one signature definition shared by the
    * inline paths, the index build, and query-side probe frames.
    */
  private[graft] def withLshBucket(df: DataFrame, nBits: Int): DataFrame =
    df.withColumn("bucket", bucketCol(nBits))

  /** Writes the LSH signature index as a bucketed, bucket-sorted table —
    * the PERSISTED form of the index both ANN families only computed
    * inline until now. The index is partition-aligned on its probe key
    * at rest, which buys exactly two things at query time (both asserted
    * in BucketingSpec):
    *
    *  - a probe's `bucket IN (<probe set>)` filter prunes FILES — the
    *    scan reads only the probed buckets (`SelectedBucketsCount` in
    *    the plan), i.e. ~|probes|/2^nBits of the index instead of the
    *    corpus;
    *  - a batch-of-queries probe JOIN plans with no Exchange on the
    *    index side — only the (small) query side shuffles to the
    *    bucket layout.
    *
    * Build cost is one corpus scan + one bucketed write, amortized over
    * every subsequent query batch — the offline index build of a real
    * vector store (SURVEY §6 quantifies the tradeoff). Returns the nBits
    * used (callers need it to compute probe sets).
    *
    * CONF REQUIREMENT for probe sessions:
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`.
    * Spark's `DisableUnnecessaryBucketedScan` rule weighs only
    * distribution requirements, so it silently disables the bucketed
    * scan — and with it bucket-filter FILE pruning — for a filter-only
    * probe plan, turning the probe back into a full index read.
    */
  def writeLshIndex(spark: SparkSession, sfDir: String, table: String,
      nBuckets: Int = 16, nBitsOpt: Option[Int] = None): Int = {
    val base = emb(spark, sfDir)
    writeLshIndexCounted(spark, base, corpusCount(base, sfDir), table, nBuckets, nBitsOpt)
  }

  /** [[writeLshIndex]] from an arbitrary `(vec_id, embedding)` frame —
    * the builder a production corpus needs (the sfDir form is the test
    * layout's convenience). Same artifact, meta, and epoch discipline.
    */
  def writeLshIndexFrom(spark: SparkSession, vectors: DataFrame, table: String,
      nBuckets: Int = 16, nBitsOpt: Option[Int] = None): Int = {
    val base = vectors.select("vec_id", "embedding")
    writeLshIndexCounted(spark, base, base.count(), table, nBuckets, nBitsOpt)
  }

  private def writeLshIndexCounted(spark: SparkSession, base: DataFrame, n: Long,
      table: String, nBuckets: Int, nBitsOpt: Option[Int]): Int = {
    val nBits = nBitsOpt.getOrElse(bitsFor(n))
    IndexTable.replace(spark, table, Seq(metaTableFor(table))) {
      withLshBucket(
        base.select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm")), nBits)
        .write.mode("overwrite").bucketBy(nBuckets, "bucket").sortBy("bucket")
        .format("parquet").saveAsTable(table)
      // persist the signature width + build-time corpus size next to the
      // index (the LSH analog of the IVF codebook table): probes read the
      // nBits the cells were actually hashed with, appends VALIDATE
      // against it, and staleness has its baseline. The pre-count `n`
      // only SIZES nBits, a heuristic; `nbits` records the width actually
      // hashed, and base_n the rows actually written
      val baseN = IndexTable.idCount(spark, table, "vec_id")
      spark.createDataFrame(Seq((nBits, baseN))).toDF("nbits", "base_n")
        .write.mode("overwrite").format("parquet").saveAsTable(metaTableFor(table))
      Some(baseN)
    }
    nBits
  }

  private[graft] def metaTableFor(table: String): String = table + "_meta"

  /** The persisted (nBits, build-time corpus size) of an LSH index; None
    * for indexes built before the meta table existed.
    */
  def loadLshMeta(spark: SparkSession, table: String): Option[(Int, Long)] =
    if (!spark.catalog.tableExists(metaTableFor(table))) None
    else spark.table(metaTableFor(table)).collect().headOption
      .map(r => (r.getInt(0), r.getLong(1)))

  /** Fraction of the index appended since it was built
    * ([[IndexTable.staleness]]). The hyperplanes are data-independent, so
    * what drifts here is not a quantizer but BUCKET SIZING: `bitsFor`
    * targeted ~32 vectors/bucket at build, and every append grows the
    * average population, degrading the within-bucket scan bound. Rebuild
    * ([[writeLshIndex]]) re-derives nBits for the grown corpus.
    */
  def lshIndexStaleness(spark: SparkSession, table: String): Double =
    IndexTable.staleness(spark, table, "vec_id", loadLshMeta(spark, table).map(_._2))

  /** Replay-safe append to a vector index ([[IndexTable.appendNovel]]
    * keyed on vec_id): one row per vec_id, the first of a batch's repeats.
    */
  private def appendVectors(spark: SparkSession, table: String, newRows: DataFrame,
      beganEpoch: Option[Long])(write: DataFrame => Unit): Long =
    IndexTable.appendNovel(spark, table, "vec_id", newRows.dropDuplicates("vec_id"),
      beganEpoch)(write)

  /** Incremental maintenance for a persisted LSH index: signs the rows
    * whose vec_id is not yet at rest ([[IndexTable.appendNovel]]) and
    * appends them through `insertInto`, which writes under the TABLE's
    * bucket spec, so probes stay file-pruned and probe joins stay
    * exchange-free on the index side (asserted in BucketingSpec after an
    * append). `nBits` must be the width the index was built with
    * (returned by [[writeLshIndex]]): it is validated against the meta
    * table, and a META-LESS (legacy) index is refused outright — without
    * the persisted width the check would be a no-op, and a width mismatch
    * would surface only as silently missing neighbors. The check runs
    * inside the epoch span: a refused append writes no rows. Rebuild
    * ([[writeLshIndex]]) is the compaction path. Returns the rows
    * appended.
    */
  // (The PQ/IVFADC appends carry an extra dual-store obligation — see
  // appendToIvfPqIndexIdempotent — because their indexes hold codes,
  // not vectors; the LSH/IVF-Flat indexes store the embeddings
  // themselves, so appended rows are immediately probe-reachable.)
  def appendToLshIndex(spark: SparkSession, newRows: DataFrame, table: String, nBits: Int,
      beganEpoch: Option[Long] = None): Long =
    appendVectors(spark, table, newRows, beganEpoch) { fresh =>
      loadLshMeta(spark, table) match {
        case Some((builtBits, _)) =>
          require(builtBits == nBits,
            s"index $table was built with nBits=$builtBits but append got nBits=$nBits — " +
              "mixed signature widths corrupt the probe contract; rebuild with writeLshIndex")
        case None =>
          throw new IllegalArgumentException(
            s"index $table has no meta table, so its signature width cannot be validated — " +
              "appending would risk a silent width mismatch; rebuild with writeLshIndex first")
      }
      withLshBucket(
        fresh.select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm")), nBits)
        .write.mode("append").insertInto(table)
    }

  /** [[appendToLshIndex]] under the name the streaming callers use — the
    * form a `foreachBatch` must use (every index append is replay-safe).
    */
  def appendToLshIndexIdempotent(spark: SparkSession, newRows: DataFrame,
      table: String, nBits: Int): Long =
    appendToLshIndex(spark, newRows, table, nBits)

  /** Streaming LSH index maintenance: wires a `(vec_id, embedding)`
    * stream into per-batch idempotent appends — with checkpointing this
    * is end-to-end exactly-once index maintenance (the FileSink pattern,
    * keyed on vec_id instead of batch id because `insertInto` under a
    * bucket spec cannot isolate per-batch subdirectories). nBits must be
    * the index's build width (validated against the meta table on every
    * batch by [[appendToLshIndex]]).
    */
  def lshIndexMaintenance(spark: SparkSession, vectors: DataFrame, table: String,
      nBits: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        appendToLshIndexIdempotent(spark, df, table, nBits): Unit
      }

  /** IVF sibling of [[lshIndexMaintenance]]: streams `(vec_id, embedding)`
    * arrivals into per-batch idempotent frozen-quantizer appends. The
    * quantizer is never retrained by arrival (the
    * [[appendToIvfIndex]] policy); [[ivfIndexStaleness]] remains the
    * rebuild trigger.
    */
  def ivfIndexMaintenance(spark: SparkSession, vectors: DataFrame,
      table: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        appendToIvfIndexIdempotent(spark, df, table): Unit
      }

  /** IVF sibling of [[writeLshIndex]]: the multi-assigned cell frame
    * persisted bucketed on `cell`. Probes prune to the probed cells'
    * files; the codebook persists next to it, with the distinct vec_ids
    * written as the staleness baseline. Returns the centroids.
    */
  def writeIvfIndex(spark: SparkSession, sfDir: String, table: String,
      nBuckets: Int = 16, kOpt: Option[Int] = None,
      lloydRounds: Int = 10, multiAssign: Int = 2): Seq[(Int, Array[Float], Double)] = {
    val (cents, e) = ivfAssignments(spark, sfDir, kOpt, lloydRounds, multiAssign)
    require(cents.nonEmpty, "cannot index an empty corpus")
    IndexTable.replace(spark, table, Seq(codebookTableFor(table))) {
      e.write.mode("overwrite").bucketBy(nBuckets, "cell").sortBy("cell")
        .format("parquet").saveAsTable(table)
      // persist the trained quantizer NEXT TO the index (k ≤ 64 rows —
      // metadata scale): probes and appends in ANY later JVM read the
      // codebook the cell assignments were actually built with, instead
      // of retraining on a corpus that appends may since have changed
      val baseN = IndexTable.idCount(spark, table, "vec_id")
      persistIvfCodebook(spark, table, cents, baseN, multiAssign)
      Some(baseN)
    }
    cents
  }

  private[graft] def codebookTableFor(table: String): String = table + "_codebook"

  /** The ONE copy of the coarse-codebook artifact schema — both index
    * writers that persist a codebook ([[writeIvfIndex]],
    * [[writeIvfPqIndex]]) go through here, and the loaders read the
    * columns positionally, so a schema change lives here or nowhere.
    */
  private def persistIvfCodebook(spark: SparkSession, table: String,
      cents: Seq[(Int, Array[Float], Double)], baseN: Long, multiAssign: Int): Unit =
    spark.createDataFrame(
      cents.map { case (i, arr, _) => (i, arr.toSeq, baseN, multiAssign) })
      .toDF("cent", "embedding", "base_n", "multi_assign")
      .write.mode("overwrite").format("parquet").saveAsTable(codebookTableFor(table))

  /** The persisted quantizer for an IVF index: the codebook rows (sorted
    * by centroid id, norms recomputed — floats roundtrip parquet exactly,
    * so this is the bit-identical codebook [[writeIvfIndex]] trained) and
    * the corpus size at build time (the staleness baseline).
    */
  def loadIvfCodebook(spark: SparkSession, table: String)
      : (Seq[(Int, Array[Float], Double)], Long) = {
    val (cents, baseN, _) = loadIvfCodebookFull(spark, table)
    (cents, baseN)
  }

  /** [[loadIvfCodebook]] plus the build-time multiAssign (codebooks
    * persisted before the column existed read as the historical default
    * 2 — the only value ever built then).
    */
  private[graft] def loadIvfCodebookFull(spark: SparkSession, table: String)
      : (Seq[(Int, Array[Float], Double)], Long, Int) = {
    val cb = spark.table(codebookTableFor(table))
    val hasMa = cb.columns.contains("multi_assign")
    val rows = cb.collect()
    val cents = rows.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map { case (i, a) => (i, a, fnorm(a)) }.toSeq
    val baseN = if (rows.isEmpty) 0L else rows.head.getLong(2)
    val ma = if (rows.isEmpty || !hasMa) 2 else rows.head.getInt(3)
    (cents, baseN, ma)
  }

  /** Incremental maintenance for a persisted IVF index — the
    * [[appendToLshIndex]] sibling, with the one extra obligation LSH does
    * not have: LSH planes are data-independent, but an IVF codebook is
    * TRAINED, so appended rows must be assigned against the FROZEN
    * persisted quantizer (loaded from the codebook table — never
    * retrained, which would silently diverge from the cells already at
    * rest). This is the standard IVF arrival policy (train once, assign
    * forever, rebuild on drift): new data does not move centroids, it
    * only fills cells. `insertInto` writes under the table's bucket spec,
    * so cell-file pruning and the exchange-free probe join survive the
    * append (asserted in BucketingSpec).
    *
    * The cost of freezing is recall drift: appended data drawn from a
    * shifted distribution concentrates in few cells and is probed less
    * effectively. [[ivfIndexStaleness]] quantifies the exposure; rebuild
    * (the [[writeIvfIndex]] compaction path) when it passes your
    * tolerance — a reasonable default is 0.5 (half the index postdates
    * the quantizer).
    *
    * multiAssign is NOT a parameter: the index's own build-time value is
    * read from the codebook table. A mismatched append (extra secondary
    * cells) would silently break `ivfCandidatesFrom`'s join-exactly-once
    * candidate contract — the same misuse class the LSH append's nBits
    * guard refuses.
    */
  def appendToIvfIndex(spark: SparkSession, newRows: DataFrame, table: String,
      beganEpoch: Option[Long] = None): Long =
    appendVectors(spark, table, newRows, beganEpoch) { fresh =>
      val (cents, _, builtMa) = loadIvfCodebookFull(spark, table)
      require(cents.nonEmpty, s"no persisted codebook for $table — build with writeIvfIndex")
      val m = math.min(builtMa, cents.length)
      fresh
        .select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"))
        .withColumn("cells", topCellsFor(cents, "embedding", "nrm", m))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cells")(0).as("cent"),
          posexplode(col("cells")).as(Seq("cidx", "cell")))
        .write.mode("append").insertInto(table)
    }

  /** [[appendToIvfIndex]] under the name the streaming callers use. A
    * vec_id's multiAssign cell rows are written by ONE append job, so the
    * at-rest anti-join either keeps or drops the whole row group — a
    * replay can never land a partial second assignment.
    */
  def appendToIvfIndexIdempotent(spark: SparkSession, newRows: DataFrame, table: String): Long =
    appendToIvfIndex(spark, newRows, table)

  /** Fraction of the index appended since its codebook was trained
    * ([[IndexTable.staleness]] over distinct vec_ids against the
    * codebook's `base_n`): the rebuild signal for the frozen quantizer
    * (see [[appendToIvfIndex]]).
    */
  def ivfIndexStaleness(spark: SparkSession, table: String): Double =
    IndexTable.staleness(spark, table, "vec_id", Some(loadIvfCodebook(spark, table)._2))

  /** Radius-1 probe set for one query vector against a persisted LSH
    * index, computed through the SAME `bucketCol` definition as the
    * index build (one 1-row job — quantizer-metadata scale, not a data
    * scan), so build and probe can never disagree on the hash.
    */
  private[graft] def lshProbesFor(spark: SparkSession, qVec: Array[Float], nBits: Int): Seq[Long] = {
    import spark.implicits._
    val b = Seq(qVec).toDF("embedding").select(bucketCol(nBits)).head().getLong(0)
    b +: (0 until nBits).map(i => b ^ (1L << i))
  }

  /** Single-query top-k against the PERSISTED LSH index: bucket-pruned
    * scan of the probed buckets → true-cosine scoring → bounded top-k
    * (TakeOrderedAndProject — no exchange anywhere in the plan).
    */
  def probeLshIndex(spark: SparkSession, table: String, qVec: Array[Float],
      nBits: Int, k: Int): DataFrame = {
    val probes = lshProbesFor(spark, qVec, nBits)
    val qNrm = fnorm(qVec)
    spark.table(table)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("sim", float_dot(col("embedding"), typedLit(qVec)) / (col("nrm") * qNrm))
      .select("vec_id", "bucket", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- embed_neardup_lsh -------------------------------------------------

  /** Production-form embedding near-dup: the same corpus-sized LSH buckets
    * as ann_lsh, but self-joined — pairs are generated only WITHIN a
    * bucket (equi-join on the bucket id, one shuffle of each side), then
    * kept by true cosine. Per-bucket population is held at ~32 by
    * [[bitsFor]], so the within-bucket quadratic is a bounded constant
    * (~1k candidate rows per bucket) no matter how large the corpus grows —
    * this replaces the bounded-id quadratic `embed_neardup` baseline as the
    * path you'd actually run at 100 TB. True near-duplicates (cosine ≈ 1)
    * land in the same bucket with probability (1 - θ/π)^bits ≈ 1, so
    * exact-bucket recall is high precisely for the pairs that matter;
    * recall vs the brute-force baseline is measured in DedupSpec.
    *
    * SKEW GUARD: `bitsFor` holds the AVERAGE population at ~32, but real
    * embedding corpora are not isotropic — a dense semantic cluster (or a
    * mass near-duplicate flood) concentrates in ONE bucket and the
    * within-bucket quadratic comes back as an O(b²) hot reducer. Buckets
    * over `hotCap` therefore emit STAR pairs against the bucket's min-id
    * member instead of all pairs — the same guard as
    * [[DedupOps.simhashPairs]], with the same recall contract: the
    * flood's members stay transitively connected through the
    * representative (a near-dup flood has sim ≈ 1 to it, so the cosine
    * filter keeps the star edges), while cross pairs between DISTINCT
    * groups that happen to share an oversized bucket are traded for the
    * O(b) bound. `hotCap` defaults to 8× the target population — normal
    * buckets never hit it (declared output unchanged), only degenerate
    * ones. Deterministic; no SQL oracle (seeded-hash buckets not
    * portable); flood-tested in DedupSpec.
    */
  private[graft] def embedNeardupLshFrame(base: DataFrame, nBits: Int,
      threshold: Double = 0.3, hotCap: Int = 256): DataFrame =
    embedNeardupLshUnsorted(base, nBits, threshold, hotCap)
      .orderBy("id_a", "id_b")

  /** [[embedNeardupLshFrame]] without the declared key's output ordering —
    * the clustering consumer's view (r21, guide §2.4 "an orderBy used only
    * to make output deterministic"): the CC loop discards edge order, so
    * the range exchange + global sort of every candidate pair is pure
    * waste there. Same relation, same columns; the simhash family's
    * sorted-view/unsorted-core split applied to the embedding sibling.
    */
  private[graft] def embedNeardupLshUnsorted(base: DataFrame, nBits: Int,
      threshold: Double = 0.3, hotCap: Int = 256): DataFrame = {
    val e = base.select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"),
      bucketCol(nBits).as("bucket"))
    val ann = DedupOps.annotateBuckets(e, Seq("bucket"), "vec_id", Seq("embedding", "nrm"))
    val sm = ann.filter(col("bucket_n") <= hotCap)
    val a = sm.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = sm.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val small = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")))
    // rep is the bucket min id, so star pairs are already (low, high)
    val large = ann.filter(col("bucket_n") > hotCap && col("vec_id") =!= col("rep.vec_id"))
      .select(col("bucket"), col("rep.vec_id").as("id_a"), col("vec_id").as("id_b"),
        (dot("rep.embedding", "embedding") / (col("rep.nrm") * col("nrm"))).as("sim"))
    // one bucket per vector (no banding), so the branches are disjoint
    // and pair-unique — no distinct needed
    small.select("id_a", "id_b", "bucket", "sim")
      .union(large.select("id_a", "id_b", "bucket", "sim"))
      .filter(col("sim") > threshold)
  }

  private[graft] def embedNeardupLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.3): DataFrame = {
    val base = emb(spark, sfDir)
    embedNeardupLshFrame(base, bitsFor(corpusCount(base, sfDir)), threshold)
  }

  private def embedNeardupLshQuery(spark: SparkSession, sfDir: String): DataFrame =
    embedNeardupLsh(spark, sfDir)

  // ---- multimodal_join ---------------------------------------------------

  /** `documents` ⋈ `embeddings` on doc_id = vec_id: text metadata + vector
    * norm + label in one row — the typed join backing multimodal pipelines.
    */
  private def multimodalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select("doc_id", "lang", "n_chars")
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("label"), normCol("embedding").as("nrm"))
    d.join(e, d("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"), col("nrm"))
      .orderBy("doc_id")
  }

  // ---- ann_pq (product quantization + ADC) -------------------------------

  /** PQ geometry (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the 64-dim embedding splits
    * into [[PqSub]] = 8 subspaces of 8 dims; each subspace gets its own
    * [[PqKs]] = 256-centroid L2 codebook (the paper's standard 8-bit
    * setting), so a vector's at-rest code is 8 bytes — 256 B of floats
    * → 8 B of codes, a 32× compression (no stored norm needed: unit
    * candidates make the cosine denominator a per-query constant).
    * Quantization happens on the NORMALIZED vector: cosine
    * ranking depends only on direction, so spending the codebook's
    * distortion budget on magnitude would be pure waste (measured at
    * sf0.01: recall@3 0.77 → 1.00 at refine=50, 0.27 → 0.80 at
    * refine=10, raw ks=16 vs normalized ks=256). At 100 TB this
    * is the difference between an embedding scan that thrashes disk and
    * a code table that stays memory-resident.
    */
  private[graft] val PqSub = 8
  private[graft] val PqKs = 256
  private[graft] val PqLloydRounds = 10
  private[graft] val PqTrainFactor = 64

  /** Trained PQ codebooks memoized per directory — [[centroidCache]]'s
    * immutability contract. `books(s)(c)` is subspace s's centroid c. */
  private val pqBookCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Float]]]]

  /** PQ codebook training — DRIVER-side Lloyd on the deterministic hash
    * sample ([[trainCodebook]]'s cap: [[PqTrainFactor]]·ks vectors ≈
    * 1024 rows = 64 samples behind each centroid estimate). The sample
    * is collected in `vec_id` order and every Lloyd step iterates that
    * fixed order with double accumulators, so the books are bit-stable
    * across runs and partitionings without the distributed-update
    * quantization dance — at ≤1024×64 floats this is quantizer METADATA
    * (the codebook-collect precedent), not corpus compute; the
    * distributed work is encoding and scanning, below. Assignment is
    * argmin L2 with ties to the lower centroid id; an emptied cell
    * keeps its previous centroid.
    */
  private[graft] def trainPqBooks(base: DataFrame, n: Long): Array[Array[Array[Float]]] = {
    val cap = PqTrainFactor.toLong * PqKs
    val train =
      if (n <= cap) base
      else base.filter(pmod(xxhash64(col("vec_id")), lit(n)) < lit(cap))
    val sample = train.select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toArray)
      .map { v =>
        val nrm = fnorm(v)
        if (nrm > 0.0) v.map(x => (x / nrm).toFloat) else v
      }
    if (sample.isEmpty) return Array.empty
    val dim = sample.head.length
    require(dim % PqSub == 0, s"embedding dim $dim not divisible into $PqSub subspaces")
    val d = dim / PqSub
    Array.tabulate(PqSub) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * d, (s + 1) * d))
      val step = math.max(1, subs.length / PqKs)
      var cents = (0 until PqKs).map(_ * step).filter(_ < subs.length)
        .map(i => subs(i).clone()).toArray
      for (_ <- 1 to PqLloydRounds) {
        val sums = Array.fill(cents.length)(new Array[Double](d))
        val cnts = new Array[Long](cents.length)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var dist = 0.0; var i = 0
            while (i < d) {
              val x = v(i).toDouble - cents(c)(i); dist += x * x; i += 1
            }
            if (dist < bestD) { bestD = dist; best = c } // strict: tie keeps lower c
            c += 1
          }
          var i = 0
          while (i < d) { sums(best)(i) += v(i); i += 1 }
          cnts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (cnts(c) == 0L) old
          else Array.tabulate(d)(i => (sums(c)(i) / cnts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Appends the `codes` column: encode of the NORMALIZED `embedding`
    * via the native [[graft.functions.PqEncode]] expression (normalize +
    * per-subspace argmin-L2 as tight JVM loops — the Column-algebra form
    * at ks=256 is a 2048-node tree that breaks codegen and evaluated
    * interpreted at ~17 ms/row; see the expression scaladoc). The
    * normalization inside the expression is bit-identical to the
    * trainer's (same fold order, same double division, same
    * round-to-float), so codes and books can't disagree. Shared by the
    * exhaustive scan ([[annPq]]), the cell-bounded one ([[annIvfPq]]),
    * and the index build/append.
    */
  private def withPqCodes(df: DataFrame, books: Array[Array[Array[Float]]]): DataFrame =
    df.withColumn("codes", graft.functions.PqEncode.pq_encode(col("embedding"), books))

  /** PQ/ADC approximate top-k with exact re-ranking — the at-scale ANN
    * shape when even the EMBEDDINGS don't fit: the corpus at rest is
    * `(vec_id, codes, nrm)` (32× smaller than the vectors); queries
    * broadcast with their LUTs; the ADC scan scores every candidate by
    * table lookups; the top-`refine` shortlist per query — and ONLY the
    * shortlist — fetches true embeddings through a broadcast join (no
    * corpus shuffle) for exact cosine re-ranking to `topK`. Approximate
    * by construction (quantization distortion can evict a true
    * neighbor from the shortlist): recall@3 vs brute force measured in
    * VectorSpec at both refine points, monotone in `refine` since
    * shortlists are nested. Deterministic end-to-end: driver-trained
    * books are bit-stable, ADC/cosine ties break on `vec_id` inside
    * TopK. Composes with IVF the standard way (IVFADC probes cells
    * first; the ADC scan here is the exhaustive variant whose cost the
    * cell probe would bound).
    */
  private[graft] def annPq(spark: SparkSession, sfDir: String,
      topK: Int = 3, refine: Int = 10): DataFrame = {
    import graft.functions.TopK.top_k
    val base = emb(spark, sfDir)
    val n = corpusCount(base, sfDir)
    val books = pqBookCache.getOrElseUpdate(sfDir, trainPqBooks(base, n))
    if (books.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)].toDF("q_id", "cand_id", "sim", "rn")
    }
    val codes = withPqCodes(base, books).select("vec_id", "codes")
    val q = pqQueries(base, books)
    val cands = codes.join(
      broadcast(q.select(col("q_id"), col("q_nrm"), col("q_lut"))),
      col("vec_id") =!= col("q_id"))
    pqRerankTopK(base, q, cands, topK, refine)
  }

  /** The standard query frame for the PQ paths: first 10 vectors with
    * their norms and ADC LUTs (native [[graft.functions.PqLut]] — the
    * Column form's 2048-literal tree cost seconds of PER-EXECUTION
    * driver analysis; pinned identical to a plain-Scala oracle in
    * VectorSpec). */
  private def pqQueries(base: DataFrame, books: Array[Array[Array[Float]]]): DataFrame =
    base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normCol("embedding").as("q_nrm"),
        graft.functions.PqEncode.pq_lut(col("embedding"), books).as("q_lut"))

  /** ADC score + shortlist + exact re-rank tail shared by [[annPq]] and
    * [[annIvfPq]]. `cands` carries (q_id, q_nrm, q_lut, vec_id, codes)
    * — one row per (query, surviving candidate). Candidates decode to
    * (approximately) UNIT vectors, so the ADC cosine denominator is the
    * query norm alone — a per-query constant that doesn't even affect
    * the ranking. The top-`refine` shortlist — and only it — fetches
    * true embeddings through a broadcast join (no corpus shuffle) for
    * exact cosine ranking to `topK`.
    *
    * `base` is the EMBEDDING STORE for the re-rank fetch: a shortlist
    * candidate with no row there is silently dropped (inner join) and
    * its shortlist slot is wasted. The persisted-index probes therefore
    * default the store to the index-owned `_emb` sidecar, which every
    * append keeps a superset of the code table's ids
    * ([[appendEmbSidecarIdempotent]]) — so appended rows are reachable
    * by default (r18 review finding → r18 verdict task 2). A caller
    * overriding `embStore` takes the coverage obligation back.
    */
  private def pqRerankTopK(base: DataFrame, q: DataFrame, cands: DataFrame,
      topK: Int, refine: Int): DataFrame = {
    import graft.functions.TopK.top_k
    val adcDot = (0 until PqSub).map(s =>
      element_at(element_at(col("q_lut"), s + 1), col("codes").getItem(s) + 1))
      .reduce(_ + _)
    val shortlist = cands
      .withColumn("adc_sim", adcDot / col("q_nrm"))
      .groupBy("q_id")
      .agg(top_k(col("adc_sim"), col("vec_id"), lit(0L), refine).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("cand_id"))
    base.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(shortlist), "cand_id")
      .join(broadcast(q.select(col("q_id"), col("q_emb"), col("q_nrm"))), "q_id")
      .withColumn("sim",
        float_dot(col("q_emb"), col("c_emb")) /
          (col("q_nrm") * sqrt(float_dot(col("c_emb"), col("c_emb")))))
      .groupBy("q_id")
      .agg(top_k(col("sim"), col("cand_id"), lit(0L), topK).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("cand_id"), col("t.score").as("sim"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  /** IVFADC — the composition the PQ paper actually ships at scale: the
    * IVF coarse quantizer bounds WHICH codes are scanned (nProbe cells
    * of the multi-assigned cell index, the `ann_ivf` machinery verbatim)
    * and PQ bounds the BYTES per scanned candidate (8-byte codes + ADC
    * lookups), composing the two orthogonal cost cuts: scan fraction
    * ~nProbe/k of the corpus, at 32× fewer bytes per row, then the
    * shared shortlist re-rank. Both quantizers are the deterministic
    * trained artifacts of their standalone keys (same caches), so
    * `ann_ivfpq` cannot drift from `ann_ivf` cells or `ann_pq` codes;
    * the same multi-assign dedup filter keeps each (query, candidate)
    * pair joined exactly once. Recall is bounded above by IVF's probe
    * recall and below by PQ shortlist distortion — both knobs
    * (`nProbe`, `refine`) measured in VectorSpec.
    */
  private[graft] def annIvfPq(spark: SparkSession, sfDir: String,
      nProbe: Int = 4, topK: Int = 3, refine: Int = 10): DataFrame = {
    val base = emb(spark, sfDir)
    val n = corpusCount(base, sfDir)
    val books = pqBookCache.getOrElseUpdate(sfDir, trainPqBooks(base, n))
    val (cents, pre) = ivfCellsFrame(spark, sfDir, kOpt = None,
      lloydRounds = 10, multiAssign = 2)
    if (books.isEmpty || cents.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)].toDF("q_id", "cand_id", "sim", "rn")
    }
    // r22 (guide §1.2 step 1; OPTIMIZATION_r22.md `ivfpq`): the encode ran on the
    // EXPLODED assignment frame — once per multi-assign copy, in the
    // projection above the Generate (0.617 s vs 0.151 s on the base at
    // sf0.1). Encode below the explode: once per vector.
    val codes = explodeCells(withPqCodes(pre, books), Seq("vec_id", "codes"))
      .select(col("vec_id"), col("cent"), col("cidx"), col("cell"), col("codes"))
    val q = pqQueries(base, books)
    pqRerankTopK(base, q, ivfPqCandidatesFrom(codes, q, cents, nProbe), topK, refine)
  }

  /** The IVFADC probe-join stage over any code frame `(vec_id, cent,
    * cidx, cell, codes)` — shared by the inline ([[annIvfPq]]) and
    * persisted ([[annIvfPqIndexed]]) paths, the [[ivfCandidatesFrom]]
    * discipline at the code grain. The probe join needs the per-probe
    * EXPLODED query frame; the re-rank tail must see each query ONCE
    * (an exploded q there would duplicate every (query, candidate)
    * pair nProbe times and crowd the TopK with copies), which is why
    * this takes and returns candidate rows while the caller keeps the
    * un-exploded `q`. The multi-assign dedup filter keeps each
    * (query, candidate) pair joined exactly once.
    */
  private def ivfPqCandidatesFrom(codes: DataFrame, q: DataFrame,
      cents: Seq[(Int, Array[Float], Double)], nProbe: Int): DataFrame = {
    val qProbed = q
      .withColumn("q_probes",
        topCellsFor(cents, "q_emb", "q_nrm", math.min(nProbe, cents.length)))
      .withColumn("probe", explode(col("q_probes")))
    codes.join(
      broadcast(qProbed.select(col("q_id"), col("q_nrm"), col("q_lut"),
        col("q_probes"), col("probe"))),
      col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .filter(col("cidx") === 0 || !array_contains(col("q_probes"), col("cent")))
  }

  private def annPqQuery(spark: SparkSession, sfDir: String): DataFrame =
    annPq(spark, sfDir)

  private[graft] def pqBooksTableFor(table: String): String = table + "_books"

  /** The codes-only indexes' EMBEDDING SIDECAR table: `(vec_id,
    * embedding)` rows covering exactly the ids the code table holds, so
    * the exact re-rank is reachable for appended rows BY DEFAULT (r18
    * verdict task 2 — "documented footgun" was not the scale-safe
    * default: at 100 TB the append path is the normal path). The build
    * writes it from the corpus; every append lands the arrival's
    * embeddings here FIRST, then its codes — so the sidecar id set is
    * always a superset of the code table's and no code row can be
    * re-rank-unreachable. The at-rest probe cost story is unchanged:
    * the ADC scan still reads only 8-byte codes; the sidecar is touched
    * only by the shortlist fetch (broadcast join, `refine` rows per
    * query).
    */
  private[graft] def embTableFor(table: String): String = table + "_emb"

  /** The default re-rank store for a persisted codes-only index: the
    * index-owned sidecar when it exists (every index written since the
    * sidecar landed), else the base corpus — the legacy fallback for an
    * index at rest from an older build, which is exactly the pre-sidecar
    * behavior with its documented appended-rows drop.
    */
  private def defaultEmbStore(spark: SparkSession, table: String, base: DataFrame): DataFrame =
    if (spark.catalog.tableExists(embTableFor(table))) {
      spark.catalog.refreshTable(embTableFor(table))
      spark.table(embTableFor(table))
    } else base

  /** Right-to-be-forgotten over a codes-only index AND its embedding
    * sidecar: the sidecar holds the raw vectors — per-doc data, more
    * sensitive than the codes — so a deletion request must purge both
    * tables ([[graft.operators.IndexPurge]] is per-table by design; the
    * quantizer side tables legitimately survive, the sidecar must not).
    * Codes purge FIRST: a crash in between leaves sidecar ⊇ codes (the
    * re-rank invariant intact, the embedding lingering until the
    * deletion queue's at-least-once redelivery), never a code row whose
    * re-rank fetch lost its embedding. Returns the code rows removed.
    */
  def purgeFromCodesIndex(spark: SparkSession, table: String, ids: Seq[Long]): Long = {
    val removed = IndexPurge.purge(spark, table, "vec_id", ids)
    if (spark.catalog.tableExists(embTableFor(table)))
      IndexPurge.purge(spark, embTableFor(table), "vec_id", ids)
    removed
  }

  private def writeEmbSidecar(spark: SparkSession, base: DataFrame, table: String): Unit =
    base.select("vec_id", "embedding")
      .write.mode("overwrite").format("parquet").saveAsTable(embTableFor(table))

  /** Sidecar half of an idempotent append: lands the arrival embeddings
    * not already in the sidecar. Runs BEFORE the code write, and
    * anti-joins against the sidecar's OWN ids (not the code table's): a
    * crash between the two writes leaves sidecar ⊇ codes, and the
    * replay then skips the sidecar rows it already landed while the
    * code write proceeds — the invariant "every code row is re-rank
    * reachable" holds at every step. A legacy index without a sidecar
    * skips this (its probes fall back to the base corpus as before).
    */
  private def appendEmbSidecarIdempotent(
      spark: SparkSession, novel: DataFrame, table: String): Unit =
    if (spark.catalog.tableExists(embTableFor(table))) {
      spark.catalog.refreshTable(embTableFor(table))
      novel.select("vec_id", "embedding")
        .join(spark.table(embTableFor(table)).select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id", "embedding") // insertInto writes by POSITION
        .write.mode("append").insertInto(embTableFor(table))
      spark.catalog.refreshTable(embTableFor(table))
    }

  /** Persist the PQ index: the code table `(vec_id, codes)` — the 32×
    * at-rest artifact that IS the point of PQ (the vectors can go cold;
    * the scan works off codes alone) — plus the trained books next to it
    * (S·ks rows of 8 floats, metadata scale), the [[writeIvfIndex]]
    * codebook discipline: any later JVM probes with the books the codes
    * were actually encoded with, never a retrain that could silently
    * diverge from the at-rest codes. The build bumps the epoch
    * ([[IndexTable.replace]]), so an append that began before it fails
    * its commit instead of landing codes encoded under replaced books.
    */
  def writePqIndex(spark: SparkSession, sfDir: String, table: String): Unit = {
    val base = emb(spark, sfDir)
    val books = pqBookCache.getOrElseUpdate(sfDir, trainPqBooks(base, corpusCount(base, sfDir)))
    require(books.nonEmpty, "cannot index an empty corpus")
    IndexTable.replace(spark, table, Seq(pqBooksTableFor(table), embTableFor(table))) {
      withPqCodes(base, books).select("vec_id", "codes")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
      val baseN = IndexTable.idCount(spark, table, "vec_id")
      persistPqBooks(spark, table, books, baseN)
      writeEmbSidecar(spark, base, table)
      Some(baseN)
    }
  }

  /** The ONE copy of the PQ-books artifact schema — shared by
    * [[writePqIndex]] and [[writeIvfPqIndex]]; [[loadPqBooks]] reads
    * positionally, so the schema lives here or nowhere.
    */
  private def persistPqBooks(spark: SparkSession, table: String,
      books: Array[Array[Array[Float]]], baseN: Long): Unit = {
    val rows = for {
      (book, s) <- books.zipWithIndex.toSeq
      (cvec, c) <- book.zipWithIndex.toSeq
    } yield (s, c, cvec.toSeq, baseN)
    spark.createDataFrame(rows).toDF("sub", "cent", "centroid", "base_n")
      .write.mode("overwrite").format("parquet").saveAsTable(pqBooksTableFor(table))
  }

  /** The persisted books, reassembled in (sub, cent) order — floats
    * roundtrip parquet exactly, so these are bit-identical to what
    * [[writePqIndex]] trained — plus the corpus size at build time.
    */
  def loadPqBooks(spark: SparkSession, table: String): (Array[Array[Array[Float]]], Long) = {
    val rows = spark.table(pqBooksTableFor(table)).collect()
    val baseN = if (rows.isEmpty) 0L else rows.head.getLong(3)
    val books = rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    (books, baseN)
  }

  /** Incremental maintenance for the persisted PQ index — the
    * [[appendToIvfIndex]] stance verbatim: arrivals encode against the
    * FROZEN persisted books (train once, assign forever — a retrain would
    * silently diverge from the codes already at rest); the cost of
    * freezing is quantization distortion on drifted arrivals, quantified
    * by [[pqIndexStaleness]] exactly like the IVF rebuild signal.
    * Replay-safe and epoch-guarded ([[IndexTable.appendNovel]]): the
    * novel rows are pinned once and feed both writes. `insertInto` writes
    * by POSITION, so the select is pinned to the table's (vec_id, codes)
    * column order. The arrival's EMBEDDINGS land in the index-owned
    * sidecar FIRST ([[appendEmbSidecarIdempotent]] — sidecar ⊇ codes at
    * every step), so [[annPqIndexed]]'s default re-rank store reaches
    * appended rows with no caller-threaded `embStore` (an explicit
    * `embStore` still overrides, and then covering the appended ids is
    * that caller's obligation). Returns the rows appended.
    */
  def appendToPqIndexIdempotent(spark: SparkSession, newRows: DataFrame, table: String,
      beganEpoch: Option[Long] = None): Long =
    appendVectors(spark, table, newRows, beganEpoch) { fresh =>
      val (books, _) = loadPqBooks(spark, table)
      require(books.nonEmpty, s"PQ index $table has an empty books table")
      appendEmbSidecarIdempotent(spark, fresh, table)
      withPqCodes(fresh, books).select("vec_id", "codes").write.insertInto(table)
    }

  /** Fraction of the code table appended since its books were trained —
    * the [[ivfIndexStaleness]] analog for the frozen-book policy. */
  def pqIndexStaleness(spark: SparkSession, table: String): Double =
    IndexTable.staleness(spark, table, "vec_id", Some(loadPqBooks(spark, table)._2))

  /** The exhaustive-ADC workload answered from the PERSISTED code table
    * with the PERSISTED books (frozen-book policy — the
    * [[annIvfIndexed]] stance): at rest the scan side is the 8-byte
    * codes, not the vectors; only the shortlist re-rank touches true
    * embeddings. Row-identical to `ann_pq` on unchanged data (books are
    * bit-stable, so inline training and the persisted artifact agree —
    * asserted in VectorSpec).
    */
  private[graft] def annPqIndexed(spark: SparkSession, sfDir: String,
      embStore: Option[DataFrame] = None,
      tableOpt: Option[String] = None): DataFrame = {
    val table = tableOpt.getOrElse(
      "graft_pq_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    IndexTable.ensure(spark, table)(writePqIndex(spark, sfDir, table))
    val (books, _) = loadPqBooks(spark, table)
    require(books.nonEmpty, s"PQ index $table has an empty books table")
    val base = emb(spark, sfDir)
    val codes = spark.table(table)
    val q = pqQueries(base, books)
    val cands = codes.join(
      broadcast(q.select(col("q_id"), col("q_nrm"), col("q_lut"))),
      col("vec_id") =!= col("q_id"))
    // re-rank store: the index-owned sidecar by default (covers appended
    // ids — see pqRerankTopK); an explicit embStore overrides
    pqRerankTopK(embStore.getOrElse(defaultEmbStore(spark, table, base)),
      q, cands, topK = 3, refine = 10)
  }

  private def annIvfPqQuery(spark: SparkSession, sfDir: String): DataFrame =
    annIvfPq(spark, sfDir)

  /** Persist the IVFADC index — the at-scale composition of the two
    * persisted families (r18): ONE table `(vec_id, cent, cidx, cell,
    * codes)` bucketed on `cell` (the probe key file-prunes exactly like
    * the IVF-Flat index) whose payload per row is the 8-byte PQ code,
    * NOT the vector — at 100 TB the embeddings go cold and a probe
    * scans ~nProbe/k of the index at 32× fewer bytes per row, the two
    * orthogonal cost cuts of `ann_ivfpq` now both AT REST. Both
    * quantizers persist next to it (`_codebook` coarse cells, `_books`
    * PQ subspaces) under the frozen-quantizer discipline every other
    * index follows: any later JVM probes with exactly the artifacts the
    * at-rest rows were assigned/encoded with. Rebuild bumps the epoch
    * so in-flight appenders fail loudly ([[IndexTable.replace]]).
    */
  def writeIvfPqIndex(spark: SparkSession, sfDir: String, table: String,
      nBuckets: Int = 16): Unit = {
    val base = emb(spark, sfDir)
    // the ONE multiAssign value: assigned with AND persisted (a literal
    // in the codebook row could silently drift from the assignment call)
    val multiAssign = 2
    val books = pqBookCache.getOrElseUpdate(sfDir, trainPqBooks(base, corpusCount(base, sfDir)))
    val (cents, pre) = ivfCellsFrame(spark, sfDir, kOpt = None,
      lloydRounds = 10, multiAssign = multiAssign)
    require(books.nonEmpty && cents.nonEmpty, "cannot index an empty corpus")
    IndexTable.replace(spark, table,
        Seq(codebookTableFor(table), pqBooksTableFor(table), embTableFor(table))) {
      // encode below the multi-assign explode — once per vector, not per
      // assignment copy (the annIvfPq fix, same build geometry)
      explodeCells(withPqCodes(pre, books), Seq("vec_id", "codes"))
        .select(col("vec_id"), col("cent"), col("cidx"), col("cell"), col("codes"))
        .write.mode("overwrite").bucketBy(nBuckets, "cell").sortBy("cell")
        .format("parquet").saveAsTable(table)
      val baseN = IndexTable.idCount(spark, table, "vec_id")
      persistIvfCodebook(spark, table, cents, baseN, multiAssign)
      persistPqBooks(spark, table, books, baseN)
      writeEmbSidecar(spark, base, table)
      Some(baseN)
    }
  }

  /** Incremental maintenance for the persisted IVFADC index — both
    * frozen-artifact obligations at once: arrivals are cell-assigned
    * against the PERSISTED coarse codebook (its build-time multiAssign,
    * never a retrain) AND encoded against the PERSISTED books, so new
    * rows can never diverge from the at-rest geometry. Replay-safe and
    * epoch-guarded like the siblings ([[IndexTable.appendNovel]]: the
    * novel rows are pinned once and feed both writes); `insertInto`
    * writes by POSITION under the table's bucket spec, so the select is
    * pinned to (vec_id, cent, cidx, cell, codes). [[ivfPqIndexStaleness]] is the rebuild signal
    * (distinct vec_ids vs the codebook's build-time corpus size — the
    * code rows are ×multiAssign, so a raw count would double-read).
    *
    * DUAL-STORE, SOLVED BY DEFAULT (r18 verdict task 2): the index
    * holds codes, not vectors, and the probe's exact re-rank fetches
    * true embeddings from the embedding store — so the arrival's
    * embeddings land in the index-owned `_emb` sidecar FIRST, inside
    * the same epoch-guarded span as the code write
    * ([[appendEmbSidecarIdempotent]]: sidecar ⊇ codes at every step,
    * crash- and replay-safe), and [[annIvfPqIndexed]]'s default store
    * reaches them with no caller-threaded `embStore`. An explicit
    * `embStore` still overrides (eval-side stores, tiered storage), and
    * then covering the appended ids is that caller's obligation.
    * Pinned end-to-end in VectorSpec's append test.
    */
  def appendToIvfPqIndexIdempotent(spark: SparkSession, newRows: DataFrame,
      table: String): Long =
    appendVectors(spark, table, newRows, beganEpoch = None) { fresh =>
      val (books, _) = loadPqBooks(spark, table)
      val (cents, _, builtMa) = loadIvfCodebookFull(spark, table)
      require(books.nonEmpty && cents.nonEmpty,
        s"IVFADC index $table is missing its quantizer tables — rebuild with writeIvfPqIndex")
      val m = math.min(builtMa, cents.length)
      appendEmbSidecarIdempotent(spark, fresh, table)
      withPqCodes(fresh, books)
        .select(col("vec_id"), col("embedding"), normCol("embedding").as("nrm"), col("codes"))
        .withColumn("cells", topCellsFor(cents, "embedding", "nrm", m))
        .select(col("vec_id"), col("cells")(0).as("cent"),
          posexplode(col("cells")).as(Seq("cidx", "cell")), col("codes"))
        .select("vec_id", "cent", "cidx", "cell", "codes")
        .write.mode("append").insertInto(table)
    }

  /** Fraction of the IVFADC index appended since its quantizers were
    * trained — identical artifact layout (`_codebook` with base_n) and
    * formula as the IVF-Flat signal, so it IS that function; a distinct
    * name only so maintenance callers read as the family they maintain.
    */
  def ivfPqIndexStaleness(spark: SparkSession, table: String): Double =
    ivfIndexStaleness(spark, table)

  /** The IVFADC workload answered entirely from the PERSISTED artifacts
    * (frozen-quantizer policy, the [[annIvfIndexed]]/[[annPqIndexed]]
    * stance composed): query probes come from the persisted coarse
    * codebook, ADC LUTs from the persisted books, candidates from the
    * cell-bucketed code table — only the top-`refine` shortlist per
    * query touches true embeddings (broadcast join, no corpus shuffle).
    * Row-identical to `ann_ivfpq` on unchanged data (both quantizers
    * are bit-stable across train/persist/load — floats roundtrip
    * parquet exactly; asserted in VectorSpec).
    */
  private[graft] def annIvfPqIndexed(spark: SparkSession, sfDir: String,
      nProbe: Int = 4, topK: Int = 3, refine: Int = 10,
      embStore: Option[DataFrame] = None,
      tableOpt: Option[String] = None): DataFrame = {
    val table = tableOpt.getOrElse(
      "graft_ivfpq_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    IndexTable.ensure(spark, table)(writeIvfPqIndex(spark, sfDir, table))
    val (books, _) = loadPqBooks(spark, table)
    val (cents, _) = loadIvfCodebook(spark, table)
    require(books.nonEmpty && cents.nonEmpty,
      s"IVFADC index $table is missing its quantizer tables — rebuild with writeIvfPqIndex")
    val base = emb(spark, sfDir)
    // re-rank store: the index-owned sidecar by default (covers appended
    // ids); an explicit embStore overrides
    val store = embStore.getOrElse(defaultEmbStore(spark, table, base))
    val codes = spark.table(table)
    val q = pqQueries(base, books)
    pqRerankTopK(store, q, ivfPqCandidatesFrom(codes, q, cents, nProbe), topK, refine)
  }

  // ---- declarations ------------------------------------------------------

  val defs: Map[String, QueryDef] = Map(
    "ann_pq" -> QueryDef(annPqQuery, None),
    "ann_pq_indexed" -> QueryDef((s, d) => annPqIndexed(s, d), None),
    "ann_ivfpq" -> QueryDef(annIvfPqQuery, None),
    "ann_ivfpq_indexed" -> QueryDef((s, d) => annIvfPqIndexed(s, d), None),
    "embed_centroid" -> QueryDef(embedCentroid,
      Some("""SELECT label, CAST(i AS BIGINT) AS pos, count(*) AS n,
             |       CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS q_sum,
             |       CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE) / (count(*) * 1e9) AS mean_val
             |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "knn_topk" -> QueryDef(knnTopk,
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id,
              |         ${dotSql("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |ranked AS (
              |  SELECT q_id, vec_id, sim,
              |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |  FROM scored)
              |SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id AS nn_id, sim
              |FROM ranked WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin)),

    "knn_cosine" -> QueryDef(knnCosine,
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id,
              |         ${dotSql("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |ranked AS (
              |  SELECT q_id, vec_id, sim,
              |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |  FROM scored)
              |SELECT q_id, vec_id AS nn_id, sim FROM ranked WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    "embed_neardup" -> QueryDef(embedNeardup,
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm
              |  FROM embeddings WHERE vec_id < 300)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label_a, b.label AS label_b,
              |       ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    "ann_lsh" -> QueryDef(annLsh, None),

    "ann_lsh_indexed" -> QueryDef((s, d) => annLshIndexed(s, d), None),

    "ann_ivf" -> QueryDef(annIvfQuery, None),

    "ann_ivf_indexed" -> QueryDef((s, d) => annIvfIndexed(s, d), None),

    "embed_neardup_lsh" -> QueryDef(embedNeardupLshQuery, None),

    "embed_clusters" -> QueryDef(embedClusters,
      Some(s"""WITH RECURSIVE
              |e AS (
              |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
              |  FROM embeddings WHERE vec_id < 300),
              |pr AS (
              |  SELECT a.vec_id AS src, b.vec_id AS dst
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id
              |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > 0.3),
              |edges AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
              |reach(src, dst) AS (
              |  SELECT vec_id, vec_id FROM e
              |  UNION
              |  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src),
              |comp AS (SELECT src AS vec_id, min(dst) AS cluster FROM reach GROUP BY src)
              |SELECT c.vec_id, c.cluster, cnt.n AS cluster_size,
              |       c.vec_id = c.cluster AS is_rep
              |FROM comp c
              |JOIN (SELECT cluster, count(*) AS n FROM comp GROUP BY cluster) cnt
              |  USING (cluster)
              |ORDER BY c.vec_id""".stripMargin)),

    "embed_clusters_lsh" -> QueryDef((s, d) => embedClustersLsh(s, d), None),

    "multimodal_join" -> QueryDef(multimodalJoin,
      Some(s"""SELECT d.doc_id, d.lang, d.n_chars, e.label, ${normSql("e.embedding")} AS nrm
              |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
              |ORDER BY d.doc_id""".stripMargin))
  )
}
