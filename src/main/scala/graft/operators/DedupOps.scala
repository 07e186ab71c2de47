package graft.operators

import graft.QueryDef
import graft.functions.MinHashSig.minhash_sig
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for a training-data pipeline: token-set
  * Jaccard (exact, on a bounded pair set), MinHash+LSH banding (the scale
  * path — candidates only where a band collides), and SimHash signatures.
  * Exact dedup lives in [[TextOps]] (`dedup_exact`).
  *
  * Scale notes: the exact Jaccard pair join is quadratic and exists as the
  * verification baseline on a bounded id range; the production path is
  * `dedup_minhash` — shingle → 16 minhashes → 4 bands -> bucket join, which
  * shuffles once on (band, band_hash) and only materializes colliding
  * candidates. All hashing is seeded xxhash64 (deterministic across runs
  * and executors). SimHash gives a 64-bit per-doc signature whose prefix
  * can be range-partitioned for hamming-neighbor search.
  */
object DedupOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")

  /** Token-set Jaccard pair scoring within a bounded id range — shared by
    * the pair baseline ([[dedupJaccard]]) and the clustering edge set
    * ([[dedupClusters]]) so tokenization/formula fixes land once.
    * Columns: doc_a, doc_b, na, nb, inter, jacc (unfiltered).
    */
  private def jaccardScored(spark: SparkSession, sfDir: String, maxId: Long): DataFrame = {
    val toks = docs(spark, sfDir)
      .filter(col("doc_id") < maxId)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    toks.as("a")
      .join(toks.as("b"), col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
  }

  /** Exact token-set Jaccard over pairs within a bounded id range. */
  private def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame =
    jaccardScored(spark, sfDir, 300)
      .filter(col("jacc") >= 0.5)
      .select("doc_a", "doc_b", "na", "nb", "inter", "jacc")
      .orderBy("doc_a", "doc_b")

  /** Connected components over ANY (doc_id) node frame and (src, dst)
    * candidate-edge frame — the corpus-scale core of duplicate clustering,
    * decoupled from how edges were generated (exact Jaccard for the
    * bounded oracle key, [[minhashPairs]] for the production composition).
    *
    * Iterative min-label propagation: each round a node adopts the minimum
    * label among itself and its neighbors; converges in O(diameter)
    * rounds, each round one equi-join + partial-agg shuffle. Every round
    * `localCheckpoint`s the new labels — an EAGER materialization that
    * both truncates the iterative lineage and stores raw row blocks
    * (measurably ~2.5× faster per round than `cache()`, whose columnar
    * InMemoryRelation pays encode/decode on every iteration). Superseded
    * rounds are released DETERMINISTICALLY: the checkpoint is taken
    * through [[org.apache.spark.sql.GraftShim.localCheckpointTracked]],
    * which hands back the exact checkpointed RDD so it unpersists once
    * the next round lands — without this, ContextCleaner frees blocks
    * only after a driver GC and up to maxIter generations pile up on
    * executors. Only the final round's blocks survive (the returned
    * frame reads them); the symmetrized edge checkpoint is freed too.
    * `reliable = true` swaps every round's checkpoint for a replicated
    * one (see [[connectedComponentsTracked]] for the tradeoff and for
    * deterministic release of the final generation).
    * NOTHING is drained through the driver — the only driver-side values
    * are the per-round change count and the returned (distributed) label
    * frame; on a real cluster the same code runs with labels spread over
    * all executors.
    *
    * Fails loudly if not converged within `maxIter` — a silent truncation
    * would emit WRONG cluster labels.
    *
    * Returns (doc_id, lbl): every node labeled with its component minimum.
    * The final round's blocks stay alive — the returned frame reads them;
    * callers that consume the labels and want the storage back use
    * [[connectedComponentsTracked]] and call `release()`.
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges0: DataFrame, maxIter: Int = 50,
      reliable: Boolean = false, compress: Boolean = false): DataFrame =
    connectedComponentsTracked(nodes, edges0, maxIter, reliable, compress).labels

  /** Clustering result handle: `labels` stays readable until `release()`
    * frees the final generation's storage (blocks + reliable-checkpoint
    * files) — after release the frame must not be read again. `rounds`
    * is the number of propagation rounds until convergence (the +1
    * fixpoint-confirmation round included) — the scheduling-floor
    * multiplier a capacity plan needs.
    */
  final case class ComponentsResult(labels: DataFrame, rounds: Int, release: () => Unit)

  /** [[connectedComponents]] with explicit storage control.
    *
    * `reliable = false` (default): per-round `localCheckpoint` — fastest
    * (raw unreplicated blocks), but lineage is truncated, so losing an
    * executor mid-iteration is unrecoverable; the right mode for
    * interactive/bench runs. `reliable = true`: each round also writes to
    * `sparkContext.getCheckpointDir` (caller must have called
    * `setCheckpointDir` on replicated storage) via
    * [[org.apache.spark.sql.GraftShim.reliableCheckpointTracked]] — an
    * executor loss recomputes the round from storage instead of failing
    * the job, the mode a multi-hour 100 TB clustering run wants; costs
    * one checkpoint write per round (measured at sf0.01 with the CC
    * bench main of commit b952ce9, SURVEY §2 `dedup_clusters`: 1.345 s
    * vs 1.310 s median — ~3% on a local-disk checkpoint dir; replicated
    * HDFS writes cost more, which is exactly the
    * insurance premium). Superseded generations release their blocks AND
    * files deterministically each round in both modes.
    */
  /** `compress = true` adds PATH HALVING to each round: after the
    * propagation hop, every node also adopts the label OF its adopted
    * label (labels are node ids, so the round's label map applies to
    * itself) — chain-shaped components collapse in ~O(log diameter)
    * rounds instead of O(diameter), at the price of one extra join +
    * shuffle per round. MEASURED at sf0.1 (SURVEY §6, within-run pairs —
    * this host's cross-run noise is documented in §6): the chain-shaped
    * embedding-cosine graph drops 12 → 8 rounds and ~20% wall
    * (4.52 → 3.51 s; 7.26 → 3.65 s in a second pairing), the deeper
    * simhash hamming graph drops 18 → 10 rounds (4.21 → 2.70 s,
    * round 11), while the dense minhash graph (2 rounds either way) pays
    * the extra join for nothing (~15% slower) — so the default is OFF
    * and the embedding + simhash cluster keys opt IN. Rule of thumb: turn it on when the measured round
    * count (see [[ComponentsResult.rounds]]) exceeds ~4, or on clusters
    * where each round's scheduling floor + full label shuffle dwarfs an
    * extra join.
    * Correctness is mode-independent: labels only decrease, stay node
    * ids of the same component, and are bounded below by the component
    * minimum, whose own label never drops below itself — the fixpoint is
    * the per-component min either way (DedupSpec runs both modes).
    */
  /** Cap (SYMMETRIZED edge rows, i.e. 2× the undirected pair count)
    * under which [[connectedComponentsTracked]] finishes the components
    * driver-side instead of iterating distributed rounds — the standard
    * two-phase CC shape (run distributed until the active graph fits one
    * machine, then solve locally; here the near-dup graphs are sparse
    * enough that the materialized edge list often fits outright). The
    * edge list is ALREADY materialized and counted for the loop, so the
    * decision is free, and the over-cap path is the unchanged loop —
    * correct at any scale. 2 M rows ≈ 32 MB collected.
    */
  private[graft] val CcDriverEdgeMax = 2000000L

  private[graft] def connectedComponentsTracked(
      nodes: DataFrame, edges0: DataFrame, maxIter: Int = 50,
      reliable: Boolean = false, compress: Boolean = false,
      driverEdgeMax: Long = CcDriverEdgeMax): ComponentsResult = {
    // both edge directions in ONE pass over the scored pairs (a union of
    // two selects would evaluate the expensive edge subtree twice), then
    // materialize: every round re-reads the edges, so they must not
    // re-derive from the (possibly LSH-expensive) candidate pipeline
    // eager checkpoint that hands back the exact checkpointed RDD, so a
    // superseded round's storage frees deterministically (see
    // GraftShim.localCheckpointTracked — a registry diff would race with
    // concurrent jobs on the shared context)
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.InternalRow
    // every checkpoint's convergence/size count rides the materializing
    // job (one action per round instead of checkpoint + count — guide
    // §1.2 "per-task work" applied to the round's fixed cost)
    val ckptCount: (DataFrame, InternalRow => Boolean) =>
        (DataFrame, org.apache.spark.rdd.RDD[_ <: Any], Long) =
      if (reliable) (df, p) => GraftShim.reliableCheckpointTrackedCount(df, p)
      else (df, p) => GraftShim.localCheckpointTrackedCount(df, p)
    // sizes fused into the materializing jobs (no separate count jobs)
    val (edges, edgeRdd, nEdges) = ckptCount(edges0
      .select(explode(expr(
        "array(struct(src AS src, dst AS dst), struct(dst AS src, src AS dst))")).as("e"))
      .select(col("e.src"), col("e.dst")), _ => true)

    // r22 two-phase fast path (guide §1.2 step 1 — the distributed
    // algorithm first): below [[CcDriverEdgeMax]] the materialized edge
    // list is graph METADATA (longs, no payload) — collect it (a block
    // read; the derivation job already ran for the loop either way) and
    // finish the components with one driver-side union-find pass instead
    // of ~log(diameter) rounds of 2-3 shuffles + a checkpoint each. The
    // fixpoint is identical by construction: every node's label is its
    // component's minimum id, nodes outside every edge keep their own id
    // (the left join's null branch). Labels reach the caller as one
    // broadcast join against the node frame — the corpus never shuffles.
    // Over the cap the loop below runs unchanged (DedupSpec pins both
    // arms label-identical and keeps the storage-discipline assertions on
    // the forced loop arm).
    if (nEdges <= driverEdgeMax) {
      val rows = edges.collect()
      GraftShim.releaseCheckpoint(edgeRdd)
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != null && p.longValue() != x) {
          val gp = parent.get(p.longValue())
          if (gp != null) parent.put(x, gp) // path halving
          x = p.longValue()
          p = parent.get(x)
        }
        x
      }
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.putIfAbsent(a, java.lang.Long.valueOf(a))
        parent.putIfAbsent(b, java.lang.Long.valueOf(b))
        val ra = find(a); val rb = find(b)
        // union by MIN id so the root IS the component minimum
        if (ra < rb) parent.put(rb, java.lang.Long.valueOf(ra))
        else if (rb < ra) parent.put(ra, java.lang.Long.valueOf(rb))
      }
      val spark0 = nodes.sparkSession
      import spark0.implicits._
      val lbl = {
        val it = parent.keySet().iterator()
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
        while (it.hasNext) { val n = it.next().longValue(); buf += ((n, find(n))) }
        buf.toSeq
      }
      val lblDf = lbl.toDF("doc_id", "cc_lbl")
      val out = nodes.select(col("doc_id"))
        .join(broadcast(lblDf), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cc_lbl"), col("doc_id")).as("lbl"))
      return ComponentsResult(out, 0, () => ())
    }

    var (labels, prevRdd, nNodes) = ckptCount(
      nodes.select(col("doc_id"), col("doc_id").as("lbl")), _ => true)
    // SCHEDULING-FLOOR COALESCE: every round is 2-3 shuffles over the
    // label frame, and the session's shuffle-partition count is sized for
    // the CORPUS, not for a label frame that may hold a few hundred rows —
    // locally that floor (32 partitions x 3 shuffles x ~10 rounds) is pure
    // task-scheduling overhead. Both frames are materialized checkpoints
    // here, so counting them is a block read, not a recompute; the loop
    // runs under a shuffle-partition count sized to the LARGER frame
    // (~32k rows/partition), clamped to the session value so a 100 TB run
    // keeps its cluster-tuned parallelism — the override only ever
    // shrinks. Restored in `finally`; note the conf is session-scoped, so
    // queries running CONCURRENTLY on this session during the loop would
    // plan with the reduced count (bench/verify run queries sequentially).
    val spark = nodes.sparkSession
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.min(prevShuffle.toLong,
      math.max(nNodes, nEdges) / 32768L + 1L)
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // one propagation hop: adopt the min label among self and neighbors.
      // UNION-AGGREGATE form (guide §2.3 "aggregate before you shuffle" +
      // §2.4): neighbor labels and the node's own (label, old-label) row
      // meet in ONE partial-agg'd groupBy instead of the r7-r20 shape
      // (groupBy(src) min THEN a second labels join) — one fewer join and
      // one fewer exchange of the label frame per round, and a hot label
      // (a mega-component's minimum) now rides map-side partial min/max
      // instead of funneling through a join reducer. Every node
      // contributes exactly one self row, so `max(old)` recovers its old
      // label (the nbr branch carries null) and nodes without in-edges
      // keep their label — semantics identical to the left-join form.
      val nbr = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(edges("src").as("doc_id"), col("lbl"),
          lit(null).cast("long").as("old"))
      val self = labels.select(col("doc_id"), col("lbl"), col("lbl").as("old"))
      val stepped = nbr.union(self).groupBy("doc_id")
        .agg(max("old").as("old_lbl"), min("lbl").as("mid"))
      // the new label rides NEXT TO the old one through the round's
      // single checkpoint, and the convergence count is FUSED into the
      // checkpoint's materializing job (ckptCount) — no extra job per
      // round to compare generations. Path halving (see the method doc
      // for when) applies the round's own label map to itself before
      // the checkpoint.
      val rounded =
        if (!compress) stepped.select(col("doc_id"), col("old_lbl"), col("mid").as("lbl"))
        else {
          val jump = stepped.select(col("doc_id").as("j_id"), col("mid").as("j_lbl"))
          stepped.join(jump, stepped("mid") === jump("j_id"), "left")
            .select(stepped("doc_id"), col("old_lbl"),
              least(col("mid"), coalesce(col("j_lbl"), col("mid"))).as("lbl"))
        }
      // schema is (doc_id, old_lbl, lbl) — ordinals 1 vs 2 below
      val (next, nextRdd, nChanged) =
        ckptCount(rounded, r => r.getLong(1) != r.getLong(2))
      changed = nChanged
      GraftShim.releaseCheckpoint(prevRdd)
      prevRdd = nextRdd
      labels = next.select("doc_id", "lbl")
      iter += 1
    }
    if (changed > 0) {
      GraftShim.releaseCheckpoint(prevRdd)
      GraftShim.releaseCheckpoint(edgeRdd)
      sys.error(s"connectedComponents did not converge within $maxIter rounds (graph diameter too large)")
    }
    GraftShim.releaseCheckpoint(edgeRdd)
    // the final round's storage stays alive — the returned frame reads it
    val finalRdd = prevRdd
    ComponentsResult(labels, iter, () => GraftShim.releaseCheckpoint(finalRdd))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** The LEAK-FREE form every declared clustering query returns: runs the
    * tracked CC, decorates the labels ([[clusterReport]]), SINKS the
    * report to a deterministic parquet location, releases the final
    * checkpoint generation, and returns the re-read frame.
    *
    * Why not return the labels frame directly (what the r7 keys did): its
    * lineage is TRUNCATED to the final generation's localCheckpoint
    * blocks, and the query contract hands the frame to a caller whose
    * lifetime we don't control — the release handle gets discarded, every
    * invocation strands a generation, and once enough strand, GC-driven
    * cleanup unpersists blocks that CANNOT be recomputed (truncated
    * lineage), which is exactly the 13-224 s per-rep spread the r7 driver
    * bench measured on `embed_clusters`. Writing the report out and
    * re-reading it gives the caller a frame that is trivially
    * recomputable (a parquet scan), costs one small write, and lets every
    * byte of iteration storage be freed deterministically before the
    * query returns. This is also the production shape: a 100 TB
    * clustering run persists its label table to durable storage anyway —
    * the sink is the contract, not a workaround. WHERE it lands is the
    * session conf `spark.graft.cc.sinkRoot` (any Hadoop-FS URI — point
    * it at the warehouse on a cluster; rotation bounds storage at one
    * directory per key PER JVM RUN, and the final directory IS the
    * persisted label table); unset, it falls back to a java.io.tmpdir
    * root removed on JVM exit — correct for local/bench use only.
    * Either way the per-JVM unique subdirectory keeps concurrent
    * processes from ever overwriting each other's sink. The flip side
    * of per-run uniqueness: successive RUNS of a recurring job each
    * leave their final label tables behind — that is the point of
    * durable output, but unmanaged it grows by one directory per key
    * per run; recurring jobs either point `sinkRoot` at a run-scoped
    * path (date-partitioned warehouse dir) or call [[gcSinkRoot]] to
    * reap prior runs' subroots past a retention age.
    *
    * Sink lifecycle: each invocation writes a FRESH directory under a
    * per-JVM unique root, then deletes the same key's previous directory
    * — two processes on one host can never overwrite each other's sink
    * (the r8 review found the earlier fixed `/tmp/graft-cc/<key>` path
    * raced exactly that way), and a frame returned by invocation N stays
    * readable until invocation N+1 of the SAME key (the bench/verify
    * pattern materializes well before that; a caller holding a frame
    * across re-invocations must copy it out, as with any handed-off
    * scan). Storage stays bounded at one directory per key, and the
    * whole root is removed on JVM exit.
    */
  private[graft] def clusterReportReleased(nodes: DataFrame, edges: DataFrame,
      sinkKey: String, compress: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    val res = connectedComponentsTracked(nodes, edges, compress = compress)
    val dir = sinkDir(spark, sinkKey)
    clusterReport(res.labels).write.mode("overwrite").parquet(dir)
    res.release()
    touchOwnSinkRoot(spark)
    val prev = lastSinkForKey.put(sinkKey, dir)
    if (prev != null && prev != dir) {
      val p = new org.apache.hadoop.fs.Path(prev)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // re-sort: parquet read order is per-file, not the write-time sort
    spark.read.parquet(dir).orderBy("doc_id")
  }

  /** Per-JVM unique LOCAL sink root (the `spark.graft.cc.sinkRoot`-unset
    * fallback), removed on exit.
    */
  private lazy val localSinkRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-cc-")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(p.toFile)
    }
    p
  }
  /** Disambiguates concurrent JVMs under a SHARED configured root. */
  private val jvmSinkId = java.util.UUID.randomUUID().toString.take(8)
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val lastSinkForKey = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fresh per-invocation path under the per-JVM root; rotation and
    * cleanup in [[clusterReportReleased]]. Root resolution: the
    * `spark.graft.cc.sinkRoot` conf (warehouse-class URI, cluster
    * deployments — no exit-time deletion there: the rotated-to final
    * directory per key IS the persisted label table), else the
    * auto-cleaned local temp root.
    */
  private def sinkDir(spark: SparkSession, key: String): String = {
    val base = spark.conf.getOption("spark.graft.cc.sinkRoot") match {
      case Some(root) => s"${root.stripSuffix("/")}/cc-$jvmSinkId"
      case None => localSinkRoot.toString
    }
    base + "/" + key.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + sinkSeq.incrementAndGet()
  }

  /** Heartbeat for liveness-based GC: bumps the mtime of THIS JVM's
    * `cc-<id>` subroot under the configured shared sink root on every
    * sink write, so [[gcSinkRoot]]'s age check in a concurrent process
    * sees an active run as fresh no matter how old its first write was.
    * No-op under the local temp fallback (single-JVM, exit-cleaned).
    */
  private def touchOwnSinkRoot(spark: SparkSession): Unit =
    spark.conf.getOption("spark.graft.cc.sinkRoot").foreach { root =>
      val sub = new org.apache.hadoop.fs.Path(
        s"${root.stripSuffix("/")}/cc-$jvmSinkId")
      // best-effort liveness hint: a concurrent gcSinkRoot can delete the
      // subroot between exists and setTimes — that race must never fail
      // the write path the heartbeat exists to protect
      try {
        val fs = sub.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(sub)) fs.setTimes(sub, System.currentTimeMillis(), -1)
      } catch { case scala.util.control.NonFatal(e) =>
        // warn ONCE per JVM: on stores without setTimes (e.g. S3A
        // pseudo-directories) the heartbeat silently degrades and
        // gcSinkRoot's liveness contract measures FIRST-WRITE age, not
        // idle time — operators must size retention to full job duration
        if (setTimesWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"CC sink heartbeat failed on $sub (${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "this filesystem does not support setTimes — gcSinkRoot retention now measures " +
              "age since FIRST write, not last; size olderThanMs to the full job duration")
      }
    }
  private val setTimesWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Storage GC for the CONFIGURED sink root: deletes `cc-*` subroots
    * (other runs' label-table directories) whose modification time is
    * older than `olderThanMs`, never this JVM's own. The retention knob
    * for recurring jobs that keep one shared `spark.graft.cc.sinkRoot`;
    * returns the number of subroots removed. No-op (0) when the conf is
    * unset — the local temp fallback cleans itself on exit.
    *
    * Liveness contract: every sink write heartbeats its own subroot's
    * mtime ([[touchOwnSinkRoot]]), so `olderThanMs` measures idle time
    * since a run's LAST write, not its age. Retention must still exceed
    * the longest plausible gap between writes of a live job (e.g. a
    * day-long training pipeline that clusters once at the end) — size
    * `olderThanMs` to the slowest consumer, not the average one.
    * Caveat: on filesystems without `setTimes` (S3A pseudo-directories)
    * the heartbeat cannot fire (warn-once logged) and the contract
    * degrades to first-write age — there, retention must exceed the full
    * job duration, not the idle gap.
    */
  def gcSinkRoot(spark: SparkSession, olderThanMs: Long): Int =
    spark.conf.getOption("spark.graft.cc.sinkRoot") match {
      case None => 0
      case Some(root) =>
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cutoff = System.currentTimeMillis() - olderThanMs
        val subs = fs.globStatus(new org.apache.hadoop.fs.Path(rootPath, "cc-*"))
        if (subs == null) 0
        else subs.count { st =>
          st.isDirectory && st.getPath.getName != s"cc-$jvmSinkId" &&
            st.getModificationTime < cutoff && fs.delete(st.getPath, true)
        }
    }

  /** Decorates component labels into the declared output shape:
    * (doc_id, cluster, cluster_size, is_rep) with the min-id member as the
    * kept representative (the reference's keyed-session "first wins"
    * spirit, `transf_server.cpp:267-273`).
    */
  private[graft] def clusterReport(comp: DataFrame): DataFrame = {
    val labeled = comp.select(col("doc_id"), col("lbl").as("cluster"))
    val csize = labeled.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    labeled.join(csize, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).as("is_rep"))
      .orderBy("doc_id")
  }

  /** Oracle-checkable clustering: exact-Jaccard edges on the bounded
    * verification range through [[connectedComponents]]; the DuckDB oracle
    * computes the same components with a recursive CTE.
    */
  private def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = jaccardScored(spark, sfDir, 300)
      .filter(col("jacc") >= 0.8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = docs(spark, sfDir).filter(col("doc_id") < 300).select("doc_id")
    clusterReportReleased(nodes, edges, s"dedup_clusters_$sfDir")
  }

  /** Quality-aware cluster representative selection — the KEEP POLICY a
    * curation pipeline actually wants: within each near-dup cluster
    * (the `dedup_clusters` relation), keep the member with the HIGHEST
    * composite quality score ([[TextOps.withQualityScore]], the exact
    * `text_quality` formula — one definition, no drift), ties to the
    * lowest doc_id — instead of the structural min-id policy, which
    * throws away the best copy whenever boilerplate landed first.
    * Singleton clusters keep themselves. Scale shape: the per-cluster
    * argmax is one partial-agg'd `min(struct(-quality, doc_id))` — no
    * window, no skew funnel (cluster sizes bound the groups) — and the
    * quality pass is narrow; everything else is the `dedup_clusters`
    * plan. Cross-engine float note: quality is the same deterministic
    * double expression tree in both engines, so the argmax ordering
    * cannot diverge.
    */
  /** The keep-policy decoration, decoupled from HOW clusters were built
    * (the [[clusterReport]]/[[clustersFromScoredPairs]] split applied to
    * the keep policy): given any `(doc_id, cluster, cluster_size, …)`
    * cluster relation and a `(doc_id, quality)` frame, marks the
    * highest-quality member of each cluster (ties to the lowest doc_id)
    * as the keeper. One partial-agg'd `min(struct(-quality, doc_id))`
    * per cluster — no window, no skew funnel — shared by the bounded
    * oracle key ([[dedupKeepBest]]) and the production minhash
    * composition ([[dedupKeepBestMinhash]]) so the argmax rule lands
    * once.
    */
  private[graft] def keepBestReport(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val joined = clusters.join(quality, Seq("doc_id"))
    val best = joined.groupBy("cluster")
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id").as("bid"))).as("b"))
      .select(col("cluster"), col("b.bid").as("best_doc"))
    joined.join(best, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"), col("quality"),
        (col("doc_id") === col("best_doc")).as("keep"))
      .orderBy("doc_id")
  }

  private def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = jaccardScored(spark, sfDir, 300)
      .filter(col("jacc") >= 0.8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = docs(spark, sfDir).filter(col("doc_id") < 300).select("doc_id")
    val clusters = clusterReportReleased(nodes, edges, s"dedup_keep_best_$sfDir")
    val quality = TextOps.withQualityScore(
      docs(spark, sfDir).filter(col("doc_id") < 300))
      .select(col("doc_id"), col("quality"))
    keepBestReport(clusters, quality)
  }

  /** The keep policy COMPOSED WITH THE PRODUCTION CLUSTERING — the form
    * a curation pipeline actually runs (r14 verdict task 1): quality-
    * aware representative selection over the FULL-corpus MinHash+LSH
    * cluster relation ([[dedupClustersMinhash]] — banded candidates,
    * ≥ [[MinhashVerifySlots]]/16 verified edges, checkpointed CC), not
    * the bounded-range jaccard baseline the oracle key proves the argmax
    * on. Same [[keepBestReport]] decoration, same `text_quality` formula
    * ([[TextOps.withQualityScore]] — one definition, no drift); the
    * quality pass is narrow, so the plan adds two partial-agg'd
    * shuffles (quality join + per-cluster argmax) to the clustering —
    * still no window, no all-pairs stage, no driver drain. No oracle
    * (LSH is not ANSI-expressible); DedupSpec pins one-keeper-per-
    * cluster, argmax identity, and cluster agreement with
    * `dedup_clusters_minhash` on the full corpus.
    */
  private def dedupKeepBestMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val clusters = clustersFromScoredPairs(d.select("doc_id"), minhashPairsScored(d),
      s"dedup_keep_best_minhash_$sfDir")
    keepBestReport(clusters, TextOps.withQualityScore(d).select(col("doc_id"), col("quality")))
  }

  /** Edge verification + clustering over scored candidate pairs: only
    * pairs whose signatures agree on ≥ [[MinhashVerifySlots]] of 16 slots
    * (est. Jaccard ≥ 0.75) enter the transitive closure — a raw band
    * collision is a CANDIDATE, never an edge. Split out so DedupSpec can
    * plant a known false collision and assert it stays unclustered.
    */
  private[graft] def clustersFromScoredPairs(
      nodes: DataFrame, scored: DataFrame, key: String): DataFrame = {
    val edges = scored.filter(col("sig_match") >= MinhashVerifySlots)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    clusterReportReleased(nodes, edges, key)
  }

  /** The PRODUCTION dedup composition at corpus scale: MinHash+LSH
    * candidate pairs over the FULL document table → per-pair signature
    * verification (≥ [[MinhashVerifySlots]]/16 equal slots) → connected
    * components → min-id representative per cluster. No bounded id range,
    * no driver drain, no quadratic stage anywhere: candidates are
    * bucket-join output ([[minhashPairsScored]]), clustering is the
    * checkpointed iterative loop ([[connectedComponents]]). The verify
    * gate is what makes the closure safe at 100 TB: without it one false
    * band collision chains unrelated documents into a mega-cluster.
    * Deterministic (seeded hashing), no SQL oracle (LSH is not
    * ANSI-expressible) — invariants are property-tested in DedupSpec
    * (every VERIFIED candidate pair shares a label; a planted false
    * collision does not; every cluster is labeled by its minimum member).
    */
  private def dedupClustersMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    clustersFromScoredPairs(d.select("doc_id"), minhashPairsScored(d),
      s"dedup_clusters_minhash_$sfDir")
  }

  /** SimHash production clustering — the third member of the production
    * clustering family next to [[dedupClustersMinhash]] (token-shingle
    * MinHash) and `embed_clusters_lsh` (embedding cosine): pigeonhole-
    * banded hamming-neighbor pairs over the FULL corpus → checkpointed CC
    * → min-id representative. Edges need NO separate verification pass:
    * [[simhashPairs]] already keeps only pairs whose true
    * `bit_count(a ^ b)` ≤ 3 — the exact near-dup relation, computed
    * in-bucket — so unlike raw minhash band collisions there is no false
    * edge class to gate out before the transitive closure.
    */
  private def dedupClustersSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val edges = simhashPairsScored(d).select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // Path halving ON: hamming ≤ 3 is a looser relation than
    // est-Jaccard ≥ 0.75, so near-dup docs chain into wide-diameter
    // components — at sf0.1 the CC bench of commit b952ce9 measured 18
    // propagation rounds plain vs 10 with halving (4.21 → 2.70 s
    // same-window; the deepest graph of
    // the clustering family, past the documented >4-rounds threshold)
    clusterReportReleased(d.select("doc_id"), edges, s"dedup_clusters_simhash_$sfDir",
      compress = true)
  }

  /** Character n-gram Jaccard (3-grams) over a bounded id range — the
    * character-level companion to the token-set [[dedupJaccard]] baseline
    * (robust to tokenization differences; the verification baseline for
    * fuzzy near-dup). Same bounded quadratic shape, same production
    * escape hatch: at scale the minhash path runs over these shingles.
    */
  private def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = docs(spark, sfDir)
      .filter(col("doc_id") < 150)
      // native one-pass trigrams (the quadratic-substring fix); docs
      // shorter than 3 chars keep the legacy whole-text partial gram the
      // oracle mirrors (char_grams returns EMPTY below n)
      .select(col("doc_id"), explode(array_distinct(
        when(length(col("text")) >= 3,
          graft.functions.CharGrams.char_grams(col("text"), 3))
          .otherwise(array(col("text"))))).as("g"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = grams.as("a")
      .join(grams.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= 0.35)
      .select("doc_a", "doc_b", "na", "nb", "inter", "jacc")
      .orderBy("doc_a", "doc_b")
  }

  /** Word-shingle CONTAINMENT scoring over a bounded id range —
    * `inter / min(|A|, |B|)` instead of Jaccard's `inter / |A∪B|`. The
    * formula a training pipeline needs for SUB-DOCUMENT duplication: a
    * short doc wholly embedded in a long one has containment 1.0 while
    * its Jaccard shrinks with the length ratio, so a Jaccard-thresholded
    * dedup keeps the redundant pair (the truncation/quote/boilerplate
    * case). Shingles are the SAME 3-token windows as [[bandedSigs]] —
    * one tokenization across the near-dup family. Same bounded
    * quadratic shape as [[dedupJaccard]] (the verification baseline),
    * same production escape hatch: at scale the pair generator is the
    * minhash band join, with this formula applied to the surviving
    * candidates' shingle sets.
    */
  private def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = docs(spark, sfDir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))"))).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("containment", col("inter") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.6)
      .select("doc_a", "doc_b", "na", "nb", "inter", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance near-dup verification over a bounded id range: pairs
    * whose full-text Levenshtein distance is ≤ 20% of the longer text —
    * the character-exact relation the estimate family (minhash slots,
    * simhash hamming) approximates, and the verifier a pipeline runs on
    * candidates before destructive dedup.
    *
    * Candidate generation is an EQUI-join on a log-length bucket
    * (`floor(ln l / ln 1.25)`) expanded to adjacent buckets — never a
    * length theta-join, which Spark can only plan as a nested-loop
    * product. Coverage is provable, not sampled: dist ≥ |la−lb|, so any
    * pair passing the final `5·dist ≤ max(la,lb)` filter has length
    * ratio ≥ 0.8 < 1.25 and lands ≤ 1 bucket apart. Each doc probes its
    * own and both neighbor buckets via a 3-row explode (no duplicate
    * pairs: the b-side keys on its unique bucket). The O(n·m) per-pair
    * distance cost is paid only inside surviving buckets; at corpus
    * scale the same verify runs on minhash band candidates instead of
    * length buckets.
    */
  private def nearDupEdit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"), length(col("text")).as("l"))
      // l+1 keeps a zero-length doc finite; it only SHRINKS a pair's
      // length ratio toward 1, so the ≤1-bucket coverage bound survives
      .withColumn("bucket", floor(log(col("l") + lit(1.0)) / math.log(1.25)))
    val probes = d.select(col("doc_id"), col("text"), col("l"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
    probes.as("a")
      .join(d.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      // cheap exact length gate ahead of the O(n·m) distance: a pair with
      // 5·|la−lb| > max can never pass (dist ≥ |la−lb|), so skip it
      .filter(abs(col("a.l") - col("b.l")) * 5 <= greatest(col("a.l"), col("b.l")))
      // banded THRESHOLD Levenshtein: the DP fills only a 2τ-wide band
      // and aborts once the band minimum exceeds τ — on the dominant
      // non-duplicate candidates this exits after ~τ rows instead of
      // n·m cells (43.7 s → see BENCH at sf0.1). Native
      // [[graft.functions.ThresholdLevenshtein]] rather than the builtin
      // 3-arg form: the builtin re-decodes UTF-8 code points inside
      // every DP cell, which was ~95% of this key's r20 wall (7.26 s);
      // the native pass decodes each string once and runs the band on
      // primitive ints — value-identical to the builtin (pinned in
      // DedupSpec). -1 encodes "above threshold"; kept pairs carry the
      // EXACT distance (dist ≤ ⌊max/5⌋ ⟺ 5·dist ≤ max for integer
      // dist), so the result set — and the plain theta-join oracle — is
      // unchanged. The explode(array(·)) wrapper is a GENERATE BARRIER:
      // without it the optimizer inlines the projected `dist` into the
      // filter conjuncts and the DP runs 3-4× per candidate pair
      // (measured 1.7 s → 6.7 s on the same pair set — the guide §4.4
      // duplicated-evaluation trap, here on a native expression);
      // filters cannot be pushed into a generator's output, so the DP
      // runs exactly once per pair. `dist >= 0` alone is the full kept
      // predicate: the native form returns −1 above τ = ⌊max/5⌋ and the
      // exact distance at or below it, and dist ≤ ⌊max/5⌋ ⟺ 5·dist ≤
      // max for integer dist — the old second conjunct was implied.
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.l").cast("long").as("la"), col("b.l").cast("long").as("lb"),
        explode(array(graft.functions.ThresholdLevenshtein.threshold_levenshtein(
          col("a.text"), col("b.text"),
          (greatest(col("a.l"), col("b.l")) / 5).cast("int")))).as("dist"))
      .filter(col("dist") >= 0)
      // long casts: DuckDB's length/levenshtein are BIGINT, Spark's INT
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"),
        col("dist").cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** The PRODUCTION composition of [[nearDupEdit]] (r18 verdict task 3 —
    * previously scaladoc prose only): candidate pairs from the minhash
    * band join (the same [[bandedSigs]] geometry as every minhash
    * consumer — bucketed, star-guarded, never all-pairs and never
    * bounded to an id range), then the IDENTICAL verify chain as the
    * exact key — cheap length gate (`dist ≥ |la−lb|`, so `5·|la−lb| >
    * max` can never pass) ahead of the banded THRESHOLD Levenshtein,
    * keeping pairs whose exact distance is ≤ 20% of the longer text.
    * This is what a 100 TB run executes: the exact key's log-length
    * buckets guarantee coverage but admit every similar-length pair to
    * the DP, which is only affordable on a bounded range; the band join
    * admits only token-level near-dups, so the O(τ·n) DP runs on a
    * candidate set proportional to the true duplicate mass.
    *
    * Recall contract (vs the exact relation): a pair must share ≥ 1 of
    * 4 minhash bands to become a candidate — an edit-near pair with
    * low TOKEN Jaccard (e.g. many single-character edits spread across
    * every 3-token shingle) can be missed; DedupSpec measures the floor
    * on planted near-dups. Precision is exact: every emitted pair
    * carries the true distance and passes the same 20% rule, so
    * emitted ⊆ the exact relation on any common range (also pinned).
    */
  private[graft] def nearDupEditMinhashOf(d: DataFrame): DataFrame = {
    val cand = minhashPairsScored(d).select("doc_a", "doc_b")
    val sides = d.select(col("doc_id"), col("text"), length(col("text")).as("l"))
    cand
      .join(sides.select(col("doc_id").as("doc_a"),
        col("text").as("ta"), col("l").as("la")), "doc_a")
      .join(sides.select(col("doc_id").as("doc_b"),
        col("text").as("tb"), col("l").as("lb")), "doc_b")
      .filter(abs(col("la") - col("lb")) * 5 <= greatest(col("la"), col("lb")))
      // same generate-barrier + implied-conjunct shape as the exact key
      // (see nearDupEdit): the DP runs once per candidate, and dist >= 0
      // IS the 5·dist ≤ max rule under the native threshold form
      .select(col("doc_a"), col("doc_b"), col("la").cast("long").as("la"),
        col("lb").cast("long").as("lb"),
        explode(array(graft.functions.ThresholdLevenshtein.threshold_levenshtein(
          col("ta"), col("tb"),
          (greatest(col("la"), col("lb")) / 5).cast("int")))).as("dist"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"),
        col("dist").cast("long").as("dist"))
  }

  private def nearDupEditMinhash(spark: SparkSession, sfDir: String): DataFrame =
    nearDupEditMinhashOf(docs(spark, sfDir)).orderBy("doc_a", "doc_b")

  /** Buckets larger than this emit star pairs (each id linked to the
    * bucket's minimum id) instead of all pairs: a degenerate bucket — e.g.
    * thousands of near-empty docs sharing a shingle — would otherwise
    * concentrate O(b²) pair rows on one reducer. The star keeps every
    * member transitively connected to the same duplicate cluster (the
    * connected-components view is identical) at O(b) rows, so no reducer
    * ever materializes more than `cap·(cap-1)/2 + (b-cap)` pairs.
    *
    * Materialization is bounded too, not just pair output: bucket rows are
    * annotated with (size, min-id representative) by a window over the
    * band key — the window buffer is spillable row storage, never one
    * unbounded `collect_list` row — and only ≤cap buckets ever reach a
    * `collect_list` (so no aggregation row is ever wider than cap).
    * Oversized buckets stream their star pairs row-by-row straight off the
    * annotated rows. Net: one shuffle on the band key, one signature scan,
    * O(cap) worst-case row width anywhere in the plan.
    */
  val HotBucketCap = 32

  /** Annotates banded rows with bucket population and the bucket's min-id
    * representative in ONE pass (single hash-partition exchange on the
    * band key + per-partition sort; the window buffer spills rather than
    * building an O(b) aggregation row). Drops singleton buckets — they
    * can't produce pairs. Input must have columns `keyCols ++ (idCol +:
    * carryCols)`; output adds `bucket_n` and `rep_<idCol/carry>` fields
    * via a min(struct) over the bucket (doc ids are unique within a
    * bucket, so the struct min is the min-id member's row).
    */
  private[operators] def annotateBuckets(
      d: DataFrame, keyCols: Seq[String], idCol: String, carryCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    d.withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("rep", min(struct((idCol +: carryCols).map(col): _*)).over(w))
      .filter(col("bucket_n") > 1)
  }

  /** Slots (of 16) that must agree between two minhash signatures for a
    * candidate edge to be trusted by transitive clustering: 12/16 equal
    * slots estimates Jaccard ≥ 0.75. Banding alone admits any pair that
    * agrees on ONE band (4 slots ⇒ est. J could be far lower); at corpus
    * scale a single false band collision would chain unrelated documents
    * into one mega-cluster through the transitive closure. The check is a
    * narrow per-pair slot comparison computed where both signatures are
    * already co-located (inside the existing band shuffle) — zero extra
    * exchanges, mirroring [[simhashPairs]]' true-hamming verify.
    */
  val MinhashVerifySlots = 12

  /** MinHash signature geometry — the ONE definition both the batch pair
    * generation ([[bandedSigs]]) and the streaming ingest gate's persisted
    * index ([[graft.streaming.DedupGate]]) build from, so a geometry
    * change here propagates to every producer and the gate's meta-table
    * validation cannot be satisfied by a stale duplicate constant.
    */
  val MinhashSigWidth = 16
  val MinhashBands = 4
  private val MinhashBandWidth = MinhashSigWidth / MinhashBands

  /** Banded signature rows `(doc_id, band_id, bh, sig)` of a
    * `(doc_id, text)` frame: 3-token shingles → [[MinhashSigWidth]] seeded
    * minhashes → [[MinhashBands]] band hashes, the signature carried
    * alongside so any consumer can verify a collision by slot agreement
    * without re-reading the corpus. Shared by the batch pair generation
    * and the streaming ingest gate's persisted signature index
    * ([[graft.streaming.DedupGate]]).
    */
  private[graft] def bandedSigs(d: DataFrame): DataFrame =
    // r22 (guide §4; OPTIMIZATION_r22.md `mh`): the shingles were materialized by
    // an interpreted transform/concat_ws/slice chain (~0.27 s at sf0.1,
    // paid by all five minhash keys + the streaming gate) only for the
    // signature kernel to hash and discard them — minhash_shingle_sig
    // assembles each shingle's bytes in a reused buffer and hashes in
    // place, bit-identical by construction (pinned in DedupSpec, so the
    // PERSISTED streaming signature index stays comparable across the
    // change)
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("sig",
        graft.functions.MinHashSig.minhash_shingle_sig(col("toks"), 3, MinhashSigWidth))
      .withColumn("band", explode(expr(
        s"""transform(sequence(0, ${MinhashBands - 1}), j -> struct(j AS band_id,
           |  xxhash64(concat_ws(',', transform(slice(sig, j*$MinhashBandWidth + 1, $MinhashBandWidth), x -> CAST(x AS STRING)))) AS bh))""".stripMargin)))
      .select(col("doc_id"), col("band.band_id"), col("band.bh"), col("sig"))

  /** MinHash + LSH candidate pairs of a (doc_id, text) frame: the
    * [[bandedSigs]] rows bucket-joined per band, with the hot-bucket
    * star-pair guard above. Each pair carries `sig_match` — the count of
    * equal signature slots (0–16), an unbiased Jaccard estimate at 1/16
    * resolution — computed in-bucket where both signatures already sit.
    * UNORDERED: the clustering consumer must not pay a range exchange for
    * edges; callers that need determinism sort ([[minhashPairs]]). No SQL
    * oracle (pair generation is not ANSI-expressible portably);
    * deterministic by construction and property-tested in DedupSpec.
    */
  private[graft] def minhashPairsScored(d: DataFrame): DataFrame =
    pairsFromBuckets(bandedSigs(d))

  /** Candidate pairs only (doc_a, doc_b), sorted — the spec-facing view. */
  private[graft] def minhashPairs(d: DataFrame): DataFrame =
    minhashPairsScored(d).select("doc_a", "doc_b").orderBy("doc_a", "doc_b")

  /** Shared pair emission over banded (doc_id, band_id, bh, sig) rows:
    * small buckets collect bounded membership (≤ [[HotBucketCap]]) and
    * emit all pairs; oversized buckets stream star pairs directly off the
    * annotated rows — no aggregation row ever exceeds cap width. Both
    * branches score `sig_match` from the co-located signatures. Cost
    * shape: the two union branches share the band-key exchange via AQE
    * stage reuse (the signature scan + shuffle write run ONCE — asserted
    * on the final adaptive plan in DedupSpec), each branch then re-reads
    * and re-sorts the shuffled rows; the small-bucket groupBy adds no
    * exchange (the window output already satisfies its distribution).
    *
    * Star-guard recall contract under downstream verification (same trade
    * as [[simhashPairs]]): in an oversized bucket only member↔rep pairs
    * are emitted, so a consumer that drops low-`sig_match` edges keeps an
    * identical/near-identical flood fully connected (every slot matches
    * the rep) but severs a DIFFERENT duplicate group that happened to
    * share the hot bucket — it correctly no longer merges with the rep's
    * group, at the price of losing its own intra-group pairs from this
    * bucket (its members still pair normally in any small bucket they
    * land in via their other bands). Raise [[HotBucketCap]] if that
    * residual recall matters more than the O(b²) bound.
    */
  private[graft] def pairsFromBuckets(banded: DataFrame): DataFrame = {
    import graft.functions.SlotMatch.slot_match
    val ann = annotateBuckets(banded, Seq("band_id", "bh"), "doc_id", Seq("sig"))
    // pair expansion carries both signatures through the explode and
    // scores them in the projection ABOVE the generator with the native
    // codegen slot_match (bit-identical to the interpreted
    // size(filter(zip_with(...))) HOF it replaced — pinned in DedupSpec;
    // a lambda inside the transform would run interpreted per pair)
    val small = ann.filter(col("bucket_n") <= HotBucketCap)
      .groupBy("band_id", "bh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("items"))
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), y ->
          |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
          |           x.sig AS sig_a, y.sig AS sig_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        slot_match(col("p.sig_a"), col("p.sig_b")).as("sig_match"))
    val large = ann.filter(col("bucket_n") > HotBucketCap && col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        slot_match(col("rep.sig"), col("sig")).as("sig_match"))
    small.union(large)
      .distinct()
  }

  private def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsScored(docs(spark, sfDir)).orderBy("doc_a", "doc_b")

  /** 64-bit SimHash signature column over distinct tokens via the native
    * [[graft.functions.SimHashSig]] (bit-identical to the interpreted
    * HOF bit-vote form it replaced — equivalence asserted in DedupSpec),
    * shared by the signature query and the neighbor join.
    */
  private def withSimhash(d: DataFrame): DataFrame =
    d.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      .withColumn("simhash", graft.functions.SimHashSig.simhash_sig(col("toks")))

  /** 64-bit SimHash over distinct tokens (seeded xxhash64 bit votes). */
  private def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    withSimhash(docs(spark, sfDir))
      .withColumn("prefix16", expr("shiftright(simhash, 48) & 65535"))
      .select("doc_id", "simhash", "prefix16")
      .orderBy("doc_id")

  /** SimHash hamming-neighbor join — the consumer the signatures exist
    * for. Pigeonhole banding: the 64-bit signature splits into 4 16-bit
    * bands; hamming distance ≤ 3 can disturb at most 3 bands, so every
    * ≤3-neighbor pair shares at least one exact band key — candidates come
    * from a (band_id, band_key) equi-bucket join (one shuffle, no all-pairs
    * scan), then the true `bit_count(a XOR b)` filter keeps real neighbors.
    * The same hot-bucket star guard as minhash bounds degenerate buckets.
    * Star-guard recall contract: in an oversized bucket only pairs within
    * hamming ≤ 3 of the bucket MINIMUM survive the filter — identical/
    * near-identical floods (the realistic degenerate case, hamming ≈ 0)
    * keep full cluster connectivity, but a >cap bucket mixing several
    * distinct neighbor groups trades their cross pairs for boundedness;
    * raise [[HotBucketCap]] if that recall matters more than the O(b²)
    * bound. Deterministic; no SQL oracle (xxhash64 is not available in
    * DuckDB); property-tested in DedupSpec.
    */
  private[graft] def simhashPairsScored(d: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairsScored(withSimhash(d).select("doc_id", "simhash"), maxHamming)

  /** The pigeonhole hamming join itself, over ANY `(doc_id, simhash:
    * LONG)` frame — the banding/bucket/verify machinery is agnostic to
    * WHERE the 64-bit code came from (token SimHash here, the raster
    * dHash in [[MultimodalOps]]), so it is factored once rather than
    * duplicated per signature family (r18 verdict task 2). Contract:
    * 4 × 16-bit bands guarantee recall for `maxHamming` ≤ 3 (3 flipped
    * bits disturb ≤ 3 bands, so one band always survives exact); a
    * larger threshold would need wider banding, hence the guard.
    */
  private[graft] def hammingPairsScored(signed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit pigeonhole banding guarantees recall only for hamming <= 3, got $maxHamming")
    val banded = signed
      .select(col("doc_id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 3), j -> struct(j AS band_id,
            |  shiftright(simhash, j * 16) & 65535 AS bk))""".stripMargin)).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_id"), col("band.bk"))
    val ann = annotateBuckets(banded, Seq("band_id", "bk"), "doc_id", Seq("simhash"))
    val small = ann.filter(col("bucket_n") <= HotBucketCap)
      .groupBy("band_id", "bk")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("items"))
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), y ->
          |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
          |           bit_count(x.simhash ^ y.simhash) AS hamming))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
    val large = ann.filter(col("bucket_n") > HotBucketCap && col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        expr("bit_count(rep.simhash ^ simhash)").as("hamming"))
    small.union(large)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Sorted [[simhashPairsScored]] — the spec-facing / declared-key view.
    * The clustering consumer uses the unsorted core: a global orderBy is
    * a range exchange + sort over every edge that the components loop
    * would immediately discard.
    */
  private[graft] def simhashPairs(d: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsScored(d, maxHamming).orderBy("doc_a", "doc_b")

  private def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(docs(spark, sfDir))

  /** 8-token shingles of a `(doc_id, text)` frame as `(doc_id, shingle)`
    * rows — one narrow generator, no shuffle.
    */
  private def shingleRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 8
          |  THEN transform(sequence(1, size(t) - 7), i -> array_join(slice(t, i, 8), ' '))
          |  ELSE array() END""".stripMargin)).as("shingle"))

  /** Benchmark decontamination — the train/eval overlap scan every
    * pretraining pipeline runs before training ships: any training
    * document sharing an 8-token shingle with the evaluation corpus is
    * flagged with its shared-shingle count and the lowest eval doc
    * implicated (flag, don't drop — the removal policy is the caller's).
    *
    * BROADCAST CONTRACT: `evalDocs` must be benchmark-sized (KBs–MBs of
    * text — real benchmarks are), because its distinct shingle set is
    * broadcast so the 100 TB train side streams through one hash join
    * with NO corpus shuffle; only the MATCHED (contaminated) rows — a
    * vanishing fraction — reach the per-doc aggregation shuffle (hence
    * no train-side distinct: countDistinct absorbs duplicate
    * occurrences, min is duplicate-invariant). An eval side that scales
    * with the corpus would overflow the broadcast; that is a misuse of
    * this op, not a supported shape. At real scale the join key becomes
    * `xxhash64(shingle)` (8 bytes vs ~50-char strings; a 64-bit
    * collision flagging one extra doc is harmless for flag-and-review) —
    * kept raw here so DuckDB can replay the declared key exactly.
    */
  private[graft] def decontaminateAgainst(trainDocs: DataFrame, evalDocs: DataFrame,
      maxEvalDocs: Int = SpanOps.EvalCollectMaxDocs,
      maxEvalChars: Long = SpanOps.EvalCollectMaxChars): DataFrame = {
    // r21 (guide §2.3/§2.4 + §8): the eval shingle table was ALREADY
    // driver-collected and shipped by the BroadcastHashJoin; keep that
    // movement but replace the train side's materialize-every-shingle-
    // string + join-probe + re-aggregate-by-doc pipeline with one narrow
    // zero-copy pass ([[graft.functions.ShingleProbe]] — n_shared/
    // first_eval computed in-row; row domain and values replicate the
    // join+groupBy exactly, DedupSpec pins identity against the join
    // form and the oracle row is unchanged). The train corpus
    // contributes NO exchange at all. r22: the shingle table is built
    // from a size-GUARDED collect of the raw eval docs (~8× smaller than
    // their materialized shingle relation; the r21 form ran the full
    // explode+shuffle+collect eagerly at construction time, per
    // invocation) — the driver pass replicates shingleRows +
    // groupBy(shingle).agg(min(doc_id)): docs scan in ascending doc_id
    // order, so the first writer per shingle IS the min. Over the caps
    // the retained join form runs instead (lazy, any eval size).
    val spark = trainDocs.sparkSession
    val rows = evalDocs.select("doc_id", "text").limit(maxEvalDocs + 1).collect()
    var chars = 0L
    rows.foreach(r => if (!r.isNullAt(1)) chars += r.getString(1).length)
    if (rows.length > maxEvalDocs || chars > maxEvalChars)
      return decontaminateAgainstJoinForm(trainDocs, evalDocs)
    val m = new java.util.HashMap[String, java.lang.Long]()
    rows.sortBy(r => if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)).foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val docId = java.lang.Long.valueOf(r.getLong(0))
        // split-by-single-space semantics of split(text, ' ') (limit −1:
        // empty tokens kept), shingle = array_join(slice(t, i, 8), ' ')
        val toks = r.getString(1).split(" ", -1)
        var i = 0
        while (i + 8 <= toks.length) {
          val sb = new java.lang.StringBuilder()
          var j = i
          while (j < i + 8) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          m.putIfAbsent(sb.toString, docId)
          i += 1
        }
      }
    }
    val shingles = new Array[String](m.size)
    val evalIds = new Array[Long](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      shingles(j) = e.getKey; evalIds(j) = e.getValue.longValue()
      j += 1
    }
    val tbl = spark.sparkContext.broadcast(
      graft.functions.CrossProbe.ShingleTable(shingles, evalIds))
    trainDocs.select(col("doc_id"),
        explode(graft.functions.CrossProbe.shingle_probe(col("text"), tbl, 8)).as("p"))
      .select(col("doc_id"), col("p.n_shared").as("n_shared"),
        col("p.first_eval").as("first_eval"))
      .orderBy("doc_id")
  }

  /** The r7-r20 join form of [[decontaminateAgainst]] — retained as the
    * independent Column-algebra implementation the kernel is pinned
    * row-identical against (DedupSpec), the [[graft.operators.TextOps]]
    * `bpeEncodeFrom` stance.
    */
  private[graft] def decontaminateAgainstJoinForm(
      trainDocs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalSh = shingleRows(evalDocs)
      .select(col("doc_id").as("eval_id"), col("shingle")).distinct()
    shingleRows(trainDocs).join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_shared"), min("eval_id").as("first_eval"))
      .orderBy("doc_id")
  }

  /** Declared key: the eval corpus is the `doc_id % 10 = 7` slice — a
    * STAND-IN for a real benchmark table, small enough at the test SFs
    * to honor [[decontaminateAgainst]]'s broadcast contract (at
    * production scale the caller passes the actual benchmark table, not
    * a corpus-proportional slice).
    */
  private[graft] def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    decontaminateAgainst(d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
  }

  // ---- declarations ------------------------------------------------------

  val defs: Map[String, QueryDef] = Map(
    "decontaminate" -> QueryDef(decontaminate,
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sh AS (
             |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
             |  FROM toks, UNNEST(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
             |eval_sh AS (
             |  SELECT DISTINCT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 10 = 7),
             |train_sh AS (
             |  SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 10 <> 7)
             |SELECT t.doc_id, count(DISTINCT t.shingle) AS n_shared,
             |       min(e.eval_id) AS first_eval
             |FROM train_sh t JOIN eval_sh e USING (shingle)
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    "dedup_jaccard" -> QueryDef(dedupJaccard,
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents WHERE doc_id < 300),
             |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb, p.inter,
             |       p.inter / (sa.n + sb.n - p.inter) AS jacc
             |FROM p
             |JOIN s sa ON p.doc_a = sa.doc_id
             |JOIN s sb ON p.doc_b = sb.doc_id
             |WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "dedup_clusters" -> QueryDef(dedupClusters,
      Some("""WITH RECURSIVE
             |t AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents WHERE doc_id < 300),
             |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
             |pr AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |edges AS (
             |  SELECT doc_a AS src, doc_b AS dst FROM pr
             |  JOIN s sa ON pr.doc_a = sa.doc_id JOIN s sb ON pr.doc_b = sb.doc_id
             |  WHERE pr.inter / (sa.n + sb.n - pr.inter) >= 0.8
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM pr
             |  JOIN s sa ON pr.doc_a = sa.doc_id JOIN s sb ON pr.doc_b = sb.doc_id
             |  WHERE pr.inter / (sa.n + sb.n - pr.inter) >= 0.8),
             |reach(src, dst) AS (
             |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |comp AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src)
             |SELECT c.doc_id, c.cluster, cnt.n AS cluster_size, c.doc_id = c.cluster AS is_rep
             |FROM comp c
             |JOIN (SELECT cluster, count(*) AS n FROM comp GROUP BY cluster) cnt USING (cluster)
             |ORDER BY c.doc_id""".stripMargin)),

    "dedup_keep_best" -> QueryDef(dedupKeepBest,
      Some(s"""WITH RECURSIVE
             |t AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents WHERE doc_id < 300),
             |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
             |pr AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |edges AS (
             |  SELECT doc_a AS src, doc_b AS dst FROM pr
             |  JOIN s sa ON pr.doc_a = sa.doc_id JOIN s sb ON pr.doc_b = sb.doc_id
             |  WHERE pr.inter / (sa.n + sb.n - pr.inter) >= 0.8
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM pr
             |  JOIN s sa ON pr.doc_a = sa.doc_id JOIN s sb ON pr.doc_b = sb.doc_id
             |  WHERE pr.inter / (sa.n + sb.n - pr.inter) >= 0.8),
             |reach(src, dst) AS (
             |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |comp AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
             |q AS (
             |  SELECT doc_id, ${TextOps.QualityExprSql} AS quality
             |  FROM (${TextOps.QualityCountersSql}) WHERE doc_id < 300),
             |j AS (
             |  SELECT c.doc_id, c.cluster, cnt.n AS cluster_size, q.quality
             |  FROM comp c
             |  JOIN (SELECT cluster, count(*) AS n FROM comp GROUP BY cluster) cnt USING (cluster)
             |  JOIN q USING (doc_id)),
             |best AS (
             |  SELECT cluster,
             |         struct_extract(min(struct_pack(nq := -quality, bid := doc_id)), 'bid') AS best_doc
             |  FROM j GROUP BY cluster)
             |SELECT j.doc_id, j.cluster, j.cluster_size, j.quality,
             |       j.doc_id = best.best_doc AS keep
             |FROM j JOIN best USING (cluster)
             |ORDER BY j.doc_id""".stripMargin)),

    "ngram_jaccard" -> QueryDef(ngramJaccard,
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    list_transform(range(1, greatest(length(text) - 2, 1) + 1),
             |                   i -> substring(text, CAST(i AS BIGINT), 3)))) AS g
             |  FROM documents WHERE doc_id < 150),
             |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb, p.inter,
             |       p.inter / (sa.n + sb.n - p.inter) AS jacc
             |FROM p
             |JOIN s sa ON p.doc_a = sa.doc_id
             |JOIN s sb ON p.doc_b = sb.doc_id
             |WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.35
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "dedup_containment" -> QueryDef(dedupContainment,
      // DuckDB shingles mirror Spark's concat_ws(slice(...)) exactly:
      // coalesce('' for the missing tail words) reproduces the partial
      // final shingle of a <3-token doc instead of NULLing it out
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE doc_id < 300),
             |t AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
             |      i -> ws[i] || coalesce(' ' || ws[i+1], '') || coalesce(' ' || ws[i+2], '')))) AS sh
             |  FROM w),
             |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb, p.inter,
             |       p.inter / least(sa.n, sb.n) AS containment
             |FROM p
             |JOIN s sa ON p.doc_a = sa.doc_id
             |JOIN s sb ON p.doc_b = sb.doc_id
             |WHERE p.inter / least(sa.n, sb.n) >= 0.6
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "near_dup_edit" -> QueryDef(nearDupEdit,
      // the oracle states the SEMANTICS (plain theta join + distance
      // filter); the Spark side generates candidates via the log-length
      // bucket equi-join, whose coverage of this result set is proved in
      // the Scaladoc (dist ≥ |la−lb| ⇒ ratio ≥ 0.8 ⇒ ≤ 1 bucket apart)
      Some("""WITH d AS (
             |  SELECT doc_id, text, length(text) AS l
             |  FROM documents WHERE doc_id < 400)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       a.l AS la, b.l AS lb, levenshtein(a.text, b.text) AS dist
             |FROM d a JOIN d b ON a.doc_id < b.doc_id
             |WHERE 5 * levenshtein(a.text, b.text) <= greatest(a.l, b.l)
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "near_dup_edit_minhash" -> QueryDef(nearDupEditMinhash, None),

    "dedup_clusters_minhash" -> QueryDef(dedupClustersMinhash, None),

    "dedup_keep_best_minhash" -> QueryDef(dedupKeepBestMinhash, None),

    "dedup_minhash" -> QueryDef(dedupMinhash, None),

    "dedup_clusters_simhash" -> QueryDef(dedupClustersSimhash, None),

    "dedup_simhash" -> QueryDef(dedupSimhash, None),

    "dedup_simhash_pairs" -> QueryDef(dedupSimhashPairs, None)
  )
}
