package graft.streaming

import org.apache.spark.sql.Row

/** `dup_of` chain resolution shared by every within-aware gate: a
  * flagged arrival's strongest match may ITSELF be a flagged sibling
  * (A<B<C where C's strongest match is B while B flags against A), and
  * an audit sink must not receive `dup_of` references to ids that are
  * neither at rest nor ever will be (r19 ADVICE, generalized to the
  * whole gate family in r20 — the same lesson as the shared probe
  * slice: one implementation, not one per gate).
  *
  * The walk is DRIVER-side: flags are micro-batch metadata scale by the
  * same contract that bounds the gates' probe-literal collects, and the
  * shared check ([[NearDup.run]]) already holds them on the driver, so
  * a map chase is exact, one pass, and adds no jobs. Batch-only chains
  * terminate because within-batch edges strictly decrease the id by
  * construction (`rest < in` in every gate's within-batch check);
  * REPLAY of rows already at rest can produce cycles, where the walk
  * stops at the cycle's re-entry edge and never emits a self-pointer
  * (annotations are advisory under replay; the index stays
  * replay-stable regardless). Every other column — the gate's own
  * match-strength column (`sig_match`/`hamming`/`sim`) included — is
  * preserved AS MEASURED against the strongest match; only `dup_of` is
  * rewritten, so "how similar" and "which representative" stay
  * separately meaningful.
  */
private[graft] object Survivors {

  /** Flag rows with each `dup_of` chased to the surviving
    * representative: the Long id sits at `idIdx`, the Long `dup_of` at
    * `dupIdx`, and every other value of a row is kept as it is.
    */
  def chase(rows: Seq[Row], idIdx: Int, dupIdx: Int): Seq[Row] = {
    val parent = rows.map(r => r.getLong(idIdx) -> r.getLong(dupIdx)).toMap
    def rep(start: Long): Long = {
      var cur = start
      val seen = scala.collection.mutable.Set.empty[Long]
      while (parent.contains(cur) && seen.add(cur)) cur = parent(cur)
      cur
    }
    rows.map { r =>
      val vals = r.toSeq.toArray
      vals(dupIdx) = rep(r.getLong(dupIdx))
      Row.fromSeq(vals.toIndexedSeq)
    }
  }
}
