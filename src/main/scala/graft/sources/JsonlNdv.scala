package graft.sources

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}

/** Sidecar NDV sketches: per-file HyperLogLog of selected columns
  * (`ndvFor` write option), published in the `_stats-*` sidecar (`_ndv`,
  * base64 compact DataSketches HLL plus the column's max value byte
  * length) and MERGED AT PLAN TIME across any live file set — distinct
  * counts for the planner at zero data read, the same role Iceberg's
  * Puffin `apache-datasketches-theta-v1` blobs and parquet's NDV column
  * stats play.
  *
  * Why sketches and not exact counts: per-file exact distinct counts do
  * not compose (the union of two files' distincts is not their sum), but
  * HLL registers max-merge losslessly — the merged estimate is the same
  * as if one sketch had seen every row, at ~1.6% rsd for lgK=12. That is
  * what makes the statistic trustworthy over a 100 TB table assembled by
  * thousands of independent commits. `maxLen` merges by max for the same
  * reason, and is what lets the broadcast rule bound VARIABLE-WIDTH key
  * bytes instead of trusting `defaultSize` fiction.
  *
  * Coverage discipline (the metadata-aggregation rule): EVERY live data
  * file must carry a sketch for the column or the answer is None — a
  * partially-covered estimate would silently under-count, and the
  * planner would broadcast on fiction. Delete vectors only shrink the
  * true distinct count, so a merged estimate over MOR files OVERSTATES —
  * the safe direction for a broadcast decision. */
private[graft] object JsonlNdv {

  /** lgK = 12 → 4096 registers, ~1.6% relative standard error, ≤ ~2.5 KB
    * compact per (file, column) — sidecar-weight. */
  val LgK = 12

  def emptySketch(): HllSketch = new HllSketch(LgK)

  /** (NDV estimate, max value byte length) for `col` over the table's
    * LIVE data files; None unless every live file carries a sketch. */
  case class ColNdv(estimate: Double, maxLen: Long)

  /** One listing + one sidecar parse answers EVERY requested column —
    * the broadcast rule runs inside a fixed-point optimizer batch (plus
    * AQE replans), so per-column re-parsing would pay
    * O(passes × keys × sidecars) metadata I/O. Additionally memoized on
    * the sidecar listing signature (names + mtimes + lengths): immutable
    * published sidecars make the signature a sound cache key, and any
    * commit/vacuum changes it. */
  def mergedNdvs(dir: String, cols: Seq[String]): Map[String, Option[ColNdv]] = {
    val all = cached(dir)
    cols.map(c => c -> all.get(c).flatten).toMap
  }

  def mergedNdv(dir: String, col: String): Option[ColNdv] =
    mergedNdvs(dir, Seq(col))(col)

  /** Every column carrying a sketch anywhere in the table (the
    * `system.ndv` report face): col → merged estimate, None where
    * coverage is partial. */
  def allMergedNdvs(dir: String): Map[String, Option[ColNdv]] = cached(dir)

  /** The memo key: (dir, `_stats-*` listing, live data-file listing).
    * The merged result depends on the LIVE data-file set too, not just
    * the sidecars: a data file added without a sketch (non-graft writer)
    * must flip covered columns to None, so the listing is part of the
    * key — otherwise a stale "covered" answer would keep feeding the
    * planner after coverage was lost. */
  private def sigOf(dir: String)
      : (String, Seq[(String, Long, Long)], Seq[String]) = {
    val sig =
      try {
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          root.toUri, new org.apache.hadoop.conf.Configuration())
        fs.listStatus(root).collect {
          case st if st.isFile && st.getPath.getName.startsWith("_stats-") =>
            (st.getPath.getName, st.getModificationTime, st.getLen)
        }.toSeq.sortBy(_._1)
      } catch { case _: java.io.IOException => Nil }
    val liveSig = JsonlV2.listFiles(dir).map(_.name).sorted
    (dir, sig, liveSig)
  }

  private def cached(dir: String): Map[String, Option[ColNdv]] = {
    // Size-bound eviction happens HERE, never inside computeIfAbsent's
    // mapping function: ConcurrentHashMap forbids the mapping function
    // from mutating the map (it runs under the bin lock; a clear()
    // mid-compute can drop the in-flight entry or corrupt counts).
    if (memo.size > 64) memo.clear() // bounded; repopulates on demand
    if (rowsMemo.size > 64) rowsMemo.clear()
    memo.computeIfAbsent(sigOf(dir), _ => computeAll(dir))
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long, Long)], Seq[String]),
    Map[String, Option[ColNdv]]]

  /** EXACT total row count of the table's live files from the stats
    * sidecars — Some only when EVERY live file carries a row count (the
    * same coverage discipline as the sketches). Memoized on the same
    * (sidecar listing, live listing) signature the NDV merge uses, so
    * plan-time consumers (the join-reorder rule runs per candidate per
    * optimizer pass) pay one listing + parse per table STATE, not per
    * query. */
  def coveredRows(dir: String): Option[Long] =
    rowsMemo.computeIfAbsent(sigOf(dir), _ => {
      val live = JsonlV2.listFiles(dir).map(_.name)
      val stats = JsonlV2.loadStats(dir)
      if (live.nonEmpty && live.forall(stats.contains))
        Some(live.map(n => stats(n).rows).sum)
      else None
    })

  private val rowsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long, Long)], Seq[String]), Option[Long]]

  private def computeAll(dir: String): Map[String, Option[ColNdv]] = {
    val live = JsonlV2.listFiles(dir).map(_.name)
    val stats = JsonlV2.loadStats(dir)
    val sketched = live.flatMap(n =>
      stats.get(n).map(_.ndv.keySet).getOrElse(Set.empty)).toSet
    sketched.iterator.map { col =>
      val per = live.map(n => stats.get(n).flatMap(_.ndv.get(col)))
      col -> (if (live.isEmpty) Some(ColNdv(0.0, 0L))
      else if (per.exists(_.isEmpty)) None
      else {
        val u = new Union(LgK)
        var maxLen = 0L
        per.flatten.foreach { case (bytes, len) =>
          u.update(HllSketch.heapify(bytes))
          maxLen = math.max(maxLen, len)
        }
        Some(ColNdv(u.getResult(TgtHllType.HLL_4).getEstimate, maxLen))
      })
    }.toMap
  }
}
