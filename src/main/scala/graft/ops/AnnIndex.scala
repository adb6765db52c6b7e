package graft.ops

import graft.functions.GraftFunctions
import graft.ops.Similarity.{IvfCodebook, PqCodebooks}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One IVF-PQ index at rest — a [[Similarity.writeIvfPqPartitioned]] or
  * [[Similarity.writeIvfPqResidualPartitioned]] layout, or a store root
  * whose `_current` pointer names such a layout — addressed by path.
  * The handle holds the layout's on-disk rules in one place, so no
  * caller passes what the files already say:
  *   - POINTER: every call resolves `path` through its
  *     [[Layouts.GenerationPointer]]; a plain layout resolves to
  *     itself. After a pointered rebuild or compaction swaps
  *     `_current`, the next probe, append and monitor tick answer from
  *     the new generation with no coordination beyond that one atomic
  *     rename.
  *   - KIND: raw (`pq`) or residual (`rpq`) codes, read from the
  *     `_codebooks` sidecar. Encoder and ADC tables always match the
  *     codes, so one kind is never ranked through the other's tables.
  *   - INCREMENTS: every probe reads the base plus the committed
  *     streamed increments (`_increments/ingest_batch=<id>`); without
  *     increments the scan is the plain base scan.
  *   - COLUMNS: codes live in `code` under the `cell` partition column;
  *     the id is the layout's first column (every writer puts it
  *     there).
  *
  * Every probe is partition-pruned to the probed cells at plan time
  * (base and each increment directory alike) and reads codes only.
  * Sidecar rows are cached per generation by
  * [[Layouts.collectSidecarCached]], so repeated calls on one handle
  * pay one listing RPC for them, never a parquet read.
  */
final case class AnnIndex(spark: SparkSession, path: String) {
  import AnnIndex._

  /** The generation directory this call answers from. One existence
    * probe (plus the pointer read on a store root).
    */
  def layout: String =
    if (Layouts.hasGenerationPointer(spark, path))
      Layouts.currentGeneration(spark, path)
    else path

  /** The live generation's kind and codebooks. */
  def codebooks: Codebooks = readCodebooks(spark, layout)

  /** ADC top-k of one query: the scan is pruned to the `nprobe` cells
    * nearest the query and ranks the stored codes — raw ADC for a `pq`
    * layout, per-probed-cell residual ADC (the partition column picks
    * the cell's table inside one generated call per row) for `rpq`.
    * Zero exchanges into TakeOrderedAndProject.
    *
    * `filter` restricts ranking to a predicate over the layout's kept
    * metadata columns (filtered ANN — "top-k among docs with lang =
    * en"), evaluated on the scan and pushed to parquet where pushable.
    * Increments carry (id, cell, code) only, so a filtered probe of a
    * layout that keeps metadata columns refuses while committed
    * increments exist. `excludeBatchId` drops that increment — the ingest loop's replay
    * rule (a batch never reads its own in-flight directory).
    *
    * Output: (id, adc) ordered by adc, ties by id.
    */
  def topK(query: Array[Double], k: Int, nprobe: Int = 4,
      filter: Option[Column] = None,
      excludeBatchId: Option[Long] = None): DataFrame = {
    val at = layout
    val (probed, adc) = readCodebooks(spark, at).probe(query, nprobe)
    val (rows, id) = scan(at, probed, filter.isDefined, excludeBatchId)
    filter.fold(rows)(rows.where)
      .select(col(id), round(adc, 6).as("adc"))
      .orderBy(col("adc"), col(id))
      .limit(k)
  }

  /** MULTI-QUERY top-k — the offline retrieval shape (score an eval
    * set, decontaminate a benchmark): Q queries answered from ONE scan
    * pruned to the union of their probed cells instead of Q scans that
    * each re-list the layout. Each row fans out (an inline
    * `explode(array(struct...))` — no join, no second scan) only to the
    * queries whose probe covers its cell, and the per-query top-k is
    * one hash exchange on `query_id` plus a bounded window. Q is a
    * BATCH: each query inlines one ADC table and one fan-out slot, so
    * past 1024 queries the call refuses (chunk and union instead).
    *
    * Output: (query_id, id, adc), the per-query k nearest by ADC (ties
    * by id), ordered (query_id, adc, id).
    */
  def topK(queries: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      excludeBatchId: Option[Long]): DataFrame = {
    require(queries.nonEmpty, "the batched probe needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate query ids — each query needs its own id in the output")
    require(queries.length <= 1024,
      s"${queries.length} queries in one batched probe — the fan-out " +
        "inlines one ADC table and one struct slot per query; chunk " +
        "the query set (union the per-chunk results) past 1024")
    val at = layout
    val cb = readCodebooks(spark, at)
    val perQuery = queries.map { case (qid, qv) => (qid, cb.probe(qv, nprobe)) }
    val (rows, id) = scan(at, perQuery.flatMap(_._2._1).distinct,
      wide = false, excludeBatchId)
    // one struct per query: its rounded ADC where the row's cell is
    // probed by THIS query, null elsewhere (dropped before ranking)
    val fanout = perQuery.map { case (qid, (probed, adc)) =>
      struct(lit(qid).as("query_id"),
        when(col(Cell).isin(probed: _*), round(adc, 6))
          .otherwise(lit(null).cast("double")).as("adc"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col(id))
    rows.select(col(id), explode(array(fanout: _*)).as("__q"))
      .select(col("__q.query_id").as("query_id"), col(id),
        col("__q.adc").as("adc"))
      .where(col("adc").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col(id), col("adc"))
      // each query partition is already sorted by the window; this
      // only merges the Q bounded partitions (Q·k rows)
      .orderBy(col("query_id"), col("adc"), col(id))
  }

  /** SHORTLIST + EXACT RE-RANK (FAISS's IndexRefineFlat): the probe
    * keeps the `shortlist` nearest rows by ADC, then re-ranks exactly
    * those by TRUE cosine on the full-precision `vecCol` the layout
    * keeps (written with `keep = Seq(vecCol)`). Never worse than the
    * plain ADC top-k — every exact neighbour the ADC top-k found is in
    * the shortlist and wins its exact re-rank.
    *
    * Two narrow scans of the probed cells: (id, code) for the ADC
    * shortlist, whose ids are a bounded driver collect re-entering as
    * an `isin` pushed into the second scan, which reads (id, vector)
    * for exactly those rows. No join, no shuffle. Increments carry
    * codes only, so a layout holding committed increments is refused
    * (compact them into the base first).
    *
    * Output: (id, cos) ordered cos desc, ties by id.
    */
  def refine(query: Array[Double], k: Int, vecCol: String,
      shortlist: Int = 100, nprobe: Int = 4): DataFrame = {
    require(shortlist >= k,
      s"shortlist=$shortlist must be >= k=$k (the re-rank keeps k of " +
        "the shortlist)")
    require(shortlist <= 100000,
      s"shortlist=$shortlist: the shortlist ids are a driver collect " +
        "and an isin predicate — keep it bounded (the refine step's " +
        "point is exact distances on FEW rows)")
    val at = layout
    val (probed, adc) = readCodebooks(spark, at).probe(query, nprobe)
    val (cells, id) = scan(at, probed, wide = true, excludeBatchId = None)
    val ids = cells
      .select(col(id), round(adc, 6).as("adc"))
      .orderBy(col("adc"), col(id))
      .limit(shortlist)
      .select(id)
      .collect().map(_.get(0))
    cells.where(col(id).isin(ids: _*))
      .select(col(id), round(Similarity.cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(id))
      .limit(k)
  }

  /** Encode `batch` with the layout's OWN codebooks (the sidecar's
    * kind picks raw or residual codes; nothing is retrained) and land
    * its (id, cell, code) rows:
    *   - `batchId = None`: appended into the base's cell directories
    *     (file-additive; existing files untouched) — the hand-driven
    *     daily ingest;
    *   - `batchId = Some(b)`: into `_increments/ingest_batch=<b>`, a
    *     directory the batch OWNS and overwrites wholesale, so a
    *     crash-replay rewrites the same rows instead of duplicating
    *     them — the streaming ingest.
    * Refuses while a compaction or rebuild holds the generation's
    * quiesce marker; the caller retries after it (a stream replays from
    * its checkpoint).
    */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      batchId: Option[Long] = None): Unit = {
    val at = layout
    appendAt(at, readCodebooks(spark, at), batch, idCol, vecCol, batchId)
  }

  private def appendAt(at: String, cb: Codebooks, batch: DataFrame,
      idCol: String, vecCol: String, batchId: Option[Long]): Unit = {
    Layouts.assertNotQuiesced(spark, at, "AnnIndex.append")
    val coded = cb.encode(batch, idCol, vecCol)
    batchId match {
      case None => coded.write.mode("append").partitionBy(Cell).parquet(at)
      case Some(b) => coded.write.mode("overwrite").partitionBy(Cell)
        .parquet(Layouts.incrementDir(at, b))
    }
  }

  /** DRIFT-GATED maintenance of a pointered store (FAISS's `add` vs
    * re-`train`, decided by data): append the batch while its
    * quantization error under the STORED codebooks stays within
    * `driftThreshold` × the error of codebooks fitted to the batch
    * itself; past it, retrain on corpus ∪ batch into `gen<k+1>` and
    * swap `_current` INSIDE the quiesce window, so no append can land
    * in the superseded generation. Both error terms come from the batch
    * alone (one narrow pass each); `corpus` (the current vectors,
    * pre-batch) is read only on the rebuild path. Geometry (nlist, m,
    * ks) and kind come from the stored codebooks; `trained` picks the
    * k-means trainers over the deterministic smallest-id rule.
    *
    * A batch of `ks` rows or fewer always APPENDS: its own stand-in
    * codebooks memorize it (freshErr = 0), so the comparison would
    * trigger a corpus retrain on a trickle batch carrying no evidence.
    *
    * A crash between the generation write and the swap leaves the
    * marker held (appends stay refused, nothing lost): swap and
    * release by hand, or delete the orphan generation and release.
    */
  def maintain(corpus: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, driftThreshold: Double = 2.0,
      trained: Boolean = false): MaintainReport = {
    require(driftThreshold >= 1.0,
      s"driftThreshold=$driftThreshold: below 1.0 every batch rebuilds " +
        "(stored codebooks cannot beat batch-fitted ones on the batch's " +
        "own distribution)")
    val gen = pointedGeneration("maintain")
    val next = nextGenerationName(gen)
    val at = s"$path/$gen"
    val cb = readCodebooks(spark, at)
    val storedErr = cb.distortion(batch, vecCol)
    // bounded probe: limit ks+1, never a full count
    val tiny = batch.select(col(idCol)).limit(cb.ks + 1).count() <= cb.ks
    val freshIvf = Similarity.ivfCodebook(batch, idCol, vecCol, cb.nlist)
    val freshPq =
      if (cb.residual)
        Similarity.residualPqCodebooks(batch, idCol, vecCol, freshIvf, cb.m, cb.ks)
      else Similarity.pqCodebooks(batch, idCol, vecCol, cb.m, cb.ks)
    val freshErr = Codebooks(cb.kind, freshIvf, freshPq).distortion(batch, vecCol)
    if (tiny || storedErr <= driftThreshold * freshErr) {
      appendAt(at, cb, batch, idCol, vecCol, None)
      MaintainReport("append", storedErr, freshErr, at)
    } else {
      // the marker is taken AFTER the decision — the append branch must
      // not refuse against our own marker
      quiesced(at, "AnnIndex.maintain") {
        retrain(cb, corpus.select(col(idCol), col(vecCol))
          .unionByName(batch.select(col(idCol), col(vecCol))),
          idCol, vecCol, s"$path/$next", trained)
        Layouts.swapGenerationPointer(spark, path, next)
      }
      MaintainReport("rebuild", storedErr, freshErr, s"$path/$next")
    }
  }

  /** The MONITORING tick that closes the streaming maintenance loop:
    * the ingest stream writes one drift report per micro-batch
    * (`driftOut`, see [[graft.streaming.StreamingSimilarity]]), and
    * this thresholds the series. `baseline` = median of the first
    * `window` reports past the last fence, `trailing` = median of the
    * last `window`; REBUILD when the series holds at least `2 * window`
    * reports and `trailing > driftThreshold * baseline`, else KEEP.
    * Medians, so one noisy micro-batch cannot trigger a corpus retrain.
    *
    * On rebuild, under the live generation's quiesce marker: retrain
    * on `corpus` (the full current vectors — the layout stores codes
    * only) into `gen<k+1>` (which must not exist yet), write the
    * series' FENCE (`driftOut/_rebuilt`: the last batch consumed and
    * the new generation's name — the rebuild's commit record), swap
    * `_current`, and with `prune` drop the consumed reports. Later ticks
    * threshold only batches past the fence; until a fresh window
    * accumulates they return `keep` with `batches = 0` and NaN medians.
    *
    * CRASH-RECOVERY is forward-only: a tick that finds a fence naming
    * an existing generation numerically AHEAD of the pointer died in
    * the fence→swap window, so it completes the swap, releases the dead
    * run's marker and returns `action = "swap"`. A fence behind the
    * pointer is history (a compaction or `maintain` advanced the
    * pointer without touching the fence) and never swaps it backward.
    */
  def maintainFromDriftSeries(driftOut: String, corpus: DataFrame,
      idCol: String, vecCol: String, window: Int = 3,
      driftThreshold: Double = 2.0, trained: Boolean = false,
      prune: Boolean = false): DriftSeriesReport = {
    require(window >= 1, s"window=$window: the medians need at least one report")
    require(driftThreshold >= 1.0,
      s"driftThreshold=$driftThreshold: below 1.0 an in-distribution " +
        "series (trailing ~= baseline) would rebuild on noise")
    val gen = pointedGeneration("maintainFromDriftSeries")
    val at = s"$path/$gen"
    val fence = readFence(spark, driftOut)
    val pendingSwap = fence.flatMap(_._2).filter(g =>
      genIndex(g).exists(gi => genIndex(gen).exists(gi > _)) &&
        Layouts.exists(spark, s"$path/$g"))
    pendingSwap match {
      case Some(g) =>
        Layouts.swapGenerationPointer(spark, path, g)
        Layouts.releaseQuiesce(spark, at)
        return DriftSeriesReport("swap", Double.NaN, Double.NaN, 0, s"$path/$g")
      case None =>
    }
    val next = nextGenerationName(gen)
    val rebuildAt = s"$path/$next"
    // one double per micro-batch ever ingested, never data-sized;
    // execution-time corruption (a torn part file) gets the curated hint
    val fullSeries =
      try Similarity.readDriftSeries(spark, driftOut)
        .select(col("ingest_batch"), col("pq_err").cast("double"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      catch {
        case e: org.apache.spark.SparkException =>
          throw new IllegalStateException(
            s"the drift series at $driftOut failed mid-read — a torn " +
              "per-batch report (killed writer) or a foreign file; " +
              "delete the offending ingest_batch directory (its batch " +
              "will rewrite it on replay) and re-run", e)
      }
    // zero reports are legitimate only behind a fence (a prune right
    // after a rebuild); unfenced, the ingest stream never committed
    if (fullSeries.isEmpty)
      require(fence.isDefined,
        s"the drift series at $driftOut holds no reports — nothing to " +
          "threshold (has the ingest stream committed a batch?)")
    val fencedThrough = fence.map(_._1).getOrElse(Long.MinValue)
    val series = fullSeries.filter(_._1 > fencedThrough).map(_._2)
    if (series.isEmpty)
      return DriftSeriesReport("keep", Double.NaN, Double.NaN, 0, at)
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val baseline = median(series.take(window))
    val trailing = median(series.takeRight(window))
    if (series.length < 2 * window || trailing <= driftThreshold * baseline)
      return DriftSeriesReport("keep", baseline, trailing, series.length, at)
    require(!Layouts.exists(spark, rebuildAt),
      s"maintainFromDriftSeries: $rebuildAt already exists — either a " +
        "crashed rebuild left an unfenced generation (delete it and " +
        "re-run, or write the fence by hand if its pointer swap " +
        "already happened) or the path is a live generation; the " +
        "monitor never overwrites it.")
    quiesced(at, "AnnIndex.maintainFromDriftSeries") {
      retrain(readCodebooks(spark, at), corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, rebuildAt, trained)
      // the fence AFTER the generation: a crash before it leaves an
      // unfenced gen<k+1>, which the exists-refusal above surfaces
      Layouts.writeSidecar(spark, s"$driftOut/${Similarity.RebuiltFence}",
        RebuiltFenceSchema, Seq(Row(fullSeries.map(_._1).max, next)))
      Layouts.swapGenerationPointer(spark, path, next)
      if (prune) Similarity.pruneDriftSeries(spark, driftOut)
    }
    DriftSeriesReport("rebuild", baseline, trailing, series.length, rebuildAt)
  }

  /** COMPACT the live generation (the LSM small-files pay-down): base
    * plus committed increments are rewritten — codes only, never
    * re-encoded — hash-partitioned by cell, so each cell lands in one
    * file of `gen<k+1>`; the sidecar is carried; `_current` is swapped
    * INSIDE the quiesce window, so appends refuse during the fold and
    * replay into the new generation after. One shuffle of the code
    * rows (~1% of the vector corpus).
    *
    * `dropIds` is the TOMBSTONE set — one id column
    * ([[graft.ops.Cdc.snapshotDiff]]'s `removed` class): matching rows
    * are retired during the rewrite by an unhinted anti-join (AQE
    * broadcasts a small set; a bulk takedown degrades to a shuffle
    * join), so a deleted document never again surfaces in a top-k.
    *
    * The sidecar is written FIRST: a failed data rewrite leaves a
    * sidecar-only `gen<k+1>` that no pointer names — detectable, and
    * cleared by the rerun. Superseded generations are reclaimed by
    * [[Layouts.vacuumGenerations]]. Returns the new generation's path.
    */
  def compact(dropIds: Option[DataFrame] = None): String = {
    val gen = pointedGeneration("compact")
    val next = nextGenerationName(gen)
    val (src, dst) = (s"$path/$gen", s"$path/$next")
    quiesced(src, "AnnIndex.compact") {
      // validated before dst is touched: a corrupt sidecar fails curated
      // instead of after a data rewrite
      val cb = readCodebooks(spark, src)
      val base = spark.read.parquet(src)
      val compacted = Layouts.dropTombstones(
        Layouts.withIncrements(spark, base, src, base.columns.toIndexedSeq,
          excludeBatchId = None),
        dropIds, base.columns.head, "AnnIndex.compact")
      Layouts.delete(spark, dst)
      Similarity.writeIvfPqCodebooks(spark, dst, cb.ivf, cb.pq, cb.kind)
      compacted.repartition(col(Cell))
        .write.mode("append").partitionBy(Cell).parquet(dst)
      Layouts.swapGenerationPointer(spark, path, next)
    }
    dst
  }

  /** Base + committed increments of generation `at`, pruned to
    * `cells`, and the layout's id column. Projected to (id, cell, code)
    * unless `wide` — a filter or a re-rank needs the kept metadata
    * columns, which only the base carries.
    */
  private def scan(at: String, cells: Seq[Long], wide: Boolean,
      excludeBatchId: Option[Long]): (DataFrame, String) = {
    val base = spark.read.parquet(at)
    val id = base.columns.head
    val kept =
      if (wide) base.columns.toSeq.filterNot(Set(id, Cell, Code)) else Nil
    require(kept.isEmpty ||
      Layouts.incrementIds(spark, at).forall(excludeBatchId.contains),
      s"$at holds committed increments, which carry (id, cell, code) " +
        s"only — a probe reading the kept columns ${kept.mkString(", ")} " +
        "needs them compacted into the base first")
    val rows = Layouts.withIncrements(spark, base, at,
      Seq(id, Cell, Code) ++ kept, excludeBatchId)
    (rows.where(col(Cell).isin(cells: _*)), id)
  }

  /** The generation `_current` names; a plain layout fails curated —
    * the lifecycle writes `gen<k+1>` next to it and swaps the pointer.
    */
  private def pointedGeneration(op: String): String = {
    require(Layouts.hasGenerationPointer(spark, path),
      s"AnnIndex.$op needs a pointered store root: $path has no " +
        s"${Layouts.GenerationPointer} pointer. Write the first " +
        "generation at <root>/gen0 and initialise the pointer with " +
        "Layouts.swapGenerationPointer(spark, root, \"gen0\")")
    Layouts.currentGenerationName(spark, path)
  }

  /** Run `body` holding generation `at`'s quiesce marker: the marker
    * stops NEW appends, and the in-flight check catches one that passed
    * its marker check before we acquired and is still staging — let it
    * drain (the caller retries) rather than retire its rows. Released on
    * any exit.
    */
  private def quiesced(at: String, owner: String)(body: => Unit): Unit = {
    Layouts.acquireQuiesce(spark, at, owner)
    try {
      Layouts.assertNoInflightIncrements(spark, at, owner)
      body
    } finally Layouts.releaseQuiesce(spark, at)
  }

  /** Kind-preserving retrain into a new generation at `dst`: geometry
    * from the superseded codebooks, tables from the deterministic
    * smallest-id rule or (`trained`) the distributed k-means trainers.
    */
  private def retrain(old: Codebooks, all: DataFrame, idCol: String,
      vecCol: String, dst: String, trained: Boolean): Unit = {
    import Similarity._
    val ivf =
      if (trained) trainIvfCodebook(all, idCol, vecCol, old.nlist)
      else ivfCodebook(all, idCol, vecCol, old.nlist)
    if (old.residual) writeIvfPqResidualPartitioned(all, idCol, vecCol, ivf,
      if (trained) trainResidualPqCodebooks(all, idCol, vecCol, ivf, old.m, old.ks)
      else residualPqCodebooks(all, idCol, vecCol, ivf, old.m, old.ks), dst)
    else writeIvfPqPartitioned(all, idCol, vecCol, ivf,
      if (trained) trainPqCodebooks(all, idCol, vecCol, old.m, old.ks)
      else pqCodebooks(all, idCol, vecCol, old.m, old.ks), dst)
  }
}

object AnnIndex {

  /** The partition column every layout writer cells its rows by. */
  val Cell = "cell"

  /** The stored PQ code column. */
  val Code = "code"

  /** A layout's `_codebooks` sidecar, decoded: `kind` is `"pq"` (raw
    * codes) or `"rpq"` (residual codes), `pq` the kind's tables.
    */
  final case class Codebooks(kind: String, ivf: IvfCodebook, pq: PqCodebooks) {
    def residual: Boolean = kind == "rpq"
    def nlist: Int = ivf.length
    def m: Int = pq.length
    def ks: Int = pq(0).length

    /** Mean ADC reconstruction error of `df`'s vectors under these
      * tables ([[Similarity.ivfPqDistortion]] for this kind).
      */
    def distortion(df: DataFrame, vecCol: String): Double =
      Similarity.ivfPqDistortion(df, vecCol, ivf, pq, residual)

    /** The (id, cell, code) rows of `df`, encoded with these tables. */
    private[ops] def encode(df: DataFrame, idCol: String,
        vecCol: String): DataFrame =
      if (residual) Similarity.ivfPqResidualCoded(df, idCol, vecCol, ivf, pq, Cell, Code, Nil)
      else Similarity.ivfPqCoded(df, idCol, vecCol, ivf, pq, Cell, Code, Nil)

    /** The `nprobe` cells nearest `query` and its ADC column over the
      * stored codes. Residual: one m x ks table per probed cell (the
      * query's residual against that centroid, `q[i] - cvec[i]` as the
      * oracle restates it), selected by the partition column inside one
      * codegen reference object.
      */
    private[ops] def probe(query: Array[Double], nprobe: Int): (Seq[Long], Column) = {
      require(nprobe >= 1,
        "nprobe must be >= 1 (the probe needs at least one cell)")
      val probed = Similarity.ivfProbed(ivf, query, nprobe)
      if (!residual)
        (probed, GraftFunctions.pq_adc(col(Code), Similarity.pqAdcTable(pq, query)))
      else {
        val centOf = ivf.map(c => c._1 -> c._2).toMap
        val cellIds = probed.toArray
        val luts = cellIds.map { c =>
          val cent = centOf(c)
          Similarity.pqAdcTable(pq, Array.tabulate(query.length)(i => query(i) - cent(i)))
        }
        (probed, GraftFunctions.pq_adc_by_cell(col(Cell), col(Code), cellIds, luts))
      }
    }
  }

  /** A [[AnnIndex.maintain]] decision: `action` is `"append"` or
    * `"rebuild"`, `storedErr`/`freshErr` the batch's mean ADC
    * reconstruction error under the stored vs batch-fitted codebooks,
    * `layout` the generation now holding the batch.
    */
  case class MaintainReport(action: String, storedErr: Double,
      freshErr: Double, layout: String)

  /** A [[AnnIndex.maintainFromDriftSeries]] verdict: `action` is
    * `"keep"`, `"rebuild"` or `"swap"` (a crashed rebuild's pointer
    * swap completed), `baselineErr`/`trailingErr` the window medians,
    * `batches` the unfenced series length, `layout` the live generation.
    */
  case class DriftSeriesReport(action: String, baselineErr: Double,
      trailingErr: Double, batches: Long, layout: String)

  /** Decode a layout's `_codebooks` sidecar. Curated failures: a
    * missing sidecar (IllegalArgumentException); an unreadable one, one
    * holding both kinds or neither, or no coarse codebook
    * (IllegalStateException — one catch covers every corruption mode).
    */
  private[ops] def readCodebooks(spark: SparkSession, layout: String): Codebooks = {
    require(Layouts.exists(spark, layout + "/_codebooks"),
      s"no _codebooks sidecar under $layout — an AnnIndex reads its " +
        "kind and codebooks from the layout; rewrite it with " +
        "Similarity.writeIvfPqPartitioned / writeIvfPqResidualPartitioned")
    val rows = Layouts.collectSidecarCached(spark, layout + "/_codebooks",
      "writeIvfPqPartitioned / writeIvfPqResidualPartitioned")
    val kinds = rows.map(_.getString(0)).distinct.sorted
    def corrupt(what: String) = new IllegalStateException(
      s"the _codebooks sidecar under $layout $what (kinds present: " +
        s"${kinds.mkString(", ")}); rebuild the layout with " +
        "writeIvfPqPartitioned / writeIvfPqResidualPartitioned")
    val kind = (kinds.contains("pq"), kinds.contains("rpq")) match {
      case (true, true) =>
        throw corrupt("holds BOTH 'pq' and 'rpq' tables — ambiguous, no writer produces this")
      case (true, false) => "pq"
      case (false, true) => "rpq"
      case _ => throw corrupt("holds neither 'pq' nor 'rpq' tables")
    }
    val ivf: IvfCodebook = rows.filter(_.getString(0) == "ivf")
      .sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getSeq[Double](3).toArray, r.getDouble(4)))
    if (ivf.isEmpty) throw corrupt("has no 'ivf' coarse codebook")
    val pqRows = rows.filter(_.getString(0) == kind)
    val pq: PqCodebooks = pqRows.map(_.getInt(1)).distinct.sorted.map { m =>
      pqRows.filter(_.getInt(1) == m).sortBy(_.getLong(2))
        .map(_.getSeq[Double](3).toArray)
    }
    Codebooks(kind, ivf, pq)
  }

  private val GenName = "gen(\\d+)".r

  private def genIndex(gen: String): Option[Long] = gen match {
    case GenName(k) => Some(k.toLong)
    case _ => None
  }

  /** `gen<k>` -> `gen<k+1>`: the naming the lifecycle derives its
    * rebuild targets from.
    */
  private def nextGenerationName(gen: String): String =
    genIndex(gen).map(k => s"gen${k + 1}").getOrElse(
      throw new IllegalArgumentException(
        "the pointered lifecycle derives the next generation from the " +
          s"current one's name, which must match gen<k>; '$gen' does " +
          s"not — re-point ${Layouts.GenerationPointer} at a " +
          "gen<k>-named generation"))

  /** The drift series' fence: (last consumed ingest_batch, the
    * generation that rebuild produced — None for fences written before
    * the generation field existed). Cached per fence generation.
    */
  private def readFence(spark: SparkSession,
      driftOut: String): Option[(Long, Option[String])] = {
    val fencePath = s"$driftOut/${Similarity.RebuiltFence}"
    if (!Layouts.exists(spark, fencePath)) None
    else {
      val r = Layouts.collectSidecarCached(spark, fencePath,
        "AnnIndex.maintainFromDriftSeries (the fence is written by its " +
          "rebuild path)")(0)
      val gen =
        if (r.schema.fieldNames.contains("generation"))
          Option(r.getAs[String]("generation"))
        else None
      Some((r.getAs[Long]("through_batch"), gen))
    }
  }

  private val RebuiltFenceSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("through_batch", LongType, nullable = false),
      StructField("generation", StringType, nullable = true)))
  }
}
